"""BM25 top-k query engine over the sharded posting-list index.

Top-k is one term-at-a-time (TAAT) kernel per shard inside
``applyInPandas`` (:func:`_taat_kernel`): decode the shard's queried
posting rows in one pass, then score the whole query batch in chunked
vectorized passes (gather, stable sort on query·doc, ``reduceat`` sums,
one sort for every query's top k) over integer quantized scores
(bit-deterministic, see operators/scoring.py).  Because the index is
document-partitioned, each shard's scores are complete, so the global
answer is a merge of ≤ shards*k rows per query.  A metadata
``predicate`` is a mask inside the same kernel.

The aggregation families (facets, collapse, function score, ...)
decode postings to (term, doc_id, tf, score_q) rows with
``mapInPandas`` (:meth:`InvertedIndex.decoded`) and aggregate them as
plain DataFrames.  The same decode serves the degenerate TF-IDF mode
(BASELINE.json:north_star last sentence): reference formula
tfidf = round4(tf/doc_len * log10(N/df)) per tfidf.go:100-103.

Every family serves **batches**: one Spark job answers a list of
queries or panels, and a single-query method is a one-panel call of
its batch (query id 0, then ``.drop("query_id")``), so a family has
one code path and one validation.  Each per-query rank cut is
:func:`~wikitfidf_spark.operators.topk.top_n_per_group` partitioned by
query id.

Tie-break everywhere: (score desc, doc_id asc) — SURVEY.md §7
rank-identity requirement.
"""

from __future__ import annotations

import math
import numbers
import os
import re
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from ..operators.scoring import QUANT, round_half_up
from ..operators.topk import top_n_per_group
from . import codec
from .build import PLACE_KEY, load_manifest, place_shards


#: structure-half vs score-half column split for the unioned
#: two-file scan (the fused combined file carries all of them): the
#: columns a docs + scores :func:`codec.decode_rows` reads, and
#: nothing more — no tfs/dls streams, no ``block_max_score``
_STRUCT_COLS = ("n_docs", "docs_payload", "block_firsts", "block_counts")
_SCORE_COLS = ("scores_payload",)


def _merged_lists(pdf: pd.DataFrame) -> pd.DataFrame:
    """Match a shard's structure half-rows with their score half-rows
    by (term, sub_shard); unpaired halves (can't happen in a consistent
    index) are dropped.  Rows from a fused combined-file scan already
    carry both halves and pass straight through.  Vectorized: the
    half-pairing is one pandas inner merge, not a per-row per-column
    Python loop (a 64-term OR over hot shards multiplies that loop)."""
    has_docs = pdf["docs_payload"].notna()
    has_scores = pdf["scores_payload"].notna()
    fused = has_docs & has_scores
    if fused.all():
        return pdf
    keys = ["term", "sub_shard"]
    extra = [c for c in pdf.columns if c not in keys
             and c not in _STRUCT_COLS and c not in _SCORE_COLS]
    s_half = pdf.loc[has_docs & ~has_scores,
                     keys + extra + list(_STRUCT_COLS)]
    c_half = pdf.loc[has_scores & ~has_docs, keys + list(_SCORE_COLS)]
    merged = s_half.merge(c_half, on=keys, how="inner")
    return pd.concat([pdf.loc[fused], merged], ignore_index=True)


def _qid(v) -> int:
    """A query id as a Python int.  A non-integer raises: ``int()``
    would silently truncate ``0.5`` or parse ``"3"``."""
    if not isinstance(v, numbers.Integral):
        raise TypeError(f"query_id must be an integer, got {v!r}")
    return int(v)


def _check_unique_qids(qids: "Iterable[int]") -> None:
    """Batch APIs key per-query limits and the final rank window on
    query_id — duplicate ids would silently merge two queries' results
    into one interleaved list, so they are rejected up front like every
    other malformed input.  So are ids outside int32, the result
    schema's ``query_id`` type: a wrapped id would alias another
    query's."""
    seen: set[int] = set()
    dups: set[int] = set()
    for qid in qids:
        qid = _qid(qid)
        if not -(2**31) <= qid < 2**31:
            raise ValueError(f"query_id {qid} is outside int32 [-2**31, 2**31 - 1]")
        (dups if qid in seen else seen).add(qid)
    if dups:
        raise ValueError(f"duplicate query_id(s) in batch: {sorted(dups)}")


def _check_request(qid: int, terms_fields: dict, int_fields: dict) -> None:
    """Type checks every batch request shares, naming the field: each
    of ``terms_fields`` is a list of strings (a bare string would be
    iterated as characters), each of ``int_fields`` an integer (a
    float ``k`` would be truncated)."""
    for name, terms in terms_fields.items():
        if isinstance(terms, (str, bytes)) or not all(isinstance(t, str) for t in terms):
            raise TypeError(f"query {qid}: {name} must be a list of strings, got {terms!r}")
    for name, v in int_fields.items():
        if not isinstance(v, numbers.Integral):
            raise ValueError(f"query {qid}: {name} must be an integer, got {v!r}")


def _sql_lit(v: "str | int") -> str:
    """One value as Spark SQL literal text.  Integers are bigint
    literals.  A string holding ``'``, ``\\`` or ``$`` (the parser
    unescapes backslashes unless ``spark.sql.parser.escapedStringLiterals``
    is set, and substitutes ``${...}`` variables) goes in as its UTF-8
    bytes, so every value round-trips under any parser setting; any
    other string is a plain quoted literal."""
    if not isinstance(v, str):
        return f"{int(v)}L"
    if "'" in v or "\\" in v or "$" in v:
        return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
    return f"'{v}'"


def _in_values(col: str, values: "Iterable[str | int]") -> Column:
    """``col IN (values)`` as ONE parsed expression: one Py4J call
    however many values, where ``Column.isin`` pays several round trips
    per literal.  Constant folding leaves the same ``In`` filter
    ``isin`` builds, so it pushes into parquet scans the same way."""
    lits = [_sql_lit(v) for v in values]
    if not lits:
        return F.lit(False)
    return F.expr(f"`{col}` IN ({', '.join(lits)})")


def _startswith_any(col: str, prefixes: "Iterable[str]") -> Column:
    """``col`` starts with one of ``prefixes``, as ONE parsed OR of
    ``startswith`` calls; each pushes into a parquet scan as
    ``StringStartsWith`` (row-group pruning on a term-sorted file)."""
    uniq = sorted(set(prefixes))
    if not uniq:
        return F.lit(False)
    return F.expr(" OR ".join(f"startswith(`{col}`, {_sql_lit(p)})" for p in uniq))


def _k_off_labeler(kmap: "dict[int, tuple[int, int]]"):
    """query_id → (k, offset) as a function that adds each result
    row's ``k`` and ``off`` int columns to a per-shard kernel's output
    (one searchsorted over the sorted query ids), so the global merge
    filters on columns instead of a per-query plan literal or join."""
    qk = np.array(sorted((q, k, o) for q, (k, o) in kmap.items()), dtype=np.int64)
    qids = qk[:, 0]
    ks, offs = qk[:, 1].astype(np.int32), qk[:, 2].astype(np.int32)

    def label(out: pd.DataFrame) -> pd.DataFrame:
        i = np.searchsorted(qids, out["query_id"].to_numpy(dtype=np.int64))
        return out.assign(k=ks[i], off=offs[i])

    return label


#: per-shard kernel output feeding :meth:`InvertedIndex._rank_and_limit`
_LOCAL_SCHEMA = "query_id int, doc_id long, score_q long, k int, off int"


def wildcard_regex(pattern: str) -> tuple[str, str]:
    """Compile a shell-style wildcard term pattern to (anchored regex,
    literal prefix): ``*`` = any run of characters, ``?`` = exactly
    one, everything else literal.  The regex uses only ``.`` / ``.*`` /
    escaped literals, a fragment dialect Java regex (Spark RLIKE) and
    RE2 (DuckDB oracle) agree on.  The literal prefix (chars before the
    first wildcard) is returned separately so callers can push a
    ``StartsWith`` predicate into the dictionary scan."""
    if not pattern:
        raise ValueError("wildcard pattern must be non-empty")
    parts: list[str] = []
    prefix_len = 0
    seen_wild = False
    for ch in pattern:
        if ch == "*":
            parts.append(".*")
            seen_wild = True
        elif ch == "?":
            parts.append(".")
            seen_wild = True
        else:
            parts.append(re.escape(ch))
            if not seen_wild:
                prefix_len += 1
    return "^" + "".join(parts) + "$", pattern[:prefix_len]


#: gathered (query, doc) postings scored per vectorized pass: large
#: enough that numpy's per-call dispatch amortizes over the chunk, small
#: enough that the chunk's sort and reductions stay cache-resident.  A
#: dense queries × shard-docs accumulator instead grows with shard size.
_CHUNK_POSTINGS = 1 << 14

_KERNEL_COLS = ["query_id", "doc_id", "score_q"]


def _lookup(sorted_vals: np.ndarray, vals) -> tuple[np.ndarray, np.ndarray]:
    """(position in the sorted ``sorted_vals``, found there) of each of
    ``vals``."""
    vals = np.asarray(vals, dtype=np.int64)
    pos = np.searchsorted(sorted_vals, vals)
    if not len(sorted_vals):
        return pos, np.zeros(len(vals), dtype=bool)
    return pos, sorted_vals[np.minimum(pos, len(sorted_vals) - 1)] == vals


def _run_starts(x: np.ndarray) -> np.ndarray:
    """Index of the first element of each run of equal values in ``x``."""
    return np.flatnonzero(np.concatenate(([True], x[1:] != x[:-1])))


def _taat_kernel(
    pdf: pd.DataFrame,
    qspec: list,
    allowed_u: "np.ndarray | None" = None,
    query_allowed: "Sequence[np.ndarray] | None" = None,
) -> pd.DataFrame:
    """One shard's term-at-a-time evaluation of a whole query batch →
    (query_id, doc_id, score_q) rows: each query's top k with exact
    (score desc, doc asc) tie-break.

    The shard's posting rows are decoded in one pass
    (:func:`codec.decode_docs_scores_rows`) and masked to ``allowed_u``
    if given.  The queries are then scored in chunks of about
    ``_CHUNK_POSTINGS`` gathered postings.  A chunk gathers every
    (query, dense doc, score × boost) cell of its queries' terms with
    repeat/arange, stably sorts them on ``query·D + dense doc`` (each
    list is doc-sorted, so the sort merges runs) and sums and counts
    each (query, doc) with ``reduceat``.  The AND / min-should-match
    count, must-not terms, ``exclude_docs``, ``search_after`` and
    ``query_allowed`` (one allowed doc-id array per qspec entry: the
    phrase batch's verified docs) are masks over those sums, and a
    stable sort on (query, −score) puts each query's top k first,
    ties doc-ascending."""
    if not qspec:
        return pd.DataFrame(columns=_KERNEL_COLS)
    docs, scores, spans = codec.decode_docs_scores_rows(_merged_lists(pdf))
    if allowed_u is not None:
        keep = np.isin(docs, allowed_u)
        kept = np.concatenate(([0], np.cumsum(keep)))
        docs, scores = docs[keep], scores[keep]
        spans = {
            t: (int(kept[lo]), int(kept[hi]))
            for t, (lo, hi) in spans.items() if kept[hi] > kept[lo]
        }
    uniq, dense = np.unique(docs, return_inverse=True)
    n_docs = max(len(uniq), 1)

    # flatten the batch: one entry per (query, distinct present term)
    n_q = len(qspec)
    qids = np.empty(n_q, dtype=np.int64)
    ks = np.empty(n_q, dtype=np.int64)
    need = np.empty(n_q, dtype=np.int64)
    has_after = np.zeros(n_q, dtype=bool)
    after_s = np.zeros(n_q, dtype=np.int64)
    after_d = np.zeros(n_q, dtype=np.int64)
    ent_q, ent_lo, ent_n, ent_b = [], [], [], []
    drop, keep_keys = [], []
    for i, (qid, terms, mode, k, exclude, boosts, excl_docs, msm, after) in enumerate(qspec):
        qids[i], ks[i] = qid, k
        uniq_terms = dict.fromkeys(terms)
        # a doc here matches at most the present terms, so a query
        # needing more (AND with a term absent, msm above) is skipped
        need[i] = len(uniq_terms) if mode == "AND" else max(msm, 1)
        present = [(t, spans[t]) for t in uniq_terms if t in spans]
        if len(present) < need[i]:
            continue
        if query_allowed is not None:
            pos, hit = _lookup(uniq, query_allowed[i])
            if not hit.any():
                continue
            keep_keys.append(i * n_docs + pos[hit])
        for t, (lo, hi) in present:
            ent_q.append(i)
            ent_lo.append(lo)
            ent_n.append(hi - lo)
            ent_b.append(boosts.get(t, 1) if boosts else 1)
        # must-not terms and exclude_docs only mask; never scored
        for t in exclude:
            if t in spans:
                lo, hi = spans[t]
                drop.append(i * n_docs + dense[lo:hi])
        if excl_docs is not None:
            pos, hit = _lookup(uniq, excl_docs)
            drop.append(i * n_docs + pos[hit])
        if after is not None:
            has_after[i], after_s[i], after_d[i] = True, *after
    if not ent_q:
        return pd.DataFrame(columns=_KERNEL_COLS)
    ent_q = np.asarray(ent_q, dtype=np.int64)
    ent_lo = np.asarray(ent_lo, dtype=np.int64)
    ent_n = np.asarray(ent_n, dtype=np.int64)
    ent_b = np.asarray(ent_b, dtype=np.int64)
    boosted = bool((ent_b != 1).any())
    drop = np.unique(np.concatenate(drop)) if drop else None
    keep_keys = np.sort(np.concatenate(keep_keys)) if query_allowed is not None else None
    cursors = bool(has_after.any())

    # chunk boundaries fall between queries, one every ~_CHUNK_POSTINGS
    ent_off = np.cumsum(ent_n) - ent_n
    q_first = _run_starts(ent_q)
    cuts = q_first[_run_starts(ent_off[q_first] // _CHUNK_POSTINGS)]
    bounds = np.append(cuts, len(ent_q))
    out_k, out_s = [], []
    for a, b in zip(bounds[:-1], bounds[1:]):
        n_e = ent_n[a:b]
        total = int(n_e.sum())
        idx = np.repeat(ent_lo[a:b] - (np.cumsum(n_e) - n_e), n_e) + np.arange(total)
        key = np.repeat(ent_q[a:b] * n_docs, n_e) + dense[idx]
        cell = scores[idx]
        if boosted:
            cell = cell * np.repeat(ent_b[a:b], n_e)
        order = np.argsort(key, kind="stable")
        key, cell = key[order], cell[order]
        first = _run_starts(key)
        sums = np.add.reduceat(cell, first)
        key = key[first]
        q = key // n_docs
        # the count is the number of distinct matched terms: one
        # term's sub-shard lists are doc-disjoint
        m = np.diff(np.append(first, total)) >= need[q]
        if drop is not None:
            m &= ~_lookup(drop, key)[1]
        if keep_keys is not None:
            m &= _lookup(keep_keys, key)[1]
        if cursors:
            # search_after: only docs strictly after the cursor in
            # (score desc, doc asc) order qualify
            c_s, c_d = after_s[q], after_d[q]
            m &= ~has_after[q] | (sums < c_s) | (
                (sums == c_s) & (uniq[key % n_docs] > c_d)
            )
        key, sums, q = key[m], sums[m], q[m]
        if not len(q):
            continue
        # sort on (query, −score, position): cells are (query,
        # doc)-sorted, so score ties stay doc-ascending.  One unique
        # int64 key when the chunk's grid fits in it (sums are >= 0:
        # the codec stores scores unsigned and boosts are >= 1)
        top, n_c = int(sums.max()), len(q)
        if (int(q[-1] - q[0]) + 1) * (top + 1) * n_c < 2**63:
            order = np.argsort(
                ((q - q[0]) * (top + 1) + (top - sums)) * n_c + np.arange(n_c)
            )
        else:
            order = np.lexsort((-sums, q))
        key, sums, q = key[order], sums[order], q[order]
        first = _run_starts(q)
        rank = np.arange(len(q)) - np.repeat(first, np.diff(np.append(first, len(q))))
        m = rank < ks[q]
        out_k.append(key[m])
        out_s.append(sums[m])
    if not out_k:
        return pd.DataFrame(columns=_KERNEL_COLS)
    key = np.concatenate(out_k)
    return pd.DataFrame({
        "query_id": qids[key // n_docs].astype(np.int32),
        "doc_id": uniq[key % n_docs],
        "score_q": np.concatenate(out_s),
    })


@dataclass
class Query:
    query_id: int
    terms: list[str]
    mode: str = "OR"  # OR | AND
    k: int = 10
    # must_not terms: docs containing ANY of these are excluded from
    # the result; surviving docs' scores are untouched (the excluded
    # terms never contribute to scoring).  Exclusion is shard-local —
    # an excluded doc's postings live in the same doc-partitioned
    # shard as its scored postings.
    exclude: tuple[str, ...] = ()
    # per-term integer boosts aligned with ``terms`` (() = all 1):
    # score contribution of terms[i] is multiplied by boosts[i].
    # Integer so quantized scores stay exact and deterministic.
    boosts: tuple[int, ...] = ()
    # pagination: skip the first ``offset`` ranks, return the next k.
    # Each shard widens its local cut to offset+k (a doc at global
    # rank offset+i can be at local rank offset+i at worst), and the
    # global merge filters offset < rank <= offset+k — the returned
    # ``rank`` stays the ABSOLUTE rank, so page boundaries agree
    # across requests.
    offset: int = 0
    # specific doc ids excluded from THIS query's result (more-like-this
    # drops its own source doc this way).  Applied inside the per-shard
    # kernel BEFORE the local cut, so ranks come out final — no
    # ask-k+1-then-re-rank second window.
    exclude_docs: tuple[int, ...] = ()
    # minimum-should-match (OR mode only): a doc qualifies only if it
    # matches at least this many DISTINCT query terms; its score is
    # still the sum over ALL matched terms.  0 = no constraint (plain
    # OR); len(terms) = AND semantics with OR's missing-term tolerance
    # removed.  Shard-locality makes the per-shard check exact: a doc's
    # postings are complete within its shard, so a shard holding fewer
    # than msm of the query's terms can be skipped outright.
    min_should_match: int = 0
    # cursor pagination (Elasticsearch search_after): ``(score_q,
    # doc_id)`` of the LAST hit of the previous page.  Only docs
    # strictly after that cursor in (score desc, doc asc) order
    # qualify; each shard's local cut stays k — deep page P costs
    # O(k) per shard, not the O(offset+k) the ``offset`` path pays.
    # Mutually exclusive with ``offset``; returned ``rank`` is
    # relative to the cursor (1..k), as cursor pagination implies.
    search_after: tuple[int, int] | None = None


@dataclass
class PhraseQuery:
    """One phrase in a :meth:`InvertedIndex.phrase_topk_batch` batch:
    ``terms`` must appear as consecutive tokens (each gap relaxed to
    ordered proximity by ``slop``)."""
    query_id: int
    terms: list[str]
    k: int = 10
    slop: int = 0


class InvertedIndex:
    """Reader over an index directory produced by build.build_index."""

    def __init__(self, spark: SparkSession, index_dir: str) -> None:
        from .build import INDEX_FORMAT

        self.spark = spark
        self.index_dir = index_dir
        self.manifest = load_manifest(index_dir)
        if self.manifest.get("format") != INDEX_FORMAT:
            raise ValueError(
                f"{index_dir} holds index format {self.manifest.get('format')} "
                f"(reader expects {INDEX_FORMAT}); rebuild with resume=False"
            )
        m = self.manifest["metrics"]
        self.n_docs = int(m["total_docs"])
        self.avgdl = float(m["avgdl"])
        # paths are manifest pointers: after add_documents they name the
        # current versioned dictionary/scores, the structure owner map
        # and the tf/docmeta generation list (build.index_paths).  The
        # logical postings table is structure ⋈ scores — both sides are
        # term-sorted within shards, and a term filter pushes into both
        # scans before the (small, post-filter) join.
        from .build import _read_scores, _read_structure, index_paths

        p = index_paths(self.manifest)
        self._shards = sorted(int(s) for s in p["structure"])
        self.structure = _read_structure(spark, index_dir, p)
        # single file after a full refresh, an owner map while
        # deferred-refresh deltas are outstanding (bounded staleness)
        self.scores = _read_scores(spark, index_dir, p)
        # fused single-file state (fresh build / post-compact before any
        # exact-mode update): structure and scores live in the SAME
        # combined-schema file — serve from ONE scan instead of scanning
        # it twice and re-pairing the halves.  This is the steady-state
        # serving layout; generation deltas fall back to the two-sided
        # plan below until the next compact.
        sc_p = p["scores"]
        self.combined = None
        if isinstance(sc_p, str) and set(p["structure"].values()) == {sc_p}:
            cand = spark.read.parquet(os.path.join(index_dir, sc_p))
            if "scores_payload" in cand.columns:
                self.combined = cand
        self.postings = (
            self.combined
            if self.combined is not None
            else self.structure.join(self.scores, ["shard", "term", "sub_shard"])
        )
        self.dictionary = spark.read.parquet(os.path.join(index_dir, p["dictionary"]))
        self.docmeta = spark.read.parquet(
            *[os.path.join(index_dir, d) for d in p["docmeta"]]
        )

    # ---------- batched top-k ----------

    def topk_batch(
        self,
        queries: Sequence[Query],
        predicate: str | None = None,
    ) -> DataFrame:
        """One Spark job for all queries → (query_id, doc_id, score_q,
        score, rank); the global merge is a window top-k over
        ≤ n_shards*k rows per query.  Each shard decodes every queried
        posting list ONCE, then scores the whole batch term-at-a-time
        in chunked vectorized passes (:func:`_taat_kernel`).  Batched
        query mixes share hot terms, so decode-once amortizes across
        the batch.  Exact: integer score sums, (score desc, doc asc)
        ties.

        ``predicate``: a SQL expression over docmeta columns
        restricting every query in the batch to matching docs.  The
        allowed ids are COGROUPED with the posting rows on shard
        (docmeta records each doc's shard, so the filter ids co-shuffle
        with exactly the postings that can contain them — no broadcast,
        no O(corpus) join) and applied as a vectorized mask before the
        per-shard cut.  Scores of surviving docs are untouched.
        """
        _check_unique_qids(q.query_id for q in queries)
        for q in queries:
            _check_request(
                q.query_id, {"terms": q.terms, "exclude": q.exclude},
                {"k": q.k, "offset": q.offset, "min_should_match": q.min_should_match},
            )
            if not q.terms:
                # an empty term list would silently yield zero rows for
                # this qid — indistinguishable from "no matches"; the
                # sibling entry points (snippets, phrase_topk) raise too
                raise ValueError(f"query {q.query_id}: needs at least one term")
            if q.mode not in ("OR", "AND"):
                raise ValueError(f"query {q.query_id}: unknown mode {q.mode!r}: use 'OR' or 'AND'")
            if q.k < 1:
                raise ValueError(f"query {q.query_id}: k must be >= 1, got {q.k}")
            overlap = set(q.terms) & set(q.exclude)
            if overlap:
                raise ValueError(
                    f"query {q.query_id}: terms both scored and excluded: {sorted(overlap)}"
                )
            if q.offset < 0:
                raise ValueError(f"query {q.query_id}: offset must be >= 0, got {q.offset}")
            if q.search_after is not None:
                if q.offset:
                    raise ValueError(
                        f"query {q.query_id}: search_after and offset are mutually"
                        " exclusive (the cursor IS the page position)"
                    )
                if len(q.search_after) != 2:
                    raise ValueError(
                        f"query {q.query_id}: search_after must be (score_q, doc_id)"
                    )
            if q.min_should_match:
                if q.mode != "OR":
                    raise ValueError(
                        f"query {q.query_id}: min_should_match applies to OR queries"
                        " (AND already requires every term)"
                    )
                n_uniq = len(set(q.terms))
                if not (0 <= q.min_should_match <= n_uniq):
                    raise ValueError(
                        f"query {q.query_id}: min_should_match must be in"
                        f" [0, {n_uniq}], got {q.min_should_match}"
                    )
            if q.boosts:
                if len(q.boosts) != len(q.terms):
                    raise ValueError(
                        f"query {q.query_id}: {len(q.boosts)} boosts for {len(q.terms)} terms"
                    )
                if any(int(b) < 1 or int(b) != b for b in q.boosts):
                    raise ValueError(f"query {q.query_id}: boosts must be integers >= 1")
                bm = {}
                for t, b in zip(q.terms, q.boosts):
                    if bm.setdefault(t, int(b)) != int(b):
                        raise ValueError(
                            f"query {q.query_id}: term {t!r} has conflicting boosts"
                        )
        allowed = self._allowed_docs(predicate) if predicate is not None else None
        # excluded terms' postings are fetched too — their doc ids form
        # the shard-local must_not masks (never scored)
        all_terms = sorted(
            {t for q in queries for t in q.terms}
            | {t for q in queries for t in q.exclude}
        )
        if not {t for q in queries for t in q.terms}:
            return self._empty_result()
        qspec = [
            (
                q.query_id, list(q.terms), q.mode, q.k + q.offset, tuple(q.exclude),
                dict(zip(q.terms, (int(b) for b in q.boosts))) if q.boosts else None,
                np.asarray(sorted(set(map(int, q.exclude_docs))), dtype=np.int64)
                if q.exclude_docs else None,
                int(q.min_should_match),
                (int(q.search_after[0]), int(q.search_after[1]))
                if q.search_after is not None else None,
            )
            for q in queries
        ]
        # structure and scores rows are UNIONED (not JVM-joined) and
        # matched per (term, sub_shard) inside the per-shard group:
        # filters still push into both parquet scans, the one shuffle on
        # shard is unchanged, and the broadcast-build + join-probe cost
        # the join paid per batch disappears.  Only the columns the
        # kernel decodes are scanned: the tfs/dls streams and
        # block_max_score are projected away BEFORE the shuffle.
        rows = self._posting_rows(all_terms)
        label = _k_off_labeler({q.query_id: (q.k, q.offset) for q in queries})

        # the per-shard callbacks carry no type hints: PySpark infers an
        # eval type from hints, fails on the bare ``key``, warns, and
        # falls back to the grouped-map type it picks for no hints
        def per_shard_taat(key, pdf):
            return label(_taat_kernel(pdf, qspec, None))

        # cogrouped filtered variants: apdf holds this shard's allowed
        # doc ids with their native int64 dtype (a null-padded union
        # would route them through float64 and corrupt xxhash-range ids)
        def per_shard_taat_filtered(key, pdf, apdf):
            return label(_taat_kernel(pdf, qspec, np.unique(apdf["doc_id"].to_numpy())))

        if allowed is not None:
            local = (
                self._by_shard(rows)
                .cogroup(self._by_shard(allowed.select("shard", "doc_id")))
                .applyInPandas(per_shard_taat_filtered, _LOCAL_SCHEMA)
            )
        else:
            local = self._by_shard(rows).applyInPandas(per_shard_taat, _LOCAL_SCHEMA)
        return self._rank_and_limit(local)

    def topk(
        self,
        terms: Sequence[str],
        k: int = 10,
        mode: str = "OR",
        search_after: tuple[int, int] | None = None,
    ) -> DataFrame:
        return self.topk_batch(
            [Query(0, list(terms), mode, k, search_after=search_after)]
        ).drop("query_id")

    # ---------- free-text entry: query-side analysis ----------

    def analyze(self, text: str) -> list[str]:
        """Normalize a free-text query EXACTLY like the index's build
        config: the identifier grammar, then the config's stemmer.  An
        index built with ``IndexConfig(stemmer=...)`` stores STEMS as
        its term space (build-side S7 fusion), so un-analyzed surface
        forms silently miss — query analysis must mirror the build, the
        same invariant the reference keeps by normalizing queries and
        documents through one code path (textnormalizer.pyx).  Returns
        order-preserving deduped terms (duplicate query terms would
        double-count in the OR sum)."""
        return list(dict.fromkeys(self.analyze_ordered(text)))

    def search(
        self,
        text: str,
        k: int = 10,
        mode: str = "OR",
        min_should_match: int = 0,
    ) -> DataFrame:
        """Free-text top-k: ``analyze`` the query through the index's
        own normalization, then serve it like any term query.  Text
        that normalizes to NOTHING (stopwords/short tokens only) is an
        empty result, not an error — unlike the term APIs, the caller
        didn't choose the term list.  For the same reason an
        ``min_should_match`` floor above the analyzed term count is an
        empty result (unsatisfiable), not a ValueError."""
        terms = self.analyze(text)
        # the unsatisfiable-msm shortcut applies only to OR — an
        # invalid AND+msm combination must reach topk_batch's
        # validation, not be masked as "no matches"
        if not terms or (
            mode == "OR" and min_should_match and min_should_match > len(terms)
        ):
            return self._empty_result().drop("query_id")
        return self.topk_batch(
            [Query(0, terms, mode, k, min_should_match=min_should_match)],
        ).drop("query_id")

    def analyze_ordered(self, text: str) -> list[str]:
        """:meth:`analyze` WITHOUT the dedup: phrase queries need the
        token stream in order with repeats (``"to be or not to be"``
        is a 6-term phrase, not 4 distinct terms)."""
        from ..tokenize import tokenize_py
        from .build import _load_cfg

        cfg = _load_cfg(self.manifest, self.index_dir)
        toks = tokenize_py(
            text, letters=cfg.token_letters, min_len=cfg.min_token_len,
            stopwords=frozenset(cfg.stopwords) if cfg.stopwords else None,
        )
        if cfg.stemmer and cfg.stemmer != "none":
            from ..operators.stemdict import STEMMERS

            stem = STEMMERS[cfg.stemmer]
            toks = [stem(t) for t in toks]
        return toks

    def search_phrase(self, text: str, k: int = 10, slop: int = 0) -> DataFrame:
        """Free-text phrase top-k: normalize the query through the
        index's own config (order-preserving, repeats kept) and serve
        it through :meth:`phrase_topk`."""
        return self.phrase_topk(self.analyze_ordered(text), k, slop=slop)

    def _posting_rows(self, all_terms: list[str]) -> DataFrame:
        """Term-pruned posting rows for the per-shard scorers: ONE
        combined-file scan in the fused state, else structure+scores
        scans unioned with null padding (matched back up per
        (term, sub_shard) by _merged_lists inside the shard group).
        Only the key columns and the ones the kernel decodes are
        projected."""
        term_filter = _in_values("term", all_terms)
        keys = ["shard", "term", "sub_shard"]
        if self.combined is not None:
            return self.combined.filter(term_filter).select(
                *keys, *_STRUCT_COLS, *_SCORE_COLS
            )
        s_rows = self.structure.filter(term_filter).select(*keys, *_STRUCT_COLS)
        c_rows = self.scores.filter(term_filter).select(*keys, *_SCORE_COLS)
        return s_rows.unionByName(c_rows, allowMissingColumns=True)

    def _by_shard(self, df: DataFrame):
        """``df`` grouped per shard for a per-shard kernel, each shard
        in its own partition up to the session's shuffle-partition
        count (:func:`place_shards`).  Grouping on the per-shard
        placement key reuses that one exchange, also on both sides of a
        cogroup; shards that share a partition stay separate groups."""
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        return place_shards(df, self._shards, n).groupBy(PLACE_KEY)

    def _allowed_docs(self, predicate: str) -> DataFrame:
        """The docmeta rows ``predicate`` selects.  A predicate that does
        not parse, or does not resolve to a boolean over docmeta
        columns, raises ``ValueError`` naming it, not a raw Spark
        parser or analyzer error."""
        try:
            return self.docmeta.filter(predicate)
        except AnalysisException as e:  # ParseException is one too
            raise ValueError(
                f"predicate {predicate!r} is not a boolean SQL expression over the"
                f" docmeta columns {self.docmeta.columns}: {e}"
            ) from None

    def _docmeta_col(self, arg: str, name: str) -> None:
        """``ValueError`` naming the argument ``arg`` unless ``name`` is
        a docmeta column."""
        if name not in self.docmeta.columns:
            raise ValueError(
                f"{arg}={name!r} is not a docmeta column: {self.docmeta.columns}"
            )

    @staticmethod
    def _rank_and_limit(local: DataFrame) -> DataFrame:
        """Global merge: per-query top-k over the ≤ shards*(k+off)
        shard-local results.  Each row carries its query's ``k`` and
        ``off`` (:func:`_k_off_labeler`); ranks are absolute, the offset
        window filters off < rank <= off + k."""
        out = top_n_per_group(
            local, ["query_id"], [F.desc("score_q"), F.asc("doc_id")],
            F.col("off") + F.col("k"),
        ).filter(F.col("rank") > F.col("off"))
        return out.select(
            "query_id", "doc_id", "score_q",
            (F.col("score_q").cast("double") / F.lit(float(QUANT))).alias("score"),
            "rank",
        )

    def phrase_topk(
        self, terms: Sequence[str], k: int = 10, slop: int = 0
    ) -> DataFrame:
        """Exact-phrase top-k: docs containing ``terms`` as CONSECUTIVE
        tokens (tokenizer stream order), ranked by the sum of the
        terms' BM25 scores, (score desc, doc asc) ties — i.e. the AND
        query restricted to adjacency-verified docs.  ``slop`` relaxes
        each gap to ordered proximity (next term within 1+slop tokens).

        Plan: the positions artifact (build_positions) and the posting
        rows are both term-pruned scans COGROUPED on shard — positions
        rows co-shuffle with exactly the posting shards that can hold
        their docs (placement comes from docmeta on both sides), no
        broadcast, no O(corpus) join.  Adjacency is verified per shard
        with the vectorized int64-packed intersect chain
        (positions.verify_phrase_docs), then the standard TAAT kernel
        scores the surviving docs; the global merge is the usual
        ≤ shards*k window."""
        return self.phrase_topk_batch(
            [PhraseQuery(0, list(terms), k, slop)]
        ).drop("query_id")

    def phrase_topk_batch(self, phrases: Sequence[PhraseQuery]) -> DataFrame:
        """One Spark job for a batch of phrase queries → (query_id,
        doc_id, score_q, score, rank).  Same plan shape as a single
        :meth:`phrase_topk` — ONE term-pruned positions scan + ONE
        posting scan cogrouped on shard — so the per-batch fixed cost
        (two scans, one shuffle, one merge window) is paid once for the
        whole batch instead of once per phrase (the difference between
        ~1 q/s and serving-rate phrase search)."""
        from .build import index_paths
        from .positions import verify_phrase_grouped

        phrases = list(phrases)
        _check_unique_qids(q.query_id for q in phrases)
        for q in phrases:
            _check_request(q.query_id, {"terms": q.terms}, {"k": q.k, "slop": q.slop})
            if len(q.terms) < 2:
                raise ValueError(f"query {q.query_id}: phrase needs at least 2 terms")
            if q.k < 1:
                raise ValueError(f"query {q.query_id}: k must be >= 1, got {q.k}")
            if q.slop < 0:
                raise ValueError(f"query {q.query_id}: slop must be >= 0, got {q.slop}")
        p = index_paths(self.manifest)
        rel = p.get("positions")
        if not rel:
            raise ValueError(
                "index has no positions artifact — run build_positions first"
            )
        if int(self.manifest.get("positions_version", -1)) != int(
            self.manifest.get("version", 0)
        ):
            raise ValueError(
                "positions artifact is stale (built at index version "
                f"{self.manifest.get('positions_version')}, index is at "
                f"{self.manifest.get('version', 0)}) — rebuild positions"
            )
        from .positions import read_positions

        all_terms = sorted({t for q in phrases for t in q.terms})
        pos_rows = read_positions(self.spark, self.index_dir, rel).filter(
            _in_values("term", all_terms)
        )
        rows = self._posting_rows(all_terms)
        qspec = [(q.query_id, list(q.terms), q.k, q.slop) for q in phrases]
        label = _k_off_labeler({q.query_id: (q.k, 0) for q in phrases})

        def per_shard_phrase(key, pdf, ppdf):
            # shard-level work is paid ONCE for the batch: the positions
            # rows are grouped by term once, each phrase verifies
            # adjacency over that grouping, and one kernel pass scores
            # every phrase as an AND query over its verified docs
            pos_by_term: dict[str, list] = {}
            for r in ppdf.itertuples(index=False):
                pos_by_term.setdefault(r.term, []).append((r.doc_id, r.poss))
            spec, allowed = [], []
            for qid, terms, k, slop in qspec:
                docs = verify_phrase_grouped(pos_by_term, terms, slop)
                if len(docs):
                    spec.append((qid, terms, "AND", k, (), None, None, 0, None))
                    allowed.append(docs)
            return label(_taat_kernel(pdf, spec, query_allowed=allowed))

        local = (
            self._by_shard(rows)
            .cogroup(self._by_shard(pos_rows))
            .applyInPandas(per_shard_phrase, _LOCAL_SCHEMA)
        )
        return self._rank_and_limit(local)

    def snippets(
        self,
        docs: DataFrame,
        terms: Sequence[str],
        k: int = 10,
        mode: str = "OR",
        window: int = 12,
        before: int = 3,
        text_col: str = "content",
        id_col: str = "doc_id",
        predicate: str | None = None,
    ) -> DataFrame:
        """Result-page snippets: BM25 top-k (with optional metadata
        ``predicate``), each hit joined back to its source text and cut
        to a deterministic token window — the ``window`` tokens
        starting ``before`` tokens ahead of the EARLIEST occurrence of
        any query term (1-clamped).

        The extraction is entirely JVM-side codegen (tokenize =
        regexp_extract_all, locate = array_position, cut = slice +
        array_join — no UDF): the expensive part is the ``docs`` scan,
        and the ≤k hit ids are broadcast into it so the corpus never
        shuffles.  At 10^12 docs serve text from a point-lookup store
        (bucketed by doc_id) instead of a flat scan; the join shape is
        unchanged.  Stemmed indexes locate the stem's literal form
        only — docs whose surface forms all differ fall back to the
        document head (coalesce to position 1 keeps the row).
        Delegates to :meth:`snippets_batch` with one query — one code
        path for the window semantics."""
        if not terms:
            # e.g. analyze() of a stopword-only query — fail clean
            raise ValueError("snippets needs at least one term")
        return self.snippets_batch(
            docs,
            [Query(0, list(terms), mode, k)],
            window=window,
            before=before,
            text_col=text_col,
            id_col=id_col,
            predicate=predicate,
        ).drop("query_id")

    def snippets_batch(
        self,
        docs: DataFrame,
        queries: Sequence[Query],
        window: int = 12,
        before: int = 3,
        text_col: str = "content",
        id_col: str = "doc_id",
        predicate: str | None = None,
    ) -> DataFrame:
        """Result-page snippets for a QUERY batch in one job →
        (query_id, doc_id, score_q, rank, snippet).  One
        :meth:`topk_batch` scores every query, the per-query term
        arrays ride the (small) hit set as a broadcast column, and the
        docs table is scanned ONCE for the union of hits — the per-hit
        window cut is the same JVM expression as :meth:`snippets`,
        with the literal-term ``least`` replaced by an
        ``array_min(filter(transform(...)))`` over the row's own term
        array (still whole-stage codegen, no UDF).  Row-identical per
        query to the single-call path (equivalence-tested)."""
        from ..tokenize import tokens_col

        if window < 1 or before < 0:
            raise ValueError(f"window must be >= 1 and before >= 0, got {window}/{before}")
        if id_col not in docs.columns:
            from .build import _load_cfg

            cfg = _load_cfg(self.manifest, self.index_dir)
            if not cfg.id_cols:
                raise ValueError(
                    f"docs has no {id_col!r} column and the index config "
                    "declares no natural-key id_cols to derive it from"
                )
            docs = docs.withColumn(id_col, F.xxhash64(*cfg.id_cols))
        hits = self.topk_batch(queries, predicate=predicate).select(
            "query_id", "doc_id", "score_q", "rank"
        )
        qt = self.spark.createDataFrame(
            [(int(q.query_id), sorted(set(q.terms))) for q in queries],
            "query_id int, qterms array<string>",
        )
        hits = hits.join(F.broadcast(qt), "query_id")
        toks = tokens_col(F.col(text_col))
        first = F.array_min(
            F.filter(
                F.transform(
                    F.col("qterms"),
                    lambda t: F.nullif(F.array_position(toks, t), F.lit(0)),
                ),
                lambda x: x.isNotNull(),
            )
        )
        start = F.greatest(
            F.lit(1), (F.coalesce(first, F.lit(1)) - F.lit(before)).cast("int")
        )
        snip = F.array_join(F.slice(toks, start, window), " ")
        return (
            docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
            .join(F.broadcast(hits), "doc_id")
            .select("query_id", "doc_id", "score_q", "rank", snip.alias("snippet"))
        )

    def more_like_this(
        self,
        doc_id: int,
        m: int = 8,
        k: int = 10,
        predicate: str | None = None,
    ) -> DataFrame:
        """Find documents similar to ``doc_id``: extract its ``m``
        strongest terms by reference TF-IDF (round4(tf/doc_len *
        log10(N/df)), ties term-asc) and run them as a BM25 OR query,
        excluding the source doc itself (optionally AND-ed with an
        extra docmeta ``predicate``).

        Term extraction never touches the term-major postings: the tf
        artifact is doc-major, so the source doc's rows are a
        predicate-pushdown point lookup; df comes from the dictionary
        broadcast (epoch dictionary during a deferred-refresh window,
        with a structure-derived live-df fallback for delta-only
        terms), doc_len from the doc's docmeta row.  The
        m query terms come to the driver (m is tiny — queries are
        driver-side objects by definition), then the standard batched
        engine serves the top-k."""
        return (
            self.more_like_this_batch([doc_id], m=m, k=k, predicate=predicate)
            .drop("query_id", "src_doc_id")
        )

    def more_like_this_batch(
        self,
        doc_ids: Sequence[int],
        m: int = 8,
        k: int = 10,
        predicate: str | None = None,
    ) -> DataFrame:
        """More-like-this for a batch of source docs in ONE pipeline →
        (query_id, src_doc_id, doc_id, score_q, score, rank).

        Term extraction batches too: the doc-major tf artifact is
        scanned ONCE with an ``IN`` pushdown for all sources, joined
        to the broadcast dictionary, and the per-doc top-``m`` terms
        come back in one window + one collect (≤ m·|docs| rows — query
        construction is driver-side by definition).  Serving is one
        :meth:`topk_batch`; each query's own source doc is excluded
        inside the kernel (``Query.exclude_docs`` — identical results
        to a per-query ``doc_id != src`` predicate, without per-query
        predicates)."""
        from .build import _tombstones, index_paths

        if m < 1:
            raise ValueError(f"m must be >= 1, got {m}")
        doc_ids = [int(d) for d in doc_ids]
        # dedupe for the extraction phase: a repeated source doc must
        # not duplicate its tf rows through the lens join below (the
        # per-doc window would rank each term twice and the top-m would
        # hold ~m/2 distinct terms); the query list further down stays
        # per-input-position, so duplicates still get their own query
        uniq_ids = list(dict.fromkeys(doc_ids))
        meta = {
            r["doc_id"]: int(r["doc_len"])
            for r in self.docmeta.filter(_in_values("doc_id", uniq_ids))
            .select("doc_id", "doc_len").collect()
        }
        missing = [d for d in uniq_ids if d not in meta]
        if missing:
            raise ValueError(f"doc_ids not live in the index: {missing}")
        p = index_paths(self.manifest)
        tf = self.spark.read.parquet(
            *[os.path.join(self.index_dir, t) for t in p["tf"]]
        ).filter(_in_values("doc_id", uniq_ids))
        tombs = _tombstones(self.spark, self.index_dir, self.manifest)
        if tombs is not None:  # docmeta said live, so this is belt+braces
            tf = tf.join(tombs.select("doc_id"), "doc_id", "left_anti")
        lens = self.spark.createDataFrame(
            [(d, meta[d]) for d in uniq_ids], "doc_id long, doc_len long"
        )
        scored = self._join_term_df(tf, "df").join(F.broadcast(lens), "doc_id").withColumn(
            "tfidf",
            round_half_up(
                (F.col("tf").cast("double") / F.col("doc_len").cast("double"))
                * F.log10(F.lit(float(self.n_docs)) / F.col("df").cast("double")),
                4,
            ),
        )
        top_terms: dict[int, list[str]] = {}
        for r in (
            top_n_per_group(scored, ["doc_id"], [F.desc("tfidf"), F.asc("term")], m, "r")
            .select("doc_id", "term", "r")
            .orderBy("doc_id", "r").collect()
        ):
            top_terms.setdefault(r["doc_id"], []).append(r["term"])
        queries = []
        for i, d in enumerate(doc_ids):
            terms = top_terms.get(d)
            if terms:  # a stopword-only doc yields no query
                # source exclusion rides the kernel (Query.exclude_docs):
                # the shard cut never sees the source doc, so
                # topk_batch's ranks are already final — no k+1 ask, no
                # second rank window over the served rows
                queries.append(Query(i, terms, "OR", k, exclude_docs=(d,)))
        res = self.topk_batch(queries, predicate=predicate)
        # query ids are input positions 0..n-1: the source label is one
        # parsed array lookup, a projection whatever the batch size
        src = F.expr(
            f"element_at(array({', '.join(map(_sql_lit, doc_ids))}), query_id + 1)"
        ).cast("long")
        return res.select(
            "query_id", src.alias("src_doc_id"), "doc_id", "score_q", "score", "rank"
        )

    def _join_term_df(self, rows: DataFrame, name: str) -> DataFrame:
        """Join each row's term df in as column ``name``.  While
        deferred-refresh deltas are outstanding the epoch dictionary
        lacks delta-only terms and an inner join would silently drop
        them (a delta doc with only new terms would return NO results),
        so the dictionary is left-joined and coalesced with the
        structure-derived live df.  A refreshed index keeps one inner
        broadcast join with no extra scan."""
        dic = F.broadcast(self.dictionary.select("term", F.col("df").alias(name)))
        if int(self.manifest.get("stale_deltas", 0)) == 0:
            return rows.join(dic, "term")
        live = self.structure.groupBy("term").agg(F.sum("n_docs").alias("_df_live"))
        return (
            rows.join(dic, "term", "left").join(F.broadcast(live), "term")
            .withColumn(name, F.coalesce(name, "_df_live")).drop("_df_live")
        )

    # ---------- dictionary services ----------

    def prefix_terms(self, prefix: str, n: int = 10) -> DataFrame:
        """Term-dictionary prefix search (the autocomplete primitive):
        the ``n`` highest-df terms starting with ``prefix``, ties
        term-asc → (term, df, cf).  One-panel :meth:`prefix_terms_batch`."""
        return self.prefix_terms_batch([(0, prefix)], n).drop("query_id")

    def prefix_terms_batch(
        self, prefixes: Sequence[tuple[int, str]], n: int = 10
    ) -> DataFrame:
        """Prefix search for a batch of (query_id, prefix) panels in ONE
        job → (query_id, term, df, cf) — the autocomplete serving shape
        (one keystroke tick fans out many live prefix panels), the
        ``n`` highest-df terms per panel, ties term-asc.  Plan: an OR
        of the batch's prefixes pushes into the dictionary parquet scan
        as ``StartsWith`` (row-group pruning on the term-sorted
        dictionary; only term/df/cf columns read), the survivors join
        the broadcast prefix panel with a ``StartsWith`` theta-join
        (whole-stage codegen — no Python, no shuffle of the
        vocabulary), then one rank window per query cuts to ``n``.
        The dictionary is O(vocab), not O(corpus), so this stays cheap
        at any corpus size."""
        if n < 1:
            raise ValueError(f"n must be >= 1, got {n}")
        prefixes = [(_qid(qid), p) for qid, p in prefixes]
        _check_unique_qids(qid for qid, _ in prefixes)
        if any(not p for _, p in prefixes):
            raise ValueError("prefix must be non-empty (the full dictionary is .dictionary)")
        pdf = self.spark.createDataFrame(prefixes, "query_id int, prefix string")
        cand = (
            self.dictionary.filter(_startswith_any("term", [p for _, p in prefixes]))
            .select("term", "df", "cf")
            .join(F.broadcast(pdf), F.col("term").startswith(F.col("prefix")))
        )
        return (
            top_n_per_group(cand, ["query_id"], [F.desc("df"), F.asc("term")], n)
            .select("query_id", "term", "df", "cf")
            .orderBy("query_id", F.desc("df"), F.asc("term"))
        )

    def _expand_wildcards(
        self, panels: Sequence[tuple[int, str]], max_expansions: int
    ) -> DataFrame:
        """Wildcard term expansion for a batch of (query_id, pattern)
        panels → (query_id, term, df, cf), unordered: each panel's
        ``max_expansions`` highest-df matching terms, ties term-asc
        (Lucene's top-terms rewrite).  Plan: when every pattern has a
        literal prefix before its first wildcard, an OR of those
        prefixes pushes into the dictionary parquet scan as
        ``StartsWith`` (row-group pruning on the term-sorted
        dictionary); the survivors join the broadcast panel with a
        prefix + ``regexp_like`` theta-join (whole-stage codegen, no
        Python), and one rank window per panel applies the cap —
        O(prefix range) for anchored patterns, O(vocab) worst case for
        leading-wildcard ones, never O(corpus)."""
        panels = [(_qid(qid), p) for qid, p in panels]
        _check_unique_qids(qid for qid, _ in panels)
        compiled = [
            (qid, *wildcard_regex(p)) for qid, p in panels
        ]  # raises on an empty pattern
        if max_expansions < 1:
            raise ValueError(f"max_expansions must be >= 1, got {max_expansions}")
        pdf = self.spark.createDataFrame(
            compiled, "query_id int, rx string, prefix string"
        )
        d = self.dictionary
        if all(prefix for _, _, prefix in compiled):
            d = d.filter(_startswith_any("term", [prefix for _, _, prefix in compiled]))
        cand = d.select("term", "df", "cf").join(
            F.broadcast(pdf),
            F.col("term").startswith(F.col("prefix"))
            & F.regexp_like(F.col("term"), F.col("rx")),
        )
        return top_n_per_group(
            cand, ["query_id"], [F.desc("df"), F.asc("term")], max_expansions, "r"
        ).select("query_id", "term", "df", "cf")

    def expand_wildcard(self, pattern: str, max_expansions: int = 32) -> DataFrame:
        """Wildcard term expansion over the dictionary (Lucene's
        multi-term rewrite primitive): ``*`` matches any run of
        characters, ``?`` exactly one.  Returns the ``max_expansions``
        highest-df matching terms (ties term-asc) as (term, df, cf),
        in that order — one panel of :meth:`_expand_wildcards`.  The
        deterministic df-ranked cap bounds downstream scoring cost no
        matter how broad the pattern."""
        return (
            self._expand_wildcards([(0, pattern)], max_expansions)
            .orderBy(F.desc("df"), F.asc("term"))
            .drop("query_id")
        )

    def wildcard_topk(
        self,
        pattern: str,
        k: int = 10,
        max_expansions: int = 32,
        min_should_match: int = 0,
    ) -> DataFrame:
        """BM25 top-k for a wildcard pattern: expand against the
        dictionary (:meth:`expand_wildcard`'s deterministic df-ranked
        cap), then score the expansion as ONE disjunctive query →
        (doc_id, score_q, score, rank).  The expansion collect is
        bounded by ``max_expansions`` (≤32 rows by default — a
        dictionary lookup, not a corpus scan); ``min_should_match``
        optionally requires docs to match several distinct expanded
        terms — a floor above the expansion width is unsatisfiable and
        returns no matches rather than silently weakening."""
        terms = [
            r["term"] for r in self.expand_wildcard(pattern, max_expansions).collect()
        ]
        # an msm above the expansion width is unsatisfiable — return no
        # matches (Lucene semantics), never silently weaken the floor
        if not terms or (min_should_match and min_should_match > len(terms)):
            return self._empty_result().drop("query_id")
        return self.topk_batch(
            [Query(0, terms, "OR", k, min_should_match=min_should_match)]
        ).drop("query_id")

    def wildcard_topk_batch(
        self,
        panels: Sequence[tuple[int, str]],
        k: int = 10,
        max_expansions: int = 32,
    ) -> DataFrame:
        """Wildcard search for a batch of (query_id, pattern) panels:
        ONE dictionary job expands every pattern
        (:meth:`_expand_wildcards`), then ONE ``topk_batch`` scores all
        expansions.  The intermediate collect is bounded by
        ``|panels| * max_expansions`` dictionary rows.  Row-identical
        per panel to :meth:`wildcard_topk` (equivalence-tested); a
        panel whose pattern matches nothing yields no rows."""
        exp = self._expand_wildcards(panels, max_expansions).select(
            "query_id", "term"
        ).collect()
        by_qid: dict[int, list[str]] = {}
        for r in exp:
            by_qid.setdefault(r["query_id"], []).append(r["term"])
        if not by_qid:
            return self._empty_result()
        return self.topk_batch(
            [Query(qid, terms, "OR", k) for qid, terms in sorted(by_qid.items())]
        )

    def suggest(self, query_term: str, max_dist: int = 1, n: int = 10) -> DataFrame:
        """Spell-suggest over the term dictionary: terms within
        ``max_dist`` Levenshtein edits of ``query_term``, ranked
        (distance asc, df desc, term asc) → (term, dist, df).
        One-panel :meth:`suggest_batch`."""
        return self.suggest_batch([(0, query_term)], max_dist, n).drop("query_id")

    def suggest_batch(
        self, queries: Sequence[tuple[int, str]], max_dist: int = 1, n: int = 10
    ) -> DataFrame:
        """Spell-suggest for a batch of (query_id, term) lookups in ONE
        job → (query_id, term, dist, df), the ``n`` best per query by
        (dist asc, df desc, term asc).  The length band
        ``|len(term) − len(q)| ≤ max_dist`` is a necessary condition
        for edit distance ≤ max_dist; it rides the broadcast
        theta-join condition, so the O(len²) ``levenshtein`` only runs
        on banded (term, query) pairs — all JVM codegen, one dictionary
        scan for the whole batch."""
        if max_dist < 0:
            raise ValueError(f"max_dist must be >= 0, got {max_dist}")
        if n < 1:
            raise ValueError(f"n must be >= 1, got {n}")
        queries = [(_qid(qid), q) for qid, q in queries]
        _check_unique_qids(qid for qid, _ in queries)
        qdf = self.spark.createDataFrame(queries, "query_id int, q string")
        cand = (
            self.dictionary.select("term", "df")
            .join(
                F.broadcast(qdf),
                F.abs(F.length("term") - F.length("q")) <= F.lit(max_dist),
            )
            .withColumn("dist", F.levenshtein(F.col("term"), F.col("q")))
            .filter(F.col("dist") <= F.lit(max_dist))
        )
        return (
            top_n_per_group(
                cand, ["query_id"], [F.asc("dist"), F.desc("df"), F.asc("term")], n
            )
            .select("query_id", "term", "dist", "df")
            .orderBy("query_id", F.asc("dist"), F.desc("df"), F.asc("term"))
        )

    def significant_terms(
        self, terms: Sequence[str], n: int = 10, min_fg_df: int = 2
    ) -> DataFrame:
        """Significant-terms aggregation (Elasticsearch
        ``significant_terms``): the terms most over-represented in the
        OR-match set relative to the background corpus →
        (term, fg_df, bg_df, lift), top-n by (lift desc, fg_df desc,
        term asc), query terms excluded, ``fg_df >= min_fg_df``
        (rare-term noise floor).

        ``lift = (fg_df · N) / (bg_df · m)`` — foreground rate over
        background rate, computed as exact integer products divided
        ONCE (IEEE division is correctly rounded, so the score is
        bit-identical across engines; deliberately NOT the JLH/chi²
        log shapes, whose libm transcendentals differ).  During a
        bounded-staleness window bg_df is the structure-derived live df
        and N the live doc count, measured on the same snapshot as the
        foreground, so ``fg_df <= bg_df`` holds.  One-panel
        :meth:`significant_terms_batch`."""
        return (
            self.significant_terms_batch([(0, list(terms))], n=n, min_fg_df=min_fg_df)
            .drop("query_id")
        )

    def significant_terms_batch(
        self,
        queries: Sequence[tuple[int, Sequence[str]]],
        n: int = 10,
        min_fg_df: int = 2,
    ) -> DataFrame:
        """Significant-terms panels for a batch of (query_id, terms) in
        ONE job → (query_id, term, fg_df, bg_df, lift), top-n per panel.
        The shared :meth:`_panel_match_sets` membership decode builds
        every panel's match set at once; ONE tombstone-clean
        tf-generation scan joins the (query_id, doc_id) match table
        (per-panel fg counts in one partial agg); per-panel match
        counts and the dictionary bg_df ride broadcast joins; one rank
        window per panel cuts to ``n``.
        Row-identical per panel to :meth:`significant_terms`
        (equivalence-tested) — fixed job costs paid once per batch."""
        from .build import _tombstones, index_paths

        if n < 1:
            raise ValueError(f"n must be >= 1, got {n}")
        queries, match = self._panel_match_sets(queries)
        p = index_paths(self.manifest)
        tf = self.spark.read.parquet(
            *[os.path.join(self.index_dir, rel) for rel in p["tf"]]
        ).select("doc_id", "term")
        tombs = _tombstones(self.spark, self.index_dir, self.manifest)
        if tombs is not None:
            tf = tf.join(tombs.select("doc_id"), "doc_id", "left_anti")
        # per-panel query-term exclusion as a broadcast anti-join (the
        # single path's literal isin can't express per-panel lists)
        qterms = self.spark.createDataFrame(
            [(qid, t) for qid, terms in queries for t in terms],
            "qid int, qterm string",
        )
        fg = (
            tf.join(match, "doc_id")
            .groupBy("query_id", "term")
            .agg(F.count(F.lit(1)).alias("fg_df"))
            .filter(F.col("fg_df") >= min_fg_df)
            .join(
                F.broadcast(qterms),
                (F.col("query_id") == F.col("qid")) & (F.col("term") == F.col("qterm")),
                "left_anti",
            )
        )
        if int(self.manifest.get("stale_deltas", 0)) > 0:
            # the epoch dictionary df and total_docs lag the live tf
            # generations fg_df counts over
            live = self.structure.groupBy("term").agg(F.sum("n_docs").alias("bg_df"))
            bg = fg.join(F.broadcast(live), "term")
            n_docs = int(self.manifest["metrics"]["live_total_docs"])
        else:
            bg = self._join_term_df(fg, "bg_df")
            n_docs = self.n_docs
        m_df = match.groupBy("query_id").agg(F.count(F.lit(1)).alias("m_cnt"))
        lift = (F.col("fg_df").cast("double") * F.lit(float(n_docs))) / (
            F.col("bg_df").cast("double") * F.col("m_cnt").cast("double")
        )
        scored = bg.join(F.broadcast(m_df), "query_id").select(
            "query_id", "term", "fg_df", "bg_df", lift.alias("lift")
        )
        return (
            top_n_per_group(
                scored, ["query_id"], [F.desc("lift"), F.desc("fg_df"), F.asc("term")],
                n, "_rk",
            )
            .drop("_rk")
            .orderBy("query_id", F.desc("lift"), F.desc("fg_df"), F.asc("term"))
        )

    def rank_eval(
        self,
        queries: Sequence[Query],
        qrels: DataFrame,
    ) -> DataFrame:
        """Search-quality evaluation (Elasticsearch ``_rank_eval``):
        serve the query batch, score each ranking against a relevance-
        labels table ``qrels`` (query_id, doc_id) → one row per LABELED
        query: (query_id, n_rel, hits_at_k, precision_at_k,
        recall_at_k, reciprocal_rank), query_id ascending.

        Metrics are the set-based classics whose arithmetic is exact
        in IEEE doubles (single integer divisions — engine-independent
        by construction): P@k = hits/k, R@k = hits/n_rel,
        RR = 1/rank-of-first-relevant (0 when no relevant doc is
        retrieved).  NDCG is deliberately absent: its log2 discounts
        are libm transcendentals that differ across engines — the
        wrong trade for an oracle-checked metric.

        Plan: ONE :meth:`topk_batch` serves every query; the
        (benchmark-sized) qrels broadcast-join the ≤ Σk hit rows;
        per-query metrics are one partial agg.  Queries absent from
        ``qrels`` produce no row (nothing to grade against)."""
        hits = self.topk_batch(queries).select("query_id", "doc_id", "rank")
        kdf = self.spark.createDataFrame(
            [(int(q.query_id), int(q.k)) for q in queries], "query_id int, k int"
        )
        qr = qrels.select("query_id", "doc_id").distinct()
        n_rel = qr.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_rel"))
        relhits = (
            hits.join(F.broadcast(qr), ["query_id", "doc_id"])
            .groupBy("query_id")
            .agg(
                F.count(F.lit(1)).alias("hits_at_k"),
                F.min("rank").alias("_first"),
            )
        )
        return (
            n_rel.join(relhits, "query_id", "left")
            .join(F.broadcast(kdf), "query_id")
            .select(
                "query_id",
                "n_rel",
                F.coalesce("hits_at_k", F.lit(0)).alias("hits_at_k"),
                (
                    F.coalesce("hits_at_k", F.lit(0)).cast("double") / F.col("k")
                ).alias("precision_at_k"),
                (
                    F.coalesce("hits_at_k", F.lit(0)).cast("double") / F.col("n_rel")
                ).alias("recall_at_k"),
                F.coalesce(
                    F.lit(1.0) / F.col("_first").cast("double"), F.lit(0.0)
                ).alias("reciprocal_rank"),
            )
            .orderBy("query_id")
        )

    def simple_query_string(
        self,
        text: str,
        k: int = 10,
        mode: str = "OR",
        max_expansions: int = 32,
        slop: int = 0,
    ) -> DataFrame:
        """User-facing query language (the useful core of
        Elasticsearch ``simple_query_string``), composed from the
        engine's existing primitives — the parser adds NO new
        semantics, only routing:

        - ``\"quoted words\"`` — the whole query is ONE exact phrase
          (ordered adjacency, ``slop``-relaxed) → :meth:`search_phrase`
        - ``-token`` — must_not: matching docs are excluded, surviving
          scores untouched (``Query.exclude``)
        - ``tok*`` / ``t?k`` — wildcard: expanded against the
          dictionary (df-ranked, ``max_expansions``-capped — Lucene's
          top-terms rewrite) into ordinary scored terms
        - anything else — analyzed through the index config and scored

        Every token (including exclusions) runs through the index's own
        analysis, so surface forms hit stemmed indexes correctly.
        Mixing a quoted phrase with other tokens is rejected loudly
        (the scoring semantics would be ambiguous) rather than guessed.
        Text that analyzes to nothing → empty result, like
        :meth:`search`."""
        import shlex

        lex = shlex.shlex(text, posix=False)
        lex.whitespace_split = True
        lex.quotes = '"'  # apostrophes ('tis, '90s) are word characters
        try:
            parts = list(lex)
        except ValueError:
            raise ValueError(f"unterminated quoted phrase in {text!r}") from None
        phrases = [p for p in parts if p.startswith('"')]
        rest = [p for p in parts if not p.startswith('"')]
        if phrases:
            if rest or len(phrases) > 1:
                raise ValueError(
                    "simple_query_string supports ONE quoted phrase as the whole"
                    " query; mixing phrases with other tokens is ambiguous —"
                    " run them as separate queries"
                )
            return self.search_phrase(phrases[0].strip('"'), k, slop=slop)
        terms: list[str] = []
        exclude: list[str] = []
        for p in rest:
            neg = p.startswith("-")
            body = p[1:] if neg else p
            if not body:
                continue
            if "*" in body or "?" in body:
                expanded = [
                    r["term"]
                    for r in self.expand_wildcard(
                        body.lower(), max_expansions=max_expansions
                    ).collect()
                ]
            else:
                expanded = self.analyze(body)
            (exclude if neg else terms).extend(expanded)
        terms = list(dict.fromkeys(terms))
        # a term both scored and excluded (e.g. "merge -mer*") reaches
        # topk_batch's overlap validation and raises LOUDLY — guessing
        # which side the user meant would silently change the result
        exclude = list(dict.fromkeys(exclude))
        if not terms:
            return self._empty_result().drop("query_id")
        return self.topk_batch(
            [Query(0, terms, mode, k, exclude=tuple(exclude))],
        ).drop("query_id")

    def did_you_mean(
        self, text: str, max_dist: int = 2
    ) -> tuple[list[str] | None, list[dict]]:
        """Query correction (the Elasticsearch phrase-suggester shape):
        analyze ``text`` through the index's own config, look up each
        analyzed term in the index's term space, and spell-correct the
        UNKNOWN ones via ONE :meth:`suggest_batch` job (length-band
        theta-join against the dictionary — never touches postings).

        Returns ``(corrected_terms, corrections)``: ``corrected_terms``
        is the analyzed token stream with each correctable unknown
        replaced by its best candidate ((dist asc, df desc, term asc)
        — the highest-evidence nearest term), or ``None`` when every
        term already exists or nothing within ``max_dist`` was found;
        ``corrections`` lists {term, replacement, dist, df} per fixed
        token.  The corrected list lives in the index's TERM space
        (stems for a stemmed index), so the retry query is
        ``topk(corrected_terms)`` / ``topk_batch`` — NOT ``search``,
        which would re-analyze and re-stem already-stemmed terms
        (stemmers are not idempotent: porter2("generous") is
        "generou").  During a bounded-staleness window, membership
        includes terms that exist only in un-refreshed delta
        generations (structure-derived, same guard as more_like_this)
        so a valid new term is never "corrected" away.  Driver-side
        cost: O(#query terms) collected rows."""
        toks = self.analyze_ordered(text)
        if not toks:
            return None, []
        uniq = sorted(set(toks))
        terms_src = self.dictionary.select("term")
        if int(self.manifest.get("stale_deltas", 0)) > 0:
            # epoch dictionary lacks delta-only terms; the structure
            # scan is term-pruned by the IN filter below, so this stays
            # O(asked terms), not O(vocab)
            terms_src = terms_src.union(self.structure.select("term"))
        known = {
            r["term"]
            for r in terms_src.filter(_in_values("term", uniq)).distinct().collect()
        }
        unknown = [t for t in uniq if t not in known]
        if not unknown:
            return None, []
        cand = self.suggest_batch(list(enumerate(unknown)), max_dist=max_dist, n=1)
        best = {unknown[r["query_id"]]: r for r in cand.collect()}
        if not best:
            return None, []
        corrected = [best[t]["term"] if t in best else t for t in toks]
        corrections = [
            {
                "term": t,
                "replacement": best[t]["term"],
                "dist": best[t]["dist"],
                "df": best[t]["df"],
            }
            for t in unknown
            if t in best
        ]
        return corrected, corrections

    def facet_counts(self, terms: Sequence[str], facet: str = "topic") -> DataFrame:
        """Facet counts over the OR-match set: how many live docs
        matching ANY of ``terms`` fall in each ``facet`` bucket (a
        docmeta column), ordered (count desc, facet asc) — the
        aggregation panel next to search results.  One-panel
        :meth:`facet_counts_batch`."""
        return (
            self.facet_counts_batch([(0, list(terms))], facet=facet)
            .drop("query_id")
        )

    def _panels(
        self, queries: Sequence[tuple[int, Sequence[str]]]
    ) -> tuple[list[tuple[int, list[str]]], list[str], DataFrame]:
        """Normalize and validate (query_id, terms) panels → (panels
        with sorted distinct terms, the union of their terms, the
        (query_id, term) frame that fans each decoded term out to every
        panel holding it).  The one front door of the panel families."""
        for qid, terms in queries:
            _check_request(qid, {"terms": terms}, {})
        queries = [(_qid(qid), sorted(set(terms))) for qid, terms in queries]
        _check_unique_qids(qid for qid, _ in queries)
        if not queries or any(not terms for _, terms in queries):
            raise ValueError("every panel needs at least one term")
        tq = self.spark.createDataFrame(
            [(qid, t) for qid, terms in queries for t in terms],
            "query_id int, term string",
        )
        return queries, sorted({t for _, terms in queries for t in terms}), tq

    def _panel_match_sets(
        self, queries: Sequence[tuple[int, Sequence[str]]]
    ) -> tuple[list[tuple[int, list[str]]], DataFrame]:
        """The shared front half of every facet batch (counts /
        histogram / stats): the :meth:`_panels`, then the per-(panel,
        doc) DISTINCT match set — ONE term-pruned posting decode for
        the union of terms + a broadcast term→panel fan-out (a term
        shared by two panels fans to both).  Fixing match-set semantics
        here fixes all three aggregations at once."""
        queries, all_terms, tq = self._panels(queries)
        match = (
            self.decoded_docs(all_terms)
            .join(F.broadcast(tq), "term")
            .select("query_id", "doc_id")
            .distinct()
        )
        return queries, match

    def _panel_scored_aggs(
        self, queries: Sequence[tuple[int, Sequence[str]]], mode: str
    ) -> DataFrame:
        """The shared SCORED front half of the panel batch rankers
        (field collapse / function score / bucket top hits): the
        :meth:`_panels`, the union of terms decoded once WITH scores,
        the broadcast term→panel fan-out, and one score sum per
        (panel, doc) → (query_id, doc_id, score_q) — AND panels
        additionally require the panel's full distinct-term count
        (broadcast per-panel size table).  The membership-only sibling
        is :meth:`_panel_match_sets`."""
        if mode not in ("OR", "AND"):
            raise ValueError(f"unknown mode {mode!r}: use 'OR' or 'AND'")
        queries, all_terms, tq = self._panels(queries)
        d = (
            self.decoded(all_terms).select("term", "doc_id", "score_q")
            .join(F.broadcast(tq), "term")
        )
        if mode == "AND":
            sizes = self.spark.createDataFrame(
                [(qid, len(terms)) for qid, terms in queries],
                "query_id int, q_n_terms int",
            )
            return (
                d.groupBy("query_id", "doc_id")
                .agg(
                    F.sum("score_q").alias("score_q"),
                    F.countDistinct("term").alias("n_terms"),
                )
                .join(F.broadcast(sizes), "query_id")
                .filter(F.col("n_terms") == F.col("q_n_terms"))
                .select("query_id", "doc_id", "score_q")
            )
        return d.groupBy("query_id", "doc_id").agg(F.sum("score_q").alias("score_q"))

    def facet_counts_batch(
        self, queries: Sequence[tuple[int, Sequence[str]]], facet: str = "topic"
    ) -> DataFrame:
        """Facet counts for a batch of (query_id, terms) panels in ONE
        job → (query_id, facet, n_docs).  Plan: the shared
        :meth:`_panel_match_sets` decode (one scan for the union of
        terms, broadcast fan-out, per-(query, doc) distinct), one
        docmeta join, one partial-agg count — the per-panel fixed cost
        (scan + decode + join) is paid once for the whole batch."""
        self._docmeta_col("facet", facet)
        _, docs = self._panel_match_sets(queries)
        return (
            docs.join(self.docmeta.select("doc_id", facet), "doc_id")
            .groupBy("query_id", facet)
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.asc("query_id"), F.desc("n_docs"), F.asc(facet))
        )

    def facet_histogram(
        self,
        terms: Sequence[str],
        col: str = "doc_len",
        edges: Sequence[float] = (0, 100, 200, 400),
    ) -> DataFrame:
        """Range-facet aggregation over the OR-match set (Elasticsearch's
        ``range`` aggregation next to search results): counts of live
        docs matching ANY of ``terms`` per half-open bucket
        ``[edges[i], edges[i+1])`` of a numeric docmeta column →
        (bucket_start, bucket_end, n_docs), bucket-start ascending.
        Values outside ``[edges[0], edges[-1])`` are not counted —
        callers wanting an overflow bucket add a high edge.  One-panel
        :meth:`facet_histogram_batch`."""
        return (
            self.facet_histogram_batch([(0, list(terms))], col=col, edges=edges)
            .drop("query_id")
        )

    def facet_histogram_batch(
        self,
        queries: Sequence[tuple[int, Sequence[str]]],
        col: str = "doc_len",
        edges: Sequence[float] = (0, 100, 200, 400),
    ) -> DataFrame:
        """Range-facet histograms for a batch of (query_id, terms)
        panels in ONE job → (query_id, bucket_start, bucket_end,
        n_docs).  One term-pruned posting scan decoded once for the
        union of terms, a broadcast term→panel fan-out, per-(panel,
        doc) distinct, one docmeta join and one partial-agg count —
        the fixed job cost is paid once per batch instead of once per
        panel (the same shape as :meth:`facet_counts_batch`; the
        bucket index stays a pure JVM expression).  Row-identical per
        panel to :meth:`facet_histogram`, which delegates here."""
        edges = [float(e) for e in edges]
        # `not (a < b)` (rather than `a >= b`) also rejects NaN edges,
        # whose comparisons are all False and would silently produce
        # nonsense buckets
        if len(edges) < 2 or any(
            not math.isfinite(e) for e in edges
        ) or any(not (a < b) for a, b in zip(edges, edges[1:])):
            raise ValueError("edges must be >= 2 finite, strictly increasing values")
        self._docmeta_col("col", col)
        _, match = self._panel_match_sets(queries)
        v = F.col(col).cast("double")
        idx = sum((v >= F.lit(e)).cast("int") for e in edges) - F.lit(1)
        starts = F.array(*[F.lit(e) for e in edges[:-1]])
        ends = F.array(*[F.lit(e) for e in edges[1:]])
        return (
            match.join(self.docmeta.select("doc_id", col), "doc_id")
            .withColumn("bidx", idx)
            .filter((F.col("bidx") >= 0) & (F.col("bidx") < len(edges) - 1))
            .select(
                "query_id",
                F.element_at(starts, F.col("bidx") + 1).alias("bucket_start"),
                F.element_at(ends, F.col("bidx") + 1).alias("bucket_end"),
            )
            .groupBy("query_id", "bucket_start", "bucket_end")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.asc("query_id"), F.asc("bucket_start"))
        )

    def facet_stats(self, terms: Sequence[str], col: str = "doc_len") -> DataFrame:
        """Stats aggregation over the OR-match set (Elasticsearch's
        ``stats`` aggregation next to search results): count / min /
        max / sum / avg / median of a numeric docmeta column over the
        live docs matching ANY of ``terms`` → one row (n_docs, min_v,
        max_v, sum_v, avg_v, median_v).  One-panel
        :meth:`facet_stats_batch`."""
        return (
            self.facet_stats_batch([(0, list(terms))], col=col).drop("query_id")
        )

    def facet_stats_batch(
        self,
        queries: Sequence[tuple[int, Sequence[str]]],
        col: str = "doc_len",
    ) -> DataFrame:
        """Stats aggregations for a batch of (query_id, terms) panels
        in ONE job → (query_id, n_docs, min_v, max_v, sum_v, avg_v,
        median_v).
        One posting scan decoded once for the union of terms, broadcast
        term→panel fan-out, per-(panel, doc) distinct, one docmeta
        join, one partial agg — fixed job costs paid once per batch
        (the :meth:`facet_counts_batch` shape).  avg is sum/count, so
        integer columns give exact, engine-independent stats.

        NULL semantics follow the Elasticsearch stats agg: ``n_docs``
        counts matched docs where the field is PRESENT (non-null),
        and every stat — including the avg denominator — runs over
        those same docs, so the outputs stay mutually consistent on
        nullable columns (a panel whose matches all lack the field
        yields no row, like a no-match panel)."""
        self._docmeta_col("col", col)
        _, match = self._panel_match_sets(queries)
        v = F.col(col).cast("double")
        return (
            match.join(self.docmeta.select("doc_id", col), "doc_id")
            .groupBy("query_id")
            .agg(
                F.count(v).alias("n_docs"),
                F.min(v).alias("min_v"),
                F.max(v).alias("max_v"),
                F.sum(v).alias("sum_v"),
                (F.sum(v) / F.count(v)).alias("avg_v"),
                # exact median (interpolated midpoint for even counts
                # — the same linear-interpolation definition DuckDB's
                # median/quantile_cont uses, so integer columns stay
                # engine-identical); percentile_approx would not be
                F.median(v).alias("median_v"),
            )
            .filter(F.col("n_docs") > 0)
            .orderBy("query_id")
        )

    def synonym_topk(
        self, groups: Sequence[Sequence[str]], k: int = 10, mode: str = "OR"
    ) -> DataFrame:
        """Query-time synonym expansion with PROPER group statistics:
        each group of synonyms scores as ONE logical term — group tf =
        Σ member tf per doc, group df = docs containing ANY member —
        so a synonym set is not over-weighted by summing near-duplicate
        idf contributions (the failure mode of naive OR expansion).

        Plan: term-pruned postings decode → broadcast term→group map →
        per-(doc, group) partial agg → group-df agg (O(groups) rows) →
        the shared quantized BM25 kernel → per-doc sum, top-k.  AND
        mode requires every group matched."""
        if mode not in ("OR", "AND"):
            # validate BEFORE the empty-groups early return — a typo'd
            # mode must raise even when the group list filtered empty
            raise ValueError(f"unknown mode {mode!r}: use 'OR' or 'AND'")
        gs = [list(dict.fromkeys(g)) for g in groups if g]
        if not gs:
            return self._empty_result().select("doc_id", "score_q")
        return (
            self.synonym_topk_batch([(0, gs)], k=k, mode=mode)
            .drop("query_id", "rank")
        )

    def synonym_topk_batch(
        self,
        queries: "Sequence[tuple[int, Sequence[Sequence[str]]]]",
        k: int = 10,
        mode: str = "OR",
    ) -> DataFrame:
        """Synonym-expanded top-k for a batch of (query_id, groups)
        panels in ONE job → (query_id, doc_id, score_q, rank), top-k
        per panel.  Each panel's groups keep PROPER group statistics
        (group tf = Σ member tf, group df = docs containing ANY
        member) under a composite "qid:gid" scoring key, so one
        term-pruned decode + one broadcast term→(panel, group) map +
        one partial agg serve every panel; per-panel rank windows
        cut to ``k``.  Row-identical per panel to
        :meth:`synonym_topk`, which delegates here."""
        if mode not in ("OR", "AND"):
            raise ValueError(f"unknown mode {mode!r}: use 'OR' or 'AND'")
        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        norm: list[tuple[int, list[list[str]]]] = []
        for qid, groups in queries:
            # a bare string (as groups or as one group) fails as groups[i]
            _check_request(qid, {f"groups[{i}]": g for i, g in enumerate(groups)}, {})
            gs = [list(dict.fromkeys(g)) for g in groups if g]
            if not gs:
                raise ValueError(f"panel {qid}: needs at least one non-empty group")
            seen: set[str] = set()
            for g in gs:
                for t in g:
                    if t in seen:
                        raise ValueError(
                            f"panel {qid}: term {t!r} appears in more than one group"
                        )
                    seen.add(t)
            norm.append((_qid(qid), gs))
        _check_unique_qids(qid for qid, _ in norm)
        from ..operators.scoring import bm25_term_scores
        from .build import _load_cfg

        cfg = _load_cfg(self.manifest, self.index_dir)
        rows = [
            (qid, f"{qid}:{gi}", t)
            for qid, gs in norm
            for gi, g in enumerate(gs)
            for t in g
        ]
        mapping = self.spark.createDataFrame(
            rows, "query_id int, gkey string, term string"
        )
        all_terms = sorted({t for _, _, t in rows})
        gtf = (
            self.decoded(all_terms)
            .join(F.broadcast(mapping), "term")
            .groupBy("doc_id", "gkey")
            .agg(F.sum("tf").alias("tf"))
        )
        gstats = gtf.groupBy("gkey").agg(F.count(F.lit(1)).alias("df"))
        doclens = self.docmeta.select("doc_id", "doc_len")
        scored = bm25_term_scores(
            gtf.withColumnRenamed("gkey", "term"),
            gstats.withColumnRenamed("gkey", "term"),
            doclens, self.n_docs, self.avgdl, k1=cfg.k1, b=cfg.b,
        )
        agg = (
            scored.withColumn(
                "query_id", F.split(F.col("term"), ":").getItem(0).cast("int")
            )
            .groupBy("query_id", "doc_id")
            .agg(
                F.sum("score_q").alias("score_q"),
                F.count(F.lit(1)).alias("_ng"),
            )
        )
        if mode == "AND":
            want = self.spark.createDataFrame(
                [(qid, len(gs)) for qid, gs in norm], "query_id int, _want int"
            )
            agg = (
                agg.join(F.broadcast(want), "query_id")
                .filter(F.col("_ng") == F.col("_want"))
                .drop("_want")
            )
        return top_n_per_group(
            agg.drop("_ng"), ["query_id"], [F.desc("score_q"), F.asc("doc_id")], k
        ).orderBy("query_id", "rank")

    # ---------- hybrid lexical + dense retrieval ----------

    def hybrid_topk(
        self,
        terms: Sequence[str],
        vecs: DataFrame,
        query_vec: Sequence[float],
        k: int = 10,
        m: int = 50,
        rrf_k: int = 60,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """One-query :meth:`hybrid_topk_batch` → (doc_id, bm25_q, cos,
        rrf_q)."""
        return self.hybrid_topk_batch(
            [(0, terms, query_vec)], vecs, k, m, rrf_k, id_col=id_col, vec_col=vec_col
        ).drop("query_id")

    def hybrid_topk_batch(
        self,
        queries: Sequence[tuple[int, Sequence[str], Sequence[float]]],
        vecs: DataFrame,
        k: int = 10,
        m: int = 50,
        rrf_k: int = 60,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Hybrid retrieval with reciprocal-rank fusion for a batch of
        (query_id, terms, query_vec) queries in ONE pipeline →
        (query_id, doc_id, bm25_q, cos, rrf_q).  Per query: BM25
        top-``m`` candidates from the index, joined to their embeddings
        and re-scored against the query vector by quantized cosine,
        fused as ``rrf = 1/(rrf_k+rank_bm25) + 1/(rrf_k+rank_cos)``
        (the standard RRF; rank-based, so no score normalization
        between the lexical and dense spaces is needed), top-``k`` by
        (rrf desc, doc_id asc).  Cosine uses the same
        floor(x·q·1e9+0.5) integer-quantized kernel as the ANN
        operators (bit-deterministic at any parallelism, oracle-equal
        in SQL), evaluated with zip_with/aggregate — pure JVM, no UDF.
        Candidates with no embedding row, or one that quantizes to
        zero norm, keep their lexical rank and contribute no dense
        term (cos is null, ranked last).

        Plan: ONE :meth:`topk_batch` serves every query's BM25
        top-``m`` pool (the posting artifact is scanned once for the
        union of terms), the pools pick up their query's vector from a
        broadcast (query_id, qvec, qnorm) panel, and the m·|batch|
        labeled candidate set — still driver-known tiny — broadcasts
        against the arbitrarily large embedding table exactly like the
        single-query plan (the dense side is never shuffled; a doc
        candidate for two queries re-scores once per query, as it
        must; column pruning keeps only (id, vector)).  Both rank
        windows partition by query_id, so per-batch
        fixed costs (two scans, the broadcast, the windows) are paid
        once for the whole batch instead of once per query."""
        from ..operators.similarity import DOT_QUANT

        queries = [
            (_qid(qid), list(terms), np.asarray(list(qv), dtype=np.float64))
            for qid, terms, qv in queries
        ]
        _check_unique_qids(qid for qid, _, _ in queries)
        qnorm: dict[int, float] = {}
        for qid, _, q in queries:
            qn2 = int(np.floor(q * q * DOT_QUANT + 0.5).astype(np.int64).sum())
            if qn2 <= 0:
                raise ValueError(f"query_vec must be non-zero (query {qid})")
            qnorm[qid] = math.sqrt(float(qn2))
        cand = self.topk_batch(
            [Query(qid, terms, "OR", m) for qid, terms, _ in queries],
        ).select(
            "query_id",
            "doc_id",
            F.col("score_q").alias("bm25_q"),
            F.col("rank").alias("rank_bm25"),
        )
        panel = self.spark.createDataFrame(
            [(qid, [float(x) for x in q], qnorm[qid]) for qid, _, q in queries],
            "query_id int, qvec array<double>, qnorm double",
        )
        cand_q = cand.join(F.broadcast(panel), "query_id")
        emb = vecs.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("_emb"))
        joined = emb.join(
            F.broadcast(cand_q.select("query_id", "doc_id", "qvec")), "doc_id"
        ).select(
            "query_id",
            "doc_id",
            F.aggregate(
                F.zip_with(
                    F.col("_emb"), F.col("qvec"),
                    lambda x, y: F.floor(
                        x.cast("double") * y * F.lit(float(DOT_QUANT)) + F.lit(0.5)
                    ).cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("dot_q"),
            F.aggregate(
                F.transform(
                    F.col("_emb"),
                    lambda x: F.floor(
                        x.cast("double") * x.cast("double") * F.lit(float(DOT_QUANT)) + F.lit(0.5)
                    ).cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("norm2_q"),
        )
        # nullif: a zero-norm embedding has no dense signal — cos null
        # like a missing row, not a division failure (ANSI mode) or an
        # Infinity stealing rank_cos 1
        scored = cand_q.join(joined, ["query_id", "doc_id"], "left").withColumn(
            "cos",
            F.floor(
                F.col("dot_q").cast("double")
                / (F.sqrt(F.nullif(F.col("norm2_q"), F.lit(0)).cast("double"))
                   * F.col("qnorm"))
                * F.lit(1e6) + F.lit(0.5)
            ) / F.lit(1e6),
        )
        # each query's pool holds at most m candidates, so the cut at m
        # only ranks them
        fused = top_n_per_group(
            scored, ["query_id"], [F.desc_nulls_last("cos"), F.asc("doc_id")], m,
            "rank_cos",
        ).withColumn(
            "rrf_q",
            F.floor(
                (
                    F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("rank_bm25"))
                    + F.when(F.col("cos").isNull(), F.lit(0.0)).otherwise(
                        F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("rank_cos"))
                    )
                ) * F.lit(1e9) + F.lit(0.5)
            ).cast("long"),
        )
        return (
            top_n_per_group(
                fused, ["query_id"], [F.desc("rrf_q"), F.asc("doc_id")], k, "rank_k"
            )
            .select("query_id", "doc_id", "bm25_q", "cos", "rrf_q")
            .orderBy("query_id", F.desc("rrf_q"), F.asc("doc_id"))
        )

    # ---------- decoded postings (the aggregation families' input) ----------

    def decoded(self, terms: Sequence[str] | None = None) -> DataFrame:
        """(term, doc_id, tf, score_q) rows decoded from postings, one
        :func:`codec.decode_rows` per Arrow batch; only the term and
        the decoded columns are scanned."""
        rows = self.postings
        if terms is not None:
            rows = rows.filter(_in_values("term", terms))
        rows = rows.select("term", *_STRUCT_COLS, "tfs_payload", *_SCORE_COLS)

        def decode(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in pdf_iter:
                docs, tfs, scores = codec.decode_rows(pdf, "docs", "tfs", "scores")
                yield pd.DataFrame({
                    "term": np.repeat(pdf["term"].to_numpy(), pdf["n_docs"].to_numpy()),
                    "doc_id": docs,
                    "tf": tfs,
                    "score_q": scores,
                })

        return rows.mapInPandas(decode, "term string, doc_id long, tf long, score_q long")

    def decoded_docs(self, terms: Sequence[str] | None = None) -> DataFrame:
        """(term, doc_id) membership-only decode: skips the tf AND
        score varint streams entirely and — in the un-fused state —
        never touches the scores artifact at all: the structure side
        alone carries doc membership.  The facet/histogram/stats match
        sets only need doc ids, and the Python-side varint decode IS
        the kernel's cost, so this is the right scan for them."""
        rows = self.combined if self.combined is not None else self.structure
        if terms is not None:
            rows = rows.filter(_in_values("term", terms))
        rows = rows.select("term", *_STRUCT_COLS)

        def decode(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in pdf_iter:
                (docs,) = codec.decode_rows(pdf, "docs")
                yield pd.DataFrame({
                    "term": np.repeat(pdf["term"].to_numpy(), pdf["n_docs"].to_numpy()),
                    "doc_id": docs,
                })

        return rows.mapInPandas(decode, "term string, doc_id long")

    def function_score_topk(
        self,
        terms: Sequence[str],
        k: int = 10,
        mode: str = "OR",
        factor: str = "doc_len",
    ) -> DataFrame:
        """Function-score ranking (Elasticsearch ``function_score`` with
        ``field_value_factor``, modifier ``none``): final score =
        BM25 score_q × an integer docmeta ``factor`` column →
        (doc_id, score_q, score_fs, rank), top-k by (score_fs desc,
        doc_id asc).

        EXACT over the whole match set by design, not a top-m rescore:
        the factor reorders globally (a low-BM25 doc with a large
        factor can out-rank the lexical top-m), so the pool cut cannot
        be taken before the multiply.  The plan stays O(match set):
        the shared scored panel body (:meth:`_panel_scored_aggs`:
        term-pruned decode → one partial agg per doc) joins the factor
        column pruned out of docmeta, multiplies, and cuts per panel.
        Integer × integer keeps every score exact and
        engine-independent (the reason ``factor`` must be integral —
        fractional weighting belongs in Query.boosts or hybrid RRF).
        One-panel :meth:`function_score_topk_batch`."""
        return (
            self.function_score_topk_batch(
                [(0, list(terms))], k=k, mode=mode, factor=factor
            ).drop("query_id")
        )

    def function_score_topk_batch(
        self,
        queries: Sequence[tuple[int, Sequence[str]]],
        k: int = 10,
        mode: str = "OR",
        factor: str = "doc_len",
    ) -> DataFrame:
        """Function-score panels for a batch of (query_id, terms) in
        ONE job → (query_id, doc_id, score_q, score_fs, rank), top-k
        per panel by (score_fs desc, doc_id asc).  One term-pruned
        scored decode for the union of terms, a broadcast term→panel
        fan-out, one partial agg per (panel, doc), one pruned docmeta
        join for the factor column, one rank window per panel — the
        :meth:`collapse_topk_batch` shape with the factor multiply in
        place of the field collapse.  ``mode`` applies batch-wide;
        AND panels keep only docs matching every panel term (distinct-
        term count against a broadcast per-panel term count).
        Row-identical per panel to :meth:`function_score_topk`
        (equivalence-tested)."""
        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        ftype = {f.name: f.dataType for f in self.docmeta.schema}.get(factor)
        if not isinstance(ftype, IntegralType):
            raise ValueError(
                f"factor column {factor!r} must be an integral docmeta column, got {ftype}"
            )
        scored = self._panel_scored_aggs(queries, mode)
        fac = self.docmeta.select(
            "doc_id", F.col(factor).cast("long").alias("_factor")
        )
        fs = scored.join(fac, "doc_id").select(
            "query_id",
            "doc_id",
            "score_q",
            (F.col("score_q") * F.col("_factor")).alias("score_fs"),
        )
        return top_n_per_group(
            fs, ["query_id"], [F.desc("score_fs"), F.asc("doc_id")], k
        ).orderBy("query_id", "rank")

    def collapse_topk(
        self,
        terms: Sequence[str],
        field: str = "topic",
        k: int = 10,
        mode: str = "OR",
    ) -> DataFrame:
        """Field-collapsed top-k (Elasticsearch's ``collapse``): rank
        the match set by BM25 but keep only the best-scoring doc per
        distinct value of a docmeta ``field``, then cut to the k best
        groups → (field, doc_id, score_q, score) — result diversity
        for serving (one hit per repo, per site, per license...).
        One-panel :meth:`collapse_topk_batch`."""
        return self.collapse_topk_batch(
            [(0, list(terms))], field=field, k=k, mode=mode
        ).drop("query_id")

    def collapse_topk_batch(
        self,
        queries: Sequence[tuple[int, Sequence[str]]],
        field: str = "topic",
        k: int = 10,
        mode: str = "OR",
    ) -> DataFrame:
        """Field-collapsed top-k for a batch of (query_id, terms)
        panels in ONE job → (query_id, field, doc_id, score_q, score).

        Exact, not per-shard approximate: a field value's docs span
        doc-partitioned shards, so the collapse is a global decision.
        One term-pruned posting scan decoded once for the union of
        terms, a broadcast term→panel fan-out, per-(panel, doc) score
        aggregation (AND additionally requires the panel's full
        distinct-term count, checked against a broadcast per-panel
        size table) and one docmeta join.  Each group's representative
        is an ASSOCIATIVE min over (−score, doc) structs — a two-phase
        hash agg with map-side partial combine, so a skewed field value
        (half the corpus in one repo) costs a partial agg, not a
        single-partition window.  The only window is the per-panel
        rank cut to the k best groups (partitioned by query_id —
        bounded by the batch's result size, not the corpus).  Ties:
        (score desc, doc asc) inside a group and across groups."""
        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        self._docmeta_col("field", field)
        agg = self._panel_scored_aggs(queries, mode)
        best = (
            agg.join(self.docmeta.select("doc_id", field), "doc_id")
            .groupBy("query_id", field)
            .agg(
                F.min(
                    F.struct(
                        (-F.col("score_q")).alias("neg_score"),
                        F.col("doc_id").alias("doc_id"),
                    )
                ).alias("best")
            )
            .select(
                "query_id",
                field,
                F.col("best.doc_id").alias("doc_id"),
                (-F.col("best.neg_score")).alias("score_q"),
            )
        )
        return (
            top_n_per_group(best, ["query_id"], [F.desc("score_q"), F.asc("doc_id")], k)
            .drop("rank")
            .withColumn(
                "score", F.col("score_q").cast("double") / F.lit(float(QUANT))
            )
            .orderBy(F.asc("query_id"), F.desc("score_q"), F.asc("doc_id"))
        )

    def bucket_top_hits(
        self,
        terms: Sequence[str],
        field: str = "topic",
        n: int = 3,
        k: int = 10,
        mode: str = "OR",
    ) -> DataFrame:
        """Top-hits-per-bucket aggregation (Elasticsearch ``top_hits``
        inside a terms agg): the generalized-n sibling of
        :meth:`collapse_topk` — for the top-k buckets of a docmeta
        ``field`` (ranked by their best hit, (score desc, doc asc)
        ties like collapse), return each bucket's n best matching docs
        → (query-less) (field, bucket_rank, doc_id, score_q,
        hit_rank).  Delegates to :meth:`bucket_top_hits_batch`."""
        return (
            self.bucket_top_hits_batch([(0, list(terms))], field=field, n=n,
                                       k=k, mode=mode)
            .drop("query_id")
        )

    def bucket_top_hits_batch(
        self,
        queries: Sequence[tuple[int, Sequence[str]]],
        field: str = "topic",
        n: int = 3,
        k: int = 10,
        mode: str = "OR",
    ) -> DataFrame:
        """Top-hits-per-bucket panels for a batch of (query_id, terms)
        in ONE job → (query_id, field, bucket_rank, doc_id, score_q,
        hit_rank): the top-k buckets per panel (ranked by their best
        hit), each carrying its n best docs.  The shared
        :meth:`_panel_scored_aggs` front half scores every panel once;
        one pruned docmeta join attaches the bucket field; a
        per-(panel, bucket) rank window cuts to n hits and a
        per-panel window ranks buckets by their representative.

        Skew note: unlike the 1-per-bucket collapse (which uses an
        associative min-struct to stay window-free), n-per-bucket
        inherently needs per-bucket ORDER — the window partitions by
        (panel, bucket) over the MATCH SET, so a hot bucket serializes
        only its own matching rows, never the corpus."""
        if n < 1 or k < 1:
            raise ValueError(f"n and k must be >= 1, got n={n} k={k}")
        self._docmeta_col("field", field)
        agg = self._panel_scored_aggs(queries, mode)
        j = agg.join(self.docmeta.select("doc_id", field), "doc_id")
        hits = top_n_per_group(
            j, ["query_id", field], [F.desc("score_q"), F.asc("doc_id")], n, "hit_rank"
        )
        reps = hits.filter(F.col("hit_rank") == 1).select(
            "query_id", field,
            F.col("score_q").alias("rep_score"),
            F.col("doc_id").alias("rep_doc"),
        )
        buckets = top_n_per_group(
            reps, ["query_id"], [F.desc("rep_score"), F.asc("rep_doc")], k, "bucket_rank"
        ).select("query_id", field, "bucket_rank")
        return (
            hits.join(buckets, ["query_id", field])
            .select(
                "query_id", field, "bucket_rank", "doc_id", "score_q", "hit_rank"
            )
            .orderBy("query_id", "bucket_rank", "hit_rank")
        )

    def tfidf_scores(self, terms: Sequence[str] | None = None) -> DataFrame:
        """Degenerate TF-IDF mode: reference formula (tfidf.go:100-103)
        over decoded postings — reproduces wikitfidf rankings.

        During a bounded-staleness window (deferred-refresh deltas
        outstanding) the epoch dictionary lacks terms that exist only
        in the un-refreshed delta; an inner join would silently DROP
        their postings, breaking the stale-mode contract ("doc sets
        exact, scores epoch-stale").  :meth:`_join_term_df` falls back
        to the structure-derived live df (each term's posting count,
        exact by construction) there, and after refresh_scores joins
        the dictionary alone."""
        joined = self._join_term_df(self.decoded(terms), "df").join(
            self.docmeta.select("doc_id", "doc_len"), "doc_id"
        )
        raw = (F.col("tf").cast("double") / F.col("doc_len").cast("double")) * F.log10(
            F.lit(float(self.n_docs)) / F.col("df").cast("double")
        )
        return joined.select("doc_id", "term", "tf", round_half_up(raw, 4).alias("tfidf"))

    def explain(self, terms: Sequence[str], doc_ids: Sequence[int]) -> DataFrame:
        """Per-(doc, term) BM25 score breakdown for specific documents —
        Lucene's ``Explanation`` analogue for search-quality debugging:
        (doc_id, term, tf, df, doc_len, idf, score, score_q), where
        ``score_q`` is EXACTLY the stored quantized impact the serving
        paths sum and ``idf``/``score`` are its float preimage
        recomputed from the index's own k1/b and the manifest's
        n/avgdl (during a bounded-staleness window the recomputed
        float uses live df while ``score_q`` stays epoch-stale — the
        gap IS the staleness, made visible).  Plan: term-pruned
        posting decode (the ``IN`` filter pushes into both parquet
        scan halves), the bounded doc filter applied
        right after decode, then broadcast joins against the O(|terms|)
        dictionary subset and the asked docs' docmeta rows — O(df of
        the asked terms), never O(corpus)."""
        from .build import _load_cfg

        if not terms:
            raise ValueError("needs at least one term")
        if not doc_ids:
            raise ValueError("needs at least one doc id")
        cfg = _load_cfg(self.manifest, self.index_dir)
        uniq = sorted(set(terms))
        ids = sorted({int(x) for x in doc_ids})
        d = self.decoded(uniq).filter(_in_values("doc_id", ids))
        # df and idf ride as literal maps (≤ |terms| driver rows): idf
        # is computed with the SAME math.log + association the build
        # kernel used, so the float preimage is bit-reproducible — a
        # JVM-side F.log / different operation order can land 1 ulp off
        # and break floor(score*QUANT+0.5) == score_q at boundaries.
        # Stale-window guard as in _join_term_df: delta-only terms miss
        # the epoch dictionary — fall back to the exact live df, the
        # sum of the structure's n_docs.
        live = {
            r["term"]: int(r["df_live"])
            for r in self.structure.filter(_in_values("term", uniq))
            .groupBy("term").agg(F.sum("n_docs").alias("df_live")).collect()
        }
        epoch = {
            r["term"]: int(r["df"])
            for r in self.dictionary.select("term", "df")
            .filter(_in_values("term", uniq)).collect()
        }
        df_map = {t: epoch.get(t, n) for t, n in live.items()}
        if not df_map:
            return self.spark.createDataFrame(
                [], "doc_id long, term string, tf long, df long, doc_len long,"
                " idf double, score double, score_q long"
            )
        n_f = float(self.n_docs)
        idf_map = {
            t: math.log(1.0 + (n_f - df + 0.5) / (df + 0.5))
            for t, df in df_map.items()
        }
        df_col = F.create_map(
            *[F.lit(x) for t, v in sorted(df_map.items()) for x in (t, v)]
        )[F.col("term")]
        idf_col = F.create_map(
            *[F.lit(x) for t, v in sorted(idf_map.items()) for x in (t, v)]
        )[F.col("term")]
        meta = self.docmeta.select("doc_id", "doc_len").filter(_in_values("doc_id", ids))
        # association mirrors the build kernel exactly:
        # idf * (tf * (k1+1)) / (tf + k1 * (1-b + b * (doc_len/avgdl)))
        tf_d = F.col("tf").cast("double")
        denom = tf_d + F.lit(float(cfg.k1)) * (
            F.lit(1.0 - cfg.b)
            + F.lit(float(cfg.b)) * (F.col("doc_len").cast("double") / F.lit(float(self.avgdl)))
        )
        score = (F.col("idf") * (tf_d * F.lit(float(cfg.k1) + 1.0))) / denom
        return (
            d.join(F.broadcast(meta), "doc_id")
            .withColumn("df", df_col)
            .withColumn("idf", idf_col)
            .select(
                "doc_id", "term", "tf", "df", "doc_len",
                "idf", score.alias("score"), "score_q",
            )
            .orderBy(F.asc("doc_id"), F.desc("score_q"), F.asc("term"))
        )

    def _empty_result(self) -> DataFrame:
        return self.spark.createDataFrame(
            [], "query_id int, doc_id long, score_q long, score double, rank int"
        )
