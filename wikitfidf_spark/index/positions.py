"""Positional postings + phrase verification.

The base index stores doc/tf/score streams only — enough for every
bag-of-words query but not for phrases.  Positions are a SEPARATE,
optional artifact (``positions.parquet``): one row per (shard, term,
doc_id) holding that doc's token positions for the term as a plain
``array<int>`` column, written term-sorted within doc-partitioned
shards.

Design notes (the 100 TB story):
- Plain Parquet columns rather than the custom varint codec: positions
  are int32 lists in zstd parquet (``build.write_parquet``, like every
  artifact), and the phrase path reads positions for only the 2-3
  queried terms — a term-pruned, row-group-prunable scan, never a
  full-index decode.  Zstd's entropy stage is what compresses the
  small position values; parquet itself writes them as plain or
  dictionary-encoded int32s.  The custom codec stays where serving is
  hot (doc/score streams).  Each shard is written as its own file.
- Placement comes from docmeta (the placement authority), so position
  rows co-shuffle with exactly the posting shards that can contain
  them; phrase verification cogroups the two sides on shard with no
  broadcast and no O(corpus) join.
- Verification is vectorized: per shard, (doc, position) pairs are
  packed into int64 keys (compact doc index << 32 | position) and the
  adjacency chain is repeated ``np.intersect1d`` — no per-doc Python
  loop.

Reference scope note: wikitfidf has no phrase/proximity queries (its
pipeline is bag-of-words TF-IDF; SURVEY.md §2) — this is an engine
extension along the fulltext_index axis.
"""

from __future__ import annotations

import os
import time
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tokenize import DEFAULT_LETTERS, MIN_TOKEN_LEN, token_regex

POSITIONS_SCHEMA = "doc_id long, term string, poss array<int>"


def positions_df(
    docs: DataFrame,
    *,
    text_col: str = "content",
    stem_py=None,
    stopwords=None,
    min_len: int = MIN_TOKEN_LEN,
    letters: str = DEFAULT_LETTERS,
) -> DataFrame:
    """One Arrow pass: tokenize each doc and emit per-(doc, term) token
    position lists (0-based index in the doc's token stream — the same
    stream the tf path counts, so ``len(poss) == tf`` per row).
    ``stem_py``/``stopwords``/``min_len``/``letters`` mirror the tf
    path's normalization knobs EXACTLY (stopwords drop on the surface
    token before stemming, positions index the post-filter stream) —
    an index built with IndexConfig normalization must get positions
    over the same term space and the same adjacency, or phrase queries
    silently miss."""
    import numpy as np

    pat = token_regex(min_len, letters=letters)
    stop = frozenset(stopwords) if stopwords else None

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            toks = pdf[text_col].fillna("").str.lower().str.findall(pat)
            if stop is not None:
                toks = toks.map(lambda lst: [t for t in lst if t not in stop])
            flat = [t for lst in toks for t in lst]
            if stem_py is not None:
                memo: dict[str, str] = {}
                stemmed = []
                for t in flat:
                    r = memo.get(t)
                    if r is None:
                        r = memo[t] = stem_py(t)
                    stemmed.append(r)
                flat = stemmed
            lens = toks.str.len().to_numpy()
            if not len(flat):
                continue
            # Group (row, term) -> position list with numpy segmentation
            # instead of pandas groupby().agg(list) (per-group Python
            # list building + a merge — measured ~3x slower at the 200k
            # tier).  A STABLE sort on the packed (row, term) key keeps
            # each group's positions in ascending order for free
            # (positions are generated increasing within a row).
            row_idx = np.repeat(np.arange(len(pdf), dtype=np.int64), lens)
            pos = np.concatenate(
                [np.arange(n, dtype=np.int32) for n in lens if n]
            )
            term_codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
            key = (row_idx << 32) | term_codes.astype(np.int64)
            order = np.argsort(key, kind="stable")
            skey = key[order]
            bounds = np.flatnonzero(skey[1:] != skey[:-1]) + 1
            starts = np.concatenate(([0], bounds))
            out = pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy()[skey[starts] >> 32],
                "term": uniques[(skey[starts] & 0xFFFFFFFF).astype(np.int64)],
                "poss": np.split(pos[order], bounds),
            })
            yield out

    return docs.select("doc_id", text_col).mapInPandas(fn, POSITIONS_SCHEMA)


def build_positions(spark: SparkSession, docs: DataFrame, index_dir: str) -> dict:
    """Build the positions artifact for an EXISTING index over the same
    corpus: tokenize with positions, attach each doc's shard from
    docmeta (placement authority — generation shards included), write
    term-sorted within shard partitions, register in the manifest.

    ``docs`` must be the index's full live corpus (same id_cols/text
    config).  Once built, the artifact is MAINTAINED by the index's
    own update ops — adds extend it O(delta) with a generation file,
    deletes leave it untouched (dead docs' rows are masked against
    live postings at query time), compaction shard-remaps it without
    re-tokenizing — so ``positions_version`` tracks the manifest
    version and readers' staleness check only fires if the artifact
    was mutated by an out-of-band writer (or predates this scheme)."""
    from .build import _load_cfg, _save_manifest, index_paths, load_manifest
    from ..operators.stemdict import STEMMERS

    manifest = load_manifest(index_dir)
    if not manifest.get("paths"):
        raise ValueError("no built index at " + index_dir)
    cfg = _load_cfg(manifest, index_dir)
    paths = index_paths(manifest)
    t0 = time.time()

    base = docs if not cfg.id_cols else docs.withColumn(
        "doc_id", F.xxhash64(*cfg.id_cols)
    )
    stem_py = None if cfg.stemmer in (None, "none") else STEMMERS[cfg.stemmer]
    pos = positions_df(
        base, text_col=cfg.text_col, stem_py=stem_py,
        stopwords=cfg.stopwords or None, min_len=cfg.min_token_len,
        letters=cfg.token_letters,
    )
    placement = spark.read.parquet(
        *[os.path.join(index_dir, p) for p in paths["docmeta"]]
    ).select("doc_id", "shard")
    rel = f"positions_v{int(manifest.get('version', 0))}.parquet"
    from pyspark.sql import Observation

    obs = Observation()
    write_positions(
        pos.join(placement, "doc_id").observe(obs, F.count(F.lit(1)).alias("rows")),
        [int(s) for s in paths["structure"]],
        os.path.join(index_dir, rel),
    )
    # owner map, like structure: incremental adds append a generation
    # positions file for their new shards instead of rebuilding this one
    manifest["paths"]["positions"] = {str(s): rel for s in paths["structure"]}
    manifest["positions_version"] = int(manifest.get("version", 0))
    manifest["phases"][f"positions_v{manifest['positions_version']}"] = {
        "rows": int(obs.get["rows"] or 0), "wall_sec": time.time() - t0,
    }
    _save_manifest(index_dir, manifest)
    return {"path": rel, "wall_sec": time.time() - t0}


def _as_owner_map(owned, structure_owners: dict) -> dict:
    """Normalize a positions pointer to the owner-map form (plain-string
    pointers predate the map: that one file owned every shard)."""
    if isinstance(owned, str):
        return {str(s): owned for s in structure_owners}
    return dict(owned)


def write_positions(rows: DataFrame, shards, path: str) -> None:
    """Write ``(shard, term, doc_id, poss)`` rows with one file per
    shard of ``shards``, term-sorted within it."""
    from .build import place_shards, write_parquet

    write_parquet(
        place_shards(rows, shards)
        .sortWithinPartitions("shard", "term", "doc_id")
        .select("shard", "term", "doc_id", "poss"),
        path,
    )


def read_positions(spark: SparkSession, index_dir: str, owned) -> DataFrame:
    """Owner-filtered union of the positions files — the same pattern
    ``build._read_owned`` uses for structure/scores.  Each file is
    filtered to the shards the map assigns it, so a superseded row can
    never leak, and term-predicate pushdown still reaches every scan
    (the filter lands before the union)."""
    if isinstance(owned, str):
        # one file owns every shard — whole-file read, no filter needed
        return spark.read.parquet(os.path.join(index_dir, owned)).select(
            "shard", "term", "doc_id", "poss"
        )
    from .build import _read_owned

    return _read_owned(spark, index_dir, owned, ["shard", "term", "doc_id", "poss"])


def extend_positions_for_delta(
    index_dir: str,
    base: DataFrame,
    meta_new: DataFrame,
    cfg,
    paths: dict,
    *,
    gen: int,
    shards_new: list[int],
) -> dict:
    """O(delta) positions maintenance for an incremental add: tokenize
    ONLY the delta docs with positions and write them as a generation
    positions file covering the delta's (density-sized) shards — the
    positions analogue of the structure path's segment-style adds; no
    existing positions file is touched.  Returns the updated owner
    map; the caller folds it into the manifest alongside the structure
    update, inside the same atomic flip."""
    from ..operators.stemdict import STEMMERS

    stem_py = None if cfg.stemmer in (None, "none") else STEMMERS[cfg.stemmer]
    rel = f"positions_g{gen}.parquet"
    pos = positions_df(
        base, text_col=cfg.text_col, stem_py=stem_py,
        stopwords=cfg.stopwords or None, min_len=cfg.min_token_len,
        letters=cfg.token_letters,
    )
    write_positions(
        pos.join(meta_new.select("doc_id", "shard"), "doc_id"),
        shards_new,
        os.path.join(index_dir, rel),
    )
    owned = _as_owner_map(paths["positions"], paths["structure"])
    owned.update({str(s): rel for s in shards_new})
    return owned


def remap_positions_for_compact(
    spark: SparkSession,
    index_dir: str,
    paths: dict,
    meta_live: DataFrame,
    n_shards: int,
    version: int,
) -> dict:
    """Carry the positions artifact through compaction WITHOUT
    re-tokenizing: position lists are doc-local (independent of
    placement and global stats), so folding generations back to
    canonical shards only needs a shard remap — join the existing
    rows to the compacted docmeta's (doc_id, shard) and rewrite.
    The inner join also drops tombstoned docs' rows.  One O(positions)
    shuffle vs an O(corpus) re-tokenize — and compact doesn't retain
    raw text anyway.  Returns the new owner map."""
    rel = f"positions_compact_v{version}.parquet"
    write_positions(
        read_positions(spark, index_dir, paths["positions"])
        .drop("shard")
        .join(meta_live.select("doc_id", "shard"), "doc_id"),
        range(n_shards),
        os.path.join(index_dir, rel),
    )
    return {str(s): rel for s in range(n_shards)}


def verify_phrase_docs(pos_pdf: pd.DataFrame, terms: list[str], slop: int = 0):
    """Vectorized adjacency chain over one shard's position rows
    ``(term, doc_id, poss)``: returns the np.ndarray of doc_ids
    containing ``terms`` as consecutive tokens.  Repeated terms in the
    phrase are supported (each step intersects against the term's
    occurrence set, so "a a b" requires positions p, p+1∈pos(a),
    p+2∈pos(b)).

    ``slop > 0`` relaxes adjacency to ORDERED proximity: each next term
    may sit 1..(1+slop) tokens after the previous match (per gap, not a
    shared budget) — the step becomes a union of (slop+1) shifted
    intersects, still fully vectorized."""
    import numpy as np

    if pos_pdf.empty:
        return np.empty(0, dtype=np.int64)
    rows_by_term: dict[str, list] = {}
    for r in pos_pdf.itertuples(index=False):
        if r.term in terms:
            rows_by_term.setdefault(r.term, []).append((r.doc_id, r.poss))
    return verify_phrase_grouped(rows_by_term, terms, slop)


def verify_phrase_grouped(
    rows_by_term: "dict[str, list]", terms: list[str], slop: int = 0
):
    """Same adjacency chain over rows ALREADY grouped by term —
    ``{term: [(doc_id, poss), ...]}`` — for batch callers that group a
    shard's position rows once and verify many phrases against the
    shared grouping (one itertuples pass per shard instead of a
    concat + regroup per phrase)."""
    import numpy as np

    by_term: dict[str, list] = {t: rows_by_term.get(t, []) for t in terms}
    if any(not by_term[t] for t in terms):
        return np.empty(0, dtype=np.int64)

    # Doc-set pre-intersection: a doc can only match if EVERY phrase
    # term occurs in it, so intersect the (cheap, position-free) doc-id
    # sets first — smallest first, early-exit on empty — and decode
    # position lists ONLY for surviving docs.  For a skewed phrase
    # (one rare + one common term) this turns the dominating
    # position-concatenate from O(sum of all terms' positions) into
    # O(positions of the rare term's docs).
    doc_arrs = {
        t: np.fromiter((d for d, _ in rows), dtype=np.int64, count=len(rows))
        for t, rows in by_term.items()
    }
    uniq_sets = sorted((np.unique(a) for a in doc_arrs.values()), key=len)
    common = uniq_sets[0]
    for u in uniq_sets[1:]:
        common = np.intersect1d(common, u, assume_unique=True)
        if not len(common):
            return np.empty(0, dtype=np.int64)

    # compact doc index so (doc << 32 | pos) packs into int64 without
    # overflow (doc_id itself is a full-range xxhash64).  Memoized per
    # unique term: a phrase with repeats ("to be or not to be") would
    # otherwise redo the dominating position-concatenate per occurrence
    _enc_cache: dict[str, np.ndarray] = {}

    def encoded(term: str) -> np.ndarray:
        hit = _enc_cache.get(term)
        if hit is not None:
            return hit
        rows = by_term[term]
        docs = doc_arrs[term]
        idx = np.searchsorted(common, docs)
        np.clip(idx, 0, len(common) - 1, out=idx)
        sel = np.flatnonzero(common[idx] == docs)
        lens = np.fromiter(
            (len(rows[i][1]) for i in sel), dtype=np.int64, count=len(sel)
        )
        poss = np.concatenate(
            [np.asarray(rows[i][1], dtype=np.int64) for i in sel]
        )
        out = (np.repeat(idx[sel], lens) << 32) | poss
        _enc_cache[term] = out
        return out

    # positions within one doc are < 2^32, so the +d shifts below never
    # carry into the doc-index bits
    cur = encoded(terms[0])
    for t in terms[1:]:
        nxt = encoded(t)
        cur = np.unique(np.concatenate([
            np.intersect1d(cur + d, nxt) for d in range(1, slop + 2)
        ]))
        if not len(cur):
            return np.empty(0, dtype=np.int64)
    return common[np.unique(cur >> 32)]
