"""Sharded, resumable inverted-index build.

Pipeline (each phase = one materialized parquet + a manifest entry; a
rerun skips completed phases — the checkpoint-resume requirement of
BASELINE.json:north_rule):

  1. tf          (doc_id, term, tf)            codegen tokenize (or Arrow UDF)
  2. docmeta     (doc_id, repo, path, commit, topic, doc_len, content_sha256)
  3. dictionary  (term, df, cf)                salted two-phase agg
  4. structure   (shard, term, sub_shard, docs/tfs/dls payloads + block
                 firsts/counts) with the scores (scores payload +
                 block-max) fused into the same encode pass

Postings are SPLIT into two artifacts along the incremental-update
fault line:

- **structure** holds everything that depends only on a shard's own
  documents (doc ids, tfs, doc lengths, block layout).  A shard's
  structure bytes change only when its OWN doc set changes:
  * ``add_documents`` assigns new docs to NEW shard ids (a fresh
    generation of ``n_shards`` shards per delta, Lucene-segment style)
    — existing shards are never re-encoded, the delta encode is
    O(delta);
  * ``delete_documents`` re-encodes only the shards the deleted docs
    live in (looked up from docmeta, which records each doc's shard);
  * ``compact`` folds all generations back into the canonical
    ``xxhash64(doc_id) % n_shards`` placement — after compaction the
    index is byte-identical to a fresh build over the live corpus
    (tests assert it), and the per-query shard fan-out returns to
    ``n_shards``.
  The manifest maps shard id -> owning structure file.
- **scores** hold the BM25 impacts, which depend on GLOBAL stats (idf
  from df/n_docs, avgdl) and are therefore invalidated by ANY corpus
  change.  They are refreshed by a shuffle-free map pass
  (:func:`score_postings_df`): decode tfs+dls from structure, recompute
  with the new dictionary, re-encode — no sort, no shuffle, exact
  scores.  Every update therefore stays rank-identical to a fresh
  build (exact global idf/avgdl — no segment-local approximation),
  while the only O(corpus) work per update is this embarrassingly
  parallel map over the light score stream.  For steady-state ingest
  even that per-delta cost is optional: ``add_documents(...,
  refresh_scores=False)`` defers the index-wide map — the delta's
  shards are scored against the last refresh's global-stat epoch
  (structure-exact, scores epoch-stale, staleness recorded in the
  manifest) and :func:`refresh_scores` / :func:`maybe_compact` close
  the window on a schedule, amortizing the O(corpus) pass over K
  deltas.

Every lifecycle op (build, add, merge, delete, compact, refresh, the
deferred add) ends in one manifest commit (:func:`_commit`): it stamps
the version, score epoch, stale counters, metrics and wall times and
makes the op's one atomic manifest save.  Every op that writes scores
index-wide writes its per-shard lineage through :func:`_write_lineage`,
whose observed totals are the posting and byte metrics.  Add, merge,
delete and compact share :func:`_update_derived` (dictionary, docmeta
stats, structure encode, scores, lineage); :func:`refresh_scores` is
that tail with no shard to re-encode.  Only the format named by
:data:`INDEX_FORMAT` is read or written: every entry point refuses a
manifest of another format, so the ops rely on every key the current
writers set.

Partitioning strategy (the 100 TB story):
- The index is **document-partitioned**: ``shard = xxhash64(doc_id) %
  n_shards``.  Every shard holds the full postings of its documents for
  every term, so BM25 scores are complete shard-locally — top-k is
  a per-shard term-at-a-time top-k + a k-row global merge, no cross-shard score assembly
  (the standard "local index partitioning" of the distributed-IR
  literature).  xxhash64 spreads documents uniformly → no doc skew.
- Within a shard, postings group by ``(term, sub_shard)``; hot terms
  (per-shard df above ``hot_df_threshold``) split into deterministic
  sub-lists so no single pandas group exceeds memory — this plus the
  salted dictionary agg is the explicit skew handling of north_rule.
- Each shard is written as its own file (:func:`place_shards` gives
  every shard its own partition), its posting rows sorted by term →
  parquet row-group min/max pruning serves term lookups without reading
  whole shards.  Every artifact is zstd parquet (:func:`write_parquet`).

Reference parity: the whole build is wikitfidf's Preprocess+Process
chain (wikitfidf.go:99-224) collapsed into one DataFrame lineage; the
phase materializations replace its per-stage JSON directories, and the
manifest replaces its filename conventions.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections.abc import Iterable, Sequence
from dataclasses import asdict, dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import termstats
from ..operators.scoring import (
    B_DEFAULT,
    K1_DEFAULT,
    QUANT,
)
from ..tokenize import tf_map_in_pandas
from . import codec

STRUCTURE_SCHEMA = (
    "shard int, term string, sub_shard int, n_docs long, cf long, "
    "docs_payload binary, tfs_payload binary, dls_payload binary, "
    "block_firsts array<long>, block_counts array<int>, payload_bytes long"
)

SCORES_SCHEMA = (
    "shard int, term string, sub_shard int, "
    "scores_payload binary, block_max_score array<long>, scores_bytes long"
)

#: combined schema emitted when the score stream is computed inside the
#: structure encode (fresh builds / stale deltas — one pass, no
#: structure re-read); readers project their side's columns, so a
#: combined file serves as both artifacts until a refresh splits them
COMBINED_SCHEMA = (
    STRUCTURE_SCHEMA
    + ", scores_payload binary, block_max_score array<long>, scores_bytes long"
)

_STRUCT_COLS = [c.split()[0] for c in STRUCTURE_SCHEMA.split(", ")]
_SCORE_COLS = [c.split()[0] for c in SCORES_SCHEMA.split(", ")]

#: bumped when the on-disk layout changes incompatibly; manifests carry
#: it so readers/resumers fail fast instead of misreading old dirs
INDEX_FORMAT = 5


def write_parquet(df: DataFrame, path: str) -> None:
    """The one writer of every index artifact: overwrite ``path`` as
    zstd parquet.  The codec is set here rather than taken from the
    session's ``spark.sql.parquet.compression.codec``, so the bytes on
    disk never depend on who opened the session.  Zstd's entropy stage
    is what shrinks the hashed doc-id deltas and hex digests that
    snappy stores almost raw.  The codec is per-file metadata, so
    indexes written with any other codec still open."""
    df.write.mode("overwrite").option("compression", "zstd").parquet(path)


_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _spark_hash_int(v: int, seed: int = 42) -> int:
    """Spark's ``hash()`` of one int column (Murmur3 x86_32
    ``hashInt``, seed 42), as the signed 32-bit value hash
    partitioning takes ``pmod`` of."""
    k = _rotl32((v & _M32) * 0xCC9E2D51 & _M32, 15) * 0x1B873593 & _M32
    h = (_rotl32(seed ^ k, 13) * 5 + 0xE6546B64) & _M32
    h ^= 4
    h = (h ^ (h >> 16)) * 0x85EBCA6B & _M32
    h = (h ^ (h >> 13)) * 0xC2B2AE35 & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


@functools.lru_cache(maxsize=None)
def _place_keys(n_shards: int, n: int) -> tuple[int, ...]:
    """``keys[i]`` = a distinct non-negative int whose Spark hash lands
    in partition ``i mod n`` of ``n``, for ``i`` in ``0..n_shards-1``."""
    need = -(-n_shards // n)
    per: list[list[int]] = [[] for _ in range(n)]
    k = full = 0
    while full < n:
        p = per[_spark_hash_int(k) % n]
        if len(p) < need:
            p.append(k)
            full += len(p) == need
        k += 1
    return tuple(per[i % n][i // n] for i in range(n_shards))


#: surrogate key column :func:`place_shards` adds, one value per shard
PLACE_KEY = "_place"


def place_shards(
    df: DataFrame, shards: Iterable[int], n_partitions: int | None = None
) -> DataFrame:
    """Hash-repartition ``df`` (which has a ``shard`` column) so the
    i-th smallest of ``shards`` lands in partition ``i mod P`` — shard
    ``s`` in partition ``s mod P`` for the usual ids ``0..S-1``.  ``P``
    is ``n_partitions`` capped at the shard count (default: one
    partition per shard).  Hashing ``shard`` itself would collide: the
    murmur3 of small ints puts both of two shards in one partition.  So
    each shard maps, through a literal map, to its own surrogate key,
    precomputed in Python to hash onto the shard's partition, and the
    result keeps that key as column :data:`PLACE_KEY`.  Grouping on
    that key alone is grouping on shard, and it is the exact key of
    the exchange, so a per-shard ``groupBy``/``cogroup`` on it adds no
    second exchange.  An explicit partition count is never coalesced
    by AQE."""
    order = sorted({int(s) for s in shards}) or [0]
    n = max(1, min(n_partitions or len(order), len(order)))
    keys = _place_keys(len(order), n)
    lut = F.create_map(*[F.lit(x) for s, k in zip(order, keys) for x in (s, k)])
    return df.withColumn(PLACE_KEY, lut[F.col("shard")].cast("int")).repartition(n, PLACE_KEY)


@dataclass
class IndexConfig:
    n_shards: int = 32
    block_size: int = codec.BLOCK_SIZE_DEFAULT
    k1: float = K1_DEFAULT
    b: float = B_DEFAULT
    n_salts: int = 8               # dictionary-agg salting fan-out
    hot_df_threshold: int = 262144  # per-shard df above which a term splits
    text_col: str = "content"
    topic_col: str = "lang"
    # "jvm": regexp_extract_all + explode + hash agg, whole-stage
    # codegen, zero Python — the fast path for the built-in identifier
    # grammar (and byte-identical to it: tests/test_tokenize.py).
    # "arrow": the fused tf_map_in_pandas pandas-UDF path — use when
    # plugging a tokenizer that needs Python (NLP/BPE); measured ~2-3x
    # slower on the default grammar (per-token object churn in the
    # workers), so it is opt-in.
    tokenizer: str = "jvm"
    # named stemmer from operators.stemdict.STEMMERS applied per token
    # during tokenization (reference stems inside the normalizer,
    # textnormalizer.pyx:112-136).  A name (not a callable) keeps the
    # config JSON-serializable for the manifest; Python stemmers need
    # tokenizer="arrow" (the JVM regexp path can't call Python).
    stemmer: str = "none"
    # letter class of the token grammar (lowercase char-class body).
    # "a-z" = the ASCII identifier grammar (the code corpus); extend per
    # language for natural-language corpora (operators.normalize ships
    # per-language classes — the reference tokenizes unicode words).
    # Rides the manifest like every config knob so adds/merges/queries
    # tokenize identically to the base build.
    token_letters: str = "a-z"
    # remaining per-language normalization knobs (operators.normalize
    # profiles): minimum token length (CJK=1 parity) and a stopword
    # tuple dropped on the SURFACE token before stemming — both ride
    # the manifest so the whole index lifecycle (build/add/merge/
    # free-text analyze) normalizes identically.
    min_token_len: int = 3
    stopwords: tuple[str, ...] = ()
    # natural-key columns hashed into the stable doc_id; empty tuple =
    # the input already carries a unique ``doc_id`` column (used as-is)
    id_cols: tuple[str, ...] = ("repo", "path", "commit")

    def to_json(self) -> dict:
        d = asdict(self)
        # JSON round-trip: tuples -> lists (stopwords sorted: the set is
        # order-insensitive and config equality compares the JSON)
        d["id_cols"] = list(d["id_cols"])
        d["stopwords"] = sorted(set(d["stopwords"]))
        return d


@dataclass
class BuildResult:
    index_dir: str
    metrics: dict = field(default_factory=dict)


def _score_refresh_shuffled(scores_df: DataFrame) -> bool:
    """True when Catalyst chose a shuffled (not broadcast) dictionary
    join for the score refresh — happens once the vocabulary outgrows
    spark.sql.autoBroadcastJoinThreshold.  Past that point the refresh
    shuffles the tfs/dls payload columns on term and stops being the
    cheap map pass; the flag is recorded in manifest metrics so the
    degrade is visible, and the operator should raise the threshold or
    pre-bucket structure+dictionary by term."""
    try:
        return "Exchange hashpartitioning" in (
            scores_df._jdf.queryExecution().executedPlan().toString()
        )
    except Exception:
        return False


def _tokenize(base: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Phase-1 tokenize per config: JVM codegen by default, the fused
    Arrow path for pluggable Python tokenizers/stemmers.  The one
    implementation shared by build_index and add_documents — deltas must
    tokenize identically to the base build."""
    stem_py = None
    if cfg.stemmer and cfg.stemmer != "none":
        from ..operators.stemdict import STEMMERS

        if cfg.stemmer not in STEMMERS:
            raise ValueError(f"unknown stemmer {cfg.stemmer!r}; known: {sorted(STEMMERS)}")
        if cfg.tokenizer != "arrow":
            raise ValueError("a Python stemmer requires tokenizer='arrow'")
        stem_py = STEMMERS[cfg.stemmer]
    stop = frozenset(cfg.stopwords) if cfg.stopwords else None
    if cfg.tokenizer == "arrow":
        return tf_map_in_pandas(
            base, doc_id="doc_id", text=cfg.text_col, stem_py=stem_py,
            letters=cfg.token_letters, min_len=cfg.min_token_len, stopwords=stop,
        )
    return termstats.term_frequencies(
        base, doc_id="doc_id", text=cfg.text_col,
        letters=cfg.token_letters, min_len=cfg.min_token_len, stopwords=stop,
    )


def _manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, "manifest.json")


def load_manifest(index_dir: str) -> dict:
    p = _manifest_path(index_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"phases": {}, "metrics": {}, "config": None}


def _save_manifest(index_dir: str, m: dict) -> None:
    tmp = _manifest_path(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f, indent=2, default=str)
    os.replace(tmp, _manifest_path(index_dir))


def _phase_done(m: dict, name: str, path: str) -> bool:
    return name in m["phases"] and os.path.exists(os.path.join(path, "_SUCCESS"))


def _commit(
    index_dir: str,
    manifest: dict,
    metrics: dict,
    *,
    t_start: float | None,
    version: int | None = None,
    epoch: tuple[int, float] | None = None,
    stale_scores_bytes: int | None = None,
) -> BuildResult:
    """The one commit every lifecycle op ends with: stamp the version,
    the score epoch and stale counters, ``metrics`` and the wall times,
    then save the manifest atomically.  Outside build's phase
    checkpoints this is the only manifest save of this module, so an op
    that fails before it leaves the index at its prior version.

    - ``epoch=(n_docs, avgdl)``: every score now reflects these global
      stats — the epoch moves to this version and the staleness window
      closes (``stale_deltas`` and ``stale_delta_scores_bytes`` reset
      together);
    - ``stale_scores_bytes``: a deferred add scored that many bytes
      against the current epoch — one more stale delta;
    - ``t_start=None`` (a resume that ran nothing) keeps the recorded
      ``build_wall_sec_total``."""
    m = manifest["metrics"]
    if version is not None:
        manifest["version"] = version
    if epoch is not None:
        manifest["score_epoch"] = {
            "version": int(manifest.get("version", 0)), "n_docs": epoch[0], "avgdl": epoch[1],
        }
        manifest["stale_deltas"] = 0
        m["stale_delta_scores_bytes"] = 0
    if stale_scores_bytes is not None:
        manifest["stale_deltas"] += 1
        m["stale_delta_scores_bytes"] = int(m.get("stale_delta_scores_bytes", 0)) + stale_scores_bytes
    m.update(metrics)
    # the actual elapsed of THIS op: phase walls overlap by design
    # (docmeta runs under the encode), so their sum is its own metric
    if t_start is not None:
        m["build_wall_sec_total"] = round(time.time() - t_start, 3)
    m["build_phase_sec_sum"] = round(sum(p["wall_sec"] for p in manifest["phases"].values()), 3)
    _save_manifest(index_dir, manifest)
    return BuildResult(index_dir=index_dir, metrics=m)


def encode_structure_df(
    tf: DataFrame,
    meta: DataFrame | None,
    stats: DataFrame,
    cfg: IndexConfig,
    *,
    doclens: DataFrame | None = None,
    score_globals: tuple[int, float] | None = None,
    shards: Iterable[int] | None = None,
) -> DataFrame:
    """The structure-encode plan: enrich tf with (doc_len, shard), sort
    within shards, stream-encode per partition.  Each of ``shards`` (the
    shard ids the rows carry; default the canonical ``0..n_shards-1``)
    gets its own partition (:func:`place_shards`), so each shard's
    encode is its own task and each written file holds one shard.

    ``meta=None`` (pass ``doclens``) is the CANONICAL-placement fast
    path (fresh builds, compaction): shard derives from
    ``pmod(xxhash64(doc_id), n_shards)`` as an expression — placement
    never touches docmeta — and doc lengths come from the slim
    ``doclens`` dim (two 8-byte columns, ~20× narrower than docmeta's
    row with its natural keys + sha256): broadcastable to ~10^8 docs,
    and past that the degrade is a sort-merge join over the NARROWEST
    possible doc-side table.  (Carrying doc_len on the tf rows
    themselves was tried and rejected: Catalyst evaluates the tokenize
    regex once for ``size`` and once for ``explode`` — a measured
    +30-50% on the tf phase, worse than the slim join at every scale
    that matters.)  The other join is the O(vocab) stats dim
    (sub-shard split decision + per-term df for the fused scores),
    with the documented no-hint degrade for huge vocabularies.

    ``meta`` given = generation placement (incremental adds/deletes):
    docmeta remains the placement authority — but there the join's
    right side is the DELTA's docmeta (delta-sized, broadcastable by
    construction), never the full table.

    Deterministic: identical inputs produce byte-identical payloads at
    any parallelism (tests assert full-vs-incremental identity).

    ``score_globals=(n_docs, avgdl)`` FUSES the score stream into the
    same pass (COMBINED_SCHEMA): the encoder already holds each list's
    tfs/dls arrays and the per-term df, so BM25 impacts cost one numpy
    expression here versus a whole extra job + structure re-read as a
    separate phase.  Bit-identical to :func:`score_postings_df` over
    the same structure (same elementwise float64 expression over the
    same integer values — uint64 vs int64 inputs convert to identical
    float64s; tests assert refresh-vs-fused byte identity), so fresh
    builds fuse and refreshes re-map without the index ever noticing
    which wrote its scores."""
    block_size = cfg.block_size
    hot = cfg.hot_df_threshold
    n_shards = cfg.n_shards
    k1, b_p, quant = cfg.k1, cfg.b, QUANT
    import math as _math

    if meta is None:
        if doclens is None:
            raise ValueError("canonical-placement encode (meta=None) needs doclens")
        placed = tf.join(doclens.select("doc_id", "doc_len"), "doc_id").withColumn(
            "shard", F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int")
        )
    else:
        placed = tf.join(meta.select("doc_id", "doc_len", "shard"), "doc_id")
    # optional stats column ``df_split``: the sub-shard SPLIT decision
    # may need a different df than the scoring df — a deferred add
    # scores against the epoch stats but must split hot terms exactly
    # like an exact-mode add (merged-corpus df) would, or deferred +
    # refresh_scores stops being bit-identical to exact mode (refresh
    # rewrites scores only, never structure bytes)
    has_split = "df_split" in stats.columns
    dsplit = F.coalesce(F.col("df_split"), F.col("df")) if has_split else F.col("df")
    enriched = (
        placed
        .join(stats.select("term", "df", *(["df_split"] if has_split else [])), "term")
        .withColumn(
            "sub_shard",
            F.when(
                dsplit > F.lit(hot * n_shards),
                # ceil: a truncating divide gives factor 1 (= no split)
                # for df up to 2x the threshold, doubling the intended
                # per-group memory bound
                F.pmod(F.xxhash64("doc_id", F.lit(1)), F.ceil(dsplit / F.lit(hot * n_shards)).cast("int")),
            ).otherwise(F.lit(0)).cast("int"),
        )
    )

    import numpy as _np

    def encode_stream(batches) -> "pd.DataFrame":
        """Streaming partition encoder: rows arrive sorted by
        (shard, term, sub_shard, doc_id); complete groups are
        encoded per Arrow chunk, the trailing (possibly incomplete)
        group is carried into the next chunk — memory is bounded by
        chunk size + one posting list, regardless of shard size."""

        def emit(pdf: pd.DataFrame) -> pd.DataFrame:
            terms = pdf["term"].to_numpy()
            subs = pdf["sub_shard"].to_numpy()
            docs_a = pdf["doc_id"].to_numpy()
            tfs_a = pdf["tf"].to_numpy()
            dls_a = pdf["doc_len"].to_numpy()
            shards_a = pdf["shard"].to_numpy()
            dfs_a = pdf["df"].to_numpy() if score_globals is not None else None
            change = _np.empty(len(pdf), dtype=bool)
            change[0] = True
            # a row whose shard is missing from ``shards`` shares a
            # partition with others — group key is the full (shard, term, sub)
            change[1:] = (
                (terms[1:] != terms[:-1])
                | (subs[1:] != subs[:-1])
                | (shards_a[1:] != shards_a[:-1])
            )
            starts = _np.flatnonzero(change)
            ends = _np.append(starts[1:], len(pdf))
            out = []
            for a, b_e in zip(starts, ends):
                tfs = tfs_a[a:b_e]
                enc = codec.encode_structure(
                    docs_a[a:b_e], tfs, dls_a[a:b_e], block_size=block_size, presorted=True
                )
                row = {
                    "shard": int(shards_a[a]),
                    "term": terms[a],
                    "sub_shard": int(subs[a]),
                    "n_docs": enc.n,
                    "cf": int(tfs.sum()),
                    "docs_payload": enc.docs_payload,
                    "tfs_payload": enc.tfs_payload,
                    "dls_payload": enc.dls_payload,
                    "block_firsts": enc.block_firsts.tolist(),
                    "block_counts": enc.block_counts.tolist(),
                    "payload_bytes": len(enc.docs_payload) + len(enc.tfs_payload) + len(enc.dls_payload),
                }
                if score_globals is not None:
                    n_docs_g, avgdl_g = score_globals
                    dls = dls_a[a:b_e]
                    idf = _math.log(1.0 + (n_docs_g - int(dfs_a[a]) + 0.5) / (int(dfs_a[a]) + 0.5))
                    scores = idf * (tfs * (k1 + 1.0)) / (
                        tfs + k1 * (1.0 - b_p + b_p * (dls / avgdl_g))
                    )
                    scores_q = _np.floor(scores * quant + 0.5).astype(_np.int64)
                    payload, maxes = codec.encode_scores(scores_q, enc.block_counts)
                    row.update(
                        scores_payload=payload,
                        block_max_score=maxes.tolist(),
                        scores_bytes=len(payload),
                    )
                out.append(row)
            return pd.DataFrame(out)

        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last_term = pdf["term"].iloc[-1]
            last_sub = pdf["sub_shard"].iloc[-1]
            last_shard = pdf["shard"].iloc[-1]
            tail_mask = (
                (pdf["term"] == last_term)
                & (pdf["sub_shard"] == last_sub)
                & (pdf["shard"] == last_shard)
            )
            rev = tail_mask.to_numpy()[::-1]
            tail_len = len(pdf) if rev.all() else int(rev.argmin())
            cut = len(pdf) - tail_len
            carry = pdf.iloc[cut:]
            if cut:
                yield emit(pdf.iloc[:cut])
        if carry is not None and len(carry):
            yield emit(carry)

    sel_cols = ["shard", "term", "sub_shard", "doc_id", "tf", "doc_len"]
    if score_globals is not None:
        sel_cols.append("df")
    return (
        place_shards(enriched.select(*sel_cols), range(n_shards) if shards is None else shards)
        .sortWithinPartitions("shard", "term", "sub_shard", "doc_id")
        .drop(PLACE_KEY)
        .mapInPandas(
            encode_stream,
            COMBINED_SCHEMA if score_globals is not None else STRUCTURE_SCHEMA,
        )
    )


def _write_dictionary(
    spark: SparkSession, tf_all: DataFrame, cfg: IndexConfig, abs_path: str
) -> tuple[DataFrame, dict]:
    """Write the global dictionary with every summary the caller needs
    (token total, vocab size, skew ratio) observed DURING the write —
    no read-back aggregate jobs, no separate skew_ratio job.  Returns
    the re-read stats DataFrame and {tok, n_terms, skew}."""
    obs = Observation()
    stats = termstats.global_term_stats(tf_all, n_salts=cfg.n_salts).observe(
        obs,
        F.sum("cf").alias("tok"),
        F.count(F.lit(1)).alias("n_terms"),
        F.max("df").alias("max_df"),
        F.sum("df").alias("sum_df"),
    )
    write_parquet(stats, abs_path)
    row = obs.get
    n_terms = int(row["n_terms"] or 0)
    mean_df = (float(row["sum_df"]) / n_terms) if n_terms else 0.0
    return spark.read.parquet(abs_path), {
        "tok": int(row["tok"] or 0),
        "n_terms": n_terms,
        "skew": (float(row["max_df"]) / mean_df) if mean_df else 0.0,
    }


def _write_lineage(structure: DataFrame, scores: DataFrame | None, path: str) -> dict:
    """The one per-shard lineage write (north_rule): posting lists,
    postings, structure and score bytes per shard, from the int sidecar
    columns only — payloads are never re-read.  ``scores=None``: the
    ``structure`` rows carry their own ``scores_bytes`` (a fused file).
    The index-wide totals ride the write as an Observation and come back
    as {n_postings, structure_bytes, scores_bytes}."""
    aggs = [
        F.count("*").alias("n_lists"),
        F.sum("n_docs").alias("n_postings"),
        F.sum("payload_bytes").alias("structure_bytes"),
    ]
    if scores is None:
        lineage = structure.groupBy("shard").agg(*aggs, F.sum("scores_bytes").alias("scores_bytes"))
    else:
        lineage = structure.groupBy("shard").agg(*aggs).join(
            scores.groupBy("shard").agg(F.sum("scores_bytes").alias("scores_bytes")),
            "shard", "left",
        )
    totals = ("n_postings", "structure_bytes", "scores_bytes")
    obs = Observation()
    write_parquet(lineage.observe(obs, *[F.sum(c).alias(c) for c in totals]), path)
    row = obs.get
    return {c: int(row[c] or 0) for c in totals}


def score_postings_df(
    structure: DataFrame,
    stats: DataFrame,
    cfg: IndexConfig,
    n_docs: int,
    avgdl: float,
) -> DataFrame:
    """The score-refresh plan: structure rows ⋈ broadcast dictionary
    (term, df) → mapInPandas recompute+re-encode.  NO shuffle, NO sort
    — each task decodes its rows' tfs/dls, applies the BM25 kernel with
    the current global stats, and emits the score stream block-aligned
    to the existing structure.  Bit-identical to scores computed at
    encode time (same elementwise float64 expression over the same
    values; tests assert byte identity), so incremental updates stay
    rank-exact while only this light pass reruns corpus-wide."""
    k1, b, quant = cfg.k1, cfg.b, QUANT

    import math as _math
    import numpy as _np

    cols = structure.select(
        "shard", "term", "sub_shard", "n_docs",
        "tfs_payload", "dls_payload", "block_counts",
    )
    # no broadcast HINT: Catalyst broadcasts the slim (term, df)
    # projection while it fits (the shuffle-free plan asserted in
    # tests), and degrades to a shuffled join instead of a forced
    # driver-side materialization when the vocabulary outgrows the
    # broadcast threshold at extreme scale
    j = cols.join(stats.select("term", "df"), "term")

    def score_stream(batches) -> "pd.DataFrame":
        # one multi-row decode per Arrow batch; the BM25 kernel runs
        # over the whole batch with each row's idf repeated per posting
        # (the same elementwise float64 expression as the fresh-build
        # encode); only the score encode runs per row
        for pdf in batches:
            if not len(pdf):
                continue
            n = pdf["n_docs"].to_numpy()
            tfs, dls = codec.decode_rows(pdf, "tfs", "dls")
            idf = _np.repeat([
                _math.log(1.0 + (n_docs - int(df_g) + 0.5) / (int(df_g) + 0.5))
                for df_g in pdf["df"].to_numpy()
            ], n)
            scores = idf * (tfs * (k1 + 1.0)) / (tfs + k1 * (1.0 - b + b * (dls / avgdl)))
            scores_q = _np.floor(scores * quant + 0.5).astype(_np.int64)
            enc = [
                codec.encode_scores(scores_q[e - c:e], counts)
                for e, c, counts in zip(_np.cumsum(n), n, pdf["block_counts"])
            ]
            yield pdf[["shard", "term", "sub_shard"]].assign(
                scores_payload=[p for p, _ in enc],
                block_max_score=[m.tolist() for _, m in enc],
                scores_bytes=[len(p) for p, _ in enc],
            )

    return j.mapInPandas(score_stream, SCORES_SCHEMA)


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    config: IndexConfig | None = None,
    *,
    resume: bool = True,
) -> BuildResult:
    """Build (or resume) the index at ``index_dir`` from the raw
    Iceberg-shaped code table.  ``docs`` must carry config.id_cols,
    config.topic_col and config.text_col."""
    cfg = config or IndexConfig()
    os.makedirs(index_dir, exist_ok=True)
    manifest = load_manifest(index_dir) if resume else {"phases": {}, "metrics": {}, "config": None}
    if manifest["config"] is not None:
        # _load_cfg normalizes the manifest config through the dataclass,
        # so a knob added later with a default (e.g. token_letters)
        # doesn't fail resume on dirs built before the knob existed —
        # and the resume compare can never drift from index loading
        if _load_cfg(manifest, index_dir).to_json() != cfg.to_json():
            raise ValueError(
                "index_dir was built with a different config; pass resume=False"
            )
    if manifest["phases"] and manifest.get("format") != INDEX_FORMAT:
        raise ValueError(
            f"index_dir holds format {manifest.get('format')} (current {INDEX_FORMAT}); "
            "rebuild with resume=False"
        )
    manifest["config"] = cfg.to_json()
    manifest["format"] = INDEX_FORMAT

    t_start = time.time()
    tf_path = os.path.join(index_dir, "tf.parquet")
    meta_path = os.path.join(index_dir, "docmeta.parquet")
    dict_path = os.path.join(index_dir, "dictionary.parquet")
    struct_rel = "structure_g0.parquet"
    struct_path = os.path.join(index_dir, struct_rel)
    lineage_path = os.path.join(index_dir, "lineage.parquet")

    base = docs if not cfg.id_cols else docs.withColumn("doc_id", F.xxhash64(*cfg.id_cols))
    base = base.withColumn("content_sha256", F.sha2(F.col(cfg.text_col), 256))
    # defensively widen narrow inputs so the tokenize stage uses every
    # core; wide inputs (the 100 TB case) pass through untouched
    target_par = spark.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < max(2, target_par // 2):
        base = base.repartition(target_par)

    # ---- phase 1: per-doc term frequencies (JVM codegen tokenize by
    # default; Arrow fused tokenize+count for pluggable Python tokenizers)
    need_tf = not _phase_done(manifest, "tf", tf_path)
    if need_tf:
        t0 = time.time()
        obs, obs_in = Observation(), Observation()
        # row count + token total folded into the write via observe —
        # the old write + full re-read + count round trip was pure
        # memory bandwidth and the dominant scaling drag (BENCH.md
        # round 1).  The INPUT row count rides the same job as a
        # CollectMetrics node on the pre-tokenize scan: n_docs and
        # avgdl (= Σtf / n_docs) are then known the moment tf lands,
        # so the encode's score globals never re-scan the caller's
        # input lineage (which may be arbitrarily expensive).
        tf = _tokenize(
            base.observe(obs_in, F.count(F.lit(1)).alias("docs")), cfg
        ).observe(obs, F.count(F.lit(1)).alias("rows"), F.sum("tf").alias("tok"))
        write_parquet(tf, tf_path)
        manifest["phases"]["tf"] = {
            "rows": int(obs.get["rows"]),
            "input_docs": int(obs_in.get["docs"]),
            "total_tokens": int(obs.get["tok"] or 0),
            "wall_sec": time.time() - t0,
        }
        _save_manifest(index_dir, manifest)
    tf = spark.read.parquet(tf_path)

    # ---- phases 2 ∥ 3 ∥ 4: docmeta is OFF the critical path entirely.
    # The encode needs only the dictionary and two scalars — n_docs
    # (= the input row count: docmeta's distinct count equals it on
    # every build that passes the dup guard, which raises otherwise)
    # and avgdl (= Σcf/n_docs: Σdoc_len ≡ Σcf, exact integer sums) —
    # so docmeta (the base re-scan + sha256 + placement write) runs on
    # a driver thread CONCURRENTLY WITH THE ENCODE and its fixed cost
    # hides under the dominant phase instead of preceding it.  These
    # two small phases were the measured Amdahl tail of the build's
    # scaling efficiency (BENCH.md round 2: docmeta 0.30, dictionary
    # 0.38; round 3 overlapped them with each other — this overlaps
    # docmeta with the encode itself).
    # Crash windows: a failure between a phase finishing and its
    # manifest save re-runs that phase on resume — correct, merely
    # redundant.  The dup guard now fires AFTER the encode (the guard
    # is an input-error report; a duplicate-id input already poisoned
    # the tf phase before any guard could run, same as before).
    need_meta = not _phase_done(manifest, "docmeta", meta_path)
    need_dict = not _phase_done(manifest, "dictionary", dict_path)

    def _run_docmeta() -> dict:
        # reuse the doclens aggregate the parallel doclens phase just
        # wrote instead of re-deriving the identical O(|tf|) groupBy —
        # docmeta is off the critical path, so waiting on f_dl (also
        # running on this pool) costs nothing and halves the doc-length
        # aggregation work per fresh build.  t0 starts AFTER the wait:
        # docmeta's recorded wall is its own work, not doclens' (which
        # has its own phase row — double-counting would poison the
        # per-phase Amdahl analysis in BENCH.md)
        if f_dl is not None:
            f_dl.result()
        t0 = time.time()
        doclens = spark.read.parquet(dl_path).select("doc_id", "doc_len")
        obs = Observation()
        meta_cols = [*cfg.id_cols, "topic", "content_sha256"]
        # the duplicate guard (duplicate natural keys or a hash
        # collision would silently merge tf rows and corrupt postings)
        # is folded INTO the write lineage: group the slim projection
        # by doc_id and observe the dup count during the write — the
        # old post-write re-read + re-aggregate pass is gone
        meta = (
            base.select(
                "doc_id", *cfg.id_cols, F.col(cfg.topic_col).alias("topic"), "content_sha256"
            )
            .groupBy("doc_id")
            .agg(
                *[F.first(c).alias(c) for c in meta_cols],
                F.count(F.lit(1)).alias("_dup"),
            )
            .join(doclens, "doc_id", "left").fillna(0, subset=["doc_len"])
            # canonical placement; docmeta is the authority deltas and
            # deletes consult (generation shards diverge from the hash)
            .withColumn("shard", F.pmod(F.xxhash64("doc_id"), F.lit(cfg.n_shards)).cast("int"))
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("_dup") > 1).cast("long")).alias("dups"),
            )
            .drop("_dup")
        )
        write_parquet(meta, meta_path)
        row = obs.get
        return {"rows": int(row["n"] or 0), "dups": int(row["dups"] or 0),
                "wall_sec": time.time() - t0}

    def _run_dictionary() -> dict:
        # every summary the build needs (token total, vocab size, the
        # skew_ratio metric) rides the write as CollectMetrics — the
        # old read-back count/sum job and the separate skew_ratio job
        # were two extra job launches on the build's serial segment
        # (the dictionary gates the encode; BENCH.md round 3 measured
        # it at ~11% of the 4N build wall, round 4 at ~6%)
        t0 = time.time()
        _, summary = _write_dictionary(spark, tf, cfg, dict_path)
        return {**summary, "wall_sec": time.time() - t0}

    # the slim doc-length dim the canonical encode joins (doc_id,
    # doc_len — two 8-byte columns): cheap columnar agg over the
    # written tf, runs ∥ the dictionary so it adds nothing to the
    # critical path (dictionary is the longer of the two)
    dl_path = os.path.join(index_dir, "doclens.parquet")
    need_dl = not _phase_done(manifest, "doclens", dl_path)

    def _run_doclens() -> dict:
        t0 = time.time()
        write_parquet(termstats.doc_lengths(tf), dl_path)
        return {"wall_sec": time.time() - t0}

    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=2)
    f_meta = f_dl = None
    try:
        # doclens first: docmeta (the other pool worker) waits on it
        f_dl = pool.submit(_run_doclens) if need_dl else None
        f_meta = pool.submit(_run_docmeta) if need_meta else None

        if need_dict:
            dict_res = _run_dictionary()  # main thread, ∥ docmeta/doclens
        else:
            dict_res = None
        stats = spark.read.parquet(dict_path)
        if f_dl is not None:
            manifest["phases"]["doclens"] = {"rows": 0, **f_dl.result()}
        doclens_r = spark.read.parquet(dl_path)

        # score globals WITHOUT waiting for docmeta OR re-scanning the
        # input: n_docs and Σtokens were observed during the tf job
        # itself (CollectMetrics on the pre-tokenize scan), so builds
        # over expensive input lineages (non-parquet sources, heavy
        # upstream transforms) never pay a second pass
        n_docs = int(manifest["phases"]["tf"]["input_docs"])
        tok = int(manifest["phases"]["tf"]["total_tokens"])
        avgdl = float(tok) / n_docs if n_docs else 0.0
        if dict_res is not None:
            manifest["phases"]["dictionary"] = {
                "rows": dict_res["n_terms"], "wall_sec": dict_res["wall_sec"],
            }
            manifest["metrics"].update(
                total_tokens=tok, total_docs=n_docs, avgdl=avgdl, skew_ratio=dict_res["skew"],
            )
            _save_manifest(index_dir, manifest)

        # ---- phase 4 (fused 4+5): structure AND scores in ONE encoder pass.
        # The encoder already holds each list's tfs/dls arrays and per-term
        # df, so emitting the BM25 score stream costs one numpy expression
        # per list — versus the old separate phase-5 job (a full structure
        # re-read + re-decode + second write), which BENCH.md measured as
        # part of the build's Amdahl tail.  The combined file serves both
        # artifacts (readers project their side's columns); any later
        # add/delete/refresh splits scores back out as its own
        # versioned file via score_postings_df — bit-identical by
        # construction (same float64 expression over the same values).
        need_struct = not _phase_done(manifest, "structure", struct_path)
        if need_struct:
            t0 = time.time()
            obs = Observation()
            # meta=None: canonical placement derives from doc_id as an
            # expression; doc lengths come from the slim doclens dim —
            # docmeta never enters the dominant phase's data path
            combined = encode_structure_df(
                tf, None, stats, cfg, doclens=doclens_r, score_globals=(n_docs, avgdl)
            ).observe(obs, F.count(F.lit(1)).alias("lists"))
            write_parquet(combined, struct_path)
            wall = time.time() - t0
            manifest["phases"]["structure"] = {
                "rows": int(obs.get["lists"] or 0), "wall_sec": wall, "fused_scores": True,
            }
            lin = _write_lineage(spark.read.parquet(struct_path), None, lineage_path)
            m = manifest["metrics"]
            m.update(lin, payload_bytes=lin["structure_bytes"] + lin["scores_bytes"])
            m["postings_per_sec"] = m["n_postings"] / wall if wall > 0 else 0.0
            # same pass now ⇒ the round-comparable structure rate equals the
            # headline rate (r1/r2 reported the pre-fusion structure-only wall)
            m["structure_postings_per_sec"] = m["postings_per_sec"]
            # the refresh-degrade flag stays visible at build time: plan (not
            # run) the index-wide score refresh and record whether Catalyst
            # would broadcast the dictionary or shuffle the payloads
            m["score_refresh_shuffled"] = _score_refresh_shuffled(
                score_postings_df(
                    spark.read.parquet(struct_path), stats, cfg, n_docs, avgdl
                )
            )
            _save_manifest(index_dir, manifest)

        # ---- join the docmeta thread (it overlapped the encode above)
        if f_meta is not None:
            meta_res = f_meta.result()
            if meta_res["dups"]:
                raise ValueError(
                    f"{meta_res['dups']} duplicate doc_ids in input (duplicate natural keys "
                    f"{cfg.id_cols or '(doc_id column)'} or hash collision) — dedup the input first"
                )
            if meta_res["rows"] != n_docs:
                # belt+braces: distinct-doc count must equal the input count
                # the score globals were computed with (dups raise above)
                raise ValueError(
                    f"docmeta rows {meta_res['rows']} != input docs {n_docs}"
                )
            manifest["phases"]["docmeta"] = {
                "rows": meta_res["rows"], "wall_sec": meta_res["wall_sec"],
            }
            nonempty = spark.read.parquet(meta_path).agg(
                F.sum((F.col("doc_len") > 0).cast("long")).alias("ne")
            ).collect()[0]
            manifest["metrics"]["docs_with_terms"] = int(nonempty["ne"] or 0)
            _save_manifest(index_dir, manifest)
    except BaseException as exc:
        # surface a concurrent docmeta failure instead of silently
        # dropping it when the main thread raised first
        merr = f_meta.exception() if (f_meta is not None and f_meta.done()) else None
        if merr is not None and merr is not exc:
            raise ExceptionGroup(
                "build failed; the concurrent docmeta phase also failed",
                [exc, merr],
            ) from None
        raise
    finally:
        # error path: drop queued work and detach — never hang the
        # caller on an in-flight background Spark job (normal path: both
        # futures are already consumed above, shutdown is instant)
        pool.shutdown(wait=False, cancel_futures=True)

    # the first completion starts the lifecycle state: paths, the
    # generation counters and the score epoch (deferred adds serve
    # against it until a refresh).  Resuming a finished index keeps the
    # state its later ops committed.
    first = "paths" not in manifest
    if first:
        manifest.update(
            paths={
                "tf": ["tf.parquet"],
                "docmeta": ["docmeta.parquet"],
                "dictionary": "dictionary.parquet",
                "structure": {str(s): struct_rel for s in range(cfg.n_shards)},
                # scores are served from the combined structure file
                "scores": struct_rel,
                "lineage": "lineage.parquet",
            },
            # generation shards for future deltas start above the canonical range
            next_shard_base=cfg.n_shards,
            next_gen=1,
        )
    ran = need_tf or need_meta or need_dict or need_dl or need_struct
    return _commit(
        index_dir, manifest, {},
        t_start=t_start if ran else None, epoch=(n_docs, avgdl) if first else None,
    )


def index_paths(manifest: dict) -> dict:
    """Current relative artifact paths (versioned after updates).
    ``structure`` is a shard -> owning-file map: incremental updates
    re-point only the shards they re-encoded."""
    p = manifest.get("paths")
    if not p:
        raise ValueError("no built index (manifest has no paths)")
    return p


def _read_owned(
    spark: SparkSession, index_dir: str, owners: dict, cols: list[str]
) -> DataFrame:
    """Union of owner-mapped files, each filtered to the shards it
    currently owns (older files may also contain superseded rows for
    shards later re-encoded — the owner map is the source of truth).
    The projection to ``cols`` happens per-file, BEFORE the union: a
    fused combined-schema file (fresh build / stale delta) and a pure
    single-artifact file (refresh / compact) then union cleanly, and
    the scan stays narrow regardless of which writer produced each."""
    by_path: dict[str, list[int]] = {}
    for s, rel in owners.items():
        by_path.setdefault(rel, []).append(int(s))
    parts = [
        spark.read.parquet(os.path.join(index_dir, rel))
        .filter(F.col("shard").isin(shards))
        .select(*cols)
        for rel, shards in sorted(by_path.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _read_structure(spark: SparkSession, index_dir: str, paths: dict) -> DataFrame:
    return _read_owned(spark, index_dir, paths["structure"], _STRUCT_COLS)


def _read_scores(spark: SparkSession, index_dir: str, paths: dict) -> DataFrame:
    """Scores are a single versioned file after a full refresh (string
    pointer) or an owner map while deferred-refresh deltas are
    outstanding; either may be a fused combined-schema file (fresh
    build / stale delta) — the projection makes that invisible to
    readers."""
    p = paths["scores"]
    if isinstance(p, str):
        return spark.read.parquet(os.path.join(index_dir, p)).select(*_SCORE_COLS)
    return _read_owned(spark, index_dir, p, _SCORE_COLS)


def postings_view(spark: SparkSession, index_dir: str) -> DataFrame:
    """The combined logical postings table: structure ⋈ scores on
    (shard, term, sub_shard) — what queries and identity tests read."""
    manifest = load_manifest(index_dir)
    p = index_paths(manifest)
    structure = _read_structure(spark, index_dir, p)
    scores = _read_scores(spark, index_dir, p)
    return structure.join(scores, ["shard", "term", "sub_shard"])


def _load_cfg(manifest: dict, index_dir: str) -> IndexConfig:
    if manifest["config"] is None:
        raise ValueError(f"{index_dir} has no built index")
    if manifest.get("format") != INDEX_FORMAT:
        raise ValueError(
            f"{index_dir} holds index format {manifest.get('format')} "
            f"(current {INDEX_FORMAT}); rebuild with resume=False"
        )
    cj = dict(manifest["config"])
    cj["id_cols"] = tuple(cj.get("id_cols") or ())
    cj["stopwords"] = tuple(cj.get("stopwords") or ())
    return IndexConfig(**cj)


def _tombstones(spark: SparkSession, index_dir: str, manifest: dict) -> DataFrame | None:
    rel = index_paths(manifest).get("tombstones")
    if not rel:
        return None
    return spark.read.parquet(os.path.join(index_dir, rel))


def _update_derived(
    spark: SparkSession,
    index_dir: str,
    manifest: dict,
    cfg: IndexConfig,
    tf_all: DataFrame,
    tf_enc: DataFrame | None,
    meta_all: DataFrame,
    version: int,
    phase_name: str,
    t_start: float,
    paths_update: dict,
    *,
    owned_shards: Sequence[int] = (),
    struct_rel: str | None = None,
    reset_owners: bool = False,
    meta_enc: DataFrame | None = None,
    drop_path_keys: tuple[str, ...] = (),
) -> BuildResult:
    """The derived-state tail of add, merge, delete, compact and
    refresh:

    - dictionary + docmeta stats: recomputed globally (cheap salted agg
      over tf generations — a columnar scan, no payload work); docmeta
      is rewritten as one versioned file unless ``paths_update`` names
      its generation files (adds, merges and refresh keep it
      generational — no O(corpus) rewrite per delta);
    - structure: ``tf_enc`` (the delta generation for adds, the
      affected shards' docs for deletes, everything for compact) is
      encoded into ``struct_rel``, which becomes the owner of
      ``owned_shards``; all other shards keep their existing files
      untouched (``reset_owners`` drops them — compaction).  With no
      ``struct_rel`` (a refresh) nothing is re-encoded;
    - scores: refreshed for the WHOLE index by the shuffle-free map
      pass (exact global idf/avgdl demands it; it touches only the
      light score stream) — or, for compact, fused into its encode;
    - one per-shard lineage write and one :func:`_commit`, which closes
      the staleness window.

    Sub-shard split factors are evaluated with the stats current at
    each shard's encode time; shards encoded in different generations
    may therefore split a hot term differently — harmless (sub-lists
    stay doc-disjoint per shard) and erased by compaction, which
    re-encodes everything with one dictionary."""
    paths = index_paths(manifest)
    dict_rel = f"dictionary_v{version}.parquet"
    scores_rel = f"scores_v{version}.parquet"
    lin_rel = f"lineage_v{version}.parquet"
    meta_rel = f"docmeta_v{version}.parquet"

    if "docmeta" in paths_update:
        meta_r = meta_all
    else:
        write_parquet(meta_all, os.path.join(index_dir, meta_rel))
        meta_r = spark.read.parquet(os.path.join(index_dir, meta_rel))

    stats_r, srow = _write_dictionary(
        spark, tf_all, cfg, os.path.join(index_dir, dict_rel)
    )
    dl = meta_r.agg(
        F.sum("doc_len").alias("s"), F.count("*").alias("n"),
        F.sum((F.col("doc_len") > 0).cast("long")).alias("nonempty"),
    ).collect()[0]
    n_docs_all = int(dl["n"])
    avgdl = float(int(dl["s"] or 0)) / n_docs_all if n_docs_all else 0.0

    owned = sorted(set(owned_shards))
    owners = {} if reset_owners else dict(paths["structure"])
    owners.update({str(s): struct_rel for s in owned})
    # compact (reset_owners) re-encodes EVERY shard with the final
    # stats, so the score stream fuses into the same pass (the fresh-
    # build layout: one combined file, single-scan serving); partial
    # updates and the refresh run the separate index-wide score map.
    fuse = reset_owners
    if struct_rel is not None:
        obs_s = Observation()
        # meta_enc restricts the encode's (doc_len, shard) join to the
        # rows being re-encoded — for a delta generation that's the
        # delta's own docmeta, not an O(corpus) join against the full table
        struct_delta = encode_structure_df(
            tf_enc, meta_enc if meta_enc is not None else meta_r, stats_r, cfg,
            score_globals=(n_docs_all, avgdl) if fuse else None, shards=owned,
        ).observe(obs_s, F.count(F.lit(1)).alias("lists"))
        write_parquet(struct_delta, os.path.join(index_dir, struct_rel))

    new_paths = {
        **paths,
        **({} if "docmeta" in paths_update else {"docmeta": [meta_rel]}),
        **paths_update,
        "dictionary": dict_rel,
        "structure": owners,
        "scores": struct_rel if fuse else scores_rel,
        "lineage": lin_rel,
    }
    # dropped pointers (e.g. compaction folding tombstones into tf) go
    # in the SAME atomic save as the rest of the update — a second
    # load/save window would let a crash strand a compacted index whose
    # manifest still references tombstones
    for k in drop_path_keys:
        new_paths.pop(k, None)
    structure_all = _read_structure(spark, index_dir, new_paths)
    scores_df = score_postings_df(structure_all, stats_r, cfg, n_docs_all, avgdl)
    if not fuse:
        write_parquet(scores_df, os.path.join(index_dir, scores_rel))
    # a fused file carries its own scores_bytes column
    lin = _write_lineage(
        spark.read.parquet(os.path.join(index_dir, struct_rel)) if fuse else structure_all,
        None if fuse else spark.read.parquet(os.path.join(index_dir, scores_rel)),
        os.path.join(index_dir, lin_rel),
    )

    wall = time.time() - t_start
    manifest["paths"] = new_paths
    if struct_rel is None:
        manifest["phases"][phase_name] = {
            "rows": 0, "wall_sec": wall, "stale_deltas_closed": manifest["stale_deltas"],
        }
        rate = {}
    else:
        prior_owned = set(paths["structure"])
        manifest["phases"][phase_name] = {
            "rows": int(obs_s.get["lists"] or 0),
            "wall_sec": wall,
            # how many PRE-EXISTING shards this update re-encoded (adds: 0 —
            # new docs land in fresh generation shards; deletes: the shards
            # the dead docs lived in; compact: all)
            "existing_shards_reencoded": len(prior_owned & {str(s) for s in owned}),
            "new_shards": len({str(s) for s in owned} - prior_owned),
            "total_shards": len(owners),
        }
        rate = {"postings_per_sec": lin["n_postings"] / wall if wall > 0 else 0.0}
    return _commit(
        index_dir, manifest,
        {
            "total_tokens": srow["tok"],
            "total_docs": n_docs_all,
            "live_total_docs": n_docs_all,
            "docs_with_terms": int(dl["nonempty"] or 0),
            "avgdl": avgdl,
            "skew_ratio": srow["skew"],
            **lin,
            "payload_bytes": lin["structure_bytes"] + lin["scores_bytes"],
            **rate,
            # the degrade flag of the index-wide score map (planned, not
            # run, when compact fused the scores)
            "score_refresh_shuffled": _score_refresh_shuffled(scores_df),
        },
        t_start=t_start, version=version, epoch=(n_docs_all, avgdl),
    )


def _generation_layout(manifest: dict, cfg: IndexConfig, n_new_docs: int) -> tuple[int, int]:
    """(shard_base, g_shards) for a new generation.  The generation's
    shard COUNT is sized to the delta, not to cfg.n_shards: a 0.1%%
    delta into a 32-shard index should not fan out into 32 near-empty
    shards (per-add fixed costs, tiny files, and +n_shards query merge
    width per un-compacted generation).  Target the live index's
    docs-per-shard density, clamped to [1, n_shards]; compact() folds
    everything back to canonical hash placement, so the byte-identity
    invariant is untouched.  Shared by add_documents and
    merge_from_index — the sizing policy must not drift between them."""
    shard_base = int(manifest["next_shard_base"])
    live = int(
        manifest["metrics"].get("live_total_docs", manifest["metrics"]["total_docs"])
    )
    per_shard = max(1, live // max(1, cfg.n_shards))
    g_shards = max(1, min(cfg.n_shards, -(-n_new_docs // per_shard)))
    return shard_base, g_shards


def _check_doc_clashes(
    spark: SparkSession,
    index_dir: str,
    manifest: dict,
    paths: dict,
    meta_new: DataFrame,
    *,
    check_dups_within: bool,
    context: str,
) -> DataFrame:
    """Reject doc_id collisions against the dst's live + tombstoned ids
    (re-adding a tombstoned id needs compaction first).  Returns the
    dst's current docmeta (the caller always needs it next).
    ``check_dups_within`` additionally scans the new docs for internal
    duplicates — adds need it (arbitrary user input); merges skip it
    because a well-formed src index already guarantees unique doc_ids
    (build/add enforce it on every write path)."""
    meta_old = spark.read.parquet(*[os.path.join(index_dir, p) for p in paths["docmeta"]])
    taken = meta_old.select("doc_id")
    tombs = _tombstones(spark, index_dir, manifest)
    if tombs is not None:
        taken = taken.unionByName(tombs.select("doc_id"))
    n_clash = meta_new.select("doc_id").join(taken, "doc_id").count()
    n_dup_new = 0
    if check_dups_within:
        n_dup_new = meta_new.groupBy("doc_id").count().filter(F.col("count") > 1).count()
    if n_clash or n_dup_new:
        raise ValueError(
            f"doc_id collisions ({context}): {n_clash} vs existing index (live or "
            f"tombstoned), {n_dup_new} within new docs"
        )
    return meta_old


def _assemble_generation(
    spark: SparkSession,
    index_dir: str,
    manifest: dict,
    paths: dict,
    meta_old: DataFrame,
    meta_new: DataFrame,
    tf_rel: str,
    *,
    gen: int,
    shard_base: int,
    g_shards: int,
) -> tuple[DataFrame, DataFrame, list[int]]:
    """Merged (tf_all, meta_all, shards_new) for the derived-state
    update + the generation counters' manifest bookkeeping (shared
    add/merge tail)."""
    tf_all = spark.read.parquet(
        *[os.path.join(index_dir, p) for p in paths["tf"]],
        os.path.join(index_dir, tf_rel),
    )
    tombs = _tombstones(spark, index_dir, manifest)
    if tombs is not None:
        tf_all = tf_all.join(tombs.select("doc_id"), "doc_id", "left_anti")
    meta_all = meta_old.unionByName(meta_new)
    shards_new = [int(r["shard"]) for r in meta_new.select("shard").distinct().collect()]
    manifest["next_shard_base"] = shard_base + g_shards
    manifest["next_gen"] = gen + 1
    return tf_all, meta_all, shards_new


def add_documents(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    *,
    refresh_scores: bool = True,
) -> BuildResult:
    """Incremental update: add documents to an existing index with
    EXACT global scores (BM25 idf/avgdl reflect the merged corpus).

    ``refresh_scores=False`` is the **bounded-staleness** mode for
    steady-state ingest: the delta is tokenized + structure-encoded
    exactly as below (O(delta), zero existing shards re-encoded), but
    the index-wide score map — the one remaining O(corpus) term per
    update — is DEFERRED.  The delta's own shards get scores computed
    against the last refresh's global-stat epoch (idf df from the
    epoch dictionary where the term is known, the delta's local df for
    brand-new terms; epoch n_docs/avgdl), so serving keeps working:
    doc sets are exact, scores are epoch-stale until
    :func:`refresh_scores` (or any full-refresh op — delete/compact/
    refresh-aware ``maybe_compact``) closes the window.  The manifest
    records ``stale_deltas`` (deltas since the last refresh) and the
    ``score_epoch`` served against; tests assert that deferred mode
    followed by :func:`refresh_scores` is bit-identical to an
    exact-mode add.

    What is reused vs recomputed (O(delta) design, see module docstring):
    - phase 1/2 of prior generations (tokenized tf + docmeta parquet)
      are reused as-is — the raw text of old documents is never
      re-scanned;
    - structure: the new docs are encoded into a FRESH generation of
      shard ids (segment-style); NO existing shard is re-encoded —
      the heavy shuffle+sort+encode is O(delta).  Query fan-out grows
      by n_shards per un-compacted generation; ``compact`` folds
      generations back to canonical placement (byte-identical to a
      fresh build);
    - dictionary + docmeta rebuild globally (cheap aggs), and scores
      refresh index-wide through the shuffle-free map pass — so BM25
      idf/avgdl are EXACT for the merged corpus and every query stays
      rank-identical to a fresh build (unlike classic LSM segments,
      which approximate global idf between merges — rejected because
      north_rule requires rank-identical scores).
    The manifest pointer flips atomically — readers opened before the
    flip keep a consistent old view.

    Raises on doc_id collisions (same natural key already indexed, or
    previously deleted — re-adding a tombstoned id needs compaction).
    """
    manifest = load_manifest(index_dir)
    cfg = _load_cfg(manifest, index_dir)
    paths = index_paths(manifest)
    # monotonic generation counter persisted in the manifest — NOT
    # len(paths["tf"]), which resets after compact() collapses tf to one
    # file and would make a post-compaction add overwrite tf_g1/
    # docmeta_g1/structure_g1 in place under readers holding a pre-flip
    # manifest
    gen = int(manifest["next_gen"])
    version = int(manifest.get("version", 0)) + 1
    t_start = time.time()

    # delta size, counted on the SLIM raw input before the sha256
    # projection / defensive repartition join the lineage — a cheap
    # (often metadata-only) scan, not a full re-execution; it sizes the
    # generation's shard count below
    n_new_docs = int(
        new_docs.select(*(cfg.id_cols or ("doc_id",))).count()
    )
    base = new_docs if not cfg.id_cols else new_docs.withColumn(
        "doc_id", F.xxhash64(*cfg.id_cols)
    )
    base = base.withColumn("content_sha256", F.sha2(F.col(cfg.text_col), 256))
    target_par = spark.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < max(2, target_par // 2):
        base = base.repartition(target_par)

    # ---- delta phase 1+2: tokenize + meta for the new docs only
    tf_rel, meta_rel = f"tf_g{gen}.parquet", f"docmeta_g{gen}.parquet"
    tf_new = _tokenize(base, cfg)
    write_parquet(tf_new, os.path.join(index_dir, tf_rel))
    tf_new = spark.read.parquet(os.path.join(index_dir, tf_rel))
    doclens_new = termstats.doc_lengths(tf_new)
    # new docs land in a FRESH generation of shard ids: existing shards'
    # doc sets are untouched, so no existing structure is re-encoded;
    # the generation is density-sized (see _generation_layout)
    shard_base, g_shards = _generation_layout(manifest, cfg, n_new_docs)
    meta_new = (
        base.select(
            "doc_id", *cfg.id_cols, F.col(cfg.topic_col).alias("topic"), "content_sha256"
        )
        .join(doclens_new, "doc_id", "left").fillna(0, subset=["doc_len"])
        .withColumn(
            "shard",
            (F.lit(shard_base) + F.pmod(F.xxhash64("doc_id"), F.lit(g_shards))).cast("int"),
        )
    )
    write_parquet(meta_new, os.path.join(index_dir, meta_rel))
    meta_new = spark.read.parquet(os.path.join(index_dir, meta_rel))

    meta_old = _check_doc_clashes(
        spark, index_dir, manifest, paths, meta_new,
        check_dups_within=True, context="add",
    )

    # ---- merged derived state -> versioned dirs
    tf_all, meta_all, shards_new = _assemble_generation(
        spark, index_dir, manifest, paths, meta_old, meta_new, tf_rel,
        gen=gen, shard_base=shard_base, g_shards=g_shards,
    )
    # positions artifact (if built): extend O(delta) — tokenize-with-
    # positions ONLY the delta and append a generation file owning the
    # delta's shards; the owner-map flip rides the tail's atomic save.
    # An already-stale artifact (out-of-band writer) is left stale.
    if paths.get("positions") is not None and int(
        manifest.get("positions_version", -1)
    ) == int(manifest.get("version", 0)):
        from .positions import extend_positions_for_delta

        manifest["paths"] = {
            **manifest["paths"],
            "positions": extend_positions_for_delta(
                index_dir, base, meta_new, cfg, paths,
                gen=gen, shards_new=shards_new,
            ),
        }
        manifest["positions_version"] = version
    if not refresh_scores:
        return _add_stale(
            spark, index_dir, manifest, cfg, tf_new, meta_new,
            gen=gen, version=version, t_start=t_start,
            tf_rel=tf_rel, meta_rel=meta_rel, shards_new=shards_new,
        )
    return _update_derived(
        spark, index_dir, manifest, cfg, tf_all, tf_new, meta_all,
        owned_shards=shards_new, struct_rel=f"structure_g{gen}.parquet",
        version=version, phase_name=f"delta_g{gen}", t_start=t_start,
        paths_update={
            "tf": paths["tf"] + [tf_rel],
            "docmeta": paths["docmeta"] + [meta_rel],
        },
        meta_enc=meta_new,
    )


def _add_stale(
    spark: SparkSession,
    index_dir: str,
    manifest: dict,
    cfg: IndexConfig,
    tf_new: DataFrame,
    meta_new: DataFrame,
    *,
    gen: int,
    version: int,
    t_start: float,
    tf_rel: str,
    meta_rel: str,
    shards_new: list[int],
) -> BuildResult:
    """Deferred-refresh tail of ``add_documents(refresh_scores=False)``:
    encode the delta generation and score ONLY its shards against the
    last refresh's global-stat epoch.  Nothing O(corpus) runs here —
    no global dictionary agg, no index-wide score map; both fold into
    the next :func:`refresh_scores`."""
    paths = index_paths(manifest)
    struct_rel = f"structure_g{gen}.parquet"

    # epoch-stale stats for the delta: epoch df where the term is
    # known, the delta's own df for brand-new terms (any choice is
    # stale; this one keeps idf finite and monotone — and tracks the
    # merged-corpus df an exact-mode add would use far more closely
    # than delta-local df), epoch n_docs/avgdl.  The sub-shard split
    # decision rides the same frame as a separate df_split column with
    # EXACT merged df (see below).  Cost: O(delta) salted agg + one
    # columnar scan of the epoch dictionary.
    epoch = manifest["score_epoch"]
    stats_delta = termstats.global_term_stats(tf_new, n_salts=cfg.n_salts)
    stale_dict = spark.read.parquet(
        os.path.join(index_dir, paths["dictionary"])
    ).select("term", F.col("df").alias("df_epoch"))
    # the sub-shard SPLIT decision must see the df an exact-mode add
    # would (merged corpus), or deferred+refresh stops being
    # bit-identical to exact mode: refresh_scores rewrites score
    # streams only, never structure bytes, so a split-factor divergence
    # would persist until compaction.  Generations are doc-disjoint, so
    # merged df = epoch df + df over every un-refreshed generation +
    # this delta — O(staleness window, bounded by maybe_compact's
    # max_stale_deltas), never an O(corpus) rescan.
    n_stale = int(manifest["stale_deltas"])
    delta_df = stats_delta.select("term", F.col("df").alias("df_delta"))
    if n_stale:
        stale_tf = (
            spark.read.parquet(
                *[os.path.join(index_dir, p) for p in paths["tf"][-n_stale:]]
            )
            .join(F.broadcast(delta_df.select("term")), "term", "left_semi")
            .select("term", "doc_id")
        )
        df_recent = (
            tf_new.select("term", "doc_id").unionByName(stale_tf)
            .groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df_recent"))
        )
    else:
        df_recent = delta_df.select("term", F.col("df_delta").alias("df_recent"))
    stats_sc = (
        delta_df
        .join(stale_dict, "term", "left")
        .join(df_recent, "term", "left")
        .select(
            "term",
            F.coalesce("df_epoch", "df_delta").alias("df"),
            (F.coalesce("df_epoch", F.lit(0)) + F.col("df_recent")).alias("df_split"),
        )
    )

    # ONE fused pass: structure + epoch-stale scores together (the same
    # combined-schema layout fresh builds write) — no second job, no
    # structure re-read for a scores pass
    t_enc = time.time()
    obs_s = Observation()
    combined = encode_structure_df(
        tf_new, meta_new, stats_sc, cfg,
        score_globals=(int(epoch["n_docs"]), float(epoch["avgdl"])), shards=shards_new,
    ).observe(
        obs_s,
        F.count(F.lit(1)).alias("lists"),
        F.sum("scores_bytes").alias("sbytes"),
    )
    write_parquet(combined, os.path.join(index_dir, struct_rel))
    row = obs_s.get
    n_lists = int(row["lists"] or 0)
    delta_scores_bytes = int(row["sbytes"] or 0)
    enc_wall = time.time() - t_enc

    # owner maps: structure as usual; scores converts the single-file
    # pointer to an owner map on the first deferred delta (the delta's
    # score entries point at the combined file)
    sc_owned = paths["scores"]
    if isinstance(sc_owned, str):
        sc_owned = {s: sc_owned for s in paths["structure"]}
    else:
        sc_owned = dict(sc_owned)
    sc_owned.update({str(s): struct_rel for s in shards_new})

    manifest["paths"] = {
        **paths,
        "tf": paths["tf"] + [tf_rel],
        "docmeta": paths["docmeta"] + [meta_rel],
        "structure": {**paths["structure"], **{str(s): struct_rel for s in shards_new}},
        "scores": sc_owned,
    }
    n_delta_docs = meta_new.count()
    manifest["phases"][f"delta_g{gen}_stale"] = {
        "rows": n_lists,
        "wall_sec": time.time() - t_start,
        # the split the bench reports: what an exact-mode add would
        # additionally pay is the refresh, absent here by construction
        "delta_encode_wall_sec": enc_wall,
        "delta_scores_wall_sec": 0.0,  # fused into the encode
        "fused_scores": True,
        "existing_shards_reencoded": 0,
        "new_shards": len(set(shards_new)),
        "total_shards": len(manifest["paths"]["structure"]),
        "score_refresh": "deferred",
    }
    # metrics stay epoch-consistent (they describe what the score files
    # were computed with); the live corpus size is tracked separately
    m = manifest["metrics"]
    return _commit(
        index_dir, manifest,
        {"live_total_docs": int(m.get("live_total_docs", m["total_docs"])) + int(n_delta_docs)},
        t_start=t_start, version=version, stale_scores_bytes=delta_scores_bytes,
    )


def merge_from_index(
    spark: SparkSession,
    index_dir: str,
    src_dir: str,
    *,
    refresh_scores: bool = True,
) -> BuildResult:
    """Segment-style index MERGE: fold the live documents of the index
    at ``src_dir`` into the index at ``index_dir``.  Thin wrapper over
    :func:`merge_indexes` — see there for the full contract."""
    return merge_indexes(spark, index_dir, [src_dir], refresh_scores=refresh_scores)


def merge_indexes(
    spark: SparkSession,
    index_dir: str,
    src_dirs: Sequence[str],
    *,
    refresh_scores: bool = True,
) -> BuildResult:
    """Segment-style K-WAY index MERGE: fold the live documents of the
    indexes at ``src_dirs`` into the index at ``index_dir`` without
    re-reading or re-tokenizing any raw text — every src's
    already-tokenized tf and docmeta generations are harvested as ONE
    new dst generation (src tombstones folded out first), the src docs
    are re-encoded into fresh generation shards (O(Σ src); NO existing
    dst shard is touched, manifest-provable like adds), and global
    stats refresh exactly — or defer under ``refresh_scores=False``
    (the same bounded-staleness contract as :func:`add_documents`).

    This is the 100-TB build pattern: partition the corpus, build
    per-partition indexes INDEPENDENTLY in parallel (each a plain
    :func:`build_index` over its slice — no coordination, no global
    shuffle across slices), then fold them together in ONE merge whose
    cost is O(Σ src postings), never O(dst).  A k-way fold pays the
    fixed per-merge costs (dst docmeta scan, clash check, manifest
    round-trip, job launches) once instead of k-1 times — the
    sequential-pairwise alternative re-reads the growing dst's docmeta
    at every step.  Unlike classic LSM/Lucene segment merges, scores
    stay EXACT for the merged corpus (or explicitly epoch-stale in
    deferred mode) — north_rule requires rank-identity with a
    monolithic build, and ``compact`` afterwards is byte-identical to
    one (tests assert it).

    The positions artifact merges without re-tokenizing when the dst
    AND every src carry a current one (position lists are doc-local —
    only the shard placement is remapped); otherwise the merged
    artifact goes stale and readers' version check fires.

    Requires identical IndexConfig on all sides; raises on any doc_id
    present in more than one participant (same natural key indexed
    twice) or tombstoned in the dst.  The src indexes are read-only
    throughout and remain valid.
    """
    if not src_dirs:
        raise ValueError("merge_indexes needs at least one src index")
    dst_real = os.path.realpath(index_dir)
    seen: set[str] = set()
    for d in src_dirs:
        r = os.path.realpath(d)
        if r == dst_real:
            raise ValueError("cannot merge an index into itself")
        if r in seen:
            raise ValueError(f"src index {d} listed twice")
        seen.add(r)
    manifest = load_manifest(index_dir)
    cfg = _load_cfg(manifest, index_dir)
    src_manifests = []
    for src_dir in src_dirs:
        src_manifest = load_manifest(src_dir)
        src_cfg = _load_cfg(src_manifest, src_dir)  # refuses other formats
        if src_cfg.to_json() != cfg.to_json():
            raise ValueError(
                f"src index {src_dir} was built with a different config; rebuild one side"
            )
        src_manifests.append(src_manifest)
    paths = index_paths(manifest)
    all_src_paths = [index_paths(m) for m in src_manifests]
    gen = int(manifest["next_gen"])
    version = int(manifest.get("version", 0)) + 1
    t_start = time.time()

    src_tf = src_meta = None
    for src_dir, src_manifest, src_paths in zip(src_dirs, src_manifests, all_src_paths):
        tf_i = spark.read.parquet(*[os.path.join(src_dir, p) for p in src_paths["tf"]])
        meta_i = spark.read.parquet(
            *[os.path.join(src_dir, p) for p in src_paths["docmeta"]]
        )
        src_tombs = _tombstones(spark, src_dir, src_manifest)
        if src_tombs is not None:
            tf_i = tf_i.join(src_tombs.select("doc_id"), "doc_id", "left_anti")
            meta_i = meta_i.join(src_tombs.select("doc_id"), "doc_id", "left_anti")
        src_tf = tf_i if src_tf is None else src_tf.unionByName(tf_i)
        src_meta = meta_i if src_meta is None else src_meta.unionByName(meta_i)

    n_new_docs = src_meta.count()
    if n_new_docs == 0:
        raise ValueError(f"src indexes {list(src_dirs)} have no live documents")

    # generation sizing + placement: the same density policy as adds
    shard_base, g_shards = _generation_layout(manifest, cfg, n_new_docs)
    tf_rel, meta_rel = f"tf_g{gen}.parquet", f"docmeta_g{gen}.parquet"
    # harvest (one columnar copy): the dst stays self-contained — the
    # src dir can be deleted after the merge
    write_parquet(src_tf, os.path.join(index_dir, tf_rel))
    tf_new = spark.read.parquet(os.path.join(index_dir, tf_rel))
    write_parquet(
        src_meta.withColumn(
            "shard",
            (F.lit(shard_base) + F.pmod(F.xxhash64("doc_id"), F.lit(g_shards))).cast("int"),
        ),
        os.path.join(index_dir, meta_rel),
    )
    meta_new = spark.read.parquet(os.path.join(index_dir, meta_rel))

    # a single well-formed src already guarantees unique doc_ids
    # (build/add enforce it on every write path); across MULTIPLE srcs
    # nothing does, so the k-way path scans the union for dups too
    meta_old = _check_doc_clashes(
        spark, index_dir, manifest, paths, meta_new,
        check_dups_within=len(src_dirs) > 1, context="merge",
    )
    tf_all, meta_all, shards_new = _assemble_generation(
        spark, index_dir, manifest, paths, meta_old, meta_new, tf_rel,
        gen=gen, shard_base=shard_base, g_shards=g_shards,
    )

    # positions: all sides current -> shard-remap every src's rows into
    # one generation file (doc-local lists, no re-tokenize); otherwise
    # the dst artifact (if any) goes stale — version advances past
    # positions_version and readers refuse it honestly.
    dst_pos_current = paths.get("positions") is not None and int(
        manifest.get("positions_version", -1)
    ) == int(manifest.get("version", 0))
    srcs_pos_current = all(
        sp.get("positions") is not None
        and int(sm.get("positions_version", -1)) == int(sm.get("version", 0))
        for sm, sp in zip(src_manifests, all_src_paths)
    )
    if dst_pos_current and srcs_pos_current:
        from .positions import _as_owner_map, read_positions, write_positions

        pos_rel = f"positions_g{gen}.parquet"
        src_pos = None
        for src_dir, src_paths in zip(src_dirs, all_src_paths):
            p_i = read_positions(spark, src_dir, src_paths["positions"])
            src_pos = p_i if src_pos is None else src_pos.unionByName(p_i)
        write_positions(
            src_pos.drop("shard").join(meta_new.select("doc_id", "shard"), "doc_id"),
            shards_new,
            os.path.join(index_dir, pos_rel),
        )
        owned = _as_owner_map(paths["positions"], paths["structure"])
        owned.update({str(s): pos_rel for s in shards_new})
        manifest["paths"] = {**manifest["paths"], "positions": owned}
        manifest["positions_version"] = version

    if not refresh_scores:
        return _add_stale(
            spark, index_dir, manifest, cfg, tf_new, meta_new,
            gen=gen, version=version, t_start=t_start,
            tf_rel=tf_rel, meta_rel=meta_rel, shards_new=shards_new,
        )
    return _update_derived(
        spark, index_dir, manifest, cfg, tf_all, tf_new, meta_all,
        owned_shards=shards_new, struct_rel=f"structure_g{gen}.parquet",
        version=version, phase_name=f"merge_g{gen}", t_start=t_start,
        paths_update={
            "tf": paths["tf"] + [tf_rel],
            "docmeta": paths["docmeta"] + [meta_rel],
        },
        meta_enc=meta_new,
    )


def refresh_scores(spark: SparkSession, index_dir: str) -> BuildResult:
    """Close the bounded-staleness window: rebuild the global dictionary
    over all live tf generations and re-map EVERY score file with the
    exact merged-corpus stats.  This is :func:`_update_derived` with no
    shard to re-encode: the same shuffle-free score pass, lineage write
    and commit an exact-mode add runs, with docmeta kept generational
    and structure files untouched.  After it the index is bit-identical
    to one whose every add ran with ``refresh_scores=True`` (tests
    assert it).  No-op-cheap when nothing is stale (it still
    recomputes, so callers should gate on ``manifest['stale_deltas']``
    or use :func:`maybe_compact`)."""
    manifest = load_manifest(index_dir)
    cfg = _load_cfg(manifest, index_dir)
    paths = index_paths(manifest)
    version = int(manifest.get("version", 0)) + 1
    t_start = time.time()

    tombs = _tombstones(spark, index_dir, manifest)
    tf_all = spark.read.parquet(*[os.path.join(index_dir, p) for p in paths["tf"]])
    if tombs is not None:
        tf_all = tf_all.join(tombs.select("doc_id"), "doc_id", "left_anti")
    meta_all = spark.read.parquet(
        *[os.path.join(index_dir, p) for p in paths["docmeta"]]
    )
    # a score refresh touches neither placement nor doc sets — the
    # positions artifact rides through unchanged
    if paths.get("positions") is not None and int(
        manifest.get("positions_version", -1)
    ) == int(manifest.get("version", 0)):
        manifest["positions_version"] = version
    return _update_derived(
        spark, index_dir, manifest, cfg, tf_all, None, meta_all,
        version=version, phase_name=f"refresh_v{version}", t_start=t_start,
        paths_update={"docmeta": paths["docmeta"]},
    )


def delete_documents(
    spark: SparkSession,
    doc_ids,
    index_dir: str,
) -> BuildResult:
    """Incremental delete with EXACT global scores: the doc_ids are
    tombstoned (their tokenized tf generations stay on disk but are
    filtered at every derived rebuild); structure re-encodes only the
    shards the deleted docs lived in (looked up from docmeta), scores
    refresh index-wide — BM25 idf/df/avgdl reflect the post-delete
    corpus, so every query is rank-identical to a from-scratch build
    without those docs.

    Payload-level identity with a fresh build over the live corpus
    also holds for split-factor transitions: a hot term whose global
    df drops across a ``hot_df_threshold * n_shards`` multiple would
    re-bucket its sub-shard lists everywhere, so every shard holding
    such a term joins the re-encode set (detected from the old
    dictionary vs the deleted docs' per-term df — candidates are only
    terms already split, factor >= 2, so the probe is a pushed-down
    dictionary scan that is empty below the hot threshold).

    ``doc_ids``: a one-column DataFrame or a Python sequence of ids.
    Raises if any id is not live in the index."""
    manifest = load_manifest(index_dir)
    cfg = _load_cfg(manifest, index_dir)
    paths = index_paths(manifest)
    version = int(manifest.get("version", 0)) + 1
    t_start = time.time()

    # deleting nothing is a no-op: skip the O(corpus) derived rebuild
    # (dictionary agg + index-wide score map) and the version bump an
    # empty tombstone write would otherwise trigger
    if isinstance(doc_ids, DataFrame):
        ids = doc_ids.toDF("doc_id").distinct()
        if ids.isEmpty():
            return BuildResult(index_dir=index_dir, metrics=manifest["metrics"])
    else:
        doc_ids = list(doc_ids)
        if not doc_ids:
            return BuildResult(index_dir=index_dir, metrics=manifest["metrics"])
        ids = spark.createDataFrame([(int(i),) for i in doc_ids], "doc_id long").distinct()

    meta_old = spark.read.parquet(*[os.path.join(index_dir, p) for p in paths["docmeta"]])
    n_missing = ids.join(meta_old.select("doc_id"), "doc_id", "left_anti").count()
    if n_missing:
        raise ValueError(f"{n_missing} doc_ids not live in the index")

    tomb_rel = f"tombstones_v{version}.parquet"
    tombs = _tombstones(spark, index_dir, manifest)
    all_tombs = ids if tombs is None else tombs.select("doc_id").unionByName(ids).distinct()
    write_parquet(all_tombs, os.path.join(index_dir, tomb_rel))
    all_tombs = spark.read.parquet(os.path.join(index_dir, tomb_rel))

    tf_all = spark.read.parquet(
        *[os.path.join(index_dir, p) for p in paths["tf"]]
    ).join(all_tombs, "doc_id", "left_anti")
    meta_all = meta_old.join(ids, "doc_id", "left_anti")
    # docmeta records each doc's shard (canonical or generation) —
    # exactly the shards whose structure must re-encode
    shards_del = [
        int(r["shard"])
        for r in meta_old.join(ids, "doc_id").select("shard").distinct().collect()
    ]
    # ---- sub-shard split-factor transitions: if a hot term's global
    # df drops across a hot_df_threshold*n_shards multiple, a fresh
    # build would split it into FEWER sub-shards, but shards this
    # delete doesn't touch still hold the old split.  Queries stay
    # exact either way (sub-lists are doc-disjoint per shard), but the
    # byte-identity invariant would silently break — so every shard
    # holding such a term joins the re-encode set.  Candidates are
    # only terms already split (factor >= 2): delete moves df DOWN, so
    # factor-1 terms can't transition.  Below the hot threshold the
    # candidate scan is empty and this costs one pushed-down
    # dictionary read.
    hot_span = cfg.hot_df_threshold * cfg.n_shards
    cand = (
        spark.read.parquet(os.path.join(index_dir, paths["dictionary"]))
        .filter(F.col("df") > hot_span)
        .select("term", "df")
    )
    changed_terms: list[str] = []
    if cand.take(1):
        tf_deleted = spark.read.parquet(
            *[os.path.join(index_dir, p) for p in paths["tf"]]
        ).join(ids, "doc_id", "left_semi")
        ddf = tf_deleted.join(
            F.broadcast(cand.select("term")), "term", "left_semi"
        ).groupBy("term").agg(F.countDistinct("doc_id").alias("ddf"))
        factor = lambda c: F.ceil(c.cast("double") / F.lit(float(hot_span)))
        changed_terms = [
            r["term"]
            for r in cand.join(ddf, "term")
            .filter(factor(F.col("df")) != factor(F.col("df") - F.col("ddf")))
            .select("term")
            .collect()
        ]
    if changed_terms:
        extra = {
            int(r["shard"])
            for r in _read_structure(spark, index_dir, paths)
            .filter(F.col("term").isin(changed_terms))
            .select("shard")
            .distinct()
            .collect()
        }
        shards_del = sorted(set(shards_del) | extra)
    # surviving docs of the affected shards = the re-encode input
    meta_affected = meta_all.filter(F.col("shard").isin(shards_del))
    tf_enc = tf_all.join(meta_affected.select("doc_id"), "doc_id", "left_semi")
    # positions artifact survives deletes AS-IS: position lists are
    # doc-local and placement is unchanged; the tombstoned docs' rows
    # stay on disk but the phrase kernel only scores docs present in
    # the (re-encoded, dead-doc-free) postings, so they can never
    # surface.  Compaction physically drops them.
    if paths.get("positions") is not None and int(
        manifest.get("positions_version", -1)
    ) == int(manifest.get("version", 0)):
        manifest["positions_version"] = version
    return _update_derived(
        spark, index_dir, manifest, cfg, tf_all, tf_enc, meta_all,
        owned_shards=shards_del, struct_rel=f"structure_del_v{version}.parquet",
        version=version, phase_name=f"delete_v{version}", t_start=t_start,
        paths_update={"tombstones": tomb_rel},
        meta_enc=meta_affected,
    )


def maybe_compact(
    spark: SparkSession,
    index_dir: str,
    max_structure_files: int = 8,
    max_stale_deltas: int = 4,
) -> BuildResult | None:
    """Maintenance policy hook for ingest loops, in escalation order:

    1. fold generations (``compact``) once the structure owner map
       spans more than ``max_structure_files`` distinct files — each
       un-compacted delta adds a generation of shards, growing query
       fan-out and the per-query k-row merge width (compaction also
       refreshes scores, closing any staleness window);
    2. otherwise close the bounded-staleness window
       (:func:`refresh_scores`) once ``stale_deltas`` — deferred-mode
       adds since the last refresh — reaches ``max_stale_deltas``.

    Steady-state ingest = ``add_documents(refresh_scores=False)`` +
    this after every add: the O(corpus) score map is paid once per K
    deltas instead of per delta.  Returns the compaction/refresh
    result, or None while under both thresholds (cheap: one manifest
    read, no Spark job)."""
    manifest = load_manifest(index_dir)
    n_files = len(set(index_paths(manifest)["structure"].values()))
    if n_files > max_structure_files:
        return compact(spark, index_dir)
    if int(manifest["stale_deltas"]) >= max_stale_deltas:
        return refresh_scores(spark, index_dir)
    return None


def compact(spark: SparkSession, index_dir: str) -> BuildResult:
    """Consolidate all tf generations into one live parquet and clear
    the tombstone set (after which previously-deleted ids may be
    re-added).  Derived state is rebuilt from the compacted tf, so the
    result is indistinguishable from a fresh build over the live
    corpus; old generation/version dirs become garbage (left on disk —
    prune externally once no reader holds the old manifest)."""
    manifest = load_manifest(index_dir)
    cfg = _load_cfg(manifest, index_dir)
    paths = index_paths(manifest)
    version = int(manifest.get("version", 0)) + 1
    t_start = time.time()

    tombs = _tombstones(spark, index_dir, manifest)
    tf_all = spark.read.parquet(*[os.path.join(index_dir, p) for p in paths["tf"]])
    if tombs is not None:
        tf_all = tf_all.join(tombs.select("doc_id"), "doc_id", "left_anti")
    tf_rel = f"tf_compact_v{version}.parquet"
    write_parquet(tf_all, os.path.join(index_dir, tf_rel))
    tf_live = spark.read.parquet(os.path.join(index_dir, tf_rel))
    # fold generation shards back to canonical hash placement — after
    # this the index is byte-identical to a fresh build over the live
    # corpus and query fan-out returns to n_shards
    meta_live = spark.read.parquet(
        *[os.path.join(index_dir, p) for p in paths["docmeta"]]
    ).withColumn("shard", F.pmod(F.xxhash64("doc_id"), F.lit(cfg.n_shards)).cast("int"))
    manifest["next_shard_base"] = cfg.n_shards
    # positions: carry through compaction by shard-remapping the
    # existing rows (doc-local lists never change — no re-tokenize;
    # the remap's inner join against live docmeta also drops the
    # tombstoned docs' rows).  A stale artifact can't be remapped
    # (its rows may not match the live corpus) — drop its pointer in
    # the same atomic save instead.
    drop_keys = ("tombstones",)
    if paths.get("positions") is not None:
        if int(manifest.get("positions_version", -1)) == int(
            manifest.get("version", 0)
        ):
            from .positions import remap_positions_for_compact

            manifest["paths"] = {
                **manifest["paths"],
                "positions": remap_positions_for_compact(
                    spark, index_dir, paths, meta_live, cfg.n_shards, version
                ),
            }
            manifest["positions_version"] = version
        else:
            drop_keys = ("tombstones", "positions")
            manifest.pop("positions_version", None)
    # tombstones are folded into the compacted tf -> drop the pointer
    # inside _update_derived's single atomic manifest save
    return _update_derived(
        spark, index_dir, manifest, cfg, tf_live, tf_live, meta_live,
        owned_shards=list(range(cfg.n_shards)),
        struct_rel=f"structure_compact_v{version}.parquet",
        version=version, phase_name=f"compact_v{version}", t_start=t_start,
        paths_update={"tf": [tf_rel]}, reset_owners=True,
        drop_path_keys=drop_keys,
    )


def index_report(index_dir: str) -> dict:
    """Operability snapshot of an index directory — the segments/stats
    diagnostic (Elasticsearch _segments/_stats analogue), manifest +
    filesystem only: NO Spark session, NO data scan, safe to call from
    monitoring.  Returns:

    - ``version`` / ``format`` — manifest generation counter + codec id
    - ``live_docs`` / ``epoch_docs`` — serving corpus size vs the score
      epoch's (they differ inside a bounded-staleness window)
    - ``avgdl``, ``n_shards``, ``total_tokens``, ``n_postings``
    - ``tf_generations`` — un-compacted generation count (query merge
      width grows ~1 per un-compacted delta)
    - ``stale_deltas`` — deltas serving epoch-stale scores: each
      deferred add's commit raises it, and the commit of every op that
      re-scores the index (refresh, exact add, merge, delete, compact)
      resets it together with ``stale_delta_scores_bytes``
    - ``has_tombstones`` — deleted docs pending a compact fold
    - ``positions`` — "current" | "stale-dropped" | "absent"
    - ``structure_files`` / ``payload_bytes_on_disk`` — physical file
      count + bytes under the current structure/score pointers
    """
    manifest = load_manifest(index_dir)
    p = index_paths(manifest)
    m = manifest.get("metrics", {})
    sc_p = p["scores"]
    rels = set(p["structure"].values()) | (
        {sc_p} if isinstance(sc_p, str) else set(sc_p.values())
    )
    n_files = 0
    n_bytes = 0
    for rel in sorted(rels):
        d = os.path.join(index_dir, rel)
        if not os.path.isdir(d):
            continue
        for f in os.listdir(d):
            fp = os.path.join(d, f)
            if os.path.isfile(fp) and not f.startswith(("_", ".")):
                n_files += 1
                n_bytes += os.path.getsize(fp)
    if p.get("positions") is None:
        positions = "absent"
    elif int(manifest.get("positions_version", -1)) == int(manifest.get("version", 0)):
        positions = "current"
    else:
        positions = "stale-dropped"
    return {
        "version": int(manifest.get("version", 0)),
        "format": manifest.get("format"),
        "live_docs": int(m.get("live_total_docs", m.get("total_docs", 0))),
        "epoch_docs": int(m.get("total_docs", 0)),
        "avgdl": float(m.get("avgdl", 0.0)),
        "n_shards": len(p["structure"]),
        "total_tokens": int(m.get("total_tokens", 0)),
        "n_postings": int(m.get("n_postings", 0)),
        "tf_generations": len(p["tf"]),
        "stale_deltas": int(manifest.get("stale_deltas", 0)),
        "has_tombstones": p.get("tombstones") is not None,
        "positions": positions,
        "structure_files": n_files,
        "payload_bytes_on_disk": n_bytes,
    }
