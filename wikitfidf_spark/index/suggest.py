"""Deletion-neighborhood fuzzy-suggest index (SymSpell-style).

The scan path (``InvertedIndex.suggest``) evaluates ``levenshtein``
against the whole length-banded vocabulary per query — fine at 10^5
terms, an O(vocab) scan per keystroke at 10^8.  The classic fix
(Garbe's SymSpell) precomputes, once, every string obtainable from each
dictionary term by deleting up to ``max_dist`` characters; two strings
within Levenshtein distance d ALWAYS share at least one such deletion
variant (deleting the characters touched by the edit script from each
side meets in the middle).  A query then:

1. generates ITS OWN ≤ max_dist deletes driver-side (a handful of
   strings — O(len^d)),
2. equi-joins them against the precomputed key table (term-point
   lookups against a key-sorted parquet — row-group pruning, no scan),
3. verifies the few candidates with the exact ``levenshtein`` and
   ranks (dist, df desc, term).

Build cost is O(vocab · len^d) rows written once and maintained like
any derived artifact; the per-query cost drops from O(vocab) to
O(candidates).  Key generation is pure JVM (``transform`` over a
``sequence`` + ``explode``) — no Python in the build either.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.topk import top_n_per_group
from .build import _save_manifest, index_paths, load_manifest, write_parquet
from .query import _check_unique_qids, _in_values, _qid


def _deletes_py(s: str, max_dist: int) -> set[str]:
    """All strings reachable from ``s`` by ≤ max_dist single-char
    deletions, INCLUDING ``s`` itself (the query-side mirror of the
    JVM build expression; tiny — used driver-side only)."""
    out = {s}
    frontier = {s}
    for _ in range(max_dist):
        nxt = set()
        for w in frontier:
            for i in range(len(w)):
                nxt.add(w[:i] + w[i + 1:])
        nxt -= out
        out |= nxt
        frontier = nxt
    return out


_DELETE1 = (
    "transform(sequence(1, length({c})), i -> "
    "concat(substring({c}, 1, i-1), substring({c}, i+1, length({c}))))"
)


def _delete_keys(df: DataFrame, col: str, max_dist: int) -> DataFrame:
    """(term, key) rows: key ranges over the ≤ max_dist deletion
    neighborhood of ``col`` (term itself included) — JVM codegen
    throughout.  The EMPTY variant is kept (a term of length ≤ max_dist
    may share only "" with a query — dropping it would silently miss
    matches the scan path finds; tests assert build/query symmetry
    with :func:`_deletes_py`); expansion just never recurses from ""
    (nothing to delete)."""
    out = df.select(col, F.col(col).alias("key"))
    frontier = out
    for _ in range(max_dist):
        frontier = (
            frontier.filter(F.length("key") > 0)
            .select(col, F.explode(F.expr(_DELETE1.format(c="key"))).alias("key"))
            .distinct()
        )
        out = out.unionByName(frontier)
    return out.distinct()


def build_suggest_index(
    spark: SparkSession, index_dir: str, max_dist: int = 2
) -> dict:
    """Materialize the deletion-neighborhood key table for the index's
    CURRENT dictionary: ``(key, term, df)`` sorted by key (point
    lookups prune row groups), registered in the manifest with a
    version stamp.  Rebuild after updates the same way the positions
    artifact is maintained — the build is O(vocab), independent of
    corpus size."""
    if max_dist < 1:
        raise ValueError(f"max_dist must be >= 1, got {max_dist}")
    manifest = load_manifest(index_dir)
    if not manifest.get("paths"):
        raise ValueError("no built index at " + index_dir)
    paths = index_paths(manifest)
    t0 = time.time()
    dictionary = spark.read.parquet(os.path.join(index_dir, paths["dictionary"]))
    rel = f"suggest_v{int(manifest.get('version', 0))}_d{max_dist}.parquet"
    keys = _delete_keys(dictionary.select("term"), "term", max_dist)
    write_parquet(
        keys.join(dictionary.select("term", "df"), "term")
        .repartition("key")
        .sortWithinPartitions("key")
        .select("key", "term", "df"),
        os.path.join(index_dir, rel),
    )
    manifest["paths"]["suggest"] = rel
    manifest["suggest_version"] = int(manifest.get("version", 0))
    manifest["suggest_max_dist"] = int(max_dist)
    _save_manifest(index_dir, manifest)
    return {"path": rel, "wall_sec": time.time() - t0}


def _open_suggest_table(
    spark: SparkSession, index_dir: str, max_dist: int
) -> DataFrame:
    """Validate the manifest's suggest artifact against the live
    dictionary version and the asked distance, and open it."""
    manifest = load_manifest(index_dir)
    paths = index_paths(manifest)
    rel = paths.get("suggest")
    if rel is None:
        raise ValueError("no suggest index: run build_suggest_index first")
    if int(manifest.get("suggest_version", -1)) != int(manifest.get("version", 0)):
        raise ValueError(
            "suggest index is stale (dictionary changed since build_suggest_index) "
            "— rebuild it"
        )
    built_d = int(manifest.get("suggest_max_dist", 0))
    if max_dist > built_d:
        raise ValueError(
            f"suggest index was built for max_dist <= {built_d}, asked {max_dist}"
        )
    return spark.read.parquet(os.path.join(index_dir, rel))


def suggest_indexed(
    spark: SparkSession,
    index_dir: str,
    query_term: str,
    max_dist: int = 1,
    n: int = 10,
) -> DataFrame:
    """Fuzzy suggest through the deletion-neighborhood index —
    identical results to the scan path (tests + the driver oracle
    assert it), O(candidates) instead of O(vocab) per query.
    One-panel :func:`suggest_indexed_batch`."""
    return suggest_indexed_batch(
        spark, index_dir, [(0, query_term)], max_dist, n
    ).drop("query_id")


def suggest_indexed_batch(
    spark: SparkSession,
    index_dir: str,
    queries: "list[tuple[int, str]]",
    max_dist: int = 1,
    n: int = 10,
) -> DataFrame:
    """Indexed fuzzy suggest for a batch of (query_id, term) lookups in
    ONE job → (query_id, term, dist, df), the ``n`` best per query by
    (dist asc, df desc, term asc).

    Plan: every query's deletion neighborhood is generated driver-side
    (tiny, O(len^d) strings each); their union pushes into the
    key-sorted table's scan as one ``IN`` (row-group pruning — point
    lookups, no scan) and one broadcast (key, query_id) panel
    equi-joins the survivors; candidates dedupe per (query_id, term),
    the exact ``levenshtein`` verifies against the query string
    carried on the panel, and one rank window per query cuts to ``n``.
    The table side stays O(candidates of the whole batch); shared keys
    between queries are scanned once."""
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    queries = [(_qid(qid), q) for qid, q in queries]
    _check_unique_qids(qid for qid, _ in queries)
    tbl = _open_suggest_table(spark, index_dir, max_dist)
    keys = [(qid, key, q) for qid, q in queries for key in sorted(_deletes_py(q, max_dist))]
    panel = spark.createDataFrame(keys, "query_id int, key string, q string")
    cand = (
        tbl.filter(_in_values("key", sorted({key for _, key, _ in keys})))
        .join(F.broadcast(panel), "key")
        .select("query_id", "q", "term", "df").distinct()
        .withColumn("dist", F.levenshtein(F.col("term"), F.col("q")))
        .filter(F.col("dist") <= F.lit(max_dist))
    )
    return (
        top_n_per_group(cand, ["query_id"], [F.asc("dist"), F.desc("df"), F.asc("term")], n)
        .select("query_id", "term", "dist", "df")
        .orderBy("query_id", F.asc("dist"), F.desc("df"), F.asc("term"))
    )
