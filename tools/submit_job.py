"""spark-submit entry point for the north-rule job: synthetic code
corpus → posting-list index build → batched BM25 top-k through
InvertedIndex.topk_batch.

Run (the packaging the north_rule requires — no repo on the PYTHONPATH,
the library ships as a --py-files zip):

    zip -qr /tmp/wtf_spark.zip wikitfidf_spark -x '*__pycache__*'
    spark-submit --master local[N] --py-files /tmp/wtf_spark.zip \
        tools/submit_job.py --docs 20000 --queries 100

Prints ONE JSON line on stdout with build/query wall times and
throughputs; bench_scaling.py runs it at two parallelism levels to
measure scaling efficiency.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time


def run_merge_mode(args) -> None:
    """The partitioned-build + merge shape (BENCH.md 'parallel
    partitioned builds'): K independent slice builds — at real scale
    these run on K disjoint clusters with ZERO coordination, so the
    parallel wall is max(slice walls) — folded together with ONE
    k-way merge_indexes call (O(Σ src postings), no dst shard
    re-encoded, fixed per-merge costs paid once instead of k-1 times)
    and finished with compact (byte-identical to a monolithic build,
    test-asserted).  Reports every component so the merge tree's
    overhead is measurable against the monolithic wall."""
    import os

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from wikitfidf_spark.corpus import make_code_files, bench_query_mix
    from wikitfidf_spark.index.build import (
        IndexConfig, build_index, compact, load_manifest, merge_indexes,
    )
    from wikitfidf_spark.index.query import InvertedIndex

    spark = SparkSession.builder.getOrCreate()
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(cores))
    k = max(2, args.slices)

    corpus = make_code_files(spark, n_docs=args.docs, seed=42).cache()
    corpus.count()  # materialize outside every timed section
    cfg = IndexConfig(n_shards=args.shards or cores, n_salts=8)

    base_dir = args.index_dir or f"/tmp/wtf_submit_merge_{cores}c_{args.docs}d"
    shutil.rmtree(base_dir, ignore_errors=True)
    os.makedirs(base_dir)
    slice_col = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(k))

    slice_secs = []
    for i in range(k):
        d = os.path.join(base_dir, f"slice{i}")
        t0 = time.time()
        build_index(spark, corpus.filter(slice_col == i), d, cfg, resume=False)
        slice_secs.append(round(time.time() - t0, 3))

    # fold slices 1..k-1 into slice 0 with ONE k-way merge; deferred
    # score refresh, one exact refresh at the end via compact (the
    # production policy — per-merge exact refresh would recompute the
    # O(corpus) score map for the same final state)
    dst = os.path.join(base_dir, "slice0")
    t0 = time.time()
    merge_indexes(
        spark, dst,
        [os.path.join(base_dir, f"slice{i}") for i in range(1, k)],
        refresh_scores=False,
    )
    merge_secs = [round(time.time() - t0, 3)]
    t0 = time.time()
    compact(spark, dst)
    compact_sec = round(time.time() - t0, 3)

    idx = InvertedIndex(spark, dst)
    queries = bench_query_mix(args.queries)
    idx.topk_batch(queries[:4]).count()
    query_sec, n_rows = float("inf"), 0
    for _ in range(max(1, args.query_reps)):
        t0 = time.time()
        n_rows = idx.topk_batch(queries).count()
        query_sec = min(query_sec, time.time() - t0)

    n_postings = int(load_manifest(dst)["metrics"]["n_postings"])
    parallel_wall = round(max(slice_secs) + sum(merge_secs) + compact_sec, 3)
    serveable_wall = round(max(slice_secs) + sum(merge_secs), 3)
    print(json.dumps({
        "mode": "merge",
        "cores": cores,
        "n_docs": args.docs,
        "slices": k,
        "slice_build_secs": slice_secs,
        "slice_wall_max": max(slice_secs),
        "slice_wall_sum": round(sum(slice_secs), 3),
        "merge_secs": merge_secs,
        "merge_sec_total": round(sum(merge_secs), 3),
        "compact_sec": compact_sec,
        # what K disjoint clusters + a fold pay end-to-end
        "parallel_wall_sec": parallel_wall,
        # the index serves (epoch-stale scores) before compact
        "serveable_wall_sec": serveable_wall,
        "postings": n_postings,
        "postings_per_sec_parallel": round(n_postings / parallel_wall, 1),
        "n_queries": args.queries,
        "query_sec": round(query_sec, 3),
        "qps": round(args.queries / query_sec, 2),
        "result_rows": n_rows,
    }), flush=True)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=20000)
    ap.add_argument("--queries", type=int, default=100)
    ap.add_argument("--index-dir", default=None)
    ap.add_argument("--shards", type=int, default=None)
    ap.add_argument(
        "--reuse-index", action="store_true",
        help="serve from an existing --index-dir without rebuilding "
        "(query-only scaling reps: the build is the expensive part)",
    )
    ap.add_argument(
        "--query-reps", type=int, default=1,
        help="measured query-batch repetitions; the reported query_sec "
        "is the best (min) rep — filters shared-host noise",
    )
    ap.add_argument(
        "--mode", choices=("mono", "merge"), default="mono",
        help="mono: one monolithic build_index. merge: the 1000-executor "
        "shape — split the corpus into --slices, build each slice index "
        "independently, fold with one k-way merge_indexes, then compact; "
        "reports per-slice walls (max = the parallel-cluster wall), "
        "merge overhead and compact cost",
    )
    ap.add_argument("--slices", type=int, default=4)
    args = ap.parse_args()

    if args.mode == "merge":
        return run_merge_mode(args)

    from pyspark.sql import SparkSession

    from wikitfidf_spark.corpus import make_code_files, bench_query_mix
    from wikitfidf_spark.index.build import IndexConfig, build_index
    from wikitfidf_spark.index.query import InvertedIndex

    spark = SparkSession.builder.getOrCreate()
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(cores))

    idx_dir = args.index_dir or f"/tmp/wtf_submit_idx_{cores}c_{args.docs}d"
    if args.reuse_index:
        import os

        if not os.path.exists(os.path.join(idx_dir, "manifest.json")):
            print(f"--reuse-index: no index at {idx_dir}", file=sys.stderr)
            sys.exit(2)
        build_sec = 0.0
    else:
        shutil.rmtree(idx_dir, ignore_errors=True)

        corpus = make_code_files(spark, n_docs=args.docs, seed=42).cache()
        corpus.count()  # materialize outside the timed build

        t0 = time.time()
        build_index(spark, corpus, idx_dir,
                    IndexConfig(n_shards=args.shards or cores, n_salts=8), resume=False)
        build_sec = time.time() - t0

    idx = InvertedIndex(spark, idx_dir)
    queries = bench_query_mix(args.queries)
    idx.topk_batch(queries[:4]).count()  # warm-up: JIT + parquet footers
    query_sec, n_rows = float("inf"), 0
    for _ in range(max(1, args.query_reps)):
        t0 = time.time()
        n_rows = idx.topk_batch(queries).count()
        query_sec = min(query_sec, time.time() - t0)

    from wikitfidf_spark.index.build import load_manifest

    phase_walls = {
        k: round(v["wall_sec"], 4)
        for k, v in load_manifest(idx_dir)["phases"].items()
    }

    n_postings = int(load_manifest(idx_dir)["metrics"]["n_postings"])
    print(json.dumps({
        "cores": cores,
        "n_docs": args.docs,
        "build_sec": round(build_sec, 3),
        "phases": phase_walls,
        "postings": n_postings,
        "postings_per_sec": round(n_postings / build_sec, 1) if build_sec else None,
        "n_queries": args.queries,
        "query_sec": round(query_sec, 3),
        "qps": round(args.queries / query_sec, 2),
        "result_rows": n_rows,
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
