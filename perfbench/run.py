"""Benchmark of record for the wikitfidf_spark BM25 index.

    python3 perfbench/run.py --workload topk_wide --seed 1 --seconds 18 --trace 0

Run from the repository root.  One closed-loop client in this process
on ``local[<cores / 2>]``.  Every run generates its inputs from
``--seed``, sets the index up (corpus generation, ``build_index``,
``build_positions``), measures the workload for ``--seconds``, checks
every result against the pure-Python reference, and prints one JSON
object as the last line of stdout.  ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json; ``--trace 1`` reports its
per-layer metrics (see NOTES.md for the method).  Logs go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def parse_args(argv=None) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not 0 <= args.seed < 2**31 - 2:  # numpy seeds the generators with seed and seed + 1
        p.error("--seed must be in [0, 2**31 - 2)")
    return args


def start_spark(trace: bool):
    from wikitfidf_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(WORK, "events")
        shutil.rmtree(events, ignore_errors=True)
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # a running task keeps two processes busy, its JVM thread and the
    # Python worker it streams Arrow batches to, so half the cores fill
    # the machine; local[<all cores>] oversubscribes it (see NOTES.md)
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     driver_memory="2g", extra_conf=conf), cores


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def setup(spark, seed: int, index_dir: str, cores: int) -> float:
    """Generate the corpus, build the index and its positions; seconds."""
    from wikitfidf_spark.corpus import make_code_files
    from wikitfidf_spark.index.build import IndexConfig, build_index
    from wikitfidf_spark.index.positions import build_positions

    from perfbench.workloads import N_DOCS

    shutil.rmtree(index_dir, ignore_errors=True)
    t0 = time.perf_counter()
    corpus = make_code_files(spark, n_docs=N_DOCS, seed=seed).cache()
    corpus.count()
    build_index(spark, corpus, index_dir, IndexConfig(n_shards=cores, n_salts=cores), resume=False)
    build_positions(spark, corpus, index_dir)
    dt = time.perf_counter() - t0
    corpus.unpersist()
    return dt


class Run:
    """One measured window of a workload."""

    def __init__(self, spark, workload: str, inp, setup_dir: str, ids: dict,
                 seconds: float, tracer=None, prefix: str = "c", warmup: bool = True) -> None:
        from wikitfidf_spark.index.query import InvertedIndex

        from perfbench import workloads as w

        ref = new_ref(inp, ids)
        self.client = w.Client(tracer, prefix)
        idx = InvertedIndex(spark, setup_dir)
        if workload == "topk_wide":
            self.window = w.run_topk_wide(self.client, idx, ref, inp, seconds, warmup)
        else:
            self.window = w.run_families_narrow(
                self.client, idx, ref, inp, mlt_ids(inp, ids), seconds, warmup)
        self.measured = [c for c in self.client.calls if c.tag != "warmup"]

    def qps(self) -> float:
        return sum(c.n_queries for c in self.measured) / self.window


def new_ref(inp, ids: dict):
    from perfbench.reference import Reference
    from perfbench.workloads import ref_rows

    ref = Reference()
    ref.add(ref_rows(inp.corpus, ids))
    return ref


def mlt_ids(inp, ids: dict) -> list[int]:
    c = inp.corpus
    return [ids[(c["repo"].iat[i], c["path"].iat[i], c["commit"].iat[i])] for i in inp.mlt_rows]


def end_to_end(run: Run, setup_s: float, setup_dir: str, inp) -> dict[str, float]:
    from perfbench.layers import storage
    from perfbench.workloads import token_count

    return {
        "setup_s": setup_s,
        "qps": run.qps(),
        "call_p50_s": statistics.median(c.seconds for c in run.measured),
        "bytes_per_token": storage(setup_dir)[0] / token_count(inp.corpus),
    }


def per_layer(spark, workload: str, inp, setup_dir: str, ids: dict, seconds: float):
    """The traced run: family rounds (topk_wide) and layer replays, an
    untraced and a traced window, then one ingest cycle on a copy of the
    index.
    Returns (metrics, attempted, failed, traced window)."""
    from wikitfidf_spark.index.query import InvertedIndex

    from perfbench import layers as L
    from perfbench import workloads as w

    tracer = L.Tracer(spark.sparkContext)
    out = L.build_layers(setup_dir)
    clients = []

    # topk_wide calls one family only: replay all of them, a warm-up
    # round and then the round that is measured
    fam = w.Client(tracer, "f")
    ref = new_ref(inp, ids)
    if workload == "topk_wide":
        idx = InvertedIndex(spark, setup_dir)
        for tag in ("warmup", ""):
            for api, n, run, exp in w.family_calls(idx, ref, inp, mlt_ids(inp, ids)):
                fam.call(api, n, run, exp, tag=tag)
        clients.append(fam)

    batch = inp.topk_wide[0] if workload == "topk_wide" else inp.topk_narrow
    out.update(L.replay_scan(spark, tracer, setup_dir, sorted({t for q in batch for t in q.terms})))
    out["query.postings_per_result"] = out["codec.postings_decoded"] / len(ref.topk_batch(batch))

    # half a window each, so the traced run stays within its time limit;
    # the plain window's warm-up calls warm the session for both
    plain = Run(spark, workload, inp, setup_dir, ids, seconds / 2)
    traced = Run(spark, workload, inp, setup_dir, ids, seconds / 2, tracer, "w", warmup=False)
    clients += [plain.client, traced.client]
    out["trace.overhead_frac"] = (plain.qps() - traced.qps()) / plain.qps()

    ingest = w.Client(tracer, "i")
    ingest_dir = os.path.join(WORK, "ingest")
    steps, delta_tokens = w.ingest_cycle(
        ingest, spark, new_ref(inp, ids), inp, setup_dir, ingest_dir)
    clients.append(ingest)
    out.update(L.ingest_layers(steps, ingest.calls))
    live, garbage = L.storage(ingest_dir)
    out["storage.live_bytes"] = float(live)
    out["storage.garbage_bytes"] = float(garbage)
    out["storage.bytes_written_per_token"] = (live + garbage) / (
        w.token_count(inp.corpus) + delta_tokens)

    fam_calls = [c for c in fam.calls if c.tag != "warmup"] + (
        traced.measured if workload == "families_narrow" else [])
    for api in sorted({c.api for c in fam_calls}):
        out[f"family.{api}.call_s"] = statistics.median(c.seconds for c in fam_calls if c.api == api)

    attempted = sum(len(c.calls) for c in clients)
    failed = sum(c.check() for c in clients)
    tracer.write(os.path.join(WORK, "traces", f"{workload}.jsonl"))
    return out, attempted, failed, traced


def spark_layers(traced: Run) -> dict[str, float]:
    """Per-call Spark runtime metrics of the traced window, from the
    event log of the stopped session."""
    from perfbench.layers import spark_by_group

    groups = spark_by_group(os.path.join(WORK, "events"))
    labels = [c.label for c in traced.measured]
    n = len(labels)

    def per_call(key: str) -> float:
        return sum(groups.get(g, {}).get(key, 0.0) for g in labels) / n

    return {
        "spark.jobs_per_call": per_call("jobs"),
        "spark.stages_per_call": per_call("stages"),
        "spark.tasks_per_call": per_call("tasks"),
        "spark.executor_run_s_per_call": per_call("run_s"),
        "spark.executor_cpu_s_per_call": per_call("cpu_s"),
        "spark.shuffle_bytes_per_call": per_call("shuffle_bytes"),
        "spark.python_bytes_sent_per_call": per_call("python_bytes"),
    }


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    try:
        import wikitfidf_spark  # noqa: F401  the program under test
    except ImportError as e:
        log(f"perfbench: cannot import the engine from {ROOT}: {e}")
        return 2
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    from perfbench.workloads import make_inputs

    # Python workers import the engine (and the no-op replay kernel) by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # one string-hash layout in every worker, run after run
    os.environ["PYTHONHASHSEED"] = "0"
    os.makedirs(WORK, exist_ok=True)
    setup_dir = os.path.join(WORK, "index")
    # the inputs are generated while the JVM starts (neither is timed)
    with ThreadPoolExecutor(1) as pool:
        pending = pool.submit(make_inputs, args.seed)
        spark, cores = start_spark(bool(args.trace))
        try:
            inp = pending.result()
        except BaseException:
            stop_spark(spark)
            raise
    try:
        # one cold set-up per run: the run budget leaves no room for more
        setup_s = setup(spark, args.seed, setup_dir, cores)
        from perfbench.workloads import doc_ids

        ids = doc_ids(spark, setup_dir)
        if args.trace:
            metrics, attempted, failed, traced = per_layer(
                spark, args.workload, inp, setup_dir, ids, args.seconds)
        else:
            run = Run(spark, args.workload, inp, setup_dir, ids, args.seconds)
            metrics = end_to_end(run, setup_s, setup_dir, inp)
            attempted, failed = len(run.client.calls), run.client.check()
            log(f"calls: {[(c.api, round(c.seconds, 3)) for c in run.client.calls]}")
    finally:
        stop_spark(spark)
    if args.trace:
        metrics.update(spark_layers(traced))
    shutil.rmtree(os.path.join(WORK, "index"), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "ingest"), ignore_errors=True)

    if set(metrics) != set(wanted):
        log(f"perfbench: metrics {sorted(set(metrics) ^ set(wanted))} differ from BENCHMARK.json")
        return 3
    log(f"failed_frac: {failed / attempted} ({failed} of {attempted} calls)")
    for k in sorted(metrics):
        log(f"  {k}: {metrics[k]:.6g} {wanted[k]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": wanted[k]} for k in sorted(metrics)},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
