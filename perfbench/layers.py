"""Per-layer measurement for the traced run.

Three sources, all outside the engine:

- spans kept in memory as (call, layer, start, end, parent) around each
  public call and each replayed layer, written out when the run ends;
- Spark's event log: every call sets its own job group, so each task's
  run time, CPU time, shuffle bytes and bytes sent to Python workers is
  charged to the call that launched it;
- layer replays on the same inputs through public functions only: the
  term-pruned ``build.postings_view`` scan, the same scan pushed through
  a no-op ``groupBy("shard").applyInPandas`` (exchange + Arrow
  crossing), and ``codec.decode_docs_scores`` over the scanned rows.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import functions as F

from wikitfidf_spark.index import codec
from wikitfidf_spark.index.build import load_manifest, postings_view


class Tracer:
    """Spans of one traced run, and the Spark job group of the span in
    progress (``idle`` between spans)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[tuple[str, str, float, float, str | None]] = []

    def begin_call(self, label: str) -> None:
        self.sc.setJobGroup(label, label)

    def end_call(self, label: str, t0: float, t1: float, layer: str = "call") -> None:
        self.spans.append((label, layer, t0, t1, None))
        self.sc.setJobGroup("idle", "idle")

    @contextmanager
    def span(self, call: str, layer: str):
        self.begin_call(call)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.end_call(call, t0, time.perf_counter(), layer)

    def last(self, call: str, layer: str) -> float:
        return next(e - s for c, lay, s, e, _ in reversed(self.spans) if c == call and lay == layer)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for call, layer, s, e, parent in self.spans:
                f.write(json.dumps({"call": call, "layer": layer, "start": s,
                                    "end": e, "parent": parent}) + "\n")


def spark_by_group(event_dir: str) -> dict[str, dict[str, float]]:
    """Job group -> summed jobs, stages, tasks, executor run/CPU seconds,
    shuffle bytes written and bytes sent to Python workers, from the
    (uncompressed) event log of a stopped session."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(g: str) -> dict[str, float]:
        return out.setdefault(g, dict.fromkeys(
            ("jobs", "stages", "tasks", "run_s", "cpu_s", "shuffle_bytes", "python_bytes"), 0.0))

    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                    acc(g)["jobs"] += 1
                    for s in e["Stage IDs"]:
                        stage_group.setdefault(s, g)
                elif kind == "SparkListenerStageSubmitted":
                    acc(stage_group.get(e["Stage Info"]["Stage ID"], "none"))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    a = acc(stage_group.get(e["Stage ID"], "none"))
                    m = e.get("Task Metrics") or {}
                    a["tasks"] += 1
                    a["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    a["python_bytes"] += sum(
                        int(x.get("Update", 0)) for x in e["Task Info"].get("Accumulables", [])
                        if x.get("Name") == "data sent to Python workers"
                    )
    return out


def _noop_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"shard": [int(key[0])]})


def replay_scan(spark, tracer: Tracer, index_dir: str, terms: list[str]) -> dict[str, float]:
    """Scan, exchange + Arrow crossing, and decode for one call's terms."""
    rows = postings_view(spark, index_dir).filter(F.col("term").isin(terms))
    with tracer.span("replay:scan", "query.scan"):
        r = rows.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("docs_payload") + F.length("scores_payload")).alias("b"),
        ).collect()[0]
    with tracer.span("replay:exchange", "query.exchange_arrow"):
        rows.groupBy("shard").applyInPandas(_noop_shard, "shard int").collect()
    enc = rows.select(
        "n_docs", "docs_payload", "block_counts", "block_firsts", "scores_payload"
    ).collect()
    decoded = 0
    t0 = time.perf_counter()
    for row in enc:
        decoded += len(codec.decode_docs_scores(row)[0])
    decode_s = time.perf_counter() - t0
    tracer.spans.append(("replay:decode", "codec.decode", t0, t0 + decode_s, None))
    return {
        "query.scan_s": tracer.last("replay:scan", "query.scan"),
        "query.scan_rows": float(r["n"]),
        "query.scan_payload_bytes": float(r["b"] or 0),
        "query.exchange_arrow_s": tracer.last("replay:exchange", "query.exchange_arrow"),
        "codec.decode_s": decode_s,
        "codec.postings_decoded": float(decoded),
        "codec.postings_per_s": decoded / decode_s if decode_s else 0.0,
    }


def build_layers(index_dir: str) -> dict[str, float]:
    m = load_manifest(index_dir)
    ph = m["phases"]
    return {
        "build.tf_s": ph["tf"]["wall_sec"],
        "build.doclens_s": ph["doclens"]["wall_sec"],
        "build.dictionary_s": ph["dictionary"]["wall_sec"],
        "build.structure_s": ph["structure"]["wall_sec"],
        "build.docmeta_s": ph["docmeta"]["wall_sec"],
        "build.postings_per_s": float(m["metrics"]["postings_per_sec"]),
        "positions.build_s": next(p["wall_sec"] for k, p in ph.items() if k.startswith("positions")),
    }


def storage(index_dir: str) -> tuple[int, int]:
    """(live, garbage) bytes: live = files under the paths the current
    manifest references, plus the manifest; garbage = everything else."""
    refs: set[str] = set()

    def walk(v) -> None:
        if isinstance(v, str):
            refs.add(v.split("/")[0])
        elif isinstance(v, dict):
            for x in v.values():
                walk(x)
        elif isinstance(v, list):
            for x in v:
                walk(x)

    walk(load_manifest(index_dir)["paths"])
    live = garbage = 0
    for entry in os.listdir(index_dir):
        p = os.path.join(index_dir, entry)
        size = (
            sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(p) for f in fs)
            if os.path.isdir(p) else os.path.getsize(p)
        )
        if entry in refs or entry == "manifest.json":
            live += size
        else:
            garbage += size
    return live, garbage


def ingest_layers(steps, calls) -> dict[str, float]:
    """Medians over an ingest loop's steps and its read calls."""
    def med(op: str) -> float:
        return statistics.median(s.seconds for s in steps if s.op == op)

    adds = [s for s in steps if s.op == "add"]
    refreshes = [s for s in steps if s.op == "refresh"]
    out = {
        "ingest.add_s": med("add"),
        "ingest.delta_encode_s": statistics.median(s.encode_s for s in adds),
        "ingest.refresh_s": med("refresh"),
        "ingest.reopen_s": med("reopen"),
        "ingest.compact_s": med("compact"),
        "ingest.docs_per_s": sum(s.docs for s in adds)
        / (sum(s.seconds for s in adds) + sum(s.seconds for s in refreshes)),
    }
    for tag in ("stale", "fresh", "compacted"):
        out[f"ingest.read_call_s.{tag}"] = statistics.median(c.seconds for c in calls if c.tag == tag)
    return out
