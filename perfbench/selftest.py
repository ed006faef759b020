"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py          # fast checks, no Spark
    python3 perfbench/selftest.py --e2e    # also runs run.py for real (~3 min)

Fast checks drive the workload loops against a stand-in index that
answers from the reference, so they cover the loop, the recording and
the output check without a Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import Row  # noqa: E402

from perfbench import workloads as w  # noqa: E402
from perfbench.reference import Reference  # noqa: E402
from wikitfidf_spark.operators.scoring import QUANT  # noqa: E402

SEED = 987_654_321   # distinctive, so a leak into an engine argument is visible
COLUMNS = {
    "topk_batch": "query_id doc_id score_q score rank",
    "phrase_topk_batch": "query_id doc_id score_q score rank",
    "wildcard_topk_batch": "query_id doc_id score_q score rank",
    "more_like_this_batch": "query_id src_doc_id doc_id score_q score rank",
    "collapse_topk_batch": "query_id topic doc_id score_q score",
    "facet_counts_batch": "query_id topic n_docs",
    "facet_histogram_batch": "query_id bucket_start bucket_end n_docs",
    "facet_stats_batch": "query_id n_docs min_v max_v sum_v avg_v median_v",
    "suggest_batch": "query_id term dist df",
}


class _Result:
    def __init__(self, rows) -> None:
        self.rows = rows

    def collect(self):
        return self.rows


class FakeIndex:
    """Answers every call from the reference, records its arguments, and
    can corrupt one row of the n-th call, or return that row twice."""

    def __init__(self, ref: Reference, corrupt_call: int | None = None,
                 duplicate: bool = False) -> None:
        self.ref, self.corrupt_call, self.duplicate, self.args = ref, corrupt_call, duplicate, []

    def _answer(self, api: str, args: tuple, expected: set) -> _Result:
        self.args.append((api, args))
        rows = [_row(api, t) for t in sorted(expected, key=repr)]
        if len(self.args) - 1 == self.corrupt_call and self.duplicate:
            rows.append(rows[0])
        elif len(self.args) - 1 == self.corrupt_call:
            d = rows[0].asDict()
            d[next(k for k in ("score_q", "n_docs", "df") if k in d)] += 1
            if "score" in d:
                d["score"] = d["score_q"] / QUANT
            rows[0] = Row(**d)
        return _Result(rows)

    def topk_batch(self, qs):
        return self._answer("topk_batch", (qs,), self.ref.topk_batch(qs))

    def phrase_topk_batch(self, ps):
        return self._answer("phrase_topk_batch", (ps,), self.ref.phrase_topk_batch(ps))

    def facet_counts_batch(self, panels, facet):
        return self._answer("facet_counts_batch", (panels, facet),
                            self.ref.facet_counts_batch(panels))

    def facet_histogram_batch(self, panels, col, edges):
        return self._answer("facet_histogram_batch", (panels, col, edges),
                            self.ref.facet_histogram_batch(panels, edges))

    def facet_stats_batch(self, panels, col):
        return self._answer("facet_stats_batch", (panels, col), self.ref.facet_stats_batch(panels))

    def collapse_topk_batch(self, panels, field, k):
        return self._answer("collapse_topk_batch", (panels, field, k),
                            self.ref.collapse_topk_batch(panels, k))

    def wildcard_topk_batch(self, panels, k, max_expansions):
        return self._answer("wildcard_topk_batch", (panels, k, max_expansions),
                            self.ref.wildcard_topk_batch(panels, k, max_expansions))

    def suggest_batch(self, lookups, max_dist, n):
        return self._answer("suggest_batch", (lookups, max_dist, n),
                            self.ref.suggest_batch(lookups, max_dist, n))

    def more_like_this_batch(self, doc_ids, m, k):
        return self._answer("more_like_this_batch", (doc_ids, m, k),
                            self.ref.more_like_this_batch(doc_ids, m, k))


def _row(api: str, t: tuple) -> Row:
    names = COLUMNS[api].split()
    vals = list(t)
    if "score" in names:
        i = names.index("score")
        vals.insert(i, vals[i - 1] / QUANT)
    return Row(**dict(zip(names, vals)))


def _fixture(seed: int = SEED, corrupt_call: int | None = None, duplicate: bool = False):
    inp = w.make_inputs(seed, n_docs=200)
    c = inp.corpus
    ids = {k: i for i, k in enumerate(zip(c["repo"], c["path"], c["commit"]))}
    ref = Reference()
    ref.add(w.ref_rows(c, ids))
    mlt = [ids[(c["repo"].iat[i], c["path"].iat[i], c["commit"].iat[i])] for i in inp.mlt_rows]
    return inp, ref, mlt, FakeIndex(ref, corrupt_call, duplicate)


def _loops(inp, ref, mlt, idx) -> w.Client:
    client = w.Client()
    w.run_topk_wide(client, idx, ref, inp, seconds=0)
    w.run_families_narrow(client, idx, ref, inp, mlt, seconds=0)
    return client


def test_same_seed_same_inputs() -> None:
    a, b, c = (w.make_inputs(s, n_docs=200) for s in (5, 5, 6))
    for field in a.__dataclass_fields__:
        x, y = getattr(a, field), getattr(b, field)
        if field in ("corpus", "delta"):
            assert x.equals(y), field
        else:
            assert x == y, field
    assert not a.corpus.equals(c.corpus) and a.topk_wide != c.topk_wide


def test_engine_sees_only_generated_inputs() -> None:
    inp, ref, mlt, idx = _fixture()
    _loops(inp, ref, mlt, idx)

    def leaks(v) -> bool:
        if isinstance(v, (list, tuple, set)):
            return any(leaks(x) for x in v)
        if isinstance(v, dict):
            return any(leaks(x) for x in v.values())
        if hasattr(v, "__dataclass_fields__"):
            return any(leaks(getattr(v, f)) for f in v.__dataclass_fields__)
        return v == SEED or (isinstance(v, str) and str(SEED) in v)

    assert idx.args, "the loops made no calls"
    assert not any(leaks(a) for a in idx.args)
    assert "seed" not in w.Inputs.__dataclass_fields__


def test_correct_rows_pass_and_a_corrupted_row_fails() -> None:
    client = _loops(*_fixture())
    assert client.check() == 0
    # a topk row, a facet count, a histogram bucket changed; a topk row
    # and a facet count returned twice
    for n, duplicate in ((0, False), (4, False), (5, False), (0, True), (4, True)):
        client = _loops(*_fixture(corrupt_call=n, duplicate=duplicate))
        failed = client.check()
        assert failed == 1, (n, duplicate, failed)
        assert failed / len(client.calls) > 0


def test_exits_nonzero_without_the_engine() -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    out = subprocess.run(
        spec["command"] + ["--workload", "topk_wide", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    shutil.rmtree(bare)
    assert out.returncode != 0 and not out.stdout.strip(), out


def e2e_metric_names_match_benchmark_json() -> None:
    """Both trace modes print exactly BENCHMARK.json's metrics and units."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out = subprocess.run(
            spec["command"] + ["--workload", "topk_wide", "--seed", "3", "--seconds", "1",
                               "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        res = json.loads(out.stdout.strip().splitlines()[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == want, set(got) ^ set(want)


def main() -> int:
    tests = [v for k, v in globals().items() if k.startswith("test_")]
    if "--e2e" in sys.argv:
        tests.append(e2e_metric_names_match_benchmark_json)
    for t in tests:
        t()
        print(f"ok   {t.__name__}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
