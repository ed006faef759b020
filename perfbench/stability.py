"""Run-to-run stability of the end-to-end metrics.

    python3 perfbench/stability.py --seeds 1-10 --out perfbench/stability/set1.json
    python3 perfbench/stability.py --compare perfbench/stability/set1.json perfbench/stability/set2.json

Runs ``run.py`` once per (workload, seed) at BENCHMARK.json's
``run_seconds`` and records, per workload and metric, the ten values,
their median and quartiles (``statistics.quantiles(values, n=4)``) and
the spread (q3 - q1) / median; likewise each run's wall time and the
CPU seconds the hypervisor gave to other guests during it (steal time,
from /proc/stat), so slow runs on a shared host can be told apart from
slow code.  ``--compare`` checks two such records against
BENCHMARK.json: every spread within its metric's bound, and the second
median no worse than the first by more than the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def steal_s() -> float:
    """Steal time of all vCPUs so far, in CPU seconds."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def measure(seed_list: list[int]) -> dict:
    s = spec()
    record: dict = {"run_seconds": s["run_seconds"], "seeds": seed_list, "workloads": {}}
    for w in (w["name"] for w in s["workloads"]):
        values: dict[str, list[float]] = {}
        walls, steals = [], []
        for seed in seed_list:
            t0, st0 = time.time(), steal_s()
            out = subprocess.run(
                s["command"] + ["--workload", w, "--seed", str(seed),
                                "--seconds", str(s["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                timeout=600,
            )
            walls.append(time.time() - t0)
            steals.append(steal_s() - st0)
            res = json.loads(out.stdout.strip().splitlines()[-1])
            if out.returncode or not res["correct"]:
                sys.exit(f"{w} seed {seed}: exit {out.returncode}, result {res}")
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{w} seed {seed}: {walls[-1]:.0f}s steal {steals[-1]:.1f}s "
                  + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
                  flush=True)
        record["workloads"][w] = {
            "run_wall_s": summarize(walls),
            "run_steal_s": summarize(steals),
            "metrics": {k: summarize(v) for k, v in values.items()},
        }
    return record


def compare(a: dict, b: dict) -> bool:
    ok = True
    for m in spec()["end_to_end"]:
        for w in a["workloads"]:
            x, y = a["workloads"][w]["metrics"][m["name"]], b["workloads"][w]["metrics"][m["name"]]
            worse = (y["median"] - x["median"]) / x["median"]
            if m["better"] == "higher":
                worse = -worse
            spreads = [x["spread"], y["spread"]]
            bad = worse > m["bound"] or max(spreads) > m["bound"]
            ok &= not bad
            print(f"{'FAIL' if bad else 'ok  '} {w:16s} {m['name']:22s} bound {m['bound']:.2f} "
                  f"spreads {spreads[0]:.3f} {spreads[1]:.3f}  second worse by {worse:+.3f}")
    return ok


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--out")
    p.add_argument("--compare", nargs=2)
    args = p.parse_args()
    if args.compare:
        a, b = (json.load(open(f)) for f in args.compare)
        return 0 if compare(a, b) else 1
    record = measure(seeds(args.seeds))
    for w, r in record["workloads"].items():
        for k, s in r["metrics"].items():
            print(f"{w:16s} {k:22s} median {s['median']:.4g} spread {s['spread']:.3f}")
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
