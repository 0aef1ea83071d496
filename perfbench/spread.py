"""Run one workload on several seeds and report, per end-to-end metric, the
median and the spread (interquartile distance over median) of the runs,
next to the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload tx_ingest --seeds 1-10

A benchmark change is steady when every spread but ``setup_s``'s stays
well inside its bound.  Each run is a separate process, one at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.getcwd())

from perfbench import stats  # noqa: E402


def seeds_of(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi) + 1)) if hi else [int(s) for s in spec.split(",")]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="'1-10' or '3,5,8'")
    a = p.parse_args(argv)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in seeds_of(a.seeds):
        t = time.perf_counter()
        r = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        got = {k: v["value"] for k, v in res["metrics"].items()}
        print(f"seed {seed}: {time.perf_counter() - t:.0f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v:.4g}" for k, v in got.items()), flush=True)
        for k, v in got.items():
            values.setdefault(k, []).append(v)
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        sp = stats.spread(v) if len(v) > 1 else 0.0
        print(f"{m['name']:20s} median={stats.median(v):.4g} {m['unit']:8s} "
              f"spread={sp:.3f} bound={m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
