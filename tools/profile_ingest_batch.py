"""Size IngestPipeline's fixed per-micro-batch cost without the full benchmark.

Starts one continuous-trigger ``IngestPipeline`` (in-stream dedupe on, as
in production) and feeds it N generated JSON-lines files ONE AT A TIME:
each file is renamed into the input dir, then the query is drained with
``processAllAvailable()`` before the next one goes in.  Per file it
records

- seconds from the rename until the query is idle again,
- micro-batches run (data batches and empty, watermark-only ones),
- the ``durationMs`` phases of those batches (summed per file) and the
  state-store commit time,
- Spark jobs run (the query's job group),
- process spawns: the ``processes`` counter of /proc/stat.  The counter
  is machine-wide, so a quiet host is needed; the idle spawn rate over
  one second before the run is printed next to it for reference.

and prints the median over the files after the first ``--warmup`` (JIT,
codegen and file-source cold start).  Lines come from the benchmark's
generator (``perfbench.gen.tx_json`` / ``malformed_line``), so the row
shape matches ``tx_ingest``, and the session runs on local[4] like the
benchmark.

Usage:
    python tools/profile_ingest_batch.py [--files 12] [--malformed 0] [--warmup 3]
        [--conf KEY=VALUE ...]

``--conf`` adds session confs on top of ``get_spark``'s, e.g. Spark's
default checkpoint manager for an A/B:
``--conf spark.sql.streaming.checkpointFileManagerClass=org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager``
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hedera_etl_spark.session import get_spark  # noqa: E402
from hedera_etl_spark.streaming.ingest import IngestPipeline  # noqa: E402
from perfbench.gen import malformed_line, tx_json  # noqa: E402

PHASES = ("triggerExecution", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
          "latestOffset", "getBatch")
KEY0 = 1_600_000_000 * 10**9
CPUS = 4
ROWS = 200  # valid rows per file: ~2 s of arrivals at the paper's 100 TPS


def proc_spawns() -> int:
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    return 0


def write_file(in_dir: str, name: str, lines: list[str]) -> None:
    """Write under a dot-name (the file source skips hidden files), then
    rename: the query never sees a half-written file."""
    tmp = os.path.join(in_dir, "." + name)
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(in_dir, name))


def profile(spark, work: str, files: int, malformed: int) -> list[dict]:
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)
    pipe = IngestPipeline(spark, in_dir, os.path.join(work, "table"),
                          os.path.join(work, "errors"), os.path.join(work, "ckpt"))
    rng = random.Random(7)
    q = pipe.start(available_now=False)
    tracker = spark.sparkContext.statusTracker()
    group = str(q.runId)
    out, last_batch, key = [], -1, KEY0
    try:
        for i in range(files):
            lines = []
            for _ in range(ROWS):
                lines.append(tx_json(key, rng)[0])
                key += 1_000_000
            lines += [malformed_line(i * 1000 + j, rng) for j in range(malformed)]
            jobs0, spawns0 = len(tracker.getJobIdsForGroup(group)), proc_spawns()
            t0 = time.perf_counter()
            write_file(in_dir, f"f{i:05d}.json", lines)
            q.processAllAvailable()
            wall = time.perf_counter() - t0
            spawns = proc_spawns() - spawns0
            jobs = len(tracker.getJobIdsForGroup(group)) - jobs0
            progress = [json.loads(p.json) for p in q.recentProgress]
            new = [p for p in progress if p["batchId"] > last_batch]
            if new:
                last_batch = max(p["batchId"] for p in new)
            rec = {
                "file_s": wall,
                "batches": len(new),
                "empty_batches": sum(1 for p in new if p["numInputRows"] == 0),
                "jobs": jobs,
                "spawns": spawns,
                "state_commit_ms": sum(op.get("commitTimeMs", 0)
                                       for p in new for op in p.get("stateOperators", [])),
            }
            for ph in PHASES:
                rec[ph + "_ms"] = sum(p["durationMs"].get(ph, 0) for p in new)
            out.append(rec)
    finally:
        q.stop()
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--files", type=int, default=12)
    ap.add_argument("--malformed", type=int, default=0, help="malformed lines per file")
    ap.add_argument("--warmup", type=int, default=3, help="leading files left out of medians")
    ap.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE",
                    help="extra session conf (repeatable)")
    args = ap.parse_args()
    if args.files <= args.warmup:
        ap.error("--files must exceed --warmup")

    confs = {"spark.ui.showConsoleProgress": "false"}
    confs.update(kv.split("=", 1) for kv in args.conf)
    work = tempfile.mkdtemp(prefix="profile-ingest-")
    spark = get_spark("profile-ingest-batch", cpus=CPUS, shuffle_partitions=CPUS,
                      extra_confs=confs)
    try:
        idle0 = proc_spawns()
        time.sleep(1.0)
        idle = proc_spawns() - idle0
        recs = profile(spark, work, args.files, args.malformed)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    timed = recs[args.warmup:]
    print(f"{len(timed)} files of {ROWS} rows (+{args.malformed} malformed), "
          f"after {args.warmup} warm-up files; medians per file:")
    for k in timed[0]:
        print(f"  {k:<24} {statistics.median(r[k] for r in timed):10.3f}")
    print(f"  {'idle_spawns_per_s':<24} {idle:10d}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
