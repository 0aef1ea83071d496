"""What both workloads share: the run context, the generator process, the
table-directory poller, the correctness check against a generator
manifest, and the traced dedupe call."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.tracer import Tracer, epoch_of

#: seconds the generator may take before the run is abandoned
GEN_TIMEOUT_S = 120


@dataclass
class Outcome:
    """A workload's result: end-to-end and per-layer metrics (unit-less;
    units come from BENCHMARK.json), operations attempted and failed."""

    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: dict = field(default_factory=dict)

    def fail(self, what: str, n: int) -> None:
        """Count ``n`` failed operations of kind ``what``."""
        if n:
            self.failed += n
            failures = self.notes.setdefault("failures", {})
            failures[what] = failures.get(what, 0) + n


@dataclass
class Ctx:
    root: str
    work: str
    seed: int
    seconds: int
    tracer: Tracer
    spark: object
    session_s: float

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def gen_cmd(self, mode: str, out: str, seed: int, **opts) -> list[str]:
        cmd = [sys.executable, os.path.join(self.root, "perfbench", "gen.py"), mode,
               "--seed", str(seed), "--out", out]
        for k, v in opts.items():
            cmd += [f"--{k.replace('_', '-')}", str(v)]
        return cmd

    def gen(self, mode: str, out: str, seed: int, **opts) -> dict:
        """Run the generator to completion in its own process; return its
        manifest."""
        subprocess.run(self.gen_cmd(mode, out, seed, **opts), check=True, timeout=GEN_TIMEOUT_S)
        return read_manifest(opts.get("manifest") or out.rstrip("/") + ".manifest.json")


def read_manifest(path: str) -> dict:
    import json

    with open(path) as f:
        return json.load(f)


def parquet_files(table: str) -> dict[str, int]:
    """Visible data files under a table directory -> size.  Names starting
    with ``.`` or ``_`` (temp output, commit metadata, a partition moved
    aside mid-swap) are not part of the table."""
    out = {}
    for dirpath, dirnames, names in os.walk(table):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for f in names:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                path = os.path.join(dirpath, f)
                out[path] = os.path.getsize(path)
    return out


def rows_in(files) -> int:
    """Rows in the given parquet files, from their footers."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files)


class FilePoller:
    """Records when each data file of a table is first seen, polling the
    directory every ``interval`` seconds on a daemon thread.  A file's
    mtime is a lower bound on its visibility; the first-seen time is what
    a reader polling the table would get."""

    def __init__(self, table: str, interval: float = 0.01):
        self.table = table
        self.interval = interval
        self.first_seen: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="table-poller", daemon=True)

    def scan(self) -> None:
        now = time.time_ns()
        for path in parquet_files(self.table):
            self.first_seen.setdefault(path, now)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.scan()

    def start(self) -> "FilePoller":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.scan()


def read_rows(table: str):
    """``(keys, fees, ts_sec, files)`` of every row of a transactions
    table, read with pyarrow straight from its data files: the check does
    not go through the engine it checks.  ``files`` names each row's file."""
    import numpy as np
    import pyarrow.parquet as pq

    cols = ["consensusTimestamp", "transaction.body.transactionFee", "ts_sec"]
    keys, fees, ts, files = [], [], [], []
    for path in sorted(parquet_files(table)):
        t = pq.read_table(path, columns=cols)
        keys.append(t.column(0).to_numpy())
        fees.append(t.column(1).to_numpy())
        ts.append(t.column(2).to_numpy())
        files += [path] * t.num_rows
    if not keys:
        return np.array([], dtype=np.int64), np.array([]), np.array([]), []
    return np.concatenate(keys), np.concatenate(fees), np.concatenate(ts), files


def check_table(out: Outcome, label: str, table: str, manifest_keys, manifest_fees,
                errors_table: str, malformed: int):
    """Count lost, duplicated, unexpected and wrong-fee rows of ``table``
    against the expected distinct keys and their fees, and the errors
    table's rows against the malformed-line count.  Returns the table's
    (keys, files) for latency work."""
    import numpy as np

    keys, fees, _, files = read_rows(table)
    expected = dict(zip(manifest_keys, manifest_fees))
    uniq, counts = np.unique(keys, return_counts=True)
    got = set(uniq.tolist())
    out.fail(f"{label}.lost", len(expected.keys() - got))
    out.fail(f"{label}.duplicated", int((counts - 1).sum()))
    out.fail(f"{label}.unexpected", len(got - expected.keys()))
    out.fail(f"{label}.wrong_fee",
             sum(1 for k, fee in zip(keys.tolist(), fees.tolist())
                 if k in expected and expected[k] != fee))
    out.fail(f"{label}.errors_table", abs(rows_in(parquet_files(errors_table)) - malformed))
    return keys, files


def dups_in_window(table: str, start: int, end: int) -> int:
    """Excess rows (sum of count-1 per key) with ts_sec in [start, end]."""
    import numpy as np

    keys, _, ts, _ = read_rows(table)
    _, counts = np.unique(keys[(ts >= start) & (ts <= end)], return_counts=True)
    return int((counts - 1).sum())


# ---------------------------------------------------------------------------
# dedupe: timed state proxy and the traced job call
# ---------------------------------------------------------------------------
class TimedState:
    """StateStore proxy that times the two calls DedupeJob makes."""

    def __init__(self, inner):
        self.inner = inner
        self.read_s: list[float] = []
        self.upsert_s: list[float] = []

    def read(self):
        t = time.perf_counter()
        try:
            return self.inner.read()
        finally:
            self.read_s.append(time.perf_counter() - t)

    def upsert(self, name: str, value: str) -> None:
        t = time.perf_counter()
        try:
            self.inner.upsert(name, value)
        finally:
            self.upsert_s.append(time.perf_counter() - t)


@dataclass
class DedupeStats:
    runs: int = 0
    jobs: int = 0
    partitions_rewritten: int = 0
    bytes_rewritten: int = 0
    rows_rewritten: int = 0
    dups_removed: int = 0
    incremental_s: list = field(default_factory=list)
    full_s: list = field(default_factory=list)


def run_dedupe(ctx: Ctx, job, kind: str, st: DedupeStats):
    """Run ``job.run_incremental`` or ``job.run_full`` under a span and a
    job group; record its wall time and the files it rewrote."""
    before = parquet_files(job.table_path)
    group = f"bench-dedupe-{kind}-{st.runs}"
    with ctx.tracer.span(f"dedupe.{kind}"), ctx.tracer.job_group(ctx.spark, group):
        t = time.perf_counter()
        result = job.run_full() if kind == "full" else job.run_incremental()
        dt = time.perf_counter() - t
    (st.full_s if kind == "full" else st.incremental_s).append(dt)
    st.runs += 1
    st.dups_removed += result.duplicates_removed
    st.jobs += ctx.tracer.jobs_in_group(ctx.spark, group)
    if ctx.tracer.enabled:
        new = [p for p in parquet_files(job.table_path) if p not in before]
        st.partitions_rewritten += len({os.path.dirname(p) for p in new})
        st.bytes_rewritten += sum(os.path.getsize(p) for p in new)
        st.rows_rewritten += rows_in(new)
    return result, dt


def dedupe_layer(st: DedupeStats, states: list[TimedState], append_s: list[float]) -> dict:
    """Per-layer dedupe numbers; zeros where the workload made no such call."""
    med = lambda xs: stats.median(xs) if xs else 0.0  # noqa: E731
    return {
        "dedupe.incremental_s_p50": med(st.incremental_s),
        "dedupe.full_s": med(st.full_s),
        "dedupe.spark_jobs_per_run": st.jobs / st.runs if st.runs else 0.0,
        "dedupe.state_read_s": med([x for s in states for x in s.read_s]),
        "dedupe.state_upsert_s": med([x for s in states for x in s.upsert_s]),
        "dedupe.partitions_rewritten": st.partitions_rewritten,
        "dedupe.bytes_rewritten": st.bytes_rewritten,
        "dedupe.rows_rewritten_per_dup": st.rows_rewritten / st.dups_removed if st.dups_removed else 0.0,
        "dedupe.append_s_p50": med(append_s),
    }


# ---------------------------------------------------------------------------
# ingest and transform: per-layer numbers
# ---------------------------------------------------------------------------
def parse_rate(ctx: Ctx, in_dir: str) -> float:
    """``transform.parse_transactions`` over the JSON files of ``in_dir``,
    forced with a noop write of both outputs: valid rows parsed per second."""
    from hedera_etl_spark.transform import parse_transactions

    raw = ctx.spark.read.text(in_dir)
    with ctx.tracer.span("transform.parse"):
        t = time.perf_counter()
        typed, errors = parse_transactions(raw)
        n = typed.count()
        errors.write.format("noop").mode("overwrite").save()
        typed.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t
    return n / dt


def ingest_layer(ctx: Ctx, progress: list[dict], jobs_before: int = 0) -> dict:
    """Batch-cost fit and per-batch phase medians over every non-empty
    micro-batch in ``progress``; ``jobs_before`` jobs of those queries ran
    before it was collected (warm-up batches)."""
    batches = [p for p in progress if p["numInputRows"] > 0]
    dur = lambda p, k: p["durationMs"].get(k, 0) / 1000.0  # noqa: E731
    xs = [p["numInputRows"] / 1000.0 for p in batches]
    ys = [dur(p, "triggerExecution") for p in batches]
    if xs and max(xs) >= 2 * min(xs) > 0:
        fixed, per_krow = stats.line_fit(xs, ys)
    else:  # batches of about one size: a slope would be noise
        fixed, per_krow = stats.median(ys), 0.0
    run_ids = {p["runId"] for p in progress}
    jobs = sum(ctx.tracer.jobs_in_group(ctx.spark, r) for r in run_ids) - jobs_before
    state = [op for p in progress for op in p.get("stateOperators", [])]
    return {
        "ingest.batches": len(batches),
        "ingest.batch_fixed_s": fixed,
        "ingest.batch_per_krow_s": per_krow,
        "ingest.spark_jobs_per_batch": jobs / max(1, len(progress)),
        "ingest.planning_s_p50": stats.median([dur(p, "queryPlanning") for p in batches]),
        "ingest.wal_commit_s_p50": stats.median([dur(p, "walCommit") for p in batches]),
        "ingest.add_batch_s_p50": stats.median([dur(p, "addBatch") for p in batches]),
        "ingest.state_rows": max((op.get("numRowsTotal", 0) for op in state), default=0),
        "ingest.state_bytes": max((op.get("memoryUsedBytes", 0) for op in state), default=0),
    }


def collapsed_ratio(manifests: list[dict], landed: int) -> float:
    """Share of the generated replays that never reached the table:
    (valid lines sent - valid rows the pipelines appended) / replays."""
    sent = sum(m["lines"] - m["malformed"] for m in manifests)
    replays = sum(m["replays"] for m in manifests)
    return (sent - landed) / replays if replays else 0.0


def batch_windows(progress: list[dict]) -> list[tuple[float, float]]:
    """(start, end) epoch seconds of each non-empty batch, by start."""
    out = []
    for p in progress:
        if p["numInputRows"] > 0:
            s = epoch_of(p["timestamp"])
            out.append((s, s + p["durationMs"].get("triggerExecution", 0) / 1000.0))
    return sorted(out)
