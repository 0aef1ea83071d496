"""``tx_ingest``: the paper's first module, ``IngestPipeline``, fed by the
seeded generator in its own process.

The warm-up starts Phase B's continuous-trigger query and lets it drain
a few thousand rows of history, so that neither phase pays the JVM's or
the query's cold start.  Phase B (steady, open loop) then runs while the
generator writes one file every 200 ms at a fixed rate for
``--seconds``; the fixed per-batch term dominates.  Each row's latency
runs from its due time (its key) to the moment a directory poller first
sees the parquet file holding it.  Phase A (catch-up, closed loop) then
drains the staged backlog with one ``availableNow`` query; the per-row
data term dominates.  ``DedupeJob`` is never called: in-stream dedupe
collapses every replay, so this workload bypasses the dedupe layer that
``dedupe_cycle`` exercises.
"""

from __future__ import annotations

import bisect
import os
import subprocess
import time

from perfbench import querymix, stats
from perfbench.harness import (
    GEN_TIMEOUT_S, Ctx, DedupeStats, FilePoller, Outcome, batch_windows, check_table,
    collapsed_ratio, dedupe_layer, ingest_layer, parquet_files, parse_rate, read_manifest,
)
from perfbench.tracer import ProgressCollector

#: Phase A: the backlog is staged in BACKLOG_PARTS parts (one per set-up
#: repetition) of BACKLOG_ROWS rows and drained at once
BACKLOG_PARTS = 3
BACKLOG_ROWS = 12_000
BACKLOG_FILES = 4
BACKLOG_START_NS = 1_600_000_000 * 10**9
BACKLOG_GAP_NS = 50_000_000
WARMUP_ROWS = 12_000
#: Phase B: open-loop rate and file tick
RATE = 1_000
TICK_S = 0.2
#: the run is an open-loop measurement only if the generator kept to its
#: schedule (never a half tick late) ...
GEN_LATE_MAX_S = TICK_S / 2
#: ... and no backlog built up: row latency may not rise faster than this
#: through Phase B.  An engine whose capacity fell to 800 rows/s under
#: RATE lets latency grow by 1000/800 - 1 = 0.25 s per second; one 2 s
#: stall in the last tenth of a 10 s phase (a busy host) tilts the fit by
#: about 0.11 s/s.
GROWTH_MAX_S_PER_S = 0.25


def pipeline(ctx: Ctx, d: str):
    from hedera_etl_spark.streaming.ingest import IngestPipeline

    return IngestPipeline(ctx.spark, os.path.join(d, "in"), os.path.join(d, "table"),
                          os.path.join(d, "errors"), os.path.join(d, "ckpt"))


def check_open_loop(out: Outcome, manifest: dict, growth_s_per_s: float) -> None:
    """Count a failed operation for each way Phase B stopped being an
    open-loop measurement: the generator fell behind its schedule, or a
    backlog built up (latency rising with due time)."""
    out.fail("steady.gen_late", int(manifest["late_max_s"] >= GEN_LATE_MAX_S))
    out.fail("steady.backlog_growth", int(growth_s_per_s > GROWTH_MAX_S_PER_S))


def run(ctx: Ctx) -> Outcome:
    out = Outcome()
    tr = ctx.tracer

    # -- set-up: stage the Phase A backlog, one part per repetition ----------
    stage_s, parts = [], []
    da = ctx.path("a")
    for rep in range(BACKLOG_PARTS):
        with tr.span("setup.stage", new_trace=True, rep=rep):
            t = time.perf_counter()
            parts.append(ctx.gen(
                "backlog", os.path.join(da, "in"), ctx.seed * 100 + rep,
                rows=BACKLOG_ROWS, files=BACKLOG_FILES, gap_ns=BACKLOG_GAP_NS,
                start_ns=BACKLOG_START_NS + rep * BACKLOG_ROWS * BACKLOG_GAP_NS,
                prefix=f"part{rep}-", manifest=os.path.join(da, f"part{rep}.manifest.json")))
            stage_s.append(time.perf_counter() - t)
    out.e2e["setup_s"] = ctx.session_s + stats.median(stage_s)

    # -- warm-up: Phase B's query drains WARMUP_ROWS of history first, so
    # that neither phase pays the JVM's and the query's cold start ---------
    d = ctx.path("b")
    in_dir = os.path.join(d, "in")
    os.makedirs(in_dir)
    steady = pipeline(ctx, d)
    q = steady.start(available_now=False)
    try:
        with tr.span("warmup", new_trace=True):
            t = time.perf_counter()
            warm = ctx.gen("backlog", in_dir, ctx.seed * 100 + 99, rows=WARMUP_ROWS,
                           files=BACKLOG_FILES, prefix="warm-",
                           manifest=os.path.join(d, "warm.manifest.json"))
            q.processAllAvailable()
            out.layer["setup.warmup_s"] = time.perf_counter() - t
        collector = None
        jobs_before = tr.jobs_in_group(ctx.spark, str(q.runId))
        if tr.enabled:
            # batch numbers from warm batches only
            collector = ProgressCollector(tr, None)
            ctx.spark.streams.addListener(collector)

        # -- Phase B: open loop at RATE rows/s ---------------------------------
        poller = FilePoller(steady.table_path).start()
        with tr.span("ingest.open_loop", new_trace=True, rate=RATE) as span:
            if collector:
                collector.parent = span
            try:
                g = subprocess.Popen(ctx.gen_cmd("open", in_dir, ctx.seed, rate=RATE,
                                                 tick_s=TICK_S, duration_s=ctx.seconds))
                try:
                    g.wait(timeout=ctx.seconds + GEN_TIMEOUT_S)
                finally:
                    if g.poll() is None:
                        g.kill()
                        g.wait()
                if g.returncode != 0:
                    raise RuntimeError(f"generator exited with {g.returncode}")
                with tr.span("ingest.open_loop.tail"):
                    q.processAllAvailable()
            finally:
                poller.stop()
    finally:
        q.stop()
    mb = read_manifest(in_dir + ".manifest.json")
    out.attempted += warm["lines"] + mb["lines"]
    landed = steady.metrics.valid_rows

    # -- Phase A: catch-up, one availableNow drain of the whole backlog -------
    lines = sum(m["lines"] for m in parts)
    catchup = pipeline(ctx, da)
    with tr.span("ingest.drain", new_trace=True, lines=lines) as span:
        if collector:
            collector.parent = span
        t = time.perf_counter()
        landed += catchup.run_to_completion().valid_rows
        drain_s = time.perf_counter() - t
    out.e2e["drain_rows_per_s"] = lines / drain_s
    out.attempted += lines

    # -- correctness (untimed) ----------------------------------------------------
    check_table(out, "catchup", catchup.table_path,
                [k for m in parts for k in m["keys"]], [f for m in parts for f in m["fees"]],
                catchup.errors_path, sum(m["malformed"] for m in parts))
    keys, files = check_table(out, "steady", steady.table_path, warm["keys"] + mb["keys"],
                              warm["fees"] + mb["fees"], steady.errors_path,
                              warm["malformed"] + mb["malformed"])

    # per-row latency: due time (the key, epoch ns) -> file first seen
    seen = poller.first_seen
    open_keys = set(mb["keys"])
    rows = []  # (due epoch s, first-seen epoch s)
    unseen = 0
    for k, f in zip(keys.tolist(), files):
        if k in open_keys:
            if f in seen:
                rows.append((k / 1e9, seen[f] / 1e9))
            else:
                unseen += 1
    out.fail("steady.unseen_file", unseen)
    lat = [v - due for due, v in rows]
    q_tail = stats.tail_percentile(len(lat))
    out.e2e["latency_p50_s"] = stats.percentile(lat, 50)
    out.e2e["latency_p99_s"] = stats.percentile(lat, q_tail)
    # a growing backlog shows as latency rising with due time
    growth = stats.line_fit([due for due, _ in rows], lat)[1]
    check_open_loop(out, mb, growth)
    out.notes["latency"] = {"samples": len(lat), "tail_percentile": q_tail,
                            "max_s": max(lat), "growth_s_per_s": growth,
                            "gen_late_max_s": mb["late_max_s"]}

    if tr.enabled:
        # first-seen vs mtime (the lower bound) — the poller's own lag
        lag = [(seen[f] - os.stat(f).st_mtime_ns) / 1e9 for f in seen if os.path.exists(f)]
        out.layer.update(ingest_layer(ctx, collector.progress, jobs_before))
        windows = batch_windows([x for x in collector.progress if x["runId"] == str(q.runId)])
        ends = [e for _, e in windows]
        waits = []
        for due, v in rows:
            # the batch that committed the row: the first to end after it showed
            s, e = windows[min(bisect.bisect_left(ends, v), len(windows) - 1)]
            waits.append(v - due - (e - s))
        n_rows = sum(len(m["keys"]) for m in parts + [warm, mb])
        tables = [catchup.table_path, steady.table_path]
        n_files = sum(len(parquet_files(t)) for t in tables)
        n_bytes = sum(sum(parquet_files(t).values()) for t in tables)
        out.layer.update({
            "ingest.queue_wait_s_p50": stats.median(waits),
            "ingest.files_per_batch": n_files / max(1, out.layer["ingest.batches"]),
            "ingest.bytes_per_row": n_bytes / n_rows,
            "ingest.replays_collapsed_ratio": collapsed_ratio(parts + [warm, mb], landed),
            "ingest.gen_late_max_s": mb["late_max_s"],
            "ingest.latency_growth_s_per_s": growth,
            "ingest.poll_lag_s_p50": stats.median(lag) if lag else 0.0,
            "transform.parse_rows_per_s": parse_rate(ctx, catchup.input_dir),
            "setup.stage_s": stats.median(stage_s),
        })
        out.layer.update(dedupe_layer(DedupeStats(), [], [drain_s]))
        ctx.spark.streams.removeListener(collector)
        querymix.run(ctx, out)
    return out
