"""``dedupe_cycle``: the paper's second module, ``DedupeJob``, on the table
``IngestPipeline`` writes.

Set-up stages ``HISTORY_DAYS`` DAY partitions of history in three parts
(the median part is reported).  The warm-up stages the first new hour,
ingests everything with in-stream dedupe off (standing in for replays
that outlived the in-stream horizon) and runs a first incremental
dedupe, which rewrites the first hour's partition.  Each measured cycle
then ingest-appends the next hour of rows (5% replays) and runs
``DedupeJob.run_incremental``.  The first cycle is the day's last hour:
its rows also carry very late replays of history rows, which land in
old partitions below the incremental window, and after its incremental
run it runs ``run_full``, the 24-hour pass that rewrites the partitions
those replays dirtied, so the full pass is inside a cycle's latency.
The hourly cycles follow it.  Appends and partition rewrites hit the
same table, so a gain for one that costs the other shows here.
"""

from __future__ import annotations

import os
import time

from perfbench import querymix, stats
from perfbench.harness import (
    Ctx, DedupeStats, Outcome, TimedState, check_table, collapsed_ratio, dedupe_layer,
    dups_in_window, ingest_layer, parquet_files, parse_rate, run_dedupe,
)
from perfbench.tracer import ProgressCollector

DAY_S = 86_400
#: first history day: 2020-09-13T00:00:00Z, a DAY-partition boundary
HISTORY_START_NS = 18_518 * DAY_S * 10**9
HISTORY_DAYS = 60
HISTORY_ROWS_PER_DAY = 500
#: the first hour after the history
HOUR0_NS = HISTORY_START_NS + HISTORY_DAYS * DAY_S * 10**9
SETUP_REPS = 3
REPLAY_RATIO = 0.05
#: rows per hourly append.  Every hour of the run lands in the same DAY
#: partition, so the incremental runs rewrite 17k, then 29k rows (an
#: incremental run over about 21k rows is the sizing measurement this
#: workload follows); 20k-row appends cost about 5 s more a run
CYCLE_ROWS = 12_000
#: the first new hour, ingested and deduped in the warm-up
WARM_HOUR_ROWS = 5_000
#: cycles run: one per CYCLE_S of --seconds, at least MIN_CYCLES (a fixed
#: count, so that every run of a setting does the same work): the daily
#: cycle and at least one hourly one.  A cycle costs about 8 s and the
#: JVM's cold start about 40 s, so three would not fit the run budget.
CYCLE_S = 6
MIN_CYCLES = 2
#: very late replays of history rows, in the daily cycle
LATE_REPLAYS = 12
LATE_POOL = 200


def pipeline(ctx: Ctx, table_dir: str):
    """The ingest job of ``table_dir``: one input directory and one
    checkpoint for the table's whole life, as in production."""
    from hedera_etl_spark.streaming.ingest import IngestPipeline

    return IngestPipeline(ctx.spark, os.path.join(table_dir, "in"),
                          os.path.join(table_dir, "table"),
                          os.path.join(table_dir, "errors"), os.path.join(table_dir, "ckpt"),
                          dedupe_in_stream=False)


def dedupe_job(ctx: Ctx, table_dir: str, state):
    from hedera_etl_spark.operators.dedupe import DedupeJob

    # the CLI defaults: key consensusTimestamp, no tiebreak
    return DedupeJob(ctx.spark, os.path.join(table_dir, "table"), state,
                     key="consensusTimestamp", tiebreak=[])


def stage_history_part(ctx: Ctx, d: str, part: int) -> dict:
    """Generate one of ``SETUP_REPS`` consecutive parts of the history,
    exactly-once as of its last full dedupe (no replays)."""
    days = HISTORY_DAYS // SETUP_REPS
    return ctx.gen("span", os.path.join(d, "in"), ctx.seed * 100 + part, spans=days,
                   span_s=DAY_S, rows=HISTORY_ROWS_PER_DAY,
                   start_ns=HISTORY_START_NS + part * days * DAY_S * 10**9, replay=0,
                   keep_sample=LATE_POOL, prefix=f"history{part}-",
                   manifest=history_manifest(d, part))


def history_manifest(d: str, part: int) -> str:
    return os.path.join(d, f"history{part}.manifest.json")


def cycle_count(seconds: int) -> int:
    return max(MIN_CYCLES, round(seconds / CYCLE_S))


def run(ctx: Ctx) -> Outcome:
    from hedera_etl_spark.operators.dedupe import INCREMENTAL_STATE_KEY, StateStore

    out = Outcome()
    tr = ctx.tracer

    # -- set-up: stage the history, one part per repetition (median) --------
    stage_s, staged = [], []
    d = ctx.path("t")
    for rep in range(SETUP_REPS):
        with tr.span("setup.stage", new_trace=True, rep=rep):
            t = time.perf_counter()
            staged.append(stage_history_part(ctx, d, rep))
            stage_s.append(time.perf_counter() - t)
    out.e2e["setup_s"] = ctx.session_s + stats.median(stage_s)

    # -- warm-up: ingest the history and the first new hour (with replays, so
    # that the rewrite path is warm too), and run the first incremental
    # dedupe, which fixes the window start for the cycles
    with tr.span("warmup", new_trace=True):
        t = time.perf_counter()
        staged.append(ctx.gen("span", os.path.join(d, "in"), ctx.seed + 1, spans=1, span_s=3600,
                              rows=WARM_HOUR_ROWS, start_ns=HOUR0_NS, replay=REPLAY_RATIO,
                              prefix="hour-", manifest=os.path.join(d, "hour.manifest.json")))
        with tr.span("warmup.ingest"):
            pipeline(ctx, d).run_to_completion()
        with tr.span("warmup.incremental"):
            # the history was deduped up to its end; the first run covers
            # the first hour only
            state = StateStore(ctx.spark, os.path.join(d, "state"))
            state.upsert(INCREMENTAL_STATE_KEY, str(HOUR0_NS // 10**9))
            dedupe_job(ctx, d, state).run_incremental()
        out.layer["setup.warmup_s"] = time.perf_counter() - t
    out.attempted += sum(m["lines"] for m in staged)
    collector = None
    if tr.enabled:
        # batch numbers from warm batches only
        collector = ProgressCollector(tr, None)
        ctx.spark.streams.addListener(collector)

    # -- measured cycles ------------------------------------------------------
    state = TimedState(StateStore(ctx.spark, os.path.join(d, "state")))
    job = dedupe_job(ctx, d, state)
    st = DedupeStats()
    cycles = []  # the cycles' manifests
    cycle_s, cycle_t0, append_s, waits = [], [], [], []
    landed = 0
    n_cycles = cycle_count(ctx.seconds)
    for c in range(n_cycles):
        daily = c == 0
        late = LATE_REPLAYS if daily else 0
        m = ctx.gen("span", os.path.join(d, "in"), ctx.seed * 1000 + c, spans=1, span_s=3600,
                    rows=CYCLE_ROWS, start_ns=HOUR0_NS + (c + 1) * 3600 * 10**9,
                    replay=REPLAY_RATIO, late=late,
                    late_from=history_manifest(d, 0),
                    prefix=f"cycle{c:03d}-", manifest=os.path.join(d, f"cycle{c:03d}.manifest.json"))
        cycles.append(m)
        # the ingest job runs as a scheduled availableNow drain per hour
        p = pipeline(ctx, d)
        with tr.span("dedupe.cycle", new_trace=True, cycle=c, daily=daily):
            t0 = time.perf_counter()
            with tr.span("ingest.append") as span:
                if collector:
                    collector.parent = span
                landed += p.run_to_completion().valid_rows
            t1 = time.perf_counter()
            result, _ = run_dedupe(ctx, job, "incremental", st)
            if daily:
                run_dedupe(ctx, job, "full", st)
            t2 = time.perf_counter()
        cycle_s.append(t2 - t0)
        cycle_t0.append(t0)
        append_s.append(t1 - t0)
        waits.append(t2 - t1)
        out.attempted += m["lines"] + 1 + daily
        # exactly-once inside the window the incremental run covered (untimed)
        out.fail(f"cycle{c}.dups_in_window", dups_in_window(job.table_path, result.start, result.end))

    # one latency per cycle: staged -> exactly-once in the table.  Too few
    # samples for a tail percentile by the >=10-beyond rule, so the tail
    # reported is the slowest cycle, which is the daily one (it adds the
    # full pass); the median is over the hourly cycles.  Throughput is
    # over all cycles: a single ~2 s append is mostly query start-up, and
    # its rate spread 0.4 across runs.
    out.e2e["drain_rows_per_s"] = sum(m["lines"] for m in cycles) / sum(cycle_s)
    out.e2e["latency_p50_s"] = stats.median(cycle_s[1:])
    out.e2e["latency_p99_s"] = max(cycle_s)
    out.notes["latency"] = {"samples": len(cycle_s), "tail": "max", "daily_s": cycle_s[0],
                            "hourly_s": cycle_s[1:]}

    # -- final table == every distinct valid key, once ------------------------
    keys = {}
    for m in staged + cycles:
        for k, fee in zip(m["keys"], m["fees"]):
            keys[k] = fee
    check_table(out, "final", job.table_path, list(keys), list(keys.values()),
                os.path.join(d, "errors"), sum(m["malformed"] for m in staged + cycles))

    if tr.enabled:
        out.layer.update(ingest_layer(ctx, collector.progress))
        files = parquet_files(job.table_path)
        out.layer.update({
            "ingest.queue_wait_s_p50": stats.median(waits),
            "ingest.files_per_batch": len(files) / max(1, out.layer["ingest.batches"]),
            "ingest.bytes_per_row": sum(files.values()) / len(keys),
            # in-stream dedupe is off here: every replay must reach the table
            "ingest.replays_collapsed_ratio": collapsed_ratio(cycles, landed),
            "ingest.gen_late_max_s": 0.0,
            # hourly latency rising cycle over cycle means work piling up
            "ingest.latency_growth_s_per_s":
                stats.line_fit(cycle_t0[1:], cycle_s[1:])[1] if n_cycles > 2 else 0.0,
            "ingest.poll_lag_s_p50": 0.0,
            "transform.parse_rows_per_s": parse_rate(ctx, os.path.join(d, "in", "hour-00000.json")),
            "setup.stage_s": stats.median(stage_s),
        })
        out.layer.update(dedupe_layer(st, [state], append_s))
        out.layer.update(querymix.absent())
        ctx.spark.streams.removeListener(collector)
    return out
