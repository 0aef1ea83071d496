"""The analytics layers (``queries/*``, ``operators/*``, ``tables.py``):
registry entries run by one closed-loop client over a seeded events
table, in traced runs of ``tx_ingest`` after its measured phases.

The entries are pinned here by name, not read from ``spec.bench``, so a
retag in the registry cannot change what is measured; a renamed entry
stops the run.  All four read only ``events``: the two Hedera entries
(the batch JSON transform and the dedupe pipeline) and the dedupe and
window kernels they share with the analytics surface.

One untimed warm pass, then ``TIMED_PASSES`` passes, each in a
seed-shuffled order.  Every result is checked against the digest of the
entry's DuckDB ``oracle`` SQL on the same parquet file (row count, column
names, order-insensitive value hash: the ``tools/verify_oracle.py``
comparison); a mismatch counts as a failed operation.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import random
import time

from perfbench import stats
from perfbench.harness import Ctx, Outcome

ENTRIES = (
    "hed_tx_transform",
    "hed_dedupe_pipeline",
    "q03_dedup_first_per_group",
    "q16_window_tumbling",
)
#: rows of the events table (the sf0.01 test-data events table has 10k,
#: sf0.1 100k): at 100k, checking the results in Python took longer than
#: running the entries
EVENTS_ROWS = 20_000
TIMED_PASSES = 2


def canon(v) -> str:
    """One value as the oracle comparison prints it."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(cols: list[str], rows: list[tuple]) -> tuple:
    """(row count, sorted column names, order-insensitive value hash)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return len(rows), sorted(cols), hashlib.md5("\n".join(lines).encode()).hexdigest()


def oracle_digests(table_dir: str, specs) -> dict[str, tuple]:
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{table_dir}/events.parquet')")
    out = {}
    for spec in specs:
        res = con.execute(spec.oracle)
        out[spec.name] = digest([d[0] for d in res.description], res.fetchall())
    con.close()
    return out


def layer_names() -> list[str]:
    return ([f"queries.{n}_s" for n in ENTRIES]
            + ["queries.pass_s", "queries.exec_s", "queries.plan_build_s", "queries.spark_jobs",
               "queries.spark_error_log_lines", "tables.persist_s", "tables.load_s"])


def absent() -> dict:
    """Zeros for a workload that does not run the query mix."""
    return dict.fromkeys(layer_names(), 0.0)


def run(ctx: Ctx, out: Outcome) -> None:
    """Run the mix and add its per-layer numbers to ``out.layer``."""
    from hedera_etl_spark.queries import load_registry
    from hedera_etl_spark.tables import load_table

    tr = ctx.tracer
    registry = load_registry()
    specs = [registry[n] for n in ENTRIES]
    d = ctx.path("tables")
    with tr.span("tables.persist", new_trace=True):
        t = time.perf_counter()
        ctx.gen("events", d, ctx.seed, rows=EVENTS_ROWS)
        persist_s = time.perf_counter() - t
    with tr.span("tables.load", new_trace=True):
        t = time.perf_counter()
        load_table(ctx.spark, d, "events").count()
        load_s = time.perf_counter() - t
    expected = oracle_digests(d, specs)

    rng = random.Random(ctx.seed)
    per_entry: dict[str, list[float]] = {n: [] for n in ENTRIES}
    pass_s, exec_s, plan_s, jobs = [], [], [], 0
    with tr.jvm_error_lines(ctx.spark, ctx.path("jvm-errors.log")) as errors:
        for p in range(1 + TIMED_PASSES):
            timed = p > 0
            order = specs[:]
            rng.shuffle(order)
            plan_sum = exec_sum = 0.0
            results = []
            with tr.span("queries.pass", new_trace=True, timed=timed):
                t_pass = time.perf_counter()
                for spec in order:
                    group = f"bench-query-{spec.name}-{p}"
                    with tr.span(f"queries.{spec.name}"), tr.job_group(ctx.spark, group):
                        t0 = time.perf_counter()
                        df = spec.spark_fn(ctx.spark, d)
                        t1 = time.perf_counter()
                        rows = df.collect()
                        t2 = time.perf_counter()
                    results.append((spec.name, df.columns, rows))
                    if timed:
                        per_entry[spec.name].append(t2 - t0)
                        plan_sum += t1 - t0
                        exec_sum += t2 - t1
                        jobs += tr.jobs_in_group(ctx.spark, group)
                if timed:
                    pass_s.append(time.perf_counter() - t_pass)
                    plan_s.append(plan_sum)
                    exec_s.append(exec_sum)
            # results against the oracle (untimed)
            for name, cols, rows in results:
                out.attempted += 1
                out.fail(f"query.{name}",
                         int(digest(cols, [tuple(r) for r in rows]) != expected[name]))
    out.layer.update({f"queries.{n}_s": stats.median(v) for n, v in per_entry.items()})
    out.layer.update({
        "queries.pass_s": stats.median(pass_s),
        "queries.exec_s": stats.median(exec_s),
        "queries.plan_build_s": stats.median(plan_s),
        "queries.spark_jobs": jobs / TIMED_PASSES,
        "queries.spark_error_log_lines": errors["lines"],
        "tables.persist_s": persist_s,
        "tables.load_s": load_s,
    })
