"""Streaming ingest pipeline tests (SURVEY §7 step 4): feed JSON files
incrementally with injected duplicates and corrupt lines; assert the
transactions table, the errors table, checkpoint-backed restart dedup,
and the observability counters (ST7).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from hedera_etl_spark.streaming.ingest import IngestPipeline


def tx_line(i: int, ns_base: int = 1_570_800_000_000_000_000) -> str:
    return json.dumps(
        {
            "consensusTimestamp": ns_base + i * 1_000_000_000,
            "transactionType": 7 + i % 21,
            "transaction": {"body": {"transactionFee": str(100 + i), "memo": f"m{i}"}},
        }
    )


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "input": tmp_path / "in",
        "table": str(tmp_path / "table"),
        "errors": str(tmp_path / "errors"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    d["input"].mkdir()
    return d


def make_pipeline(spark, dirs, **kw):
    return IngestPipeline(
        spark, str(dirs["input"]), dirs["table"], dirs["errors"], dirs["ckpt"], **kw
    )


def test_ingest_valid_and_corrupt_split(spark, dirs):
    lines = [tx_line(i) for i in range(20)]
    corrupt = ['{"consensusTimestamp":157080, truncated', "not json at all"]
    (dirs["input"] / "f1.json").write_text("\n".join(lines + corrupt))

    metrics = make_pipeline(spark, dirs).run_to_completion()

    table = spark.read.parquet(dirs["table"])
    errors = spark.read.parquet(dirs["errors"])
    assert table.count() == 20
    assert errors.count() == 2
    assert metrics.valid_rows == 20 and metrics.error_rows == 2
    # typed fields landed: quoted int64 fee cast, partition col derived
    fees = {r["transactionFee"] for r in
            table.select("transaction.body.transactionFee").collect()}
    assert fees == {100 + i for i in range(20)}
    assert table.select("part_date").distinct().count() >= 1
    assert {r["table_row"] for r in errors.select("table_row").collect()} == set(corrupt)


def test_in_stream_dedup_within_run(spark, dirs):
    """Replayed deliveries inside one run collapse via watermark +
    dropDuplicates on the key (the Pub/Sub idAttribute analogue, ST2)."""
    lines = [tx_line(i) for i in range(10)]
    replays = [tx_line(i) for i in range(0, 10, 2)]
    (dirs["input"] / "f1.json").write_text("\n".join(lines + replays))

    make_pipeline(spark, dirs).run_to_completion()
    table = spark.read.parquet(dirs["table"])
    assert table.count() == 10
    assert table.select("consensusTimestamp").distinct().count() == 10


def test_dedup_state_survives_restart(spark, dirs):
    """ST1: the checkpoint carries the dedup state across restarts — a
    redelivery arriving in a later run (new pipeline object, same
    checkpoint) is still dropped."""
    (dirs["input"] / "f1.json").write_text("\n".join(tx_line(i) for i in range(10)))
    make_pipeline(spark, dirs).run_to_completion()

    # second run: 5 replays + 5 new rows
    (dirs["input"] / "f2.json").write_text(
        "\n".join([tx_line(i) for i in range(5)] + [tx_line(i) for i in range(10, 15)])
    )
    metrics = make_pipeline(spark, dirs).run_to_completion()

    table = spark.read.parquet(dirs["table"])
    assert table.count() == 15
    assert table.select("consensusTimestamp").distinct().count() == 15
    assert metrics.valid_rows == 5  # only the genuinely new rows landed


def test_errors_never_dedup_to_nothing(spark, dirs):
    """Distinct malformed lines must each reach the errors table even
    though they all lack an event timestamp."""
    corrupt = [f'{{"consensusTimestamp":bad_{i}' for i in range(5)]
    (dirs["input"] / "f1.json").write_text("\n".join(corrupt))
    metrics = make_pipeline(spark, dirs).run_to_completion()
    assert spark.read.parquet(dirs["errors"]).count() == 5
    assert metrics.error_rows == 5
    assert metrics.valid_rows == 0
    # the table got no rows (an empty append may still create the dir)
    if os.path.exists(dirs["table"]):
        files = [f for f in os.listdir(dirs["table"]) if f.startswith("part_date=")]
        assert files == []


def test_metrics_history_per_batch(spark, dirs):
    (dirs["input"] / "f1.json").write_text("\n".join(tx_line(i) for i in range(7)))
    metrics = make_pipeline(spark, dirs).run_to_completion()
    assert metrics.batches >= 1
    assert sum(h["valid"] for h in metrics.history) == 7
    assert metrics.latest_event_ts is not None


def test_dedupe_disabled_passthrough(spark, dirs):
    """dedupe_in_stream=False: at-least-once ingest keeps replays (the
    downstream DedupeJob heals them — the reference's two-tier design)."""
    lines = [tx_line(i) for i in range(6)] + [tx_line(0)]
    (dirs["input"] / "f1.json").write_text("\n".join(lines))
    make_pipeline(spark, dirs, dedupe_in_stream=False).run_to_completion()
    table = spark.read.parquet(dirs["table"])
    assert table.count() == 7
    assert table.select("consensusTimestamp").distinct().count() == 6


def test_late_event_lands_instead_of_vanishing(spark, dirs):
    """ADVICE regression: an event whose time is far behind the advanced
    watermark must still land in the table (possibly un-deduplicated) —
    plain dropDuplicates would silently discard it.  At-least-once with
    downstream DedupeJob healing is the two-tier contract."""
    base = 1_570_800_000_000_000_000
    # run 1: events 2h ahead advance the watermark well past `base`
    ahead = [tx_line(i, ns_base=base + 2 * 3600 * 1_000_000_000) for i in range(5)]
    (dirs["input"] / "f1.json").write_text("\n".join(ahead))
    make_pipeline(spark, dirs).run_to_completion()

    # run 2 (same checkpoint): one event at `base` — over an hour late
    (dirs["input"] / "f2.json").write_text(tx_line(0, ns_base=base))
    metrics = make_pipeline(spark, dirs).run_to_completion()

    table = spark.read.parquet(dirs["table"])
    assert metrics.valid_rows == 1  # the late row landed
    assert table.count() == 6
    late_ns = {r[0] for r in table.select("consensusTimestamp").collect()}
    assert base in late_ns


def test_rate_source_through_same_pipeline(spark, dirs):
    """S1 source swap, executed: the SAME transform + sinks run from a
    rate-micro-batch source (a second Spark streaming source standing in
    for Kafka/PubSub — swapping requires only the reader, proving the
    'one reader' claim in the module docstring)."""
    import json as _json

    def rate_source(s):
        raw = (
            s.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", 10)
            .option("startTimestamp", 0)
            .load()
        )
        # shape rate rows into the wire JSON; every 7th row malformed
        doc = F.to_json(
            F.struct(
                (F.col("value") * 1_000_000_000 + 1_570_800_000_000_000_000)
                .cast("string")
                .alias("consensusTimestamp"),
                (F.col("value") % 21 + 7).cast("string").alias("transactionType"),
                F.struct(
                    F.struct(
                        (F.col("value") * 10).cast("string").alias("transactionFee"),
                        F.concat(F.lit("r"), F.col("value")).alias("memo"),
                    ).alias("body")
                ).alias("transaction"),
            )
        )
        return raw.select(
            F.when(F.col("value") % 7 == 6, F.substring(doc, 1, 30))
            .otherwise(doc)
            .alias("value")
        )

    pipe = IngestPipeline(
        spark,
        str(dirs["input"]),  # unused: source_fn wins
        dirs["table"],
        dirs["errors"],
        dirs["ckpt"],
        source_fn=rate_source,
    )
    q = pipe.start(available_now=False)
    try:
        import time

        deadline = time.time() + 120
        while time.time() < deadline and pipe.metrics.batches < 2:
            time.sleep(1)
    finally:
        q.stop()
    assert pipe.metrics.batches >= 2
    assert pipe.metrics.valid_rows >= 10
    assert pipe.metrics.error_rows >= 1
    table = spark.read.parquet(dirs["table"])
    # typed wire fields parsed from the rate-shaped JSON
    fees = {r[0] for r in table.select("transaction.body.transactionFee").collect()}
    assert 0 in fees and 10 in fees


def test_ingest_delay_metric_recorded(spark, dirs):
    """ST7: the end-to-end lag gauge (batch wall time minus newest event
    time) is recorded per batch and on the aggregate metrics object."""
    (dirs["input"] / "f1.json").write_text("\n".join(tx_line(i) for i in range(3)))
    metrics = make_pipeline(spark, dirs).run_to_completion()
    assert metrics.ingest_delay_sec is not None
    # fixture events are dated 2019 -> delay is huge and positive
    assert metrics.ingest_delay_sec > 0
    assert any(h["ingest_delay_sec"] for h in metrics.history)


# ---------------------------------------------------------------------------
# per-micro-batch cost: one batch per file, session left as found, and the
# stream computing exactly the batch transform's typed rows
# ---------------------------------------------------------------------------
def rich_line(i: int) -> str:
    """A line exercising every cast kind: quoted int64s, base64 BYTES (one
    row with a malformed value), a repeated record, a null record, and a
    non-numeric integer that must null only its own field."""
    ns = 1_570_800_000_000_000_000 + i * 1_000_000_007
    return json.dumps(
        {
            "consensusTimestamp": str(ns),
            "transactionType": "14",
            "entity": None,
            "transaction": {
                "body": {
                    "transactionID": {
                        "transactionValidStart": {"seconds": str(ns // 10**9), "nanos": "7"},
                        "accountID": {"shardNum": "0", "realmNum": "0", "accountNum": str(i)},
                    },
                    "transactionFee": "not-a-number" if i == 3 else str(9_007_199_254_740_993 + i),
                    "memo": f"memo {i}",
                }
            },
            "transactionRecord": {
                "receipt": {"status": "SUCCESS"},
                "transactionHash": "@@not base64@@" if i == 2 else "AAECAwQFBgc=",
                "transferList": {
                    "accountAmounts": [
                        {"accountID": {"accountNum": "98"}, "amount": str(-i)},
                        {"accountID": {"accountNum": str(i)}, "amount": str(i)},
                    ]
                },
            },
        }
    )


def test_continuous_query_runs_one_micro_batch_per_file(spark, dirs, monkeypatch):
    """An always-on query fed one file at a time runs ONE micro-batch per
    file: the arrival-time watermark moves on every trigger, and without
    the scoped noDataMicroBatches=false each data batch bought an empty
    follow-up batch with its own writes and state-store commit.  The
    typed projection is planned once, with the query, never per batch."""
    import hedera_etl_spark.streaming.ingest as ingest

    casts = []
    real_cast = ingest.cast_to_table

    def counting_cast(*args, **kwargs):
        casts.append(1)
        return real_cast(*args, **kwargs)

    monkeypatch.setattr(ingest, "cast_to_table", counting_cast)
    pipe = make_pipeline(spark, dirs)
    q = pipe.start(available_now=False)
    try:
        (dirs["input"] / "f1.json").write_text("\n".join(tx_line(i) for i in range(5)))
        q.processAllAvailable()
        (dirs["input"] / "f2.json").write_text("\n".join(tx_line(i) for i in range(5, 8)))
        q.processAllAvailable()
        executed = [p.batchId for p in q.recentProgress if "addBatch" in p.durationMs]
    finally:
        q.stop()
    assert executed == [0, 1]
    assert pipe.metrics.batches == 2
    assert [h["valid"] for h in pipe.metrics.history] == [5, 3]
    assert len(casts) == 1


@pytest.mark.parametrize("dedupe", [True, False])
def test_stream_plan_parses_each_line_once(spark, dirs, dedupe):
    """The typed projection sits on top of the parse without inlining it:
    the executed streaming plan holds ONE from_json on both dedupe paths
    (a projection collapsed into the parse would re-parse per field)."""
    (dirs["input"] / "f1.json").write_text("\n".join(tx_line(i) for i in range(3)))
    q = make_pipeline(spark, dirs, dedupe_in_stream=dedupe).start()
    q.awaitTermination()
    plan = q._jsq.explainInternal(False)
    assert plan.count("from_json") == 1, plan


def test_start_leaves_session_no_data_batches_conf(spark, dirs):
    """The query captures noDataMicroBatches when it starts; the caller's
    session keeps its own value, set or unset."""
    from hedera_etl_spark.streaming.ingest import NO_DATA_BATCHES

    (dirs["input"] / "f1.json").write_text(tx_line(0))
    spark.conf.set(NO_DATA_BATCHES, "true")
    try:
        make_pipeline(spark, dirs).run_to_completion()
        assert spark.conf.get(NO_DATA_BATCHES) == "true"
    finally:
        spark.conf.unset(NO_DATA_BATCHES)
    (dirs["input"] / "f2.json").write_text(tx_line(1))
    make_pipeline(spark, dirs).run_to_completion()
    assert spark.conf.get(NO_DATA_BATCHES, None) is None
    assert spark.read.parquet(dirs["table"]).count() == 2


def test_stream_and_batch_transform_give_identical_rows(spark, dirs):
    """Stream/batch parity: the typed projection the stream plans once
    yields exactly parse_transactions' rows and errors for the same lines."""
    from hedera_etl_spark.transform import parse_transactions

    lines = [rich_line(i) for i in range(8)] + [tx_line(i) for i in range(8, 12)]
    lines += ['{"consensusTimestamp":"1", truncated', "plain text"]
    (dirs["input"] / "f1.json").write_text("\n".join(lines))
    make_pipeline(spark, dirs).run_to_completion()

    typed, errors = parse_transactions(spark.createDataFrame([(ln,) for ln in lines], ["value"]))
    streamed = spark.read.parquet(dirs["table"]).select(*typed.columns)
    assert streamed.schema == typed.schema
    key = lambda r: r["consensusTimestamp"]  # noqa: E731
    expected = sorted(typed.collect(), key=key)
    assert len(expected) == 12
    assert sorted(streamed.collect(), key=key) == expected
    # the cast nulled only the broken fields
    by_memo = {r["transaction"]["body"]["memo"]: r for r in expected}
    assert by_memo["memo 3"]["transaction"]["body"]["transactionFee"] is None
    assert by_memo["memo 2"]["transactionRecord"]["transactionHash"] is None
    stream_errors = spark.read.parquet(dirs["errors"]).collect()
    assert sorted(stream_errors) == sorted(errors.collect())


def test_one_observation_counts_valid_and_malformed_rows_per_batch(spark, dirs):
    """The valid write's observation, placed before the valid-row filter,
    also counts each batch's malformed rows."""
    pipe = make_pipeline(spark, dirs)
    q = pipe.start(available_now=False)
    try:
        (dirs["input"] / "f1.json").write_text(tx_line(0))
        q.processAllAvailable()
        (dirs["input"] / "f2.json").write_text("\n".join([tx_line(1), "broken {", "also broken"]))
        q.processAllAvailable()
    finally:
        q.stop()
    assert [(h["valid"], h["errors"]) for h in pipe.metrics.history] == [(1, 0), (1, 2)]
    assert (pipe.metrics.valid_rows, pipe.metrics.error_rows) == (2, 2)
    assert spark.read.parquet(dirs["errors"]).count() == 2


def test_metrics_history_is_bounded_and_totals_exact(spark, dirs):
    from hedera_etl_spark.streaming.ingest import HISTORY_LEN, IngestMetrics

    m = IngestMetrics()
    for i in range(HISTORY_LEN + 5):
        m.history.append({"batch_id": i})
    assert len(m.history) == HISTORY_LEN
    assert m.history[0]["batch_id"] == 5

    (dirs["input"] / "f1.json").write_text("\n".join(tx_line(i) for i in range(4)))
    pipe = make_pipeline(spark, dirs)
    pipe.metrics.history = type(pipe.metrics.history)(maxlen=1)
    pipe.run_to_completion()
    (dirs["input"] / "f2.json").write_text("\n".join(tx_line(i) for i in range(4, 7)))
    pipe.run_to_completion()
    assert pipe.metrics.batches == 2
    assert pipe.metrics.valid_rows == 7
    assert [h["valid"] for h in pipe.metrics.history] == [3]


def test_local_sessions_commit_checkpoints_through_file_system_manager(spark):
    """get_spark sessions use the rename-based FileSystem checkpoint manager
    (no forked chmod/ls per checkpoint file on hosts without native
    Hadoop); configure_session leaves a caller's session on Spark's default."""
    from hedera_etl_spark.session import (
        CHECKPOINT_FILE_MANAGER,
        RUNTIME_CONFS,
        configure_session,
    )

    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert spark.conf.get(key) == CHECKPOINT_FILE_MANAGER
    assert key not in RUNTIME_CONFS
    other = spark.newSession()
    other.conf.unset(key)
    configure_session(other)
    assert other.conf.get(key, None) is None
