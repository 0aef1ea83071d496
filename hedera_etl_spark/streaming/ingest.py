"""Streaming ingest pipeline: JSON lines -> partitioned transactions table
+ dead-letter errors table.

The Spark form of the reference's entire first module
(PubSubToBigQueryPipeline.java:36-57 + BigQueryErrorsSink.java:49-91):

- S1 source: file-stream of JSON lines by default, or ANY streaming
  source via ``source_fn`` (a callable returning a streaming DataFrame
  with a ``value`` string column) — the "swap one reader" claim made
  executable.  The message-bus branch ships as
  ``streaming.sources.kafka_source`` (options builder + binary-value
  decode, broker-free tests in tests/test_kafka_source.py), the
  self-hosted analogue of the reference's Pub/Sub reader; tests also
  drive the identical transform+sinks from a rate source.  The reference's broker-side best-effort dedup
  (withIdAttribute("consensusTimestamp"),
  PubSubToBigQueryPipeline.java:41) becomes an in-stream
  ARRIVAL-time watermark + dropDuplicatesWithinWatermark on the parsed
  key (ST2): bounded state, replayed deliveries collapse inside the
  horizon, and no row is ever classified late (arrival time is monotone
  per trigger) — an event whose EVENT time lags arbitrarily still lands
  in the table.  An event-time watermark here would silently discard
  late data (every stateful operator filters rows behind its watermark);
  at-least-once with downstream healing (the DedupeJob) is the
  reference's own two-tier contract, and losing late data would break
  it.  Malformed rows use the raw line as dedup key, so they pass the
  stateful operator untouched.
- S2 sink: checkpointed foreachBatch appending valid rows to the
  DAY-partitioned parquet table.  Checkpointing makes delivery
  at-least-once end to end (a crash between the append and the checkpoint
  commit replays the batch) — the same guarantee the reference chose, and
  the same healer: the downstream DedupeJob (ST3 two-tier design,
  docs/design/1_hedera_etl.md:109-125).
- S3 errors sink: the invalid branch of the same batch appends
  (table_row, errors) rows to the errors table — never dropped, mirroring
  alwaysRetry (BigQueryErrorsSink.java:63).
- ST7 observability: per-batch Observation metrics (valid rows, error
  rows, latest event timestamp, ingestion delay) accumulated on the
  driver — the Beam Counter/Distribution surface
  (TransactionJsonToTableRow.java:44-49, BigQueryErrorsSink.java:70-72).

Scale: the only state is the dedup operator's keyed store (bounded by the
watermark) and the file-source log; parse/cast/write are embarrassingly
parallel per batch.  Partition count of each append follows the source
batch; AQE coalescing keeps small micro-batches from writing confetti
files.  At the paper's 100 TPS a trigger holds a few hundred rows, so
row latency is set by each trigger's FIXED cost, and the pipeline keeps
that cost to the work the rows need:

- the typed projection (the cast tree over the 403-line schema, the
  validity flag, the partition and window columns) is planned once, in
  ``_stream()``, not rebuilt per batch; ``_process_batch`` only
  persists, filters, observes and writes;
- the query runs no empty micro-batches (``NO_DATA_BATCHES`` is off for
  this query only): the arrival-time watermark moves on every trigger,
  which would otherwise buy each data batch a no-data follow-up with its
  own writes and state-store commit;
- ``session.get_spark`` sessions commit checkpoint files through
  ``FileSystemBasedCheckpointFileManager`` (session.py).

docs/PERF_NOTES.md has the measured per-batch breakdown.
"""

from __future__ import annotations

import datetime
from collections import deque
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hedera_etl_spark.schema import CORRUPT_COL, parse_schema
from hedera_etl_spark.transform import cast_to_table, corrupt_predicate, errors_projection

#: per-batch entries kept in ``IngestMetrics.history`` (the totals stay
#: exact): an always-on ingest would otherwise grow it without bound
HISTORY_LEN = 1000

#: the session conf that makes a query run a no-data micro-batch whenever
#: its watermark moved; read by the query when it starts
NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


@dataclass
class IngestMetrics:
    """Driver-side mirror of the reference's counters/gauges."""

    batches: int = 0
    valid_rows: int = 0
    error_rows: int = 0
    latest_event_ts: object = None
    #: wall-clock seconds between batch processing time and the newest
    #: event time in it — the reference's end-to-end lag Distribution
    ingest_delay_sec: float | None = None
    #: the last HISTORY_LEN batches' counts and delay
    history: deque = field(default_factory=lambda: deque(maxlen=HISTORY_LEN))


class IngestPipeline:
    """File-stream JSON -> transactions table + errors table."""

    def __init__(
        self,
        spark: SparkSession,
        input_dir: str,
        table_path: str,
        errors_path: str,
        checkpoint_dir: str,
        watermark: str = "1 hour",
        dedupe_in_stream: bool = True,
        archive_path: str | None = None,
        source_fn=None,
    ):
        self.spark = spark
        self.input_dir = input_dir
        #: optional source swap (S1): any callable SparkSession -> streaming
        #: DataFrame with a `value` STRING column (Kafka: selectExpr
        #: "CAST(value AS STRING)"; rate: a JSON-shaping projection)
        self.source_fn = source_fn
        self.table_path = table_path
        self.errors_path = errors_path
        self.checkpoint_dir = checkpoint_dir
        self.watermark = watermark
        self.dedupe_in_stream = dedupe_in_stream
        #: optional raw-line cold archive (S5 — the stock
        #: Cloud_PubSub_to_GCS_Text side pipeline,
        #: scripts/deploy-etl-pipeline.sh:53-65)
        self.archive_path = archive_path
        self.metrics = IngestMetrics()

    # -- the streaming DAG ---------------------------------------------------
    def _stream(self) -> DataFrame:
        if self.source_fn is not None:
            raw = self.source_fn(self.spark)
        else:
            raw = self.spark.readStream.text(self.input_dir)
        parsed = raw.select(
            F.col("value"),
            F.from_json(
                "value",
                parse_schema(),
                {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
            ).alias("__p"),
        )
        if self.dedupe_in_stream:
            parsed = self._dedupe(parsed)
        return self._typed(parsed)

    def _dedupe(self, parsed: DataFrame) -> DataFrame:
        # The dedup state is watermarked on ARRIVAL time, not event time.
        # An event-time watermark makes every stateful operator FILTER
        # rows older than the horizon — in continuous mode a late-arriving
        # event would silently vanish instead of landing in the table
        # (r2 ADVICE; dropDuplicatesWithinWatermark late-filters too).
        # Arrival time is monotone per trigger, so nothing is ever late:
        # every row passes, replayed deliveries collapse while their key
        # is inside the horizon, and state stays bounded by the watermark.
        # This is also the closer parity: Pub/Sub withIdAttribute
        # (PubSubToBigQueryPipeline.java:41) is itself a best-effort
        # ~10-minute PROCESSING-time dedup window.  Replays that outlive
        # the horizon pass through un-deduplicated — at-least-once, healed
        # by the downstream DedupeJob (ST3 two-tier design).
        keyed = parsed.select(
            "*",
            F.current_timestamp().alias("__arrival_ts"),
            F.coalesce(F.col("__p.consensusTimestamp"), F.col("value")).alias("__dedup_key"),
        )
        return (
            keyed.withWatermark("__arrival_ts", self.watermark)
            .dropDuplicatesWithinWatermark(["__dedup_key"])
            .drop("__dedup_key", "__arrival_ts")
        )

    @staticmethod
    def _typed(parsed: DataFrame) -> DataFrame:
        """Every row's raw line, validity flag and typed table columns.

        Planned once with the query, after the dedup operator (whose state
        therefore keeps its schema): the cast tree over the full schema is
        hundreds of expressions, and building it per batch cost ~0.1 s of
        driver time.  Malformed rows are cast too — every leaf cast is a
        try_cast or a guarded unbase64, so casting them cannot fail the
        task — and ``_process_batch`` routes them by ``__bad``."""
        # shared definition of 'invalid' with the batch path
        # (transform.corrupt_predicate) so the two can never drift
        flagged = parsed.select("value", corrupt_predicate("__p").alias("__bad"), "__p.*")
        typed = cast_to_table(flagged, passthrough=("value", "__bad"))
        truncated = F.expr("timestamp_micros(consensusTimestamp div 1000)")
        return typed.withColumns(
            {
                "consensusTimestampTruncated": truncated,
                "part_date": F.to_date(truncated),
                # administrative column for the downstream DedupeJob's
                # window predicates (the reference's UNIX_SECONDS filter
                # column; `dedupe` scratch is the analogous precedent)
                "ts_sec": F.expr("consensusTimestamp div 1000000000"),
            }
        )

    # -- per-batch processing (S2/S3/P1-P4) ----------------------------------
    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            if self.archive_path is not None:
                # S5 cold archive: raw lines as text, before any parsing
                batch_df.select("value").write.mode("append").text(self.archive_path)
            bad = F.col("__bad")
            # observed BEFORE the valid-row filter, so the valid write's
            # own pass also counts the malformed rows
            obs = Observation(f"ingest_{batch_id}")
            valid = (
                batch_df.observe(
                    obs,
                    F.count(F.when(~bad, 1)).alias("valid"),
                    F.count(F.when(bad, 1)).alias("errors"),
                    F.max(F.when(~bad, F.col("consensusTimestampTruncated"))).alias(
                        "latest_ts"
                    ),
                )
                .filter(~bad)
                .drop("value", "__bad")
            )
            valid.write.mode("append").partitionBy("part_date").parquet(self.table_path)
            counts = obs.get
            n_valid, n_errors, latest = counts["valid"], counts["errors"], counts["latest_ts"]

            errors = batch_df.filter(bad).select(*errors_projection(F.col("value")))
            errors.write.mode("append").parquet(self.errors_path)

            m = self.metrics
            m.batches += 1
            m.valid_rows += n_valid
            m.error_rows += n_errors
            delay = None
            if latest is not None:
                if m.latest_event_ts is None or latest > m.latest_event_ts:
                    m.latest_event_ts = latest
                if latest.tzinfo is None:
                    # PySpark converts TimestampType to the DRIVER's local
                    # wall time (not the session TZ) — astimezone() on a
                    # naive datetime attaches the local zone, so the delta
                    # is correct on any host TZ
                    latest = latest.astimezone()
                delay = (
                    datetime.datetime.now(datetime.timezone.utc) - latest
                ).total_seconds()
                m.ingest_delay_sec = delay
            m.history.append(
                {
                    "batch_id": batch_id,
                    "valid": n_valid,
                    "errors": n_errors,
                    "ingest_delay_sec": delay,
                }
            )
        finally:
            batch_df.unpersist()

    # -- lifecycle -----------------------------------------------------------
    def start(self, available_now: bool = True) -> StreamingQuery:
        """Start the checkpointed query.  ``available_now=True`` processes
        everything currently in the input dir then stops (test/batch-drain
        mode); False runs continuously with the default micro-batch trigger
        (the reference's always-on Dataflow job)."""
        writer = (
            self._stream()
            .writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        # No empty micro-batches: the query reads NO_DATA_BATCHES from the
        # session when it starts, so it is set around start() only and the
        # caller's session keeps its own value.  (Not safe against another
        # thread starting a query on the same session at the same moment.)
        conf = self.spark.conf
        previous = conf.get(NO_DATA_BATCHES, None)
        conf.set(NO_DATA_BATCHES, "false")
        try:
            return writer.start()
        finally:
            if previous is None:
                conf.unset(NO_DATA_BATCHES)
            else:
                conf.set(NO_DATA_BATCHES, previous)

    def run_to_completion(self) -> IngestMetrics:
        """Drain the input dir and wait (availableNow semantics)."""
        q = self.start(available_now=True)
        q.awaitTermination()
        return self.metrics
