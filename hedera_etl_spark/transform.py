"""Batch JSON -> typed rows: the ingest transform (P1-P4).

Spark-native port of the reference's only per-row code
(TransactionJsonToTableRow.java:51-66) plus the error routing of
BigQueryErrorsSink.java:49-91 — expressed entirely with from_json /
cast / to_json built-ins (no Python in the row path):

1. ``from_json`` with the all-string wire schema (see schema.py: protobuf
   JSON carries int64 as strings) in PERMISSIVE mode with a corrupt-record
   column — malformed JSON yields a captured raw line instead of an
   exception (the Spark form of the IllegalArgumentException counter at
   TransactionJsonToTableRow.java:61-65).
2. A cast-expression tree generated from TRANSACTIONS_SPEC turns the
   string leaves into the typed schema: INTEGER -> try_cast(long)
   (lossless for int64 > 2^53 since the text never transits a double),
   BYTES -> unbase64, null structs stay null.  Unknown JSON fields never
   appear (from_json drops them — the ignoreUnknownValues() semantics of
   PubSubToBigQueryPipeline.java:46).
3. consensusTimestampTruncated = timestamp_micros(consensusTimestamp div
   1000) — the nanos->micros derivation and DAY-partition key
   (TransactionJsonToTableRow.java:57-58).
4. The valid/invalid split returns (typed rows, errors-shaped rows):
   errors carry (table_row, errors) JSON strings exactly like
   errors-schema.json:1-12.

Driver-cost note: the cast tree over the 403-line schema is generated as
SQL *strings* handed to ``selectExpr`` — one py4j round-trip per top-level
field instead of one per expression node.  A/B at sf0.1 measured ~1–3 s of
pure Python-side Column construction per query build with the node-by-node
form; the SQL-string form is equivalent (same analyzed plan) and
constant-cost.  ``parse_transactions(fields=...)`` additionally prunes the
wire schema to the requested leaf paths — projection pushdown through the
JSON parse, the same optimization Catalyst applies to file sources (and
mirrors what any consumer's DuckDB twin does with json_extract of only the
consumed paths).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hedera_etl_spark.schema import (
    CORRUPT_COL,
    TRANSACTIONS_SPEC,
    parse_schema,
)


# ---------------------------------------------------------------------------
# spec-driven cast tree (wire strings -> typed), generated as SQL text
# ---------------------------------------------------------------------------
#: strict base64: 4-char groups with valid tail padding — anything else
#: would make unbase64 fail the TASK (there is no try_unbase64)
_BASE64_RE = "^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"


def _cast_leaf_sql(path: str, ftype: str) -> str:
    if ftype == "INTEGER":
        # try_cast: a non-numeric string nulls the field instead of failing
        # the job under ANSI mode (BigQuery would reject the row; field-level
        # nulling is the lenient-projection analogue)
        return f"try_cast({path} AS BIGINT)"
    if ftype == "BYTES":
        # malformed base64 nulls the field instead of killing the job
        return f"CASE WHEN {path} RLIKE '{_BASE64_RE}' THEN unbase64({path}) END"
    if ftype == "TIMESTAMP":
        return f"try_cast({path} AS TIMESTAMP)"
    return path  # STRING


def _cast_field_sql(path: str, spec: dict, depth: int = 0) -> str:
    if spec["type"] != "RECORD":
        return _cast_leaf_sql(path, spec["type"])
    if spec.get("mode") == "REPEATED":
        # the same null-stays-null guard as the plain-record branch below:
        # without it a NULL array ELEMENT would cast to a non-null struct
        # of all-NULL fields
        var = f"__e{depth}"
        inner = _struct_fields_sql(var, spec["fields"], depth + 1)
        return (
            f"transform({path}, {var} -> CASE WHEN {var} IS NOT NULL "
            f"THEN named_struct({inner}) END)"
        )
    inner = _struct_fields_sql(path, spec["fields"], depth)
    # a missing/null record stays null instead of becoming a struct of nulls
    return f"CASE WHEN {path} IS NOT NULL THEN named_struct({inner}) END"


def _struct_fields_sql(parent: str, fields: list[dict], depth: int) -> str:
    parts = []
    for f in fields:
        name = f["name"]
        parts.append(f"'{name}', {_cast_field_sql(f'{parent}.{name}', f, depth)}")
    return ", ".join(parts)


def cast_to_table(
    parsed: DataFrame, spec: list[dict] | None = None, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Project the all-string parsed struct columns to the typed schema.

    ``passthrough`` names columns of ``parsed`` carried through unchanged,
    ahead of the typed ones (the streaming ingest keeps its raw line and
    validity flag next to the typed row this way)."""
    spec = spec or TRANSACTIONS_SPEC
    return parsed.selectExpr(
        *[f"`{c}`" for c in passthrough],
        *[f"{_cast_field_sql(f['name'], f)} AS {f['name']}" for f in spec],
    )


# ---------------------------------------------------------------------------
# wire-schema projection pushdown
# ---------------------------------------------------------------------------
def prune_spec(spec: list[dict], paths: list[str]) -> list[dict]:
    """Subset of ``spec`` containing only the requested dotted leaf paths.

    A path names a leaf ("transaction.body.memo") or a whole subtree
    ("entity").  REPEATED RECORD fields address their element fields
    transparently ("...accountAmounts.amount").  Unknown paths raise —
    a silent typo here would silently null a column downstream.
    """
    matched: set[str] = set()

    def walk(fields: list[dict], prefix: str) -> list[dict]:
        out = []
        for f in fields:
            full = f"{prefix}{f['name']}"
            keep_whole = False
            for p in paths:
                if p == full or full.startswith(p + "."):
                    keep_whole = True
                    matched.add(p)
            is_prefix = any(p.startswith(full + ".") for p in paths)
            if keep_whole:
                out.append(f)
            elif is_prefix and f["type"] == "RECORD":
                sub = walk(f["fields"], full + ".")
                if sub:
                    g = dict(f)
                    g["fields"] = sub
                    out.append(g)
        return out

    pruned = walk(spec, "")
    missing = sorted(set(paths) - matched)
    if missing:
        raise ValueError(f"prune_spec: paths not in spec: {missing}")
    return pruned


# ---------------------------------------------------------------------------
# the transform entry point
# ---------------------------------------------------------------------------
def corrupt_predicate(parsed_col: str = "__p") -> Column:
    """True for rows the wire parse failed on — the single definition of
    'invalid' shared by the batch and streaming ingest paths (they had
    drifted copies)."""
    return F.col(f"{parsed_col}.{CORRUPT_COL}").isNotNull() | F.col(parsed_col).isNull()


def errors_projection(raw_col: Column) -> list[Column]:
    """The errors-table row shape (errors-schema.json:1-12): the offending
    raw line plus a JSON error object — shared by batch and streaming."""
    return [
        raw_col.alias("table_row"),
        F.to_json(
            F.struct(
                F.lit("PARSE_ERROR").alias("reason"),
                F.lit("malformed JSON (TransactionJsonToTableRow.java:61-65 analogue)").alias(
                    "message"
                ),
            )
        ).alias("errors"),
    ]


def parse_transactions(
    raw: DataFrame, value_col: str = "value", fields: list[str] | None = None
) -> tuple[DataFrame, DataFrame]:
    """JSON lines -> (typed transactions rows, errors rows).

    Returns two DataFrames computed from one pass over ``raw``:
    valid rows in the typed TRANSACTIONS_SCHEMA with the derived
    consensusTimestampTruncated; invalid rows shaped like the errors table
    (table_row = the offending line, errors = a JSON error object).

    ``fields``: optional dotted leaf paths — projection pushdown through
    the JSON parse.  The wire schema and cast tree are pruned to exactly
    those paths (+ consensusTimestamp, which the derived partition key
    needs), so the parser skips converting every other field.  Malformed-
    line detection is JSON-level and therefore IDENTICAL under pruning:
    the errors output does not depend on ``fields``.  The full-schema
    ingest path simply omits the argument.

    Note on the valid/errors split: both branches reference the same
    ``from_json`` expression; an A/B with an exchange barrier after the
    parse (forcing single evaluation) measured SLOWER than re-evaluating
    the parse per branch — shuffling the wide parsed struct costs more
    than tokenizing the JSON again — so the split deliberately stays
    exchange-free.  The streaming path materializes the batch once via
    persist() anyway (streaming/ingest.py).
    """
    spec = TRANSACTIONS_SPEC
    if fields is not None:
        spec = prune_spec(spec, sorted(set(fields) | {"consensusTimestamp"}))
    wire = parse_schema(spec)
    # Single-evaluation barrier (r15 optimization round, guide §4.4
    # applied to a JVM expression): downstream filters reference __p, and
    # with a plain deterministic parse Catalyst inlines the ENTIRE
    # from_json (plus whatever expression feeds value_col — for the
    # bench corpus a to_json synthesis) into the filter CONDITION as well
    # as the projection — the executed Filter+Project pair evaluated the
    # parse twice per row (plan-verified; subexpression elimination only
    # dedups WITHIN one operator).  Routing the parse input through an
    # always-identity nondeterministic wrapper pins the parse in this
    # projection: non-deterministic expressions may not be duplicated or
    # reordered, so the filter keeps its attribute reference and every
    # row parses ONCE.  spark_partition_id() is constant within a task
    # and the WHEN branch never fires, so the value (and task-retry
    # behavior) is identical.
    # Trade-off disclosure (ADVICE r15 #3): a Project containing ANY
    # nondeterministic field blocks predicate pushdown through it, so
    # post-parse filters — including ones not touching __p — no longer
    # reach the source scan.  Every current caller filters only on
    # parsed fields (which could never push below the parse anyway) and
    # the raw sources are unpartitioned JSON lines, so nothing is lost
    # today; a caller adding a pushable pre-parse predicate should apply
    # it to `raw` BEFORE calling.  The pin leans on the optimizer's
    # nondeterminism contract and is plan-pinned in tests/test_plans.py
    # (test_tx_parse_evaluates_from_json_once), so a Spark upgrade that
    # changes the contract fails loudly.
    nd_value = F.when(F.spark_partition_id() < 0, F.lit(None)).otherwise(
        F.col(value_col)
    )
    parsed = raw.select(
        F.col(value_col).alias("__raw"),
        F.from_json(
            nd_value,
            wire,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("__p"),
    )

    is_bad = corrupt_predicate("__p")
    # Predicate PUSHDOWN BARRIER: Catalyst pushes every deterministic
    # conjunct of a filter below exchanges/projections, and here that
    # inlines this ENTIRE from_json (plus the corpus expression feeding
    # it) below any upstream parallelizing exchange, re-running the whole
    # parse serially on the few raw input splits — measured as the
    # dominant cost of every tx query at sf0.1.  OR-ing an always-false
    # nondeterministic term into the predicate makes the WHOLE conjunct
    # nondeterministic-flagged (a disjunction cannot be split), pinning
    # the filter where it is written.  spark_partition_id() is constant
    # within a task, so the barrier costs nothing and filters identically
    # on retry; `x OR false == x` keeps semantics exact.
    barrier = F.spark_partition_id() < 0  # always false, never foldable

    errors = parsed.filter(is_bad | barrier).select(*errors_projection(F.col("__raw")))

    typed = cast_to_table(parsed.filter((~is_bad) | barrier).select("__p.*"), spec)
    # integer div, never float: 1.57e18 nanos does not survive a double
    typed = typed.withColumn(
        "consensusTimestampTruncated",
        F.expr("timestamp_micros(consensusTimestamp div 1000)"),
    )
    return typed, errors
