"""File-backed CDC event source (S1 rebuild, batch flavor).

The reference's S1 is the embedded Debezium engine emitting JSON change
events (``AbstractDebeziumTask.java:97-130``). The rebuild's first-phase
source (SURVEY §7.1) is a **file-backed event stream** with the same
envelope: the driver's ``events`` parquet table plays the role of the
binlog (FIXTURES.md E1 maps it onto the envelope).

Normalization contract — each raw event row becomes:
- payload columns (here: ``user_id``, ``event_type``, ``value``, ``props``),
- ``kbc__operation``: 'c' | 'u' | 'd' | 'r' derived deterministically
  from the workload (signup=create, error=delete, rest=update — the
  replay convention used across the test-suite and oracle),
- ``kbc__event_timestamp`` epoch-millis (source commit ts),
- ``kbc__file`` / ``kbc__pos`` log coordinates (synthetic single log
  file; ``pos`` = ``event_id``, which the generator guarantees follows
  commit order),
- ``__deleted`` boolean (delete-rewrite flag, T7),
- ``kbc__batch_event_order``: the integer total order. In the file
  source this is exactly ``event_id`` — already a deterministic total
  order, so no single-partition row_number is needed (SURVEY §4 item 2).

Scale: one parquet scan, no shuffle; the op derivation is a projection
inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..fs import fs_parquet_time_unit
from ..model.envelope import SYSTEM_COLUMNS as SC

PAYLOAD_COLS = ["user_id", "event_type", "value", "props"]

# The `ts` column is always scanned as raw INT64 with an explicit schema
# (keeps the scan vectorized whatever the footer's logical type — early
# driver fixtures were TIMESTAMP(NANOS), which the vectorized reader
# rejects as a timestamp; current fixtures are TIMESTAMP(MICROS)).  The
# raw value's unit is read from the parquet footer and scaled to nanos,
# so the `ts_ns` / `ts` contract below is stable across fixture drift.
EVENTS_RAW_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.LongType()),          # raw epoch int; unit per footer
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def ts_to_ns_factor(events_path: str) -> int:
    """Multiplier from the raw INT64 ``ts`` to epoch-nanos, read from a
    parquet footer through the Hadoop FS (a ``file://`` path probes like
    a local one). Plain INT64, an empty dir and a missing path are taken
    as nanos; a corrupt footer raises rather than pass for nanos."""
    unit = fs_parquet_time_unit(SparkSession.active(), events_path, "ts")
    return {"MILLIS": 1_000_000, "MICROS": 1_000}.get(unit, 1)


def _normalize_ts(raw: DataFrame, factor: int) -> DataFrame:
    """Raw INT64 ``ts`` → (``ts_ns`` epoch-nanos long, ``ts`` µs timestamp),
    preserving the legacy column order (ts_ns in ts's slot, ts appended)."""
    ts_ns = (F.col("ts") * F.lit(factor)).cast("long") if factor != 1 \
        else F.col("ts").cast("long")
    return (raw.select(
        "event_id", ts_ns.alias("ts_ns"),
        "user_id", "event_type", "value", "props")
        .withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000"))))


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the events table: raw epoch exposed as ``ts_ns`` (nanos,
    whatever the file's unit) plus a µs-precision ``ts`` timestamp
    column (DuckDB-equivalent view)."""
    path = f"{sf_dir}/events.parquet"
    raw = spark.read.schema(EVENTS_RAW_SCHEMA).parquet(path)
    return _normalize_ts(raw, ts_to_ns_factor(path))

def read_events_stream_raw(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming twin of ``read_events``: same raw schema + µs ``ts``
    timestamp column, for event-time operators (watermarks, interval
    joins) that need the raw payload rather than the CDC envelope."""
    raw = spark.readStream.schema(EVENTS_RAW_SCHEMA).parquet(events_dir)
    return _normalize_ts(raw, ts_to_ns_factor(events_dir))


def _op_expr():
    """event_type → Debezium op code (replay convention; see docstring)."""
    return (F.when(F.col("event_type") == "signup", F.lit("c"))
             .when(F.col("event_type") == "error", F.lit("d"))
             .otherwise(F.lit("u")))


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver parquet table (TESTDATA.md layout)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_cdc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table and normalize it into the CDC envelope frame."""
    ev = read_events(spark, sf_dir)
    op = _op_expr()
    return ev.select(
        F.lit("events").alias("_table"),
        *PAYLOAD_COLS,
        op.alias(SC.operation),
        F.expr("ts_ns div 1000000").alias(SC.event_timestamp),
        F.lit("binlog.000001").alias(SC.file),
        F.col("event_id").alias(SC.pos),
        (op == "d").alias(SC.deleted),
        F.col("event_id").alias(SC.batch_event_order),
    )
