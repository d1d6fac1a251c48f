"""Type-system and schema-registry unit tests (reference parity:
AbstractDbConverter.SchemaElement.dbType map and component.py schema
merge)."""

import pytest
from pyspark.sql import types as T

from python_cdc_component_spark.model.schema import (
    SchemaRegistry, TableSchema, merge_schemas)
from python_cdc_component_spark.model.types import (
    BaseType, base_type_to_spark, jdbc_type_to_base, wire_type_to_spark)


@pytest.mark.parametrize("wire,logical,expected", [
    ("int32", None, T.IntegerType()),
    ("int32", "io.debezium.time.Date", T.DateType()),
    ("int64", None, T.LongType()),
    ("int64", "io.debezium.time.Timestamp", T.TimestampType()),
    ("string", "io.debezium.time.ZonedTimestamp", T.TimestampType()),
    ("boolean", None, T.BooleanType()),
    ("bytes", None, T.StringType()),      # binary pre-encoded (hex/base64)
    ("struct", None, T.StringType()),     # nested → JSON text
    ("no_such_type", None, T.StringType()),
])
def test_wire_type_map(wire, logical, expected):
    assert wire_type_to_spark(wire, logical) == expected


@pytest.mark.parametrize("jdbc,length,expected", [
    ("int", None, BaseType.INTEGER),
    ("bigint", None, BaseType.INTEGER),
    ("decimal(10,2)", None, BaseType.NUMERIC),
    ("double precision", None, BaseType.FLOAT),
    ("bit", 1, BaseType.BOOLEAN),          # mysql bit(1) → BOOLEAN
    ("bit", 8, BaseType.STRING),
    ("timestamp with time zone", None, BaseType.TIMESTAMP),
    ("tsvector", None, BaseType.STRING),   # exotic PG types → STRING
    ("jsonb", None, BaseType.STRING),
])
def test_jdbc_type_map(jdbc, length, expected):
    assert jdbc_type_to_base(jdbc, length) == expected


def test_base_type_decimal_precision():
    t = base_type_to_spark(BaseType.NUMERIC, 12, 5)
    assert t == T.DecimalType(12, 5)


def test_merge_schemas_keeps_dropped_columns_nullable():
    prev = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("dropped_nn", T.StringType(), False),
    ])
    cur = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("added", T.DoubleType(), True),
    ])
    merged = merge_schemas(prev, cur)
    by_name = {f.name: f for f in merged.fields}
    assert set(by_name) == {"id", "dropped_nn", "added"}
    # dropped NOT NULL column survives as nullable (T5)
    assert by_name["dropped_nn"].nullable is True
    assert by_name["id"].nullable is False


def test_registry_roundtrip(spark, tmp_path):
    reg = SchemaRegistry()
    reg.update(TableSchema(
        "t1",
        T.StructType([T.StructField("id", T.LongType(), False)]),
        ["id"]))
    p = str(tmp_path / "schema.json")
    reg.save(p)
    loaded = SchemaRegistry.load(p)
    assert loaded.tables["t1"].primary_keys == ["id"]
    assert loaded.tables["t1"].struct == reg.tables["t1"].struct


def test_registry_merge_across_runs():
    reg = SchemaRegistry()
    reg.update(TableSchema("t", T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("old", T.StringType(), False)]), ["id"]))
    merged = reg.update(TableSchema("t", T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("new", T.DoubleType(), True)]), ["id"]))
    names = [f.name for f in merged.struct.fields]
    # storage column-order contract (pinned by the schema-drift-chained
    # byte goldens): previous order preserved, dropped column stays in
    # place, brand-new column appended at the end
    assert names == ["id", "old", "new"]
    by_name = {f.name: f for f in merged.struct.fields}
    assert by_name["old"].nullable        # dropped → nullable


def test_parse_envelope_drops_tombstones(spark):
    from pyspark.sql import types as T
    from python_cdc_component_spark.sources.envelope import parse_envelope

    payload = T.StructType([T.StructField("id", T.LongType())])
    rows = [
        ('{"schema": {"name": "db.t1.Value"}, "payload": {"id": 1}}',),
        (None,),                                   # tombstone
        ('not json at all',),                      # malformed
        ('{"schema": {"name": "db.t2.Value"}, "payload": null}',),  # null payload
        ('{"schema": {"name": "db.t1.Value"}, "payload": {"id": 2}}',),
    ]
    df = spark.createDataFrame(rows, "j string")
    out = parse_envelope(df, "j", payload).collect()
    assert {(r["_table"], r["id"]) for r in out} \
        == {("db_t1", 1), ("db_t1", 2)}
