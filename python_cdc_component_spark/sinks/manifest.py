"""Output manifest writer (K4).

Parity target: the reference writes a JSON manifest per output table —
columns, PKs, base types, nullable, length, incremental flag, destination
(reference ``ex_mysql_cdc/src/component.py:380-425`` assembling column
metadata; example manifest at ``ex_mysql_cdc/tests/functional/
incremental-dedupe-chained/01_simple-full-load/expected/data/out/tables/
inventory_sales.csv.manifest``).
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..fs import fs_write_text
from ..model.schema import TableSchema
from ..model.types import BaseType, MAX_STRING_LENGTH


def _spark_type_to_base(dt: T.DataType) -> tuple[str, str | None]:
    """Spark type → (base type, length spec) for the manifest."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return BaseType.INTEGER.value, None
    if isinstance(dt, T.DecimalType):
        return BaseType.NUMERIC.value, f"{dt.precision},{dt.scale}"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return BaseType.FLOAT.value, None
    if isinstance(dt, T.BooleanType):
        return BaseType.BOOLEAN.value, None
    if isinstance(dt, T.DateType):
        return BaseType.DATE.value, None
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return BaseType.TIMESTAMP.value, None
    # strings + everything serialized as text; length capped like
    # reference component.py:427-447.
    return BaseType.STRING.value, str(MAX_STRING_LENGTH)


def build_manifest(table: TableSchema, incremental: bool,
                   destination: str | None = None) -> dict:
    cols = []
    for f in table.struct.fields:
        base, length = _spark_type_to_base(f.dataType)
        meta: dict = {"name": f.name,
                      "data_type": {"base": {"type": base}},
                      "nullable": bool(f.nullable)}
        if length is not None:
            meta["data_type"]["base"]["length"] = length
        cols.append(meta)
    doc = {
        "columns": [c["name"] for c in cols],
        "schema": cols,
        "primary_key": list(table.primary_keys),
        "incremental": bool(incremental),
    }
    if destination:
        doc["destination"] = destination
    return doc


def write_manifest(table: TableSchema, path: str, incremental: bool,
                   destination: str | None = None) -> dict:
    doc = build_manifest(table, incremental, destination)
    fs_write_text(SparkSession.active(), path,
                  json.dumps(doc, indent=2, sort_keys=True))
    return doc


# ---------------------------------------------------------------------------
# Legacy (pre-`schema`) manifest interop: the column_metadata shape every
# reference functional scenario's expected manifest uses
# (ex_mysql_cdc/tests/functional/*/expected/data/out/tables/*.manifest,
# assembled by component.py:380-447 via the keboola.component table
# definition). A consumer migrating from the reference can point the
# same downstream loader at these manifests unchanged; dict parity with
# the reference goldens is pytest-pinned (tests/test_golden_matrix.py).

#: KBC system columns appended to every CDC egress table — fixed base
#: types, never nullable, no length (reference debezium/common.py
#: system fields as serialized across the expected manifests).
LEGACY_SYSTEM_COLUMNS: list[tuple[str, str]] = [
    ("KBC__OPERATION", "STRING"),
    ("KBC__EVENT_TIMESTAMP_MS", "TIMESTAMP"),
    ("KBC__FILE", "STRING"),
    ("KBC__POS", "INTEGER"),
    ("KBC__DELETED", "BOOLEAN"),
    ("KBC__BATCH_EVENT_ORDER", "INTEGER"),
]

#: The Postgres flavor has no binlog coordinates — KBC__FILE/KBC__POS
#: are absent from every ex_postgres_cdc expected manifest (W3's
#: no-FILE/POS order-column flavor at the manifest level).
LEGACY_SYSTEM_COLUMNS_PG: list[tuple[str, str]] = [
    (n, t) for n, t in LEGACY_SYSTEM_COLUMNS
    if n not in ("KBC__FILE", "KBC__POS")
]

# MySQL text types carry their fixed character capacity as the manifest
# length; integer types carry their DECIMAL PRECISION (Debezium column
# length — INT serializes as 10, not the display width 11).
_MYSQL_TEXT_LENGTHS = {"tinytext": 255, "text": 65535,
                       "mediumtext": 16777215, "longtext": 16777216}
_MYSQL_INT_PRECISION = {"tinyint": 3, "smallint": 5, "mediumint": 7,
                        "int": 10, "integer": 10, "bigint": 19}
_BARE_BASE_TYPES = {"STRING", "INTEGER", "NUMERIC", "FLOAT", "BOOLEAN",
                    "DATE", "TIMESTAMP"}

# Postgres base-type → (basetype, fixed length) as the reference's
# all-datatypes expected manifest serializes them (ex_postgres_cdc/
# tests/functional/all-datatypes-chained/01_simple-full-load/expected/
# .../inventory_all_data_types.csv.manifest): floats carry their
# DECIMAL precision (real→NUMERIC/8, double precision→NUMERIC/17),
# temporals their JDBC display size (timestamp→29, timestamptz→35,
# date→13, time→15, timetz→21), unbounded/opaque types the int32 cap.
_PG_INT32_CAP = 2147483647
_PG_FIXED_TYPES: dict[str, tuple[str, int | None]] = {
    "real": ("NUMERIC", 8),
    "double precision": ("NUMERIC", 17),
    "money": ("NUMERIC", _PG_INT32_CAP),
    "smallserial": ("INTEGER", 5),
    "serial": ("INTEGER", 10),
    "bigserial": ("INTEGER", 19),
    "text": ("STRING", 16777216),
    "bytea": ("STRING", _PG_INT32_CAP),
    "timestamp": ("TIMESTAMP", 29),
    "timestamp without time zone": ("TIMESTAMP", 29),
    "timestamp with time zone": ("TIMESTAMP", 35),
    "timestamptz": ("TIMESTAMP", 35),
    "date": ("DATE", 13),
    "time": ("TIMESTAMP", 15),
    "time without time zone": ("TIMESTAMP", 15),
    "time with time zone": ("TIMESTAMP", 21),
    "timetz": ("TIMESTAMP", 21),
    "interval": ("STRING", 49),
    "boolean": ("BOOLEAN", 1),
    "bool": ("BOOLEAN", 1),
    "point": ("STRING", _PG_INT32_CAP),
    "cidr": ("STRING", _PG_INT32_CAP),
    "inet": ("STRING", _PG_INT32_CAP),
    "macaddr": ("STRING", _PG_INT32_CAP),
    "macaddr8": ("STRING", _PG_INT32_CAP),
    "uuid": ("STRING", _PG_INT32_CAP),
    "xml": ("STRING", _PG_INT32_CAP),
    "json": ("STRING", _PG_INT32_CAP),
    "jsonb": ("STRING", _PG_INT32_CAP),
    "int4range": ("STRING", _PG_INT32_CAP),
    "int8range": ("STRING", _PG_INT32_CAP),
    "numrange": ("STRING", _PG_INT32_CAP),
    "tsrange": ("STRING", _PG_INT32_CAP),
    "tstzrange": ("STRING", _PG_INT32_CAP),
    "daterange": ("STRING", _PG_INT32_CAP),
}


def _legacy_type(source_type: str,
                 dialect: str = "mysql") -> tuple[str, int | None]:
    """Source native type (or a bare KBC base type) → (basetype, length)
    as the legacy manifest serializes it: STRING carries the character
    length, INTEGER/NUMERIC the decimal precision, everything else is
    lengthless — observed across the reference's expected manifests
    (MEDIUMTEXT→STRING/16777215, INT→INTEGER/10, VARCHAR(64)→STRING/64,
    DECIMAL(12,5)→NUMERIC/12; Postgres ``text`` has no declared length
    and serializes as the reference's 16777216 cap,
    component.py:436-439)."""
    if source_type in _BARE_BASE_TYPES:
        return source_type, None
    t = source_type.strip().lower()
    # MySQL attribute suffixes (UNSIGNED/ZEROFILL) are display/range
    # attributes, not part of the type name — "int(10) unsigned" must
    # resolve like "int(10)", not fall through to the STRING default
    t = " ".join(w for w in t.split() if w not in ("unsigned",
                                                   "zerofill"))
    # strip any parenthesized args, preserving multi-word bases both
    # before ("character varying(10)") and after — but a post-paren
    # tail only joins the base when it is a RECOGNIZED pg type tail
    # ("timestamp(3) with time zone"); anything else would turn
    # unknown suffixes into unknown base types
    base = t.split("(")[0].strip()
    if "(" in t and ")" in t:
        tail = t[t.index(")") + 1:].strip()
        if tail in ("with time zone", "without time zone", "varying"):
            base = f"{base} {tail}"
    args = []
    if "(" in t and ")" in t:
        args = [int(a) for a in t[t.index("(") + 1:t.index(")")].split(",")
                if a.strip().lstrip("-").isdigit()]
    if dialect == "postgres":
        # arrays serialize as STRING carrying the ELEMENT type's length
        # (integer[] → STRING/10 in the all-datatypes golden)
        if base.endswith("[]"):
            _, elen = _legacy_type(base[:-2], dialect=dialect)
            return "STRING", elen
        if base in _PG_FIXED_TYPES:
            return _PG_FIXED_TYPES[base]
        if base in ("character varying", "bit varying", "bit"):
            bt = "STRING"
            return bt, args[0] if args else None
    if base in _MYSQL_TEXT_LENGTHS:
        return "STRING", _MYSQL_TEXT_LENGTHS[base]
    if base in ("varchar", "char", "character", "character varying"):
        return "STRING", args[0] if args else None
    if base in _MYSQL_INT_PRECISION:
        return "INTEGER", _MYSQL_INT_PRECISION[base]
    if base in ("decimal", "numeric"):
        return "NUMERIC", args[0] if args else None
    if base in ("float", "double", "real"):
        return "FLOAT", None
    if base in ("datetime", "timestamp"):
        return "TIMESTAMP", None
    if base == "date":
        return "DATE", None
    if base in ("boolean", "bool"):
        return "BOOLEAN", None
    return "STRING", None


def build_legacy_manifest(columns: list[tuple[str, str, bool]],
                          destination: str | None = None,
                          primary_key: list[str] | None = None,
                          incremental: bool | None = None,
                          system_columns: bool = True,
                          write_always: bool = False,
                          dialect: str = "mysql") -> dict:
    """Reference-shape legacy manifest.

    ``columns`` is (name, source type, nullable) per data column, the
    source type either a source-native type from the captured table's
    DDL (``dialect`` picks the mysql/postgres length rules) or a bare
    KBC base type (the schema-changes side table's form).
    ``destination``/``primary_key``/``incremental`` are omitted from
    the doc when None — the reference omits the PK key for append-mode
    tables (component.py:403-405 clears PKs under append load types),
    the incremental key for data tables, and the destination on the
    Postgres component's expected manifests."""
    cols = list(columns)
    if system_columns:
        tail = (LEGACY_SYSTEM_COLUMNS_PG if dialect == "postgres"
                else LEGACY_SYSTEM_COLUMNS)
        cols += [(n, t, False) for n, t in tail]
    column_metadata = {}
    for name, src, nullable in cols:
        base, length = _legacy_type(src, dialect=dialect)
        md = [{"key": "KBC.description", "value": ""},
              {"key": "KBC.datatype.basetype", "value": base},
              {"key": "KBC.datatype.nullable", "value": bool(nullable)}]
        if length is not None:
            md.append({"key": "KBC.datatype.length", "value": length})
        column_metadata[name] = md
    doc: dict = {}
    if destination is not None:
        doc["destination"] = destination
    if primary_key is not None:
        doc["primary_key"] = list(primary_key)
    doc["columns"] = [c[0] for c in cols]
    # key order parity: every reference manifest carrying `incremental`
    # places it between `columns` and `enclosure` — byte-level diffs
    # against reference goldens depend on serialization order.
    if incremental is not None:
        doc["incremental"] = bool(incremental)
    doc["enclosure"] = '"'
    doc["delimiter"] = ","
    doc["metadata"] = []
    doc["column_metadata"] = column_metadata
    doc["write_always"] = bool(write_always)
    return doc


def write_legacy_manifest(table: TableSchema, path: str,
                          destination: str | None = None,
                          primary_key: list[str] | None = None,
                          incremental: bool | None = None,
                          write_always: bool = False) -> dict:
    """Engine-derived legacy manifest for a Spark output schema — the
    sync engine's ``manifest_format='legacy'`` sink (a reference user's
    downstream loader consumes these unchanged). KBC__* system columns
    keep their fixed reference metadata in their ACTUAL schema
    positions (drift can push payload columns after them); data
    columns map Spark type → base type, decimals carrying their
    precision. Engine-derived strings have no source DDL, so no length
    is emitted — exact-length parity with a reference manifest needs
    the DDL-driven ``build_legacy_manifest`` instead."""
    sys_map = dict(LEGACY_SYSTEM_COLUMNS)
    cols = []
    for f in table.struct.fields:
        if f.name in sys_map:
            cols.append((f.name, sys_map[f.name], False))
        elif isinstance(f.dataType, T.DecimalType):
            cols.append((f.name,
                         f"decimal({f.dataType.precision},"
                         f"{f.dataType.scale})", bool(f.nullable)))
        else:
            base, _ = _spark_type_to_base(f.dataType)
            cols.append((f.name, base, bool(f.nullable)))
    doc = build_legacy_manifest(cols, destination=destination,
                                primary_key=primary_key,
                                incremental=incremental,
                                system_columns=False,
                                write_always=write_always)
    fs_write_text(SparkSession.active(), path, json.dumps(doc))
    return doc
