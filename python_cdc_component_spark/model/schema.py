"""TableSchema + schema registry with evolution-merge semantics.

Parity target: reference ``db_components/db_common/table_schema.py``
(TableSchema/ColumnSchema dataclasses) and the last-run schema merge in
``ex_mysql_cdc/src/component.py:449-488`` (``_get_source_table_schema``):
columns dropped at the source survive as **nullable** in the output
(SURVEY §1.4, T5), and newly added columns widen the schema (T4).

Spark-first: schemas are ``StructType`` + PK name list; the registry is a
plain JSON document (one per pipeline run, like the reference's
``schema.json`` written by ``DbChangeConsumer.java:241-254``) so state
round-trips without any service dependency. At 100 TB scale the registry
is tiny metadata — it lives on the driver and is broadcast implicitly in
the plans that use it.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..fs import fs_read_text, fs_write_text


@dataclass
class TableSchema:
    """StructType + primary-key metadata (reference TableSchema,
    table_schema.py:44-88)."""

    name: str
    struct: T.StructType
    primary_keys: list[str] = field(default_factory=list)

    def column_names(self) -> list[str]:
        return [f.name for f in self.struct.fields]

    def to_json(self) -> dict:
        return {
            "name": self.name,
            "schema": json.loads(self.struct.json()),
            "primary_keys": list(self.primary_keys),
        }

    @classmethod
    def from_json(cls, doc: dict) -> "TableSchema":
        return cls(
            name=doc["name"],
            struct=T.StructType.fromJson(doc["schema"]),
            primary_keys=list(doc.get("primary_keys", [])),
        )


def merge_schemas(previous: T.StructType | None, current: T.StructType) -> T.StructType:
    """Merge last-run schema with the current one.

    Semantics per reference ``component.py:465-488`` plus the storage
    destination's column-order contract, which the functional goldens pin
    (``schema-drift-chained/02.../expected``: dropped ``usercity`` keeps
    its ORIGINAL position, added ``newcolumn`` is appended at the END of
    the manifest/CSV):
    - previous-schema order is preserved; a column present in both keeps
      the current type but becomes nullable if it was nullable in either
      run;
    - columns present only in the previous schema stay in place as
      **nullable** (drop-column drift, incl. dropped NOT NULL columns —
      test ``schema-drift-drop-non-null/``);
    - brand-new columns are appended at the end in current order.
    """
    if previous is None:
        return current
    cur_by_name = {f.name: f for f in current.fields}
    fields: list[T.StructField] = []
    for f in previous.fields:
        cur = cur_by_name.get(f.name)
        if cur is not None:
            fields.append(T.StructField(
                f.name, cur.dataType, cur.nullable or f.nullable))
        else:
            fields.append(T.StructField(f.name, f.dataType, True))
    prev_names = {f.name for f in previous.fields}
    for f in current.fields:
        if f.name not in prev_names:
            fields.append(f)
    return T.StructType(fields)


class SchemaRegistry:
    """Per-run schema registry: ``{table_name: TableSchema}`` persisted as
    one JSON file, read back next run (reference ``schema.json`` lifecycle,
    ``DbChangeConsumer.java:47-65,241-254``; passed into the next run at
    ``executor.py:326-328``)."""

    def __init__(self, tables: dict[str, TableSchema] | None = None):
        self.tables: dict[str, TableSchema] = tables or {}

    def update(self, table: TableSchema) -> TableSchema:
        """Merge ``table`` into the registry, returning the merged schema."""
        prev = self.tables.get(table.name)
        merged = TableSchema(
            name=table.name,
            struct=merge_schemas(prev.struct if prev else None, table.struct),
            primary_keys=table.primary_keys or (prev.primary_keys if prev else []),
        )
        self.tables[table.name] = merged
        return merged

    def save(self, path: str) -> None:
        fs_write_text(SparkSession.active(), path, json.dumps(
            {name: ts.to_json() for name, ts in self.tables.items()},
            indent=2, sort_keys=True))

    @classmethod
    def load(cls, path: str) -> "SchemaRegistry":
        raw = fs_read_text(SparkSession.active(), path)
        return cls({name: TableSchema.from_json(d)
                    for name, d in json.loads(raw or "{}").items()})
