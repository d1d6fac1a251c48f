"""Resumable run state (K5).

Parity target: reference ``ex_mysql_cdc/src/component.py:490-509``
(``_write_result_state``): last offset (base64-wrapped), last schema per
table, last synced tables. The Spark rebuild keeps the same shape —
offsets become the last consumed ``(kbc__event_timestamp, kbc__file,
kbc__pos)`` watermark per table — and stores it as one JSON doc beside
the Structured Streaming checkpoint.
"""

from __future__ import annotations

import base64
import json
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ..fs import fs_read_text, fs_write_text


@dataclass
class RunState:
    offsets: dict = field(default_factory=dict)        # table → {ts, file, pos}
    last_schema: dict = field(default_factory=dict)    # table → schema json
    last_synced_tables: list = field(default_factory=list)
    previous_mode: str | None = None                   # APPEND | DEDUPE

    def to_doc(self) -> dict:
        # Offsets round-trip through base64 like the reference state file
        # (component.py:292-305 reconstructs them the same way).
        return {
            "offset_b64": base64.b64encode(
                json.dumps(self.offsets, sort_keys=True).encode()).decode(),
            "last_schema": self.last_schema,
            "last_synced_tables": sorted(self.last_synced_tables),
            "previous_mode": self.previous_mode,
        }

    @classmethod
    def from_doc(cls, doc: dict) -> "RunState":
        offsets = {}
        if doc.get("offset_b64"):
            offsets = json.loads(base64.b64decode(doc["offset_b64"]).decode())
        return cls(offsets=offsets,
                   last_schema=doc.get("last_schema", {}),
                   last_synced_tables=list(doc.get("last_synced_tables", [])),
                   previous_mode=doc.get("previous_mode"))

    def save(self, path: str) -> None:
        fs_write_text(SparkSession.active(), path,
                      json.dumps(self.to_doc(), indent=2, sort_keys=True))

    @classmethod
    def load(cls, path: str) -> "RunState":
        raw = fs_read_text(SparkSession.active(), path)
        return cls() if raw is None else cls.from_doc(json.loads(raw))

    # -- reference-format interop (K5/K6 parity) ------------------------
    # The reference state doc (``ex_mysql_cdc/src/component.py:488-509``
    # ``_write_result_state``) is {last_offset: <b64 raw Debezium offset
    # file>, last_schema: {table_key: schema-dict}, last_debezium_schema,
    # last_synced_tables}; the offset blob is reconstructed verbatim on
    # the next run (``:292-305``). These two methods round-trip that
    # exact shape so a user can migrate an existing reference state file.

    def to_reference_doc(self, raw_offset_bytes: bytes | None = None) -> dict:
        offset = raw_offset_bytes if raw_offset_bytes is not None else \
            json.dumps(self.offsets, sort_keys=True).encode()
        return {
            "last_offset": base64.b64encode(offset).decode("ascii"),
            "last_schema": dict(self.last_schema),
            "last_debezium_schema": {},
            "last_synced_tables": list(self.last_synced_tables),
        }

    @classmethod
    def from_reference_doc(cls, doc: dict) -> tuple["RunState", bytes]:
        """Returns (state, raw_offset_bytes). The offset blob is opaque —
        Debezium's own offset file content — and is surfaced unchanged,
        exactly like the reference's ``_reconstruct_offsset_from_state``.
        """
        raw = b""
        if doc.get("last_offset"):
            raw = base64.b64decode(doc["last_offset"].encode("ascii"))
        offsets: dict = {}
        try:
            parsed = json.loads(raw.decode()) if raw else {}
            if isinstance(parsed, dict):
                offsets = parsed
        except (ValueError, UnicodeDecodeError):
            pass    # non-JSON (native Debezium) offset: keep opaque only
        state = cls(offsets=offsets,
                    last_schema=dict(doc.get("last_schema", {})),
                    last_synced_tables=list(doc.get("last_synced_tables", [])))
        return state, raw

    @property
    def is_initial_run(self) -> bool:
        """Empty offsets → initial load; DEDUPE on an empty state takes the
        single-pass path (reference DebeziumKBCWrapper.java:86-106 T9)."""
        return not self.offsets
