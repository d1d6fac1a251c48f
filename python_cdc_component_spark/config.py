"""Reference ``config.json`` compatibility layer.

A user of the reference runs the component against a Keboola-style data
directory: ``{data_dir}/config.json`` (parameters tree —
``ex_mysql_cdc/src/configuration.py:96-196``), optional
``{data_dir}/in/state.json`` (the previous run's offsets/schema doc),
outputs under ``{data_dir}/out/tables`` plus ``{data_dir}/out/state.json``.
This module lets that user hand the SAME config file to this engine:

- :func:`parse_component_config` reads the reference's parameter tree
  (``source_settings``, ``sync_options``, ``destination``,
  ``db_settings``) into a typed :class:`ComponentConfig`, resolving
  Keboola conventions — ``#``-prefixed encrypted keys and
  ``{{env.NAME}}`` templates;
- :func:`to_sync_config` / :func:`to_stream_config` map it onto the
  engine's batch (:class:`engine.SyncConfig`) and stream
  (:class:`streaming.bounded.BoundedStreamConfig`) configs —
  ``load_type`` → APPEND/DEDUPE + incremental flag
  (``configuration.py:171-184``), ``snapshot_mode`` passthrough,
  column include/exclude filters, stop conditions;
- :func:`run_component` executes the data-dir convention end-to-end
  (action dispatch ``run`` / ``testConnection`` / ``getSchemas`` /
  ``getTables``, reference ``component.py`` sync actions), reading
  prior state in the reference's own state-doc form and writing the
  new one back the same way.

The live-DB connection itself (``db_settings`` host/port) remains the
documented sandbox seam: ``source_dir`` stands in for the binlog
(README production-gaps), exactly as everywhere else in the engine.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from .control import SNAPSHOT_MODES
from .engine import SyncConfig
from .fs import fs_read_text, fs_write_text
from .sinks.state import RunState
from .streaming.bounded import BoundedStreamConfig

_ENV_TPL = re.compile(r"\{\{env\.([A-Za-z_][A-Za-z0-9_]*)\}\}")

_LOAD_TYPES = {
    # load_type → (mode, incremental)  [configuration.py:171-184]
    "full_load": ("DEDUPE", False),
    "incremental_load": ("DEDUPE", True),
    "append_incremental": ("APPEND", True),
    "append_full": ("APPEND", False),
}

_BINARY_MODES = {"hex", "base64", "base64-url-safe", "bytes"}


def _resolve(v):
    """Keboola ``{{env.NAME}}`` template → environment value, including
    embedded occurrences (``host-{{env.X}}.db``). Each unset variable
    is left verbatim, like a dry-run."""
    if isinstance(v, str):
        return _ENV_TPL.sub(
            lambda m: os.environ.get(m.group(1), m.group(0)), v)
    return v


@dataclass
class DbSettings:
    host: str = ""
    port: int = 3306
    user: str = ""
    password: str = ""
    use_ssh: bool = False


@dataclass
class ComponentConfig:
    tables: list[str] = field(default_factory=list)
    schemas: list[str] = field(default_factory=list)
    primary_key: list[str] = field(default_factory=list)
    column_filter_type: str = "none"          # none | include | exclude
    column_filter: list[str] = field(default_factory=list)
    snapshot_mode: str = "initial"
    max_wait_s: float = 30.0
    max_runtime_s: float | None = None
    handle_binary: str = "hex"
    source_signal_table: str = ""
    ro_mode: bool = False
    snapshot_statement_override: bool = False
    snapshot_statements: list[dict] = field(default_factory=list)
    load_type: str = "incremental_load"
    db: DbSettings = field(default_factory=DbSettings)
    action: str = "run"
    debug: bool = False


def parse_component_config(src: str | dict) -> ComponentConfig:
    """Parse a reference-format config (path to config.json, or the
    already-loaded dict). Unknown keys are ignored (the reference's
    dataclass loader does the same); known keys are validated."""
    doc = src
    if isinstance(src, str):
        with open(src) as fh:
            doc = json.load(fh)
    params = doc.get("parameters", {})
    srcset = params.get("source_settings", {}) or {}
    sync = params.get("sync_options", {}) or {}
    dest = params.get("destination", {}) or {}
    dbs = params.get("db_settings", {}) or {}

    load_type = dest.get("load_type", "incremental_load")
    if load_type not in _LOAD_TYPES:
        raise ValueError(f"unknown load_type {load_type!r}")
    snapshot_mode = sync.get("snapshot_mode", "initial")
    if snapshot_mode not in SNAPSHOT_MODES:
        raise ValueError(f"unknown snapshot_mode {snapshot_mode!r}")
    handle_binary = sync.get("handle_binary", "hex")
    if handle_binary not in _BINARY_MODES:
        raise ValueError(f"unknown handle_binary {handle_binary!r}")
    cft = srcset.get("column_filter_type", "none")
    if cft not in ("none", "include", "exclude"):
        raise ValueError(f"unknown column_filter_type {cft!r}")

    db = DbSettings(
        host=str(_resolve(dbs.get("host", ""))),
        port=int(_resolve(dbs.get("port", 3306)) or 3306),
        user=str(_resolve(dbs.get("user", ""))),
        # Keboola encrypts values under '#'-prefixed keys
        password=str(_resolve(dbs.get("#password",
                                      dbs.get("password", "")))),
        use_ssh=bool(dbs.get("use_ssh", False)))

    return ComponentConfig(
        tables=list(srcset.get("tables", [])),
        schemas=list(srcset.get("schemas", [])),
        primary_key=list(srcset.get("primary_key", [])),
        column_filter_type=cft,
        column_filter=list(srcset.get("column_filter", [])),
        snapshot_mode=snapshot_mode,
        max_wait_s=float(sync.get("max_wait_s", 30)),
        max_runtime_s=(float(sync["max_runtime_s"])
                       if sync.get("max_runtime_s") is not None else None),
        handle_binary=handle_binary,
        source_signal_table=sync.get("source_signal_table", ""),
        ro_mode=bool(sync.get("ro_mode", False)),
        snapshot_statement_override=bool(
            sync.get("snapshot_statement_override", False)),
        snapshot_statements=list(sync.get("snapshot_statements", [])),
        load_type=load_type,
        db=db,
        action=doc.get("action", "run"),
        debug=bool(params.get("debug", False)))


def to_sync_config(cfg: ComponentConfig,
                   output_format: str = "csv") -> SyncConfig:
    """Reference parameter tree → batch engine config."""
    mode, incremental = _LOAD_TYPES[cfg.load_type]
    include = cfg.column_filter if cfg.column_filter_type == "include" \
        else None
    exclude = cfg.column_filter if cfg.column_filter_type == "exclude" \
        else None
    return SyncConfig(mode=mode, primary_keys=list(cfg.primary_key),
                      column_include=include, column_exclude=exclude,
                      output_format=output_format, incremental=incremental,
                      snapshot_mode=cfg.snapshot_mode)


def to_stream_config(cfg: ComponentConfig) -> BoundedStreamConfig:
    """Reference parameter tree → bounded streaming config (stop
    conditions from sync_options; reference MySQL default max runtime
    when unset)."""
    mode, _ = _LOAD_TYPES[cfg.load_type]
    # no-PK configs pass the EMPTY key list through: bounded_sync then
    # dedupes on all non-system columns, the same semantics the batch
    # path gets from dedup_latest_no_pk (reference component.py:406-408)
    # — injecting a fixture key here would MERGE-collapse distinct
    # payloads sharing that column.
    return BoundedStreamConfig(
        mode=mode, primary_keys=list(cfg.primary_key),
        max_duration_s=cfg.max_runtime_s or 85500.0,
        max_wait_s=cfg.max_wait_s,
        snapshot_mode=cfg.snapshot_mode)


def run_component(spark: SparkSession, data_dir: str,
                  source_dir: str) -> dict:
    """Execute the Keboola data-dir convention end-to-end:
    ``{data_dir}/config.json`` (+ optional ``in/state.json`` in the
    reference's state-doc form) → sync → ``out/tables`` +
    ``out/state.json``. ``source_dir`` is the event store standing in
    for the binlog (sandbox seam). Returns a result summary dict."""
    from .engine import sync

    cfg = parse_component_config(os.path.join(data_dir, "config.json"))

    if cfg.action != "run":
        # sync actions return JSON payloads, reference component.py
        if cfg.action == "testConnection":
            return {"status": "success"}
        if cfg.action == "getSchemas":
            return {"schemas": cfg.schemas or ["events"]}
        if cfg.action == "getTables":
            return {"tables": cfg.tables or ["events"]}
        raise ValueError(f"unknown action {cfg.action!r}")

    raw = fs_read_text(spark, os.path.join(data_dir, "in", "state.json"))
    state = (RunState() if raw is None
             else RunState.from_reference_doc(json.loads(raw))[0])
    results = sync(spark, source_dir, os.path.join(data_dir, "out", "tables"),
                   cfg=to_sync_config(cfg), state=state)

    out_state = os.path.join(data_dir, "out", "state.json")
    fs_write_text(spark, out_state,
                  json.dumps(state.to_reference_doc(), indent=2))
    return {"tables": {t: df.columns for t, df in results.items()},
            "state_path": out_state}


def run_component_streaming(spark: SparkSession, data_dir: str,
                            events_dir: str) -> dict:
    """Streaming twin of :func:`run_component`: drain the append-only
    event log directory through ``bounded_sync`` under the config's
    stop conditions (``max_wait_s`` / ``max_runtime_s``), MERGE-
    compacting per micro-batch. The stream checkpoint lives under the
    data dir (``out/checkpoint``) — re-running the same data dir
    resumes from it, the reference's chained-run contract.

    A config listing MULTIPLE ``source_settings.tables`` expects
    ``{events_dir}/{table}`` subdirectories (one event log per table,
    the reference's multi-table capture) and drains the whole fleet
    through :func:`streaming.bounded.bounded_sync_multi_fused` —
    O(#schema/mode/key groups) streaming queries, not O(#tables)."""
    from .streaming.bounded import bounded_sync, bounded_sync_multi_fused

    cfg = parse_component_config(os.path.join(data_dir, "config.json"))
    ckpt = os.path.join(data_dir, "out", "checkpoint")
    if len(cfg.tables) > 1:
        out_root = os.path.join(data_dir, "out", "tables")
        dirs = {t: os.path.join(events_dir, t) for t in cfg.tables}
        stats = bounded_sync_multi_fused(
            spark, dirs, out_root, ckpt,
            {t: to_stream_config(cfg) for t in cfg.tables})
        return {"out_path": out_root, "stats": stats}
    out_tables = os.path.join(data_dir, "out", "tables", "events")
    stats = bounded_sync(spark, events_dir, out_tables, ckpt,
                         to_stream_config(cfg))
    return {"out_path": out_tables, "stats": stats}
