"""Engine lifecycle — the reference's ``ComponentBase.run()`` (SURVEY §3.1)
as one declarative Spark pipeline.

Reference flow (``ex_mysql_cdc/src/component.py:92-170``): config → state
restore → metadata → Debezium ingest → staging export (dedup SQL) →
manifests/state. Spark flow: scan event source → normalize envelope →
route schema-changes → mode switch (append | window-dedup) → rename to
output system columns → sink + manifest + state. Each output table is
one Spark execution: the shuffle map stage of the dedup window plus the
write, with the end offsets observed during that write
(``DataFrame.observe``) instead of a second pass over the plan; there
are no process boundaries (the reference crosses five, SURVEY §3.1).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .model.envelope import SYSTEM_COLUMNS as SC
from .model.schema import TableSchema, SchemaRegistry
from .operators.dedup import dedup_latest, dedup_latest_no_pk
from .operators.filters import apply_column_filter
from .operators.order import order_sort_cols
from .sinks.csv_sink import write_csv, write_parquet
from .sinks.manifest import write_legacy_manifest, write_manifest
from .sinks.state import RunState
from .sources.events import read_cdc_events, PAYLOAD_COLS


@dataclass
class SyncConfig:
    """The subset of the reference's configuration surface the engine
    consumes (reference ``configuration.py:188-196`` dataclass tree)."""

    mode: str = "DEDUPE"                 # APPEND | DEDUPE (T9)
    primary_keys: list[str] = field(default_factory=lambda: ["user_id"])
    column_include: list[str] | None = None
    column_exclude: list[str] | None = None
    output_format: str = "parquet"       # parquet | csv
    incremental: bool = True
    # SnapshotMode parity (reference configuration.py:129-136; dispatch
    # component.py:575-592 → control.resolve_snapshot_mode)
    snapshot_mode: str = "initial"
    # manifest shape: "schema" (the current typed form) or "legacy"
    # (the reference's pre-`schema` column_metadata form — a reference
    # user's downstream loader consumes those unchanged; K4 interop)
    manifest_format: str = "schema"
    # legacy manifests carry the storage destination when configured
    # (reference generate_output_bucket_name + table name)
    destination: str | None = None


_OUTPUT_RENAMES = {
    SC.operation: SC.OPERATION,
    SC.event_timestamp: SC.EVENT_TIMESTAMP_MS,
    SC.file: SC.FILE,
    SC.pos: SC.POS,
    SC.deleted: SC.DELETED,
    SC.batch_event_order: SC.BATCH_EVENT_ORDER,
}


def _write_table_manifest(merged: TableSchema, path: str,
                          cfg: SyncConfig) -> None:
    """Manifest sink dispatch: the typed `schema` form, or the
    reference's legacy column_metadata form. Legacy parity details the
    reference itself pins: append load types clear the primary key,
    while a PK-less DEDUPE table builds its PK from all non-system
    columns (component.py:403-408); incremental load types emit
    `incremental: true` and full loads omit the key — the reference's
    incremental-append-chained goldens carry it on DATA tables, so a
    downstream loader relies on it to not replace the table."""
    if cfg.manifest_format == "legacy":
        pk = list(merged.primary_keys) or None
        if cfg.mode.upper() != "DEDUPE":
            pk = None
        elif not pk:
            # reference component.py:406-408: "No primary keys found...
            # building primary key using all attributes" (non-system)
            pk = [f.name for f in merged.struct.fields
                  if not f.name.startswith("KBC__")]
        destination = (f"{cfg.destination}.{merged.name}"
                       if cfg.destination else None)
        write_legacy_manifest(merged, path, destination=destination,
                              primary_key=pk,
                              incremental=True if cfg.incremental else None)
    else:
        write_manifest(merged, path, incremental=cfg.incremental)


def _write_observed(result: DataFrame, path: str, cfg: SyncConfig) -> dict:
    """Write ``result`` to its sink and return its end offsets (max
    event timestamp and pos; NULL when empty), observed during the
    write instead of a second execution of the plan. The observed frame
    stays local: an Observation fires once, and callers re-execute
    ``result``."""
    obs = Observation()
    observed = result.observe(obs,
                              F.max(SC.EVENT_TIMESTAMP_MS).alias("ts"),
                              F.max(SC.POS).alias("pos"))
    if cfg.output_format == "csv":
        write_csv(observed, path)
    else:
        write_parquet(observed, path)
    return obs.get


def _advance_offsets(state: RunState, table_name: str, bounds) -> None:
    """Advance ``table_name``'s offsets to ``bounds``. An empty source
    yields NULL bounds — keep the prior offsets so is_initial_run
    semantics survive an empty run (the reference likewise only
    advances offsets on consumed events)."""
    if bounds["ts"] is not None and bounds["pos"] is not None:
        state.offsets[table_name] = {"ts": bounds["ts"],
                                     "file": "binlog.000001",
                                     "pos": bounds["pos"]}


def to_output_columns(df: DataFrame) -> DataFrame:
    """F8: normalize ``kbc__*`` ingest names to ``KBC__*`` output names
    (reference ``component.py:628-644``)."""
    for src, dst in _OUTPUT_RENAMES.items():
        if src in df.columns:
            df = df.withColumnRenamed(src, dst)
    return df


def plan_table(events: DataFrame, cfg: SyncConfig) -> DataFrame:
    """Build the per-table logical plan: column filter → (dedup | append)
    → output naming. Pure plan construction — nothing executes here."""
    df = apply_column_filter(events, cfg.column_include, cfg.column_exclude)
    if cfg.mode.upper() == "DEDUPE":
        if cfg.primary_keys:
            df = dedup_latest(df, cfg.primary_keys,
                              order_by=order_sort_cols(descending=True))
        else:
            df = dedup_latest_no_pk(df, system_cols=SC.ingest_names + ["_table"])
    return to_output_columns(df)


def sync(spark: SparkSession, sf_dir: str, out_dir: str,
         cfg: SyncConfig | None = None,
         state: RunState | None = None) -> dict[str, DataFrame]:
    """Run one bounded sync: source → plan → sinks. Returns the result
    DFs per output table (materialized to ``out_dir``)."""
    cfg = cfg or SyncConfig()
    state = state or RunState()
    os.makedirs(out_dir, exist_ok=True)

    table_name = "events"
    events = read_cdc_events(spark, sf_dir)

    # Snapshot-mode dispatch (reference component.py:575-592 +
    # AbstractDebeziumTask snapshot phases). The file-backed source's
    # "snapshot" is the history already in the log; "streaming" is
    # everything past the stored offsets.
    from .control import resolve_snapshot_mode
    effective = resolve_snapshot_mode(cfg.snapshot_mode, state)
    prev = state.offsets.get(table_name)
    # schema_only is metadata-only ONLY while no offsets exist (the
    # initial-contact / never-degradation recovery run).  Once offsets
    # are stored, Debezium under schema_only streams changes normally —
    # treating it as another empty run would silently skip every event
    # between the stored offsets and the source end (ADVICE r4, medium).
    schema_only_bootstrap = (
        effective in ("schema_only", "schema_only_recovery")
        and prev is None)
    if schema_only_bootstrap:
        # metadata-only run: register the schema, emit no data rows, and
        # advance offsets to the source's current end so the next run
        # streams from "now" (no history replay) — the reference's
        # schema-only recovery contract.
        data = events.filter(F.lit(False))
    elif effective in ("initial_only", "snapshot_only"):
        data = events                    # full snapshot + history replay
    elif effective == "when_needed":
        # stream from stored offsets if they are still valid (the log
        # still reaches back to them); a truncated log → re-snapshot
        mn = events.agg(F.min(SC.pos)).collect()[0][0]
        if prev is not None and (mn is None or mn <= prev["pos"] + 1):
            data = events.filter(F.col(SC.pos) > prev["pos"])
        else:
            data = events
    else:            # initial | never | schema_only, with stored offsets
        data = (events.filter(F.col(SC.pos) > prev["pos"])
                if prev is not None else events)

    result = plan_table(data, cfg)
    path = os.path.join(out_dir, table_name)

    # T4/T5 schema drift across runs: merge with the previous run's
    # registry (dropped columns survive as nullable, reference
    # component.py:449-488) and align the output to the merged schema
    # (NULL-padding projection, P2).
    registry_path = os.path.join(out_dir, "schema.json")
    registry = (SchemaRegistry.load(registry_path)
                if os.path.exists(registry_path) else SchemaRegistry())
    schema = TableSchema(name=table_name, struct=result.schema,
                         primary_keys=cfg.primary_keys)
    merged = registry.update(schema)
    if [f.name for f in merged.struct.fields] != result.columns:
        from .operators.schema_align import align_to_schema
        result = align_to_schema(result, merged.struct)

    bounds = _write_observed(result, path, cfg)

    registry.save(registry_path)
    _write_table_manifest(merged, path + ".manifest", cfg)

    # Advance offsets to the max consumed coordinates (bounded-run end,
    # the reference's "captured target position", P6). The schema-only
    # BOOTSTRAP run consumes nothing but still captures the source's end
    # position — that is what makes "the sync starts next execution"
    # work; it is the only intentionally-empty run allowed to advance.
    if schema_only_bootstrap:
        bounds = events.agg(
            F.max(SC.event_timestamp).alias("ts"),
            F.max(SC.pos).alias("pos")).collect()[0]
    _advance_offsets(state, table_name, bounds)
    state.last_synced_tables = [table_name]
    state.previous_mode = cfg.mode
    state.save(os.path.join(out_dir, "state.json"))
    return {table_name: result}


def _fuse_plan(events: DataFrame, cfgs: dict[str, SyncConfig]) -> DataFrame:
    """The fused multi-table plan over ONE shared-schema event frame:
    group tables by (mode, primary keys), dedup each mode group with a
    single window over ``(_table, *pks)``, union the groups back.  Used
    by both ``sync_multi_fused`` (homogeneous fleets) and
    ``sync_multi_fused_hetero`` (per-schema-group fusion)."""
    by_mode: dict[tuple, list[str]] = {}
    for t, cfg in cfgs.items():
        key = (cfg.mode.upper(), tuple(cfg.primary_keys or ()))
        by_mode.setdefault(key, []).append(t)

    outputs = []
    for (mode, pks), tables in sorted(by_mode.items()):
        branch = events.filter(F.col("_table").isin(tables))
        if mode == "DEDUPE":
            branch = dedup_latest(
                branch, ["_table", *pks],
                order_by=order_sort_cols(descending=True))
        outputs.append(to_output_columns(branch))

    result = outputs[0]
    for df in outputs[1:]:
        result = result.unionByName(df, allowMissingColumns=True)
    return result


def schema_fingerprint(df: DataFrame) -> tuple:
    """Order-insensitive (name, type) fingerprint of a frame's payload
    schema (the ``_table`` discriminator excluded) — the grouping key
    that decides which tables can share one fused job."""
    return tuple(sorted((f.name, f.dataType.simpleString())
                        for f in df.schema.fields if f.name != "_table"))


def sync_multi_fused_hetero(spark: SparkSession,
                            events_by_table: dict[str, DataFrame],
                            out_dir: str,
                            cfgs: dict[str, SyncConfig],
                            state: RunState | None = None
                            ) -> dict[tuple, DataFrame]:
    """Mixed-schema fleets at the fused job count: group tables by
    schema fingerprint and run ONE fused sync per group — O(#schemas)
    Spark jobs, not O(#tables) (VERDICT r4 #8; ``sync_multi_fused``
    requires one shared envelope schema).

    Each group writes its slice of the SAME partitioned dataset with
    dynamic partition overwrite (partition dirs are disjoint because
    tables are disjoint across groups), so the sink layout is identical
    to ``sync_multi_fused``'s and readers don't change.  Returns the
    fused result frame per fingerprint group.
    """
    state = state or RunState()
    os.makedirs(out_dir, exist_ok=True)
    registry_path = os.path.join(out_dir, "schema.json")
    registry = (SchemaRegistry.load(registry_path)
                if os.path.exists(registry_path) else SchemaRegistry())

    groups: dict[tuple, list[str]] = {}
    for t in sorted(cfgs):
        df = events_by_table[t]
        groups.setdefault(schema_fingerprint(df), []).append(t)

    tables_dir = os.path.join(out_dir, "tables")
    results: dict[tuple, DataFrame] = {}
    for fp, tables in sorted(groups.items()):
        frames = []
        for t in tables:
            df = events_by_table[t]
            # the dict key is the table identity — stamp it regardless
            # of any _table the source envelope already carried
            if "_table" in df.columns:
                df = df.drop("_table")
            frames.append(df.withColumn("_table", F.lit(t)))
        ev = frames[0]
        for df in frames[1:]:
            ev = ev.unionByName(df)
        result = _fuse_plan(ev, {t: cfgs[t] for t in tables})
        (result.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_table").parquet(tables_dir))

        bounds = (result.groupBy("_table")
                  .agg(F.max(SC.EVENT_TIMESTAMP_MS).alias("ts"),
                       F.max(SC.POS).alias("pos")).collect())
        for r in bounds:
            _advance_offsets(state, r["_table"], r)
        data_schema = T.StructType(
            [f for f in result.schema.fields if f.name != "_table"])
        for t in tables:
            schema = TableSchema(
                name=t, struct=data_schema,
                primary_keys=list(cfgs[t].primary_keys or []))
            merged = registry.update(schema)
            _write_table_manifest(
                merged, os.path.join(out_dir, f"{t}.manifest"), cfgs[t])
        results[fp] = result

    registry.save(registry_path)
    state.last_synced_tables = sorted(cfgs)
    state.save(os.path.join(out_dir, "state.json"))
    return results


def sync_multi_fused(spark: SparkSession, events: DataFrame, out_dir: str,
                     cfgs: dict[str, SyncConfig],
                     state: RunState | None = None) -> DataFrame:
    """Many-small-tables scale path: ALL tables in O(1) Spark jobs
    instead of one job per table.

    ``sync_multi`` mirrors the reference's per-table staging loop
    (``component.py:355-364``) — correct, but at 150+ tables the cost is
    driver scheduling, not data (bench ``many_tables``: p50 ~0.8 s per
    tiny table = pure orchestration).  When the tables share one
    envelope schema (the sharded-log regime this scenario models), the
    whole sync collapses into:

    - ONE window over ``(_table, *pks)`` for every DEDUPE table — a
      single shuffle whose key space is the union of all tables;
    - ONE ``partitionBy("_table")`` parquet write per mode group (the
      sink directory layout is identical to the per-table loop's, so
      readers and manifests don't change);
    - ONE groupBy("_table") aggregate for every table's end offsets.
      It re-executes the fused plan after the write: ``observe`` has no
      GROUP BY, so the single-execution offsets of ``sync`` and
      ``sync_multi`` wait for this path to fold into one batch sync path.

    Tables may differ in mode (APPEND vs DEDUPE) — each mode group is
    fused independently.  Tables needing different primary keys or
    divergent schemas stay on ``sync_multi``; mixing both paths over a
    disjoint table split is safe because outputs are per-table
    directories either way.  Returns the combined result frame
    (``_table`` column retained).
    """
    state = state or RunState()
    os.makedirs(out_dir, exist_ok=True)

    registry_path = os.path.join(out_dir, "schema.json")
    registry = (SchemaRegistry.load(registry_path)
                if os.path.exists(registry_path) else SchemaRegistry())

    result = _fuse_plan(events, cfgs)

    (result.write.mode("overwrite").partitionBy("_table")
     .parquet(os.path.join(out_dir, "tables")))

    # per-table end offsets: ONE aggregate, n_tables control-plane rows
    bounds = (result.groupBy("_table")
              .agg(F.max(SC.EVENT_TIMESTAMP_MS).alias("ts"),
                   F.max(SC.POS).alias("pos")).collect())
    for r in bounds:
        _advance_offsets(state, r["_table"], r)
    data_schema = T.StructType(
        [f for f in result.schema.fields if f.name != "_table"])
    for t in sorted(cfgs):
        schema = TableSchema(name=t, struct=data_schema,
                             primary_keys=list(cfgs[t].primary_keys or []))
        merged = registry.update(schema)
        # manifests live BESIDE the partitioned dataset (a stray file
        # inside tables/ would break the partition-discovery scan)
        _write_table_manifest(
            merged, os.path.join(out_dir, f"{t}.manifest"), cfgs[t])
    registry.save(registry_path)
    state.last_synced_tables = sorted(cfgs)
    state.save(os.path.join(out_dir, "state.json"))
    return result


def sync_multi(spark: SparkSession, events: DataFrame, out_dir: str,
               cfgs: dict[str, SyncConfig],
               state: RunState | None = None) -> dict[str, DataFrame]:
    """Multi-table sync: one normalized event stream carrying several
    tables (``_table`` discriminator from the envelope's ``schema.name``,
    reference ``DbChangeConsumer.java:164-199``), routed per table and
    run through the same per-table plan the single-table ``sync`` uses.
    The reference iterates tables in ``_load_tables_to_stage``
    (``component.py:355-364``); here each table is an independent branch
    of the same scan — Catalyst pushes the ``_table`` filter into each
    branch, and a ``_table``-partitioned source prunes to one directory
    per branch.

    Schema-change (DDL) events, if present, are split off first and
    appended to the fixed-schema side table (T6: always incremental).
    """
    from .operators.routing import split_schema_changes

    state = state or RunState()
    os.makedirs(out_dir, exist_ok=True)

    if "ddl" in events.columns:
        events, ddl = split_schema_changes(events)
        if not ddl.isEmpty():
            (ddl.write.mode("append")
             .parquet(os.path.join(out_dir, "schema_changes")))
        # the ddl column belongs to the side table only — the data
        # tables (and their manifests/registry) must never carry it
        events = events.drop("ddl")

    registry_path = os.path.join(out_dir, "schema.json")
    registry = (SchemaRegistry.load(registry_path)
                if os.path.exists(registry_path) else SchemaRegistry())

    results: dict[str, DataFrame] = {}
    for table_name, cfg in sorted(cfgs.items()):
        branch = events.filter(F.col("_table") == table_name).drop("_table")
        result = plan_table(branch, cfg)
        path = os.path.join(out_dir, table_name)

        schema = TableSchema(name=table_name, struct=result.schema,
                             primary_keys=cfg.primary_keys)
        merged = registry.update(schema)
        if [f.name for f in merged.struct.fields] != result.columns:
            from .operators.schema_align import align_to_schema
            result = align_to_schema(result, merged.struct)

        bounds = _write_observed(result, path, cfg)
        _write_table_manifest(merged, path + ".manifest", cfg)
        _advance_offsets(state, table_name, bounds)
        results[table_name] = result

    registry.save(registry_path)
    state.last_synced_tables = sorted(cfgs)
    state.save(os.path.join(out_dir, "state.json"))
    return results
