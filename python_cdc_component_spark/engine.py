"""Engine lifecycle — the reference's ``ComponentBase.run()`` (SURVEY §3.1)
as one declarative Spark pipeline.

Reference flow (``ex_mysql_cdc/src/component.py:92-170``): config → state
restore → metadata → Debezium ingest → staging export (dedup SQL) →
manifests/state. Spark flow: scan event source → normalize envelope →
route schema-changes → mode switch (append | window-dedup) → rename to
output system columns → sink + manifest + state.

Every batch sync runs through one driver, :func:`_sync_tables`, over one
event frame per table; the reference likewise loops its tables through
one staging path (``component.py:355-364``). Snapshot mode, the
stored-offset filter, schema drift, manifests and state are each handled
there once. The three entry points only shape their input and pick the
sink: ``sync`` is the one-table case, ``sync_multi`` routes one shared
frame on ``_table`` into per-table directories, and ``sync_multi_fused``
writes each schema group of tables with one window and one
``_table``-partitioned write. Each write is one Spark execution: the
shuffle map stage of the dedup window plus the write, with every
table's end offsets observed during that write (``DataFrame.observe``)
instead of a second pass over the plan; there are no process boundaries
(the reference crosses five, SURVEY §3.1).
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .fs import fs_delete
from .model.envelope import SYSTEM_COLUMNS as SC
from .model.schema import TableSchema, SchemaRegistry
from .operators.dedup import dedup_latest, dedup_latest_no_pk
from .operators.filters import apply_column_filter
from .operators.order import order_sort_cols
from .sinks.csv_sink import write_csv, write_parquet
from .sinks.manifest import write_legacy_manifest, write_manifest
from .sinks.state import RunState
from .sources.events import read_cdc_events


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


def _write_observed(result: DataFrame, tables: list[str],
                    write) -> dict[str, dict]:
    """Run ``write`` over ``result`` and return each table's end offsets
    (max event timestamp and pos; NULL when it wrote no rows), observed
    during the write instead of a second execution of the plan. A
    fused write carries several tables, told apart by ``_table``. The
    observed frame stays local: an Observation fires once, and callers
    re-execute ``result``."""
    one = len(tables) == 1

    def end(col: str, t: str):
        return F.max(F.col(col) if one
                     else F.when(F.col("_table") == t, F.col(col)))

    obs = Observation()
    tags = {t: "" if one else str(i) for i, t in enumerate(tables)}
    write(result.observe(obs, *[
        agg for t, tag in tags.items()
        for agg in (end(SC.EVENT_TIMESTAMP_MS, t).alias(f"ts{tag}"),
                    end(SC.POS, t).alias(f"pos{tag}"))]))
    got = obs.get
    return {t: {"ts": got[f"ts{tag}"], "pos": got[f"pos{tag}"]}
            for t, tag in tags.items()}


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


def _fuse_plan(events: DataFrame, cfgs: dict[str, SyncConfig]) -> DataFrame:
    """The fused plan over ONE frame of output-named rows of several
    tables, told apart by ``_table``: group tables by (mode, primary
    keys), dedup each mode group with a single window over
    ``(_table, *pks)``, union the groups back. A PK-less DEDUPE group
    keys on all payload columns, as ``plan_table`` does."""
    by_mode: dict[tuple, list[str]] = {}
    for t, cfg in cfgs.items():
        key = (cfg.mode.upper(), tuple(cfg.primary_keys or ()))
        by_mode.setdefault(key, []).append(t)

    outputs = []
    for (mode, pks), tables in sorted(by_mode.items()):
        branch = events.filter(F.col("_table").isin(tables))
        if mode == "DEDUPE":
            keys = list(pks) or [c for c in branch.columns
                                 if c not in SC.output_names + ["_table"]]
            branch = dedup_latest(
                branch, ["_table", *keys],
                order_by=order_sort_cols(SC.EVENT_TIMESTAMP_MS, SC.FILE,
                                         SC.POS, descending=True))
        outputs.append(branch)

    result = outputs[0]
    for df in outputs[1:]:
        result = result.unionByName(df, allowMissingColumns=True)
    return result


def schema_fingerprint(df: DataFrame) -> tuple:
    """Order-insensitive (name, type) fingerprint of a frame's payload
    schema (the ``_table`` discriminator excluded) — the grouping key
    that decides which tables can share one fused job, in batch and in
    the stream fleet (``streaming.bounded._fleet_group_key``)."""
    return tuple(sorted((f.name, f.dataType.simpleString())
                        for f in df.schema.fields if f.name != "_table"))


def _select_events(events: DataFrame, table_name: str, configured: str,
                   state: RunState) -> tuple[DataFrame, bool]:
    """Snapshot-mode dispatch (reference component.py:575-592 +
    AbstractDebeziumTask snapshot phases): the events of ``events`` this
    run consumes, and whether the run is the schema-only bootstrap. The
    file-backed source's "snapshot" is the history already in the log;
    "streaming" is everything past the stored offsets."""
    from .control import resolve_snapshot_mode
    effective = resolve_snapshot_mode(configured, state)
    prev = state.offsets.get(table_name)
    # schema_only is metadata-only ONLY while no offsets exist (the
    # initial-contact / never-degradation recovery run).  Once offsets
    # are stored, Debezium under schema_only streams changes normally —
    # treating it as another empty run would silently skip every event
    # between the stored offsets and the source end (ADVICE r4, medium).
    if effective in ("schema_only", "schema_only_recovery") and prev is None:
        # metadata-only run: register the schema, emit no data rows, and
        # advance offsets to the source's current end so the next run
        # streams from "now" (no history replay) — the reference's
        # schema-only recovery contract.
        return events.filter(F.lit(False)), True
    if prev is None or effective in ("initial_only", "snapshot_only"):
        return events, False             # full snapshot + history replay
    if effective == "when_needed":
        # stream from stored offsets if they are still valid (the log
        # still reaches back to them); a truncated log → re-snapshot
        mn = events.agg(F.min(SC.pos)).collect()[0][0]
        if mn is not None and mn > prev["pos"] + 1:
            return events, False
    # initial | never | schema_only | when_needed, with stored offsets
    return events.filter(F.col(SC.pos) > prev["pos"]), False


def _sync_tables(spark: SparkSession, frames: dict[str, DataFrame],
                 out_dir: str, cfgs: dict[str, SyncConfig],
                 state: RunState | None, fused: bool) -> dict:
    """The batch sync driver: one event frame per table → plan → sinks
    → manifests → offsets → ``schema.json`` + ``state.json``.

    Per table it selects the events past the stored offsets, plans them
    and aligns them to the table's schema merged with the previous
    run's registry (T4/T5: dropped columns survive as nullable,
    reference component.py:449-488; NULL-padding projection, P2). Every
    table is planned against the state as it was stored, before any
    write advances it. Without ``fused`` each table is one write to
    ``out_dir/<t>`` in its ``output_format``; with ``fused`` the tables
    of one schema fingerprint share one window and one dynamic-overwrite
    parquet write partitioned by ``_table`` into ``out_dir/tables``
    (partition dirs are disjoint because tables are disjoint across
    groups, and a table that writes no rows loses its partition).
    Returns the written frame per write: per table name, or per
    fingerprint when fused."""
    from .operators.schema_align import align_to_schema

    state = state or RunState()
    registry_path = os.path.join(out_dir, "schema.json")
    registry = SchemaRegistry.load(registry_path)

    planned: dict[str, DataFrame] = {}
    merged: dict[str, TableSchema] = {}
    bootstrap: set[str] = set()
    for t, cfg in sorted(cfgs.items()):
        data, schema_only = _select_events(frames[t], t, cfg.snapshot_mode,
                                           state)
        if schema_only:
            bootstrap.add(t)
        # a fused table is deduped by the group's window, after alignment
        result = (to_output_columns(apply_column_filter(
                      data, cfg.column_include, cfg.column_exclude))
                  if fused else plan_table(data, cfg))
        merged[t] = registry.update(TableSchema(
            name=t, struct=result.schema, primary_keys=cfg.primary_keys))
        if [f.name for f in merged[t].struct.fields] != result.columns:
            result = align_to_schema(result, merged[t].struct)
        planned[t] = result

    # aligned before grouping: a table that carries a dropped column
    # fingerprints into a group of its own
    writes: dict = {}
    for t in sorted(cfgs):
        key = schema_fingerprint(planned[t]) if fused else t
        writes.setdefault(key, []).append(t)

    results: dict = {}
    for key, tables in sorted(writes.items()):
        if fused:
            result = _fuse_plan(
                functools.reduce(DataFrame.unionByName, [
                    planned[t].withColumn("_table", F.lit(t))
                    for t in tables]),
                {t: cfgs[t] for t in tables})
            bounds = _write_observed(result, tables, lambda df: (
                df.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_table")
                .parquet(os.path.join(out_dir, "tables"))))
            for t in tables:
                # dynamic overwrite keeps a partition the write left
                # empty: drop the last run's rows, as a per-table
                # overwrite empties its directory
                if bounds[t]["pos"] is None:
                    fs_delete(spark, os.path.join(out_dir, "tables",
                                                  f"_table={t}"))
        else:
            cfg, path = cfgs[key], os.path.join(out_dir, key)
            result = planned[key]
            bounds = _write_observed(result, tables, lambda df: (
                write_csv(df, path) if cfg.output_format == "csv"
                else write_parquet(df, path)))
        for t in tables:
            # manifests live BESIDE the data (a stray file inside
            # tables/ would break the partition-discovery scan)
            _write_table_manifest(merged[t],
                                  os.path.join(out_dir, f"{t}.manifest"),
                                  cfgs[t])
            # Advance offsets to the max consumed coordinates (bounded-
            # run end, the reference's "captured target position", P6).
            # The schema-only BOOTSTRAP run consumes nothing but still
            # captures the source's end position — that is what makes
            # "the sync starts next execution" work; it is the only
            # intentionally-empty run allowed to advance.
            if t in bootstrap:
                bounds[t] = frames[t].agg(
                    F.max(SC.event_timestamp).alias("ts"),
                    F.max(SC.pos).alias("pos")).collect()[0]
            _advance_offsets(state, t, bounds[t])
        results[key] = result

    registry.save(registry_path)
    state.last_synced_tables = sorted(cfgs)
    modes = {cfg.mode for cfg in cfgs.values()}
    if len(modes) == 1:
        state.previous_mode = modes.pop()
    state.save(os.path.join(out_dir, "state.json"))
    return results


def sync(spark: SparkSession, sf_dir: str, out_dir: str,
         cfg: SyncConfig | None = None,
         state: RunState | None = None) -> dict[str, DataFrame]:
    """Run one bounded sync of the event log at ``sf_dir``: the
    one-table case of the batch driver. The table is ``events``, and it
    keeps the source's ``_table`` column. Returns the result DFs per
    output table (materialized to ``out_dir``)."""
    return _sync_tables(spark, {"events": read_cdc_events(spark, sf_dir)},
                        out_dir, {"events": cfg or SyncConfig()}, state,
                        fused=False)


def sync_multi(spark: SparkSession, events: DataFrame, out_dir: str,
               cfgs: dict[str, SyncConfig],
               state: RunState | None = None) -> dict[str, DataFrame]:
    """Multi-table sync: one normalized event stream carrying several
    tables (``_table`` discriminator from the envelope's ``schema.name``,
    reference ``DbChangeConsumer.java:164-199``), routed per table and
    run through the same per-table plan the single-table ``sync`` uses,
    into ``out_dir/<t>``. Each table is an independent branch of the
    same scan — Catalyst pushes the ``_table`` filter into each branch,
    and a ``_table``-partitioned source prunes to one directory per
    branch.

    Schema-change (DDL) events, if present, are split off first and
    appended to the fixed-schema side table (T6: always incremental).
    """
    from .operators.routing import split_schema_changes

    if "ddl" in events.columns:
        events, ddl = split_schema_changes(events)
        if not ddl.isEmpty():
            (ddl.write.mode("append")
             .parquet(os.path.join(out_dir, "schema_changes")))
        # the ddl column belongs to the side table only — the data
        # tables (and their manifests/registry) must never carry it
        events = events.drop("ddl")
    return _sync_tables(
        spark, {t: events.filter(F.col("_table") == t).drop("_table")
                for t in cfgs}, out_dir, cfgs, state, fused=False)


def sync_multi_fused(spark: SparkSession,
                     events_by_table: dict[str, DataFrame], out_dir: str,
                     cfgs: dict[str, SyncConfig],
                     state: RunState | None = None) -> dict[tuple, DataFrame]:
    """Many-small-tables scale path: O(#schemas) Spark jobs instead of
    one job per table (VERDICT r4 #8).

    ``sync_multi`` mirrors the reference's per-table staging loop
    (``component.py:355-364``) — correct, but at 150+ tables the cost is
    driver scheduling, not data (bench ``many_tables``: p50 ~0.8 s per
    tiny table = pure orchestration). Here tables are grouped by the
    schema fingerprint of their aligned output, and each group collapses
    into ONE window over ``(_table, *pks)`` per mode group — a single
    shuffle whose key space is the union of the group's tables — and
    ONE ``partitionBy("_table")`` parquet write to ``out_dir/tables``,
    whose end offsets per table are observed during that write.

    A ``_table`` column in a frame is replaced by the dict key. A
    caller with one shared frame passes its ``_table`` slices. Returns
    the fused result frame (``_table`` column retained) per fingerprint
    group. The fused write is parquet only, so CSV tables are rejected.
    """
    csv = sorted(t for t, cfg in cfgs.items() if cfg.output_format == "csv")
    if csv:
        raise ValueError(f"tables {csv} want output_format='csv', but a "
                         "fused sync writes one parquet store")
    return _sync_tables(spark, {t: df.drop("_table")
                                for t, df in events_by_table.items()},
                        out_dir, cfgs, state, fused=True)
