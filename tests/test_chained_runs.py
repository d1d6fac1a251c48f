"""Chained-run (incremental) sync tests — the reference's chained
functional scenario (SURVEY §5: `incremental-dedupe-chained/01_...` →
`02_inserts_updates_deletes`): run 1 lands a full load, run 2 reuses the
checkpoint/state and consumes ONLY the new events, and the compacted
output equals a single global dedup over everything."""

import os
import shutil

from pyspark.sql import functions as F

from python_cdc_component_spark.model.envelope import SYSTEM_COLUMNS as SC
from python_cdc_component_spark.operators.dedup import dedup_latest
from python_cdc_component_spark.sources.events import read_cdc_events
from python_cdc_component_spark.streaming.bounded import (
    BoundedStreamConfig, bounded_sync)


def _copy_half(spark, sf_dir, tmp_path, src):
    """Split the events file into two halves by event_id; return the
    raw-rows DataFrame and the midpoint."""
    from python_cdc_component_spark.sources.events import read_events
    raw = read_events(spark, sf_dir).select(
        "event_id", F.col("ts_ns").alias("ts"), "user_id", "event_type",
        "value", "props")
    mid = raw.agg(F.max("event_id")).collect()[0][0] // 2
    return raw, mid


def _stage(df, tmp_path, src, name):
    d = str(tmp_path / f"_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(d, f), os.path.join(src, f"{name}.parquet"))


def test_chained_incremental_sync(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    cfg = BoundedStreamConfig(mode="DEDUPE", primary_keys=["user_id"])

    raw, mid = _copy_half(spark, sf_dir, tmp_path, src)

    # ---- run 1: first half only (the "01_simple-full-load" stage)
    _stage(raw.filter(F.col("event_id") <= mid), tmp_path, src, "batch1")
    stats1 = bounded_sync(spark, src, out, ckpt, cfg)
    assert stats1["stopped_reason"] == "drained"
    assert stats1["batches"] == 1          # one file, one micro-batch
    got1 = {(r.user_id, r[SC.pos]) for r in spark.read.parquet(out).collect()}
    exp1 = {(r.user_id, r[SC.pos])
            for r in dedup_latest(
                read_cdc_events(spark, sf_dir)
                .filter(F.col(SC.pos) <= mid), ["user_id"]).collect()}
    assert got1 == exp1

    # ---- run 2: second half appended; same checkpoint → only the new
    # file is consumed (the "02_inserts_updates_deletes" stage)
    _stage(raw.filter(F.col("event_id") > mid), tmp_path, src, "batch2")
    stats2 = bounded_sync(spark, src, out, ckpt, cfg)
    assert stats2["stopped_reason"] == "drained"
    # run 2's own micro-batches (the one new file), not the lifetime
    # total of the checkpoint it resumed
    assert stats2["batches"] == 1

    got2 = {(r.user_id, r[SC.pos]) for r in spark.read.parquet(out).collect()}
    exp2 = {(r.user_id, r[SC.pos])
            for r in dedup_latest(read_cdc_events(spark, sf_dir),
                                  ["user_id"]).collect()}
    assert got2 == exp2

    # keys updated in run 2 must carry run-2 positions (later wins across
    # runs, not only within a run)
    updated = {u for (u, p) in exp2 if p > mid}
    assert updated and all(p > mid for (u, p) in got2 if u in updated)

    # ---- run 3: nothing new → no micro-batch runs
    stats3 = bounded_sync(spark, src, out, ckpt, cfg)
    assert stats3["stopped_reason"] == "drained"
    assert stats3["batches"] == 0


def test_chained_soft_delete_survives_runs(spark, sf_dir, tmp_path):
    """A key whose LAST event (across both runs) is a delete must appear
    with kbc__deleted=true in the compacted output — soft delete is
    preserved through chained runs (SURVEY §7.4 known hard part)."""
    src = str(tmp_path / "sdsrc")
    os.makedirs(src)
    out = str(tmp_path / "sdout")
    ckpt = str(tmp_path / "sdckpt")
    cfg = BoundedStreamConfig(mode="DEDUPE", primary_keys=["user_id"])

    raw, mid = _copy_half(spark, sf_dir, tmp_path, src)
    _stage(raw.filter(F.col("event_id") <= mid), tmp_path, src, "b1")
    bounded_sync(spark, src, out, ckpt, cfg)
    _stage(raw.filter(F.col("event_id") > mid), tmp_path, src, "b2")
    bounded_sync(spark, src, out, ckpt, cfg)

    got = spark.read.parquet(out)
    # 'error' events are the delete-ops in the synthetic feed
    deleted_keys = {r.user_id for r in got.filter(F.col(SC.deleted)).collect()}
    expected = dedup_latest(read_cdc_events(spark, sf_dir), ["user_id"])
    exp_deleted = {r.user_id
                   for r in expected.filter(F.col(SC.deleted)).collect()}
    assert deleted_keys == exp_deleted
    assert exp_deleted          # scenario is non-vacuous at sf0.001


def test_schema_drift_drop_column_survives_runs(spark, sf_dir, tmp_path):
    """T5 drop-column drift through chained engine.sync runs (reference
    scenario schema-drift-drop-non-null): run 2's source lost a column →
    the output keeps it, NULL-padded, per the merged registry schema."""
    import json

    from python_cdc_component_spark.engine import SyncConfig, sync

    out = str(tmp_path / "drift_out")

    # run 1: full column set
    sync(spark, sf_dir, out, SyncConfig(mode="DEDUPE",
                                        primary_keys=["user_id"]))
    with open(f"{out}/schema.json") as fh:
        cols_run1 = [f["name"] for f in
                     json.load(fh)["events"]["schema"]["fields"]]
    assert "props" in cols_run1

    # run 2: 'props' dropped from the source
    sync(spark, sf_dir, out,
         SyncConfig(mode="DEDUPE", primary_keys=["user_id"],
                    column_exclude=["props"]))
    got = spark.read.parquet(f"{out}/events")
    assert "props" in got.columns                   # survived the drop
    assert got.filter(F.col("props").isNotNull()).count() == 0  # NULL-pad
    with open(f"{out}/schema.json") as fh:
        doc = json.load(fh)["events"]["schema"]["fields"]
    props_field = next(f for f in doc if f["name"] == "props")
    assert props_field["nullable"] is True
