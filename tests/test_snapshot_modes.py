"""Snapshot-mode enum parity (reference ``configuration.py:129-136``
SnapshotMode + ``ex_mysql_cdc/src/component.py:575-592`` dispatch):

- ``never`` on the initial run degrades to ``schema_only`` recovery —
  schema recorded, NO data rows, offsets captured at the source end so
  the actual sync starts next execution;
- any other initial run runs ``initial_only`` (snapshot now);
- post-initial, ``never``/``initial`` stream strictly past the stored
  offsets; ``when_needed`` re-snapshots only when the log no longer
  reaches back to the stored offsets; ``initial_only``/``snapshot_only``
  always take a full snapshot.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from python_cdc_component_spark.control import (
    SNAPSHOT_MODES, resolve_snapshot_mode)
from python_cdc_component_spark.engine import SyncConfig, sync
from python_cdc_component_spark.model.envelope import SYSTEM_COLUMNS as SC
from python_cdc_component_spark.sinks.state import RunState
from python_cdc_component_spark.sources.events import read_events


def _raw(spark, sf_dir):
    return read_events(spark, sf_dir).select(
        "event_id", F.col("ts_ns").alias("ts"), "user_id", "event_type",
        "value", "props")


def _stage(df, src_dir):
    """Write rows as the staged log at ``src_dir/events.parquet``."""
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(src_dir, "events.parquet"))


def test_resolve_snapshot_mode_matrix():
    fresh, resumed = RunState(), RunState()
    resumed.offsets["events"] = {"ts": 1, "file": "f", "pos": 10}
    assert resolve_snapshot_mode("never", fresh) == "schema_only"
    for m in SNAPSHOT_MODES:
        if m != "never":
            assert resolve_snapshot_mode(m, fresh) == "initial_only"
    for m in SNAPSHOT_MODES:
        assert resolve_snapshot_mode(m, resumed) == m
    with pytest.raises(ValueError):
        resolve_snapshot_mode("bogus", fresh)


def test_never_mode_lifecycle(spark, sf_dir, tmp_path):
    """Run 1 (initial, never) emits schema + offsets but zero rows; run 2
    consumes exactly the events that arrived after run 1's end."""
    src = str(tmp_path / "src"); os.makedirs(src)
    out = str(tmp_path / "out")
    raw = _raw(spark, sf_dir)
    mid = raw.agg(F.max("event_id")).collect()[0][0] // 2

    _stage(raw.filter(F.col("event_id") <= mid), src)
    state = RunState()
    cfg = SyncConfig(snapshot_mode="never")
    res1 = sync(spark, src, out, cfg, state)["events"]
    assert res1.count() == 0                       # schema-only recovery
    assert os.path.exists(os.path.join(out, "schema.json"))
    m1 = raw.filter(F.col("event_id") <= mid).agg(
        F.max("event_id")).collect()[0][0]
    assert state.offsets["events"]["pos"] == m1    # captured source end

    _stage(raw, src)                               # the log grew
    res2 = sync(spark, src, out, cfg, state)["events"]
    got = {(r["user_id"], r[SC.POS]) for r in res2.collect()}
    assert got and all(pos > m1 for _, pos in got)
    # DEDUPE over only the new slice: one row per user seen after m1
    n_users = (raw.filter(F.col("event_id") > m1)
               .select("user_id").distinct().count())
    assert len(got) == n_users
    assert state.offsets["events"]["pos"] == raw.agg(
        F.max("event_id")).collect()[0][0]


def test_initial_mode_streams_after_first_run(spark, sf_dir, tmp_path):
    """Default ``initial``: full snapshot on run 1, offset-bounded stream
    on run 2 (no history replay)."""
    src = str(tmp_path / "src"); os.makedirs(src)
    out = str(tmp_path / "out")
    raw = _raw(spark, sf_dir)
    _stage(raw, src)
    state = RunState()
    res1 = sync(spark, src, out, SyncConfig(), state)["events"]
    assert res1.count() == raw.select("user_id").distinct().count()
    # run 2 against the unchanged log: nothing past the offsets
    res2 = sync(spark, src, out, SyncConfig(), state)["events"]
    assert res2.count() == 0


def test_snapshot_only_always_replays(spark, sf_dir, tmp_path):
    """Configured ``initial_only``/``snapshot_only`` re-snapshots every
    run even with offsets present."""
    src = str(tmp_path / "src"); os.makedirs(src)
    out = str(tmp_path / "out")
    raw = _raw(spark, sf_dir)
    _stage(raw, src)
    state = RunState()
    n_users = raw.select("user_id").distinct().count()
    for mode in ("initial_only", "snapshot_only"):
        res = sync(spark, src, out, SyncConfig(snapshot_mode=mode),
                   state)["events"]
        assert res.count() == n_users


def test_when_needed_resnapshots_on_truncated_log(spark, sf_dir, tmp_path):
    """``when_needed``: valid offsets → stream; a log truncated past the
    stored offsets (gap) → full re-snapshot."""
    src = str(tmp_path / "src"); os.makedirs(src)
    out = str(tmp_path / "out")
    raw = _raw(spark, sf_dir)
    mid = raw.agg(F.max("event_id")).collect()[0][0] // 2
    cfg = SyncConfig(snapshot_mode="when_needed")

    # valid offsets: full log, offsets at mid → only the tail streams
    _stage(raw, src)
    state = RunState()
    state.offsets["events"] = {"ts": 0, "file": "binlog.000001", "pos": mid}
    res = sync(spark, src, out, cfg, state)["events"]
    assert all(r[SC.POS] > mid for r in res.collect())

    # invalid offsets: log starts AFTER the stored position + 1 → gap →
    # re-snapshot everything available
    start = mid * 2 - mid // 2
    _stage(raw.filter(F.col("event_id") > start), src)
    state2 = RunState()
    state2.offsets["events"] = {"ts": 0, "file": "binlog.000001", "pos": 1}
    res2 = sync(spark, src, out, cfg, state2)["events"]
    n_users_tail = (raw.filter(F.col("event_id") > start)
                    .select("user_id").distinct().count())
    assert res2.count() == n_users_tail


def test_schema_only_post_initial_streams(spark, sf_dir, tmp_path):
    """Configured ``schema_only``: run 1 on a fresh state maps to
    ``initial_only`` (reference dispatch — any non-``never`` initial run
    snapshots now); run 2+ must STREAM changes past the stored offsets —
    Debezium with existing offsets streams normally under schema_only,
    so an empty post-initial run would be silent data loss every run
    (ADVICE r4, medium)."""
    src = str(tmp_path / "src"); os.makedirs(src)
    out = str(tmp_path / "out")
    raw = _raw(spark, sf_dir)
    mid = raw.agg(F.max("event_id")).collect()[0][0] // 2
    cfg = SyncConfig(snapshot_mode="schema_only")

    _stage(raw.filter(F.col("event_id") <= mid), src)
    state = RunState()
    res0 = sync(spark, src, out, cfg, state)["events"]
    assert res0.count() == (raw.filter(F.col("event_id") <= mid)
                            .select("user_id").distinct().count())
    assert state.offsets["events"]["pos"] == mid
    with open(os.path.join(out, "schema.json")) as fh:
        assert json.load(fh)                        # schema was recorded

    # post-initial: offsets stored → schema_only STREAMS the new slice
    _stage(raw, src)
    res1 = sync(spark, src, out, cfg, state)["events"]
    got = {(r["user_id"], r[SC.POS]) for r in res1.collect()}
    assert got and all(pos > mid for _, pos in got)
    n_users = (raw.filter(F.col("event_id") > mid)
               .select("user_id").distinct().count())
    assert len(got) == n_users
    assert state.offsets["events"]["pos"] == raw.agg(
        F.max("event_id")).collect()[0][0]


def test_streaming_schema_only_post_initial_streams(spark, sf_dir,
                                                    tmp_path):
    """Stream-path flavor of the same contract: with a committed
    checkpoint, configured ``schema_only`` must emit the newly arrived
    files instead of checkpointing past them with zero output."""
    from python_cdc_component_spark.streaming.bounded import (
        BoundedStreamConfig, bounded_sync)
    import shutil

    src = str(tmp_path / "ssrc"); os.makedirs(src)
    out, ckpt = str(tmp_path / "sout"), str(tmp_path / "sckpt")
    raw = _raw(spark, sf_dir)
    mid = raw.agg(F.max("event_id")).collect()[0][0] // 2

    def stage(df, name):
        d = str(tmp_path / f"_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(d)
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(d, f),
                            os.path.join(src, f"{name}.parquet"))

    cfg = BoundedStreamConfig(mode="DEDUPE", primary_keys=["user_id"],
                              snapshot_mode="schema_only")
    stage(raw.filter(F.col("event_id") <= mid), "half1")
    bounded_sync(spark, src, out, ckpt, cfg)       # initial: no rows out

    stage(raw.filter(F.col("event_id") > mid), "half2")
    bounded_sync(spark, src, out, ckpt, cfg)
    got = spark.read.parquet(out)
    assert got.count() > 0                         # the new slice landed
    assert got.agg(F.min(F.col("kbc__pos"))).first()[0] > mid


@pytest.mark.parametrize("ckpt_uri", [False, True], ids=["path", "uri"])
def test_streaming_never_mode_chained(spark, sf_dir, tmp_path, ckpt_uri):
    """Stream-path snapshot_mode='never': run 1 (fresh checkpoint)
    commits every present file while emitting zero rows; run 2 consumes
    ONLY files that arrived afterwards — also when the checkpoint is a
    ``file://`` URI (run 2 must see the committed checkpoint, not treat
    itself as initial and drop the second half)."""
    from python_cdc_component_spark.streaming.bounded import (
        BoundedStreamConfig, bounded_sync)

    src = str(tmp_path / "ssrc"); os.makedirs(src)
    out, ckpt = str(tmp_path / "sout"), str(tmp_path / "sckpt")
    if ckpt_uri:
        ckpt = "file://" + ckpt
    raw = _raw(spark, sf_dir)
    mid = raw.agg(F.max("event_id")).collect()[0][0] // 2

    def stage(df, name):
        d = str(tmp_path / f"_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(d)
        import shutil
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(d, f),
                            os.path.join(src, f"{name}.parquet"))

    cfg = BoundedStreamConfig(mode="DEDUPE", primary_keys=["user_id"],
                              snapshot_mode="never")
    stage(raw.filter(F.col("event_id") <= mid), "half1")
    stats1 = bounded_sync(spark, src, out, ckpt, cfg)
    assert stats1["snapshot_mode_effective"] == "schema_only"
    assert not os.path.exists(out) or not [
        f for f in os.listdir(out) if f.endswith(".parquet")] or \
        spark.read.parquet(out).count() == 0

    stage(raw.filter(F.col("event_id") > mid), "half2")
    stats2 = bounded_sync(spark, src, out, ckpt, cfg)
    assert stats2["snapshot_mode_effective"] == "never"
    got = spark.read.parquet(out)
    assert got.count() > 0
    assert got.agg(F.min(F.col("kbc__pos"))).first()[0] > mid


def test_stream_drains_reject_unknown_snapshot_mode(spark, sf_dir,
                                                    tmp_path):
    """A mistyped snapshot_mode fails on both stream drains, as it does
    on the batch path (control.resolve_snapshot_mode) — never silently
    replays the log under an unknown mode."""
    from python_cdc_component_spark.streaming.bounded import (
        BoundedStreamConfig, bounded_sync, bounded_sync_multi_fused)

    src = str(tmp_path / "src")
    _raw(spark, sf_dir).coalesce(1).write.parquet(src)
    cfg = BoundedStreamConfig(mode="DEDUPE", primary_keys=["user_id"],
                              snapshot_mode="schema-only")
    with pytest.raises(ValueError, match="unknown snapshot_mode"):
        bounded_sync(spark, src, str(tmp_path / "out"),
                     str(tmp_path / "ckpt"), cfg)
    with pytest.raises(ValueError, match="unknown snapshot_mode"):
        bounded_sync_multi_fused(spark, {"t": src}, str(tmp_path / "fout"),
                                 str(tmp_path / "fckpt"), {"t": cfg})
    assert not spark.streams.active
