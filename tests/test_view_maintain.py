"""Streaming aggregate-view maintenance: after EVERY micro-batch the
maintained view must equal a full recompute over the compacted state —
through inserts, updates (group migration), deletes, re-inserts, and
float-hostile measures accumulated across many read-modify-write
cycles."""

import pytest

from python_cdc_component_spark.sinks.merge import MergeCompactor
from python_cdc_component_spark.streaming.view_maintain import StreamingAggView

SCHEMA = ("user_id long, grp string, value double, "
          "kbc__event_timestamp long, kbc__file string, kbc__pos long, "
          "__deleted boolean")


def _batch(spark, rows):
    return spark.createDataFrame(
        [(u, g, v, ts, "binlog.000001", pos, d)
         for (u, g, v, ts, pos, d) in rows], SCHEMA)


def _snap(df):
    return {tuple(r[k] for k in ("grp",)): (r["n_rows"], r["sum_value"])
            for r in df.collect()}


def test_view_tracks_state_through_batches(spark, tmp_path):
    comp = MergeCompactor(str(tmp_path / "state"), ["user_id"],
                          num_buckets=4)
    view = StreamingAggView(str(tmp_path / "view"), ["user_id"], ["grp"],
                            "value")
    batches = [
        # inserts
        [(1, "a", 0.1, 10, 1, False), (2, "a", 0.2, 10, 2, False),
         (3, "b", 0.3, 10, 3, False)],
        # update 1 (a→b migration), delete 3, insert 4
        [(1, "b", 1.1, 20, 4, False), (3, "b", 0.0, 20, 5, True),
         (4, "c", 0.7, 20, 6, False)],
        # re-insert 3, delete 4 (empties group c), touch 2 in place
        [(3, "a", 0.9, 30, 7, False), (4, "c", 0.0, 30, 8, True),
         (2, "a", 0.25, 30, 9, False)],
    ]
    for rows in batches:
        view.update(spark, comp, _batch(spark, rows))
        got = _snap(view.read_view(spark))
        want = _snap(view.recompute(spark, comp))
        assert got == want, f"after batch {rows}: {got} != {want}"
    # final content sanity: 1→b, 2→a, 3→a live; 4 deleted; c gone
    final = _snap(view.read_view(spark))
    assert set(final) == {("a",), ("b",)}
    assert final[("a",)][0] == 2 and final[("b",)][0] == 1


def test_view_survives_many_rmw_cycles_exactly(spark, tmp_path):
    """20 read-modify-write cycles over 0.1-style values: a double-typed
    stored sum would drift; the decimal view must stay bit-equal to the
    recompute at every step."""
    comp = MergeCompactor(str(tmp_path / "state"), ["user_id"],
                          num_buckets=2)
    view = StreamingAggView(str(tmp_path / "view"), ["user_id"], ["grp"],
                            "value")
    for i in range(20):
        rows = [(100 + i, "g", 0.1, i, i, False)]
        view.update(spark, comp, _batch(spark, rows))
    got = _snap(view.read_view(spark))
    want = _snap(view.recompute(spark, comp))
    assert got == want
    assert got[("g",)][0] == 20


def test_bounded_sync_maintains_view_end_to_end(spark, sf_dir, tmp_path):
    """The full streaming driver loop (AvailableNow drain, multi-batch)
    with a configured view: after the drain, the stored view equals a
    recompute over the compacted state, and BOTH match the batch
    operators on the same input."""
    import shutil

    from pyspark.sql import functions as F
    from python_cdc_component_spark.model.envelope import (
        SYSTEM_COLUMNS as SC)
    from python_cdc_component_spark.operators.dedup import dedup_latest
    from python_cdc_component_spark.sources.events import read_cdc_events
    from python_cdc_component_spark.streaming.bounded import (
        BoundedStreamConfig, bounded_sync)

    src = str(tmp_path / "src")
    import os
    os.makedirs(src, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src, "p0.parquet"))
    comp_path, view_path = str(tmp_path / "state"), str(tmp_path / "view")
    stats = bounded_sync(
        spark, src, comp_path, str(tmp_path / "ckpt"),
        BoundedStreamConfig(mode="DEDUPE", primary_keys=["user_id"],
                            view_path=view_path,
                            view_group_keys=["event_type"],
                            view_measure="value"))
    assert stats["stopped_reason"] == "drained"
    from python_cdc_component_spark.sinks.merge import MergeCompactor
    from python_cdc_component_spark.streaming.view_maintain import (
        StreamingAggView)
    comp = MergeCompactor(comp_path, ["user_id"])
    view = StreamingAggView(view_path, ["user_id"], ["event_type"], "value")
    got = {r["event_type"]: (r["n_rows"], r["sum_value"])
           for r in view.read_view(spark).collect()}
    want = {r["event_type"]: (r["n_rows"], r["sum_value"])
            for r in view.recompute(spark, comp).collect()}
    assert got == want
    # batch-operator ground truth on the same input
    from decimal import Decimal
    cur = (dedup_latest(read_cdc_events(spark, sf_dir), ["user_id"])
           .filter(~F.col(SC.deleted)).select("event_type", "value"))
    truth = {}
    for r in cur.collect():
        n, s = truth.get(r["event_type"], (0, Decimal(0)))
        truth[r["event_type"]] = (n + 1,
                                  s + Decimal(str(round(r["value"], 6))))
    truth = {k: (n, float(s)) for k, (n, s) in truth.items()}
    assert got == truth


def test_view_drain_into_store_of_other_bucket_count(spark, sf_dir,
                                                     tmp_path):
    """A view drained with the default 32 buckets into a store built
    with 4 must retract from the store's own buckets: the touched
    buckets are computed under the layout's N, not the caller's, or the
    first micro-batch's retract reads the wrong directories and the
    view double-counts the keys it updates."""
    import os
    import shutil

    from pyspark.sql import functions as F
    from python_cdc_component_spark.sources.events import read_events
    from python_cdc_component_spark.streaming.bounded import (
        BoundedStreamConfig, bounded_sync)

    raw = read_events(spark, sf_dir).select(
        "event_id", F.col("ts_ns").alias("ts"), "user_id", "event_type",
        "value", "props")
    src, stage = str(tmp_path / "src"), str(tmp_path / "stage")
    os.makedirs(src)
    comp_path, view_path = str(tmp_path / "state"), str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    for i, (lo, hi, n) in enumerate([(-1, 500, 4), (500, 1000, 32)]):
        sub = os.path.join(stage, str(i))
        (raw.filter((F.col("event_id") > lo) & (F.col("event_id") <= hi))
         .coalesce(1).write.parquet(sub))
        [f] = [f for f in os.listdir(sub) if f.endswith(".parquet")]
        shutil.copy(os.path.join(sub, f),
                    os.path.join(src, f"part-{i}.parquet"))
        bounded_sync(spark, src, comp_path, ckpt, BoundedStreamConfig(
            mode="DEDUPE", primary_keys=["user_id"], num_state_buckets=n,
            view_path=view_path, view_group_keys=["event_type"],
            view_measure="value"))
    comp = MergeCompactor(comp_path, ["user_id"])
    comp._resolve_buckets(spark)
    assert comp.num_buckets == 4
    view = StreamingAggView(view_path, ["user_id"], ["event_type"], "value")
    got = {r["event_type"]: (r["n_rows"], r["sum_value"])
           for r in view.read_view(spark).collect()}
    want = {r["event_type"]: (r["n_rows"], r["sum_value"])
            for r in view.recompute(spark, comp).collect()}
    assert got == want


def test_view_update_job_budget(spark, tmp_path):
    """A view update finds its touched buckets with one job that also
    fills the persisted batch's cache: the second update of two 14-row
    batches into an 8-bucket store starts at most 19 Spark jobs (a
    select-distinct probe over the batch took 21), and the view still
    equals a recompute."""
    from conftest import jobs_run_by

    comp = MergeCompactor(str(tmp_path / "state"), ["user_id"],
                          num_buckets=8)
    view = StreamingAggView(str(tmp_path / "view"), ["user_id"], ["grp"],
                            "value")
    first = [(u, f"g{u % 3}", u * 0.5, 10, u, False) for u in range(14)]
    second = [(u, f"g{u % 4}", u * 0.25, 20, 100 + u, u % 5 == 0)
              for u in range(7, 21)]
    view.update(spark, comp, _batch(spark, first))
    batch = _batch(spark, second)
    jobs = len(jobs_run_by(spark, lambda: view.update(spark, comp, batch)))
    assert jobs <= 19, jobs
    assert _snap(view.read_view(spark)) == _snap(view.recompute(spark, comp))
