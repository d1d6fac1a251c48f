"""Bounded streaming parity tests (T1/T2/T9): the streaming pipeline must
agree with the batch operators on the same input."""

import shutil

from pyspark.sql import functions as F

from python_cdc_component_spark.model.envelope import SYSTEM_COLUMNS as SC
from python_cdc_component_spark.operators.dedup import dedup_latest
from python_cdc_component_spark.sources.events import read_cdc_events
from python_cdc_component_spark.streaming.bounded import (
    BoundedStreamConfig, bounded_sync)


def _stage_events(sf_dir, tmp_path):
    import os
    src = str(tmp_path / "stream_src")
    os.makedirs(src, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src, "part-0.parquet"))
    return src


def test_bounded_dedupe_matches_batch(spark, sf_dir, tmp_path):
    src = _stage_events(sf_dir, tmp_path)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stats = bounded_sync(spark, src, out, ckpt,
                         BoundedStreamConfig(mode="DEDUPE",
                                             primary_keys=["user_id"]))
    assert stats["stopped_reason"] == "drained"
    got = spark.read.parquet(out)
    expected = dedup_latest(read_cdc_events(spark, sf_dir), ["user_id"])
    g = {(r.user_id, r[SC.pos]) for r in got.collect()}
    e = {(r.user_id, r[SC.pos]) for r in expected.collect()}
    assert g == e


def test_bounded_append_keeps_everything(spark, sf_dir, tmp_path):
    src = _stage_events(sf_dir, tmp_path)
    out = str(tmp_path / "out_append")
    ckpt = str(tmp_path / "ckpt_append")
    stats = bounded_sync(spark, src, out, ckpt,
                         BoundedStreamConfig(mode="APPEND"))
    assert stats["stopped_reason"] == "drained"
    got = spark.read.parquet(out)
    assert got.count() == read_cdc_events(spark, sf_dir).count()
    assert SC.operation in got.columns


def test_bounded_multi_batch_compaction(spark, sf_dir, tmp_path):
    """maxFilesPerTrigger=1 with two files → ≥2 micro-batches; incremental
    compaction must equal single-pass dedup (chunk semantics, T9)."""
    import os
    src = str(tmp_path / "multi_src")
    os.makedirs(src)
    ev = read_cdc_events(spark, sf_dir)
    mid = ev.agg(F.max(SC.pos)).collect()[0][0] // 2
    # write two event files in event order
    from python_cdc_component_spark.sources.events import read_events
    raw = read_events(spark, sf_dir).select(
        "event_id", F.col("ts_ns").alias("ts"), "user_id", "event_type",
        "value", "props")
    raw.filter(F.col("event_id") <= mid).coalesce(1) \
        .write.mode("overwrite").parquet(src + "/f0")
    raw.filter(F.col("event_id") > mid).coalesce(1) \
        .write.mode("overwrite").parquet(src + "/f1")
    flat = str(tmp_path / "flat_src")
    os.makedirs(flat)
    n = 0
    for sub in ["f0", "f1"]:
        for f in sorted(os.listdir(os.path.join(src, sub))):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(src, sub, f),
                            os.path.join(flat, f"part-{n}.parquet"))
                n += 1
    out = str(tmp_path / "out_multi")
    stats = bounded_sync(spark, flat, out, str(tmp_path / "ckpt_multi"),
                         BoundedStreamConfig(mode="DEDUPE",
                                             primary_keys=["user_id"],
                                             max_files_per_trigger=1))
    assert stats["batches"] >= 2
    got = {(r.user_id, r[SC.pos])
           for r in spark.read.parquet(out).collect()}
    expected = {(r.user_id, r[SC.pos])
                for r in dedup_latest(ev, ["user_id"]).collect()}
    assert got == expected


def _event_files(spark, sf_dir, dst, bounds):
    """One parquet file per ``(lo, hi]`` event-id range, flat under
    ``dst`` (a file-source directory)."""
    import os
    import tempfile
    from python_cdc_component_spark.sources.events import read_events
    raw = read_events(spark, sf_dir).select(
        "event_id", F.col("ts_ns").alias("ts"), "user_id", "event_type",
        "value", "props")
    os.makedirs(dst)
    stage = tempfile.mkdtemp(dir=os.path.dirname(dst))
    for i, (lo, hi) in enumerate(bounds):
        sub = os.path.join(stage, str(i))
        (raw.filter((F.col("event_id") > lo) & (F.col("event_id") <= hi))
         .coalesce(1).write.parquet(sub))
        [f] = [f for f in os.listdir(sub) if f.endswith(".parquet")]
        shutil.copy(os.path.join(sub, f),
                    os.path.join(dst, f"part-{i}.parquet"))
    shutil.rmtree(stage)


def test_dedupe_drain_folds_once_at_close(spark, sf_dir, tmp_path,
                                          monkeypatch):
    """Write-behind: a 3-batch DEDUPE drain into a seeded store stages
    each micro-batch as a delta and rewrites the store with ONE merge
    at close; afterwards no _delta/ is left and the stored rows equal a
    drain that merges every micro-batch."""
    import os
    from python_cdc_component_spark.sinks.merge import MergeCompactor
    _event_files(spark, sf_dir, str(tmp_path / "seed"), [(-1, 400)])
    _event_files(spark, sf_dir, str(tmp_path / "src"),
                 [(400, 600), (600, 800), (800, 1000)])
    cfg = lambda: BoundedStreamConfig(  # noqa: E731
        mode="DEDUPE", primary_keys=["user_id"], max_files_per_trigger=1)
    stores = {}
    for name in ("staged", "per_batch"):
        out = str(tmp_path / name)
        bounded_sync(spark, str(tmp_path / "seed"), out,
                     str(tmp_path / f"{name}_seed_ckpt"), cfg())
        stores[name] = out

    calls = []
    merge = MergeCompactor.merge

    def counting_merge(self, s, df):
        calls.append(self.state_path)
        return merge(self, s, df)

    monkeypatch.setattr(MergeCompactor, "merge", counting_merge)
    stats = bounded_sync(spark, str(tmp_path / "src"), stores["staged"],
                         str(tmp_path / "staged_ckpt"), cfg())
    assert stats["batches"] == 3
    assert calls == [stores["staged"]]
    assert not os.path.exists(os.path.join(stores["staged"], "_delta"))

    # reference: the same drain merging every micro-batch
    monkeypatch.setattr(MergeCompactor, "stage", MergeCompactor.merge)
    bounded_sync(spark, str(tmp_path / "src"), stores["per_batch"],
                 str(tmp_path / "per_batch_ckpt"), cfg())
    assert len(calls) == 4

    def rows(path):
        df = spark.read.parquet(path)
        cols = sorted(df.columns)
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    assert rows(stores["staged"]) == rows(stores["per_batch"])
    expected = {(r.user_id, r[SC.pos]) for r in
                dedup_latest(read_cdc_events(spark, sf_dir), ["user_id"])
                .collect()}
    assert {(r.user_id, r[SC.pos]) for r in
            spark.read.parquet(stores["staged"]).collect()} == expected


def test_one_batch_dedupe_drain_merges_directly(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """A drain that runs one micro-batch (AvailableNow, no
    max_files_per_trigger) into an existing store merges it at once:
    staging would only add a delta write and read-back."""
    import os
    from python_cdc_component_spark.sinks.merge import MergeCompactor
    _event_files(spark, sf_dir, str(tmp_path / "seed"), [(-1, 400)])
    _event_files(spark, sf_dir, str(tmp_path / "src"),
                 [(400, 700), (700, 1000)])
    cfg = BoundedStreamConfig(mode="DEDUPE", primary_keys=["user_id"])
    out = str(tmp_path / "state")
    bounded_sync(spark, str(tmp_path / "seed"), out,
                 str(tmp_path / "seed_ckpt"), cfg)

    def no_stage(self, s, df):
        raise AssertionError("a one-batch drain must not stage")

    monkeypatch.setattr(MergeCompactor, "stage", no_stage)
    stats = bounded_sync(spark, str(tmp_path / "src"), out,
                         str(tmp_path / "ckpt"), cfg)
    assert stats["batches"] == 1
    assert not os.path.exists(os.path.join(out, "_delta"))
    expected = {(r.user_id, r[SC.pos]) for r in
                dedup_latest(read_cdc_events(spark, sf_dir), ["user_id"])
                .collect()}
    assert {(r.user_id, r[SC.pos]) for r in
            spark.read.parquet(out).collect()} == expected
