"""Round-6 streaming fleet fusion: bounded_sync_multi_fused drains a
mixed fleet in O(#groups) streaming queries with per-table results
identical to the per-table bounded_sync path."""

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from python_cdc_component_spark.streaming.bounded import (
    BoundedStreamConfig, bounded_sync, bounded_sync_multi_fused,
    read_fleet_table)


def _rows(df):
    cols = sorted(df.columns)
    return {tuple(str(r[c]) for c in cols) for r in df.collect()}


def test_fleet_fusion_parity_and_query_count(spark, sf_dir):
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    work = tempfile.mkdtemp(prefix="fleet_r6_")
    try:
        tables = ["t0", "t1", "t2", "t3"]
        dirs = {}
        for i, t in enumerate(tables):
            d = os.path.join(work, "src", t)
            raw.filter(F.col("event_id") % 4 == i).write.parquet(d)
            dirs[t] = d
        cfgs = {
            # two tables share (schema, DEDUPE, [user_id]) -> fused
            "t0": BoundedStreamConfig(mode="DEDUPE",
                                      primary_keys=["user_id"],
                                      max_wait_s=5),
            "t1": BoundedStreamConfig(mode="DEDUPE",
                                      primary_keys=["user_id"],
                                      max_wait_s=5),
            # no-PK dedupe is its own group
            "t2": BoundedStreamConfig(mode="DEDUPE", primary_keys=[],
                                      max_wait_s=5),
            # append mode is its own group
            "t3": BoundedStreamConfig(mode="APPEND",
                                      primary_keys=["user_id"],
                                      max_wait_s=5),
        }
        fused_out = os.path.join(work, "fused_out")
        stats = bounded_sync_multi_fused(
            spark, dirs, fused_out, os.path.join(work, "fused_ckpt"),
            cfgs)
        assert stats["n_tables"] == 4
        assert stats["n_queries"] == 3          # O(#groups), not O(#tables)
        assert all(r == "drained" for r in stats["stopped_reasons"].values())

        for t in tables:
            solo_out = os.path.join(work, "solo", t)
            bounded_sync(spark, dirs[t], solo_out,
                         os.path.join(work, "solo_ckpt", t), cfgs[t])
            solo = spark.read.parquet(solo_out).drop("_kbc_bucket",
                                                     "_table")
            fleet = read_fleet_table(spark, fused_out, t)
            assert sorted(solo.columns) == sorted(fleet.columns), t
            assert _rows(solo) == _rows(fleet), f"row mismatch for {t}"
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_fleet_membership_change_never_resumes_wrong_checkpoint(
        spark, sf_dir):
    """Group ids are content hashes, not enumeration indexes: growing
    the fleet re-groups under a FRESH checkpoint (a union plan with a
    new source leg cannot resume the old one) and results stay
    correct."""
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    work = tempfile.mkdtemp(prefix="fleet_r6_")
    try:
        dirs = {}
        for i, t in enumerate(["a", "b", "c"]):
            d = os.path.join(work, "src", t)
            raw.filter(F.col("event_id") % 3 == i).write.parquet(d)
            dirs[t] = d
        cfg = lambda: BoundedStreamConfig(  # noqa: E731
            mode="DEDUPE", primary_keys=["user_id"], max_wait_s=5)
        out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
        s1 = bounded_sync_multi_fused(
            spark, {t: dirs[t] for t in ["a", "b"]}, out, ckpt,
            {t: cfg() for t in ["a", "b"]})
        s2 = bounded_sync_multi_fused(spark, dirs, out, ckpt,
                                      {t: cfg() for t in dirs})
        assert list(s1["groups"]) != list(s2["groups"])   # fresh gid
        for i, t in enumerate(["a", "b", "c"]):
            got = read_fleet_table(spark, out, t).count()
            want = (raw.filter(F.col("event_id") % 3 == i)
                    .select("user_id").distinct().count())
            assert got == want, t
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_fleet_snapshot_never_bootstrap_emits_nothing_then_streams(
        spark, sf_dir):
    """snapshot_mode='never' parity on the fused path: first contact
    commits the present files with zero rows; a later run picks up only
    NEW files."""
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    work = tempfile.mkdtemp(prefix="fleet_r6_")
    try:
        d = os.path.join(work, "src", "a")
        raw.filter("event_id % 2 = 0").write.parquet(d)
        cfgs = {"a": BoundedStreamConfig(mode="DEDUPE",
                                         primary_keys=["user_id"],
                                         max_wait_s=5,
                                         snapshot_mode="never"),
                "b": BoundedStreamConfig(mode="DEDUPE",
                                         primary_keys=["user_id"],
                                         max_wait_s=5,
                                         snapshot_mode="never")}
        d2 = os.path.join(work, "src", "b")
        raw.filter("event_id % 2 = 1").write.parquet(d2)
        dirs = {"a": d, "b": d2}
        out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
        s1 = bounded_sync_multi_fused(spark, dirs, out, ckpt, cfgs)
        g = next(iter(s1["groups"]))
        assert not os.path.exists(os.path.join(out, f"group={g}")) or \
            spark.read.parquet(os.path.join(out, f"group={g}")).count() == 0
        # new file arrives; second run must emit ONLY its rows
        extra = raw.filter("event_id % 2 = 0").limit(50)
        extra.write.mode("append").parquet(d)
        bounded_sync_multi_fused(spark, dirs, out, ckpt, cfgs)
        got = read_fleet_table(spark, out, "a").count()
        want = extra.select("user_id").distinct().count()
        assert got == want
        assert read_fleet_table(spark, out, "b").count() == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_oracle_shard_flag_partitions_exactly():
    """--shard K/N selects every N-th query (1-based K): shards are
    disjoint and their union is the full insertion-ordered set."""
    import __spark_entry__ as entry
    names = list(entry.queries())
    for n_shards in (2, 3, 5):
        shards = [[q for i, q in enumerate(names)
                   if i % n_shards == k - 1]
                  for k in range(1, n_shards + 1)]
        flat = [q for s in shards for q in s]
        assert sorted(flat) == sorted(names)
        assert len(flat) == len(set(flat))


def test_merge_state_survives_partial_bucket_batches_in_stream(
        spark, tmp_path):
    """Regression (r6): inside foreachBatch the micro-batch runs on a
    CLONED session whose SQLConf was frozen at stream start, so a
    session-conf 'dynamic' overwrite silently degraded to static and
    each batch wiped every bucket it did not touch. Two single-key
    batches over a 64-bucket state must both survive."""
    from python_cdc_component_spark.sinks.merge import MergeCompactor
    src = str(tmp_path / "src")
    schema = ("k long, v string, kbc__event_timestamp long, "
              "kbc__file string, kbc__pos long")
    spark.createDataFrame([(1, "a", 10, "f", 1)], schema) \
        .write.parquet(src, mode="append")
    spark.createDataFrame([(2, "b", 20, "f", 2)], schema) \
        .write.parquet(src, mode="append")
    comp = MergeCompactor(str(tmp_path / "state"), ["k"], 64)
    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", "1").parquet(src)
         .writeStream
         .foreachBatch(lambda bdf, bid: comp.merge(spark, bdf))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    keys = sorted(r[0] for r in
                  spark.read.parquet(str(tmp_path / "state"))
                  .select("k").collect())
    assert keys == [1, 2]


def test_purge_fleet_keys_erases_across_tables(spark, sf_dir):
    """GDPR forget-user across a fused fleet: every DEDUPE group's
    state drops the user's rows; no-PK groups are reported skipped."""
    from python_cdc_component_spark.streaming.bounded import (
        purge_fleet_keys)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    work = tempfile.mkdtemp(prefix="fleet_r6_")
    try:
        dirs = {}
        for i, t in enumerate(["a", "b"]):
            d = os.path.join(work, "src", t)
            raw.filter(F.col("event_id") % 2 == i).write.parquet(d)
            dirs[t] = d
        cfgs = {t: BoundedStreamConfig(mode="DEDUPE",
                                       primary_keys=["user_id"],
                                       max_wait_s=5) for t in dirs}
        cfgs["c"] = BoundedStreamConfig(mode="DEDUPE", primary_keys=[],
                                        max_wait_s=5)
        d = os.path.join(work, "src", "c")
        raw.limit(40).write.parquet(d)
        dirs["c"] = d
        out = os.path.join(work, "out")
        bounded_sync_multi_fused(spark, dirs, out,
                                 os.path.join(work, "ckpt"), cfgs)
        victim = raw.select("user_id").first()[0]
        before_a = read_fleet_table(spark, out, "a")
        assert before_a.filter(F.col("user_id") == victim).count() == 1
        res = purge_fleet_keys(
            spark, out,
            spark.createDataFrame([(int(victim),)], "user_id long"))
        assert len(res["skipped_groups"]) == 1      # the no-PK group
        assert sum(res["rewritten_buckets"].values()) > 0
        for t in ["a", "b"]:
            left = read_fleet_table(spark, out, t)
            assert left.filter(F.col("user_id") == victim).count() == 0
            # everyone else survives
            assert left.count() > 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_fleet_on_file_uri_keeps_manifest_beside_groups(
        spark, sf_dir, tmp_path, monkeypatch):
    """An ``out_dir`` given as a file:// URI: fleet.json goes through the
    Hadoop FS and lands beside the group directories (a local open()
    would write a CWD-relative ./file:/... tree instead), and
    read_fleet_table reads the table back through it."""
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = str(tmp_path / "src" / "a")
    raw.filter("event_id % 2 = 0").write.parquet(src)
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    out = tmp_path / "out"
    stats = bounded_sync_multi_fused(
        spark, {"a": src}, f"file://{out}", f"file://{tmp_path / 'ckpt'}",
        {"a": BoundedStreamConfig(mode="DEDUPE", primary_keys=["user_id"],
                                  max_wait_s=5)})
    [gid] = stats["groups"]
    assert os.path.isfile(out / "fleet.json")
    assert os.path.isdir(out / f"group={gid}")
    assert os.listdir(cwd) == []
    got = read_fleet_table(spark, f"file://{out}", "a")
    assert "_table" not in got.columns and "_kbc_bucket" not in got.columns
    want = (raw.filter("event_id % 2 = 0").select("user_id")
            .distinct().count())
    assert got.count() == got.select("user_id").distinct().count() == want


def test_read_fleet_table_merges_pending_deltas(spark, sf_dir, tmp_path):
    """While deltas pend (a running drain staged them), read_fleet_table
    merges them on read, keyed as the group's drain keys it: a PK
    group's newer row wins, and a no-PK group's replayed row is read
    once."""
    from python_cdc_component_spark.sinks.merge import (
        BUCKET_COL, MergeCompactor)
    from python_cdc_component_spark.model.envelope import (
        SYSTEM_COLUMNS as SC)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    dirs = {}
    for i, t in enumerate(["pk", "nopk"]):
        dirs[t] = str(tmp_path / "src" / t)
        raw.filter(F.col("event_id") % 2 == i).limit(60).write.parquet(
            dirs[t])
    cfgs = {"pk": BoundedStreamConfig(mode="DEDUPE",
                                      primary_keys=["user_id"],
                                      max_wait_s=5),
            "nopk": BoundedStreamConfig(mode="DEDUPE", primary_keys=[],
                                        max_wait_s=5)}
    out = str(tmp_path / "out")
    stats = bounded_sync_multi_fused(spark, dirs, out,
                                     str(tmp_path / "ckpt"), cfgs)
    before = {t: read_fleet_table(spark, out, t) for t in cfgs}
    counts = {t: df.count() for t, df in before.items()}
    for gid, [t] in stats["groups"].items():
        gpath = os.path.join(out, f"group={gid}")
        row = spark.read.parquet(gpath).drop(BUCKET_COL).limit(1)
        if t == "pk":
            victim = row.first()["user_id"]
            row = (row.withColumn(SC.pos, F.col(SC.pos) + 10**9)
                   .withColumn("event_type", F.lit("staged")))
        MergeCompactor(gpath, ["_table"]).stage(spark, row)
        assert os.path.isdir(os.path.join(gpath, "_delta"))
    pk = read_fleet_table(spark, out, "pk")
    assert pk.count() == counts["pk"]
    assert [r.event_type for r in
            pk.filter(F.col("user_id") == victim).collect()] == ["staged"]
    assert read_fleet_table(spark, out, "nopk").count() == counts["nopk"]


def test_fleet_group_id_is_stable(spark, sf_dir, tmp_path):
    """A group's id is an md5 of its group key, so the key's schema
    fingerprint must not change for a source without ``_table``: a
    changed tuple would start every existing fleet checkpoint afresh.
    The id is pinned to the value the fleet has always given this
    source and config."""
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = str(tmp_path / "src" / "a")
    raw.filter("event_id % 2 = 0").write.parquet(src)
    stats = bounded_sync_multi_fused(
        spark, {"a": src}, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        {"a": BoundedStreamConfig(mode="DEDUPE", primary_keys=["user_id"],
                                  max_wait_s=5)})
    assert stats["groups"] == {"3840c78c5fee": ["a"]}
