"""MergeCompactor (incremental keyed-upsert sink): correctness plus the
scale contract — a batch only reads and rewrites the buckets its keys
hash into, never the whole state (VERDICT r1 item 3; reference chained
semantics db_components/db_common/staging.py:216-282)."""

import os

from pyspark.sql import functions as F

from conftest import jobs_run_by
from python_cdc_component_spark.operators.dedup import dedup_latest
from python_cdc_component_spark.sinks.merge import BUCKET_COL, MergeCompactor
from python_cdc_component_spark.sources.events import read_cdc_events
from python_cdc_component_spark.model.envelope import SYSTEM_COLUMNS as SC


def _bucket_files(state_path):
    """{bucket_dir: {filename: mtime_ns}} for every bucket partition."""
    out = {}
    for d in os.listdir(state_path):
        if not d.startswith(f"{BUCKET_COL}="):
            continue
        full = os.path.join(state_path, d)
        out[d] = {f: os.stat(os.path.join(full, f)).st_mtime_ns
                  for f in os.listdir(full) if f.endswith(".parquet")}
    return out


def test_merge_equals_global_dedup(spark, sf_dir, tmp_path):
    ev = read_cdc_events(spark, sf_dir)
    mid = ev.agg(F.max(SC.pos)).collect()[0][0] // 2
    c = MergeCompactor(str(tmp_path / "state"), ["user_id"], num_buckets=8)
    c.merge(spark, ev.filter(F.col(SC.pos) <= mid))
    c.merge(spark, ev.filter(F.col(SC.pos) > mid))
    got = {(r.user_id, r[SC.pos]) for r in c.read(spark).collect()}
    exp = {(r.user_id, r[SC.pos])
           for r in dedup_latest(ev, ["user_id"]).collect()}
    assert got == exp


def test_merge_rewrites_only_touched_buckets(spark, sf_dir, tmp_path):
    state = str(tmp_path / "state2")
    ev = read_cdc_events(spark, sf_dir)
    c = MergeCompactor(state, ["user_id"], num_buckets=8)
    c.merge(spark, ev)  # seed: keys spread over all buckets
    before = _bucket_files(state)
    assert len(before) == 8

    one_user = ev.limit(1).collect()[0]["user_id"]
    batch = ev.filter(F.col("user_id") == one_user)
    n_touched = c.merge(spark, batch)
    assert n_touched == 1

    after = _bucket_files(state)
    changed = [d for d in before
               if before[d] != after.get(d)]
    assert len(changed) == 1, f"expected 1 rewritten bucket, got {changed}"


def test_merge_state_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    """The merge's read-back of existing state must partition-prune on the
    bucket key — the plan carries a PartitionFilters entry, so at 100 TB
    the scan touches state/N per bucket, not the full table."""
    state = str(tmp_path / "state3")
    ev = read_cdc_events(spark, sf_dir)
    c = MergeCompactor(state, ["user_id"], num_buckets=8)
    c.merge(spark, ev)
    pruned = spark.read.parquet(state).filter(F.col(BUCKET_COL).isin([3]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert BUCKET_COL in plan.split("PartitionFilters")[1].split("]")[0]


def test_merge_empty_batch_is_noop(spark, sf_dir, tmp_path):
    state = str(tmp_path / "state4")
    ev = read_cdc_events(spark, sf_dir)
    c = MergeCompactor(state, ["user_id"], num_buckets=4)
    c.merge(spark, ev)
    before = _bucket_files(state)
    assert c.merge(spark, ev.filter(F.lit(False))) == 0
    assert _bucket_files(state) == before


def test_merge_missing_state_errors_propagate(spark, sf_dir, tmp_path):
    """A fresh path is detected explicitly (no bare-except fallback): the
    first merge seeds the state; a corrupt existing state must raise, not
    silently discard history (ADVICE r1, bounded.py:119)."""
    state = str(tmp_path / "state5")
    ev = read_cdc_events(spark, sf_dir)
    c = MergeCompactor(state, ["user_id"], num_buckets=4)
    c.merge(spark, ev.limit(10))
    # corrupt EVERY bucket file so whichever buckets the next batch
    # touches, the pruned read-back hits corruption
    for d, fs in _bucket_files(state).items():
        for f in fs:
            with open(os.path.join(state, d, f), "wb") as fh:
                fh.write(b"not a parquet file")
    import pytest
    # merge itself must raise (reading the corrupt bucket back), never
    # silently discard the existing state
    with pytest.raises(Exception):
        c.merge(spark, ev.limit(10))


def test_merge_schema_drift_across_batches(spark, sf_dir, tmp_path):
    """T4/T5 through the merge sink: batch 2 adds a column and batch 1
    lacked one — the compacted state carries the union schema with NULL
    padding on both sides, deterministically (mergeSchema, not
    whichever file's footer schema inference happens to pick)."""
    ev = read_cdc_events(spark, sf_dir)
    c = MergeCompactor(str(tmp_path / "drift_state"), ["user_id"],
                       num_buckets=4)
    c.merge(spark, ev.filter(F.col(SC.pos) <= 100).drop("props"))
    c.merge(spark, (ev.filter((F.col(SC.pos) > 100) & (F.col(SC.pos) <= 130))
                      .withColumn("extra", F.lit("X"))))
    out = c.read(spark)
    assert "extra" in out.columns and "props" in out.columns
    # rows from the old epoch have NULL extra; drifted rows carry it
    assert out.filter(F.col("extra").isNull()).count() > 0
    assert out.filter(F.col("extra") == "X").count() > 0
    # upsert semantics still hold across the drift
    expected = dedup_latest(ev.filter(F.col(SC.pos) <= 130), ["user_id"])
    assert ({(r.user_id, r[SC.pos]) for r in out.collect()}
            == {(r.user_id, r[SC.pos]) for r in expected.collect()})


def test_merge_bin_packs_one_file_per_bucket(spark, sf_dir, tmp_path):
    """Every rewritten bucket holds exactly ONE parquet file after a
    merge — writer-task fan-out must not leak small files into the
    state (scan-open cost would creep batch over batch)."""
    import os

    from pyspark.sql import functions as F

    from python_cdc_component_spark.sinks.merge import (
        BUCKET_COL, MergeCompactor)
    from python_cdc_component_spark.sources.events import read_cdc_events

    state = str(tmp_path / "packstate")
    comp = MergeCompactor(state, ["user_id"], num_buckets=8)
    ev = read_cdc_events(spark, sf_dir).repartition(16)   # task fan-out
    comp.merge(spark, ev)
    for d in os.listdir(state):
        if not d.startswith(f"{BUCKET_COL}="):
            continue
        files = [f for f in os.listdir(os.path.join(state, d))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


def test_state_health_report(spark, tmp_path):
    """Per-bucket file/row/tombstone counts; the bin-packing rewrite
    keeps each bucket at ONE file regardless of how many batches
    touched it."""
    from pyspark.sql import functions as F
    comp = MergeCompactor(str(tmp_path / "st"), ["user_id"], num_buckets=4)
    mk = lambda rows: spark.createDataFrame(
        rows, "user_id long, v string, kbc__event_timestamp long, "
              "kbc__file string, kbc__pos long, __deleted boolean")
    comp.merge(spark, mk([(i, "a", 1, "f", i, False) for i in range(20)]))
    comp.merge(spark, mk([(1, "b", 2, "f", 100, False),
                          (2, "b", 2, "f", 101, True)]))
    h = {r["bucket"]: r for r in comp.health(spark).collect()}
    assert sum(r["n_rows"] for r in h.values()) == 20
    assert sum(r["n_tombstones"] for r in h.values()) == 1
    assert all(r["n_files"] == 1 for r in h.values())


def test_purge_physically_erases_and_prunes(spark, tmp_path):
    """purge() drops the forget keys from state, rewrites ONLY their
    buckets (others' files untouched on disk), and removes a bucket
    directory entirely when every row in it is purged."""
    import glob
    import os
    from pyspark.sql import functions as F
    comp = MergeCompactor(str(tmp_path / "st"), ["user_id"], num_buckets=8)
    mk = lambda rows: spark.createDataFrame(
        rows, "user_id long, v string, kbc__event_timestamp long, "
              "kbc__file string, kbc__pos long, __deleted boolean")
    comp.merge(spark, mk([(i, "a", 1, "f", i, False) for i in range(40)]))
    state = comp.read(spark)
    # pick one bucket to empty completely + one key from another bucket
    bucketed = {r["user_id"]: r["b"] for r in
                spark.createDataFrame([(i,) for i in range(40)],
                                      "user_id long")
                .select("user_id", comp._bucket().alias("b")).collect()}
    victim_bucket = bucketed[0]
    empty_all = [u for u, b in bucketed.items() if b == victim_bucket]
    other = next(u for u, b in bucketed.items() if b != victim_bucket)
    before = {os.path.basename(d): sorted(os.listdir(d)) for d in
              glob.glob(str(tmp_path / "st" / "_kbc_bucket=*"))}
    n = comp.purge(spark, spark.createDataFrame(
        [(u,) for u in empty_all + [other]], "user_id long"))
    assert n >= 2
    left = {r["user_id"] for r in comp.read(spark).collect()}
    assert left == set(range(40)) - set(empty_all) - {other}
    # victim bucket directory is gone
    assert not os.path.exists(
        str(tmp_path / "st" / f"_kbc_bucket={victim_bucket}"))
    # buckets not containing purged keys keep their exact files
    after = {os.path.basename(d): sorted(os.listdir(d)) for d in
             glob.glob(str(tmp_path / "st" / "_kbc_bucket=*"))}
    untouched = {b for b in before
                 if b not in (f"_kbc_bucket={victim_bucket}",
                              f"_kbc_bucket={bucketed[other]}")}
    for b in untouched:
        assert after[b] == before[b]


def test_merge_bucket_count_is_layout_pinned_and_rebucketable(
        spark, tmp_path):
    """A MergeCompactor reopened with a different num_buckets must use
    the STORE's layout (a mismatched modulus would read the wrong
    bucket and duplicate keys); rebucket() is the explicit migration."""
    import os
    from pyspark.sql import functions as F
    from python_cdc_component_spark.sinks.merge import (
        BUCKET_COL, MergeCompactor)
    path = str(tmp_path / "state")
    rows = [(i, f"v{i}", i, "f", i) for i in range(100)]
    schema = ("k long, v string, kbc__event_timestamp long, "
              "kbc__file string, kbc__pos long")
    a = MergeCompactor(path, ["k"], 8)
    a.merge(spark, spark.createDataFrame(rows[:50], schema))
    # reopen with a different N: layout must win, upserts stay correct
    b = MergeCompactor(path, ["k"], 64)
    b.merge(spark, spark.createDataFrame(rows[50:], schema))
    assert b.num_buckets == 8
    state = spark.read.parquet(path)
    assert state.count() == 100
    assert state.select("k").distinct().count() == 100
    n_dirs = len([d for d in os.listdir(path)
                  if d.startswith(f"{BUCKET_COL}=")])
    assert n_dirs <= 8
    # explicit migration to a wider layout
    assert b.rebucket(spark, 32) == 32
    n_dirs = len([d for d in os.listdir(path)
                  if d.startswith(f"{BUCKET_COL}=")])
    assert 8 < n_dirs <= 32
    state = spark.read.parquet(path)
    assert state.count() == 100
    # post-rebucket merges use the new layout from the stored meta
    c = MergeCompactor(path, ["k"], 8)
    c.merge(spark, spark.createDataFrame(
        [(5, "updated", 999, "f", 999)], schema))
    assert c.num_buckets == 32
    upd = spark.read.parquet(path).filter(F.col("k") == 5).collect()
    assert len(upd) == 1 and upd[0]["v"] == "updated"
    # shrinking deletes the buckets the narrower layout no longer uses
    assert c.rebucket(spark, 4) == 4
    assert {d for d in os.listdir(path) if d.startswith(f"{BUCKET_COL}=")
            } <= {f"{BUCKET_COL}={b}" for b in range(4)}
    state = spark.read.parquet(path)
    assert state.count() == 100
    assert state.filter(F.col("k") == 5).collect()[0]["v"] == "updated"


def test_merge_plan_one_shared_bucket_exchange(spark, sf_dir, tmp_path):
    """r13 optimization contract: the merge's window dedup rides the
    write's bucket exchange (bucket = f(PK), subset rule) — ONE
    Exchange total, no second full pass of the compacted bytes, and
    the bin-packing (one file per rewritten bucket) is unchanged."""
    from python_cdc_component_spark.operators.schema_align import (
        union_epochs)

    state = str(tmp_path / "state_plan")
    ev = read_cdc_events(spark, sf_dir)
    c = MergeCompactor(state, ["user_id"], num_buckets=8)
    c.merge(spark, ev)
    # replicate merge()'s internal frame at the pre-write point
    batch = (ev.filter(F.col("user_id") % 5 == 0)
             .withColumn(BUCKET_COL, c._bucket()))
    cur = (spark.read.option("mergeSchema", "true")
           .option("basePath", state).parquet(state))
    merged = union_epochs([cur, batch]).repartition(F.col(BUCKET_COL))
    compacted = dedup_latest(merged, [BUCKET_COL, "user_id"])
    plan = compacted._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert f"hashpartitioning({BUCKET_COL}" in plan, plan
    # packing: every bucket dir holds exactly one live file per rewrite
    files = _bucket_files(state)
    assert files and all(len(v) == 1 for v in files.values())


# --- write-behind: stage / fold / merge-on-read ---------------------------

_ROW_SCHEMA = ("user_id long, v string, kbc__event_timestamp long, "
               "kbc__file string, kbc__pos long, __deleted boolean")


def _staged_store(spark, path):
    """A 20-key store seeded through ``stage``: with no base yet the
    first batch merges directly, so no delta is left behind."""
    comp = MergeCompactor(path, ["user_id"], num_buckets=4)
    comp.stage(spark, spark.createDataFrame(
        [(i, "a", 1, "f", i, False) for i in range(20)], _ROW_SCHEMA))
    assert not os.path.exists(os.path.join(path, "_delta"))
    return comp


def _sorted_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_stage_read_merges_pending_deltas(spark, tmp_path):
    """read() over two staged, unfolded deltas equals fold-then-read;
    the fold leaves no _delta/ behind."""
    path = str(tmp_path / "st")
    comp = _staged_store(spark, path)
    mk = lambda rows: spark.createDataFrame(rows, _ROW_SCHEMA)
    assert comp.stage(spark, mk([(1, "b", 2, "f", 100, False),
                                 (25, "new", 2, "f", 101, False)])) == 0
    assert comp.stage(spark, mk([(1, "c", 3, "f", 102, False),
                                 (2, "b", 3, "f", 103, True)])) == 0
    assert len(os.listdir(os.path.join(path, "_delta"))) == 2
    # a plain parquet read of the store still sees the base only
    assert spark.read.parquet(path).count() == 20
    pending = _sorted_rows(comp.read(spark))
    assert comp.fold(spark) > 0
    assert not os.path.exists(os.path.join(path, "_delta"))
    assert _sorted_rows(comp.read(spark)) == pending
    got = {r.user_id: (r.v, r["__deleted"])
           for r in comp.read(spark).collect()}
    assert len(got) == 21
    assert got[1] == ("c", False) and got[2] == ("b", True)
    assert got[25] == ("new", False)


def test_stage_folds_once_compact_files_deltas_pend(spark, tmp_path):
    from python_cdc_component_spark.sinks.merge import (
        _FOLD_DELTAS as COMPACT_FILES)
    path = str(tmp_path / "st")
    comp = _staged_store(spark, path)
    for j in range(COMPACT_FILES - 1):
        assert comp.stage(spark, spark.createDataFrame(
            [(j, "u", 2, "f", 100 + j, False)], _ROW_SCHEMA)) == 0
    assert len(os.listdir(os.path.join(path, "_delta"))) == COMPACT_FILES - 1
    assert comp.stage(spark, spark.createDataFrame(
        [(19, "u", 2, "f", 200, False)], _ROW_SCHEMA)) > 0
    assert not os.path.exists(os.path.join(path, "_delta"))
    assert (comp.read(spark).filter(F.col("v") == "u").count()
            == COMPACT_FILES)


def test_purge_with_pending_delta_stays_purged(spark, tmp_path):
    """A purged key held by a pending delta must not come back at the
    next fold: purge folds first."""
    comp = _staged_store(spark, str(tmp_path / "st"))
    comp.stage(spark, spark.createDataFrame(
        [(3, "upd", 2, "f", 100, False)], _ROW_SCHEMA))
    comp.purge(spark, spark.createDataFrame([(3,)], "user_id long"))
    comp.fold(spark)
    left = {r.user_id for r in comp.read(spark).collect()}
    assert left == set(range(20)) - {3}


def test_replayed_stage_folds_like_one(spark, tmp_path):
    """A replayed micro-batch staged twice, then folded, stores exactly
    what staging it once stores."""
    batch = spark.createDataFrame(
        [(1, "b", 2, "f", 100, False), (1, "c", 3, "f", 101, False),
         (7, "d", 2, "f", 102, True), (30, "n", 2, "f", 103, False)],
        _ROW_SCHEMA)
    twice = _staged_store(spark, str(tmp_path / "twice"))
    twice.stage(spark, batch)
    twice.stage(spark, batch)
    twice.fold(spark)
    once = _staged_store(spark, str(tmp_path / "once"))
    once.stage(spark, batch)
    once.fold(spark)
    assert _sorted_rows(twice.read(spark)) == _sorted_rows(once.read(spark))
    assert twice.read(spark).count() == 21


def test_fold_skips_uncommitted_delta(spark, tmp_path):
    """A crash mid-append leaves a delta directory holding only the
    committer's _temporary tree: neither read() nor fold() reads it,
    and fold() leaves it in place (it may still be being written);
    settle() at a drain boundary drops it."""
    path = str(tmp_path / "st")
    comp = _staged_store(spark, path)
    crashed = os.path.join(path, "_delta", "crashed", "_temporary", "0")
    spark.createDataFrame([(5, "ghost", 9, "f", 999, False)],
                          _ROW_SCHEMA).write.parquet(crashed)
    comp.stage(spark, spark.createDataFrame(
        [(6, "real", 2, "f", 100, False)], _ROW_SCHEMA))
    for _ in range(2):   # merged on read, then folded
        got = {r.user_id: r.v for r in comp.read(spark).collect()}
        assert got[5] == "a" and got[6] == "real"
        comp.fold(spark)
    assert os.listdir(os.path.join(path, "_delta")) == ["crashed"]
    assert comp.settle(spark) == 0
    assert not os.path.exists(os.path.join(path, "_delta"))
    assert {r.user_id: r.v for r in comp.read(spark).collect()}[5] == "a"


def test_fold_keeps_delta_committed_during_its_merge(spark, tmp_path):
    """A delta a running drain commits while a fold merges was never
    read by that fold: it must stay pending, not be deleted unmerged."""
    path = str(tmp_path / "st")
    comp = _staged_store(spark, path)
    comp.stage(spark, spark.createDataFrame(
        [(1, "folded", 2, "f", 100, False)], _ROW_SCHEMA))
    late = MergeCompactor(path, ["user_id"])

    class Racing(MergeCompactor):
        def merge(self, s, df):
            n = super().merge(s, df)
            late.stage(s, s.createDataFrame(
                [(2, "late", 3, "f", 101, False)], _ROW_SCHEMA))
            return n

    racing = Racing(path, ["user_id"])
    assert racing.fold(spark) > 0
    assert len(os.listdir(os.path.join(path, "_delta"))) == 1
    got = {r.user_id: r.v for r in comp.read(spark).collect()}
    assert got[1] == "folded" and got[2] == "late"
    comp.fold(spark)
    assert not os.path.exists(os.path.join(path, "_delta"))
    got = {r.user_id: r.v for r in spark.read.parquet(path).collect()}
    assert got[1] == "folded" and got[2] == "late"


def test_health_counts_pending_deltas_without_folding(spark, tmp_path):
    """health() writes nothing: a pending delta stays pending, and its
    rows and file count towards the buckets its keys hash into."""
    path = str(tmp_path / "st")
    comp = _staged_store(spark, path)
    comp.stage(spark, spark.createDataFrame(
        [(1, "b", 2, "f", 100, False), (2, "b", 2, "f", 101, True)],
        _ROW_SCHEMA))
    before = _bucket_files(path)
    h = comp.health(spark).collect()
    assert len(os.listdir(os.path.join(path, "_delta"))) == 1
    assert _bucket_files(path) == before
    assert sum(r["n_rows"] for r in h) == 22
    assert sum(r["n_tombstones"] for r in h) == 1
    # one file per base bucket, plus the delta's file(s) where 1 and 2 land
    assert sum(r["n_files"] for r in h) > len(before)


# --- rewrite width and job budgets ---------------------------------------

def _result_tasks(spark, job_id):
    """Tasks of the job's result stage, its last stage."""
    tracker = spark.sparkContext.statusTracker()
    stage = max(tracker.getJobInfo(job_id).stageIds)
    return tracker.getStageInfo(stage).numTasks


def test_merge_job_budget_and_rewrite_width(spark, sf_dir, tmp_path):
    """A merge into a seeded store runs four jobs: the touched-bucket
    probe (which also fills the batch cache), the read-back's schema
    merge, and the rewrite's shuffle map and result stages. The rewrite
    writes on min(touched, cores) tasks — AQE must not coalesce the
    small bucket shuffle into one task that writes every file in
    turn."""
    ev = read_cdc_events(spark, sf_dir)
    c = MergeCompactor(str(tmp_path / "st"), ["user_id"], num_buckets=8)
    c.merge(spark, ev)
    batch = ev.filter(F.col("user_id") % 2 == 0)
    touched = batch.select(c._bucket()).distinct().count()
    width = min(touched, spark.sparkContext.defaultParallelism)
    assert width > 1
    jobs = jobs_run_by(spark, lambda: c.merge(spark, batch))
    assert _result_tasks(spark, jobs[-1]) == width
    assert len(jobs) <= 4, jobs
    assert all(len(v) == 1 for v in _bucket_files(str(tmp_path / "st"))
               .values())


def test_fold_keeps_one_file_per_bucket(spark, tmp_path):
    """A fold rewrites over several writer tasks and still leaves one
    file in every bucket."""
    comp = _staged_store(spark, str(tmp_path / "st"))
    for j in range(3):
        comp.stage(spark, spark.createDataFrame(
            [(i, f"u{j}", 2 + j, "f", 100 * j + i, False)
             for i in range(0, 24, 2)], _ROW_SCHEMA))
    assert comp.fold(spark) == 4
    h = comp.health(spark).collect()
    assert len(h) == 4 and all(r["n_files"] == 1 for r in h), h
    assert comp.read(spark).count() == 22


def test_purge_job_budget_deletes_emptied_bucket(spark, tmp_path):
    """purge observes its touched and surviving buckets during jobs it
    runs anyway, instead of collecting them in jobs of their own (7
    jobs here, where two distinct().collect() probes took 12); a bucket
    whose every row is purged is still deleted."""
    path = str(tmp_path / "st")
    comp = MergeCompactor(path, ["user_id"], num_buckets=8)
    comp.merge(spark, spark.createDataFrame(
        [(i, "a", 1, "f", i, False) for i in range(40)], _ROW_SCHEMA))
    bucket = {r["user_id"]: r["b"] for r in
              spark.range(40).withColumnRenamed("id", "user_id")
              .select("user_id", comp._bucket().alias("b")).collect()}
    victims = [u for u, b in bucket.items() if b == bucket[0]]
    other = next(u for u, b in bucket.items() if b != bucket[0])
    keys = spark.createDataFrame([(u,) for u in victims + [other]],
                                 "user_id long")
    jobs = jobs_run_by(spark, lambda: comp.purge(spark, keys))
    assert len(jobs) <= 7, jobs
    assert not os.path.exists(
        os.path.join(path, f"{BUCKET_COL}={bucket[0]}"))
    left = {r.user_id for r in comp.read(spark).collect()}
    assert left == set(range(40)) - set(victims) - {other}
