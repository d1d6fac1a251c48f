"""End-to-end engine lifecycle + sinks + entry contract."""

import json
import os

from pyspark.sql import types as T

import __spark_entry__ as entry
from conftest import jobs_run_by
from python_cdc_component_spark.engine import SyncConfig, sync
from python_cdc_component_spark.model.schema import TableSchema
from python_cdc_component_spark.sinks.csv_sink import write_csv
from python_cdc_component_spark.sinks.manifest import build_manifest
from python_cdc_component_spark.sinks.state import RunState
from python_cdc_component_spark.sources.csv import read_csv_with_schema


def test_sync_dedupe_end_to_end(spark, sf_dir, tmp_path):
    out = str(tmp_path / "out")
    results = sync(spark, sf_dir, out, SyncConfig(mode="DEDUPE"))
    df = results["events"]
    # one row per user (PK) at this sf
    users = df.select("user_id").distinct().count()
    assert df.count() == users
    assert "KBC__OPERATION" in df.columns and "KBC__DELETED" in df.columns
    assert os.path.exists(os.path.join(out, "schema.json"))
    assert os.path.exists(os.path.join(out, "state.json"))
    state = RunState.load(os.path.join(out, "state.json"))
    assert not state.is_initial_run
    assert state.offsets["events"]["pos"] is not None
    with open(os.path.join(out, "events.manifest")) as fh:
        manifest = json.load(fh)
    assert manifest["primary_key"] == ["user_id"]


def test_sync_append_keeps_all_events(spark, sf_dir, tmp_path):
    from python_cdc_component_spark.sources.events import read_events
    results = sync(spark, sf_dir, str(tmp_path / "out"),
                   SyncConfig(mode="APPEND"))
    assert results["events"].count() == read_events(spark, sf_dir).count()


def test_csv_null_sentinel_roundtrip(spark, tmp_path):
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("s", T.StringType()),
    ])
    df = spark.createDataFrame([(1, None), (2, "x"), (3, "")], schema)
    path = str(tmp_path / "csv")
    write_csv(df, path)
    back = read_csv_with_schema(spark, path, schema)
    got = {(r.id, r.s) for r in back.collect()}
    assert got == {(1, None), (2, "x"), (3, "")}


def test_manifest_base_types():
    ts = TableSchema("t", T.StructType([
        T.StructField("i", T.LongType(), False),
        T.StructField("d", T.DecimalType(12, 5)),
        T.StructField("s", T.StringType()),
    ]), ["i"])
    doc = build_manifest(ts, incremental=True)
    bases = {c["name"]: c["data_type"]["base"] for c in doc["schema"]}
    assert bases["i"]["type"] == "INTEGER"
    assert bases["d"] == {"type": "NUMERIC", "length": "12,5"}
    assert bases["s"]["type"] == "STRING"


def test_state_offset_b64_roundtrip(spark, tmp_path):
    st = RunState(offsets={"t": {"ts": 5, "file": "f", "pos": 9}})
    p = str(tmp_path / "state.json")
    st.save(p)
    st2 = RunState.load(p)
    assert st2.offsets == st.offsets and not st2.is_initial_run


def test_entry_contract(spark):
    df = entry.entry(spark)
    assert df.count() > 0
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert set(oracles) <= set(qs)
    # every declared operator family has an oracle unless explicitly
    # non-SQL-expressible
    assert len(oracles) >= 20


def test_estimate_partitions_targets_slice_size(spark):
    from python_cdc_component_spark.sinks.csv_sink import _estimate_partitions

    df = spark.range(100_000).selectExpr("id", "repeat('x', 100) AS pad")
    # tiny target → many slices; huge target → single slice
    many = _estimate_partitions(df, target_bytes=100 * 1024)
    one = _estimate_partitions(df, target_bytes=1 << 40)
    assert one == 1
    assert many is not None and many > one
    assert many <= 10_000                     # clamped


def test_write_parquet_partition_pruning(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F
    from python_cdc_component_spark.sinks.csv_sink import write_parquet
    from python_cdc_component_spark.sources.events import read_events

    ev = read_events(spark, sf_dir).select("event_id", "event_type")
    out = str(tmp_path / "by_type")
    write_parquet(ev, out, partition_by=["event_type"])
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    # partition pruning: the filtered scan reads only the click directory
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == ev.filter("event_type = 'click'").count()
    assert "PartitionFilters: [isnotnull(event_type" in plan


def test_sync_empty_source_keeps_initial_run(spark, sf_dir, tmp_path):
    """An empty source must not write NULL offsets: is_initial_run stays
    True so the next run is still classified as the initial load
    (ADVICE r1, engine.py)."""
    from pyspark.sql import functions as F
    from python_cdc_component_spark.sources.events import read_events

    empty_sf = str(tmp_path / "empty_sf")
    os.makedirs(empty_sf)
    (read_events(spark, sf_dir)
     .select("event_id", F.col("ts_ns").alias("ts"), "user_id",
             "event_type", "value", "props")
     .filter(F.lit(False)).coalesce(1)
     .write.parquet(os.path.join(empty_sf, "events.parquet")))

    out = str(tmp_path / "empty_out")
    sync(spark, empty_sf, out)
    st = RunState.load(os.path.join(out, "state.json"))
    assert st.is_initial_run


def test_state_reference_doc_roundtrip():
    """K5 interop with the reference's state-file shape
    (_write_result_state: last_offset b64 blob + last_schema +
    last_synced_tables): a reference-format doc loads, the opaque offset
    blob survives byte-identically, and re-export matches."""
    import base64

    raw_offset = b'{"file":"mysql-bin.000048","pos":21182}'
    ref_doc = {
        "last_offset": base64.b64encode(raw_offset).decode("ascii"),
        "last_schema": {"topic_db_t1": {"name": "t1", "fields": []}},
        "last_debezium_schema": {},
        "last_synced_tables": ["db.t1"],
    }
    st, blob = RunState.from_reference_doc(ref_doc)
    assert blob == raw_offset
    assert st.last_synced_tables == ["db.t1"]
    assert not st.is_initial_run          # JSON offsets were recovered
    out = st.to_reference_doc(raw_offset_bytes=blob)
    assert out["last_offset"] == ref_doc["last_offset"]
    assert out["last_schema"] == ref_doc["last_schema"]

    # native (non-JSON) Debezium offset blob: opaque but preserved
    st2, blob2 = RunState.from_reference_doc(
        {"last_offset": base64.b64encode(b"\x00\x01java").decode("ascii")})
    assert blob2 == b"\x00\x01java"
    assert st2.is_initial_run             # nothing parseable into offsets


def test_sync_multi_table_routing(spark, sf_dir, tmp_path):
    """Multi-table sync: one event stream with a _table discriminator
    routed per table (reference _load_tables_to_stage iteration), DDL
    events split to the side table, per-table manifests and offsets."""
    from pyspark.sql import functions as F
    from python_cdc_component_spark.engine import sync_multi
    from python_cdc_component_spark.sources.events import read_cdc_events

    ev = read_cdc_events(spark, sf_dir)
    tab = F.when(F.col("event_type").isin("click", "view"), "tab_a") \
           .otherwise("tab_b")
    multi = (ev.withColumn("_table", tab)
               .withColumn("ddl", F.when(F.col("kbc__pos") == 1,
                                         "ALTER TABLE t ADD COLUMN c int")))

    out = str(tmp_path / "multi_out")
    results = sync_multi(spark, multi, out, {
        "tab_a": SyncConfig(mode="DEDUPE", primary_keys=["user_id"]),
        "tab_b": SyncConfig(mode="APPEND"),
    })

    # DEDUPE branch: one row per user within tab_a
    a = results["tab_a"]
    assert a.count() == a.select("user_id").distinct().count()
    # APPEND branch keeps every non-DDL tab_b event
    n_b = multi.filter((F.col("_table") == "tab_b")
                       & F.col("ddl").isNull()).count()
    assert results["tab_b"].count() == n_b
    # no cross-table leakage
    total_data = multi.filter(F.col("ddl").isNull()).count()
    assert (a.count() <= total_data
            and results["tab_b"].count() < total_data)

    # DDL side table (T6)
    assert spark.read.parquet(os.path.join(out, "schema_changes")).count() == 1

    # per-table manifests + shared registry + state offsets
    for t in ("tab_a", "tab_b"):
        assert os.path.exists(os.path.join(out, f"{t}.manifest"))
    st = RunState.load(os.path.join(out, "state.json"))
    assert st.last_synced_tables == ["tab_a", "tab_b"]
    assert st.offsets["tab_a"]["pos"] is not None
    assert st.offsets["tab_b"]["pos"] is not None


def test_sync_multi_legacy_manifest_matches_sync(spark, sf_dir, tmp_path):
    """manifest_format='legacy' reaches sync_multi's per-table manifests:
    a one-table sync_multi writes the same legacy manifest as sync."""
    from pyspark.sql import functions as F
    from python_cdc_component_spark.engine import sync_multi
    from python_cdc_component_spark.sources.events import read_cdc_events

    cfg = SyncConfig(mode="DEDUPE", primary_keys=["user_id"],
                     manifest_format="legacy", destination="in.c-bucket")
    sync(spark, sf_dir, str(tmp_path / "single"), cfg)
    multi = read_cdc_events(spark, sf_dir).withColumn("_table",
                                                      F.lit("events"))
    sync_multi(spark, multi, str(tmp_path / "multi"), {"events": cfg})
    single, multi = (json.load(open(tmp_path / d / "events.manifest"))
                     for d in ("single", "multi"))
    assert list(multi) == list(single)          # same keys, same order
    for k in ("destination", "primary_key", "incremental"):
        assert multi[k] == single[k]
    # sync keeps the source's _table discriminator column; sync_multi
    # routes on it and drops it
    assert multi["column_metadata"] == {
        c: md for c, md in single["column_metadata"].items()
        if c != "_table"}


def test_sync_column_filter_chained(spark, sf_dir, tmp_path):
    """incremental-column-filter-chained shape: two chained syncs with an
    exclude list — filtered columns never reach the output or the
    manifest, system columns are protected, and the registry stays
    consistent across runs."""
    out = str(tmp_path / "colf_out")
    cfg = SyncConfig(mode="DEDUPE", primary_keys=["user_id"],
                     column_exclude=["props"])
    r1 = sync(spark, sf_dir, out, cfg)["events"]
    assert "props" not in r1.columns
    assert "KBC__OPERATION" in r1.columns          # system col protected
    with open(os.path.join(out, "events.manifest")) as fh:
        m1 = json.load(fh)
    assert all(c["name"] != "props" for c in m1["schema"])

    # chained second run with the SAME registry: schema stays filtered
    st = RunState.load(os.path.join(out, "state.json"))
    r2 = sync(spark, sf_dir, out, cfg, state=st)["events"]
    assert "props" not in r2.columns
    st2 = RunState.load(os.path.join(out, "state.json"))
    assert not st2.is_initial_run


def test_sync_multi_fused_matches_per_table_loop(spark, sf_dir, tmp_path):
    """The O(1)-jobs fused multi-table path produces exactly the
    per-table loop's rows, manifests the same tables, and records the
    same end offsets — and its DEDUPE group runs as ONE window over
    (_table, pk), a single data shuffle for every table at once."""
    from pyspark.sql import functions as F

    from python_cdc_component_spark.engine import (
        SyncConfig, sync_multi, sync_multi_fused)
    from python_cdc_component_spark.model.envelope import (
        SYSTEM_COLUMNS as SC)
    from python_cdc_component_spark.sources.events import read_cdc_events

    ev = read_cdc_events(spark, sf_dir)
    multi = ev.withColumn(
        "_table", F.when(F.col("event_type").isin("click", "view"), "tab_a")
                   .otherwise("tab_b"))
    cfgs = {"tab_a": SyncConfig(mode="DEDUPE", primary_keys=["user_id"]),
            "tab_b": SyncConfig(mode="DEDUPE", primary_keys=["user_id"])}

    loop_state = RunState()
    sync_multi(spark, multi, str(tmp_path / "loop"), cfgs, loop_state)
    fused_state = RunState()
    [fused] = sync_multi_fused(
        spark, {t: multi.filter(F.col("_table") == t) for t in cfgs},
        str(tmp_path / "fused"), cfgs, fused_state).values()

    for t in cfgs:
        a = {(r["user_id"], r[SC.POS]) for r in
             spark.read.parquet(str(tmp_path / "loop" / t)).collect()}
        b = {(r["user_id"], r[SC.POS]) for r in
             spark.read.parquet(
                 str(tmp_path / "fused" / "tables")).filter(
                 F.col("_table") == t).collect()}
        assert a == b, t
        assert loop_state.offsets[t] == fused_state.offsets[t]
        assert os.path.exists(str(tmp_path / "fused" / f"{t}.manifest"))

    # ONE data shuffle serves every DEDUPE table (plus AQE bookkeeping)
    from python_cdc_component_spark.plans.explain import plan_summary
    s = plan_summary(fused)
    assert s.shuffles == 1


def test_sync_multi_fused_mixed_schema_fleet(spark, sf_dir, tmp_path):
    """VERDICT r4 #8: a mixed-schema fleet fuses per schema-fingerprint
    group — O(#schemas) jobs — and every table's rows, offsets, and
    manifest match the per-table plan it would get from the loop path.
    Here: 4 tables, 2 distinct schemas (one carries an extra column)."""
    from pyspark.sql import functions as F

    from python_cdc_component_spark.engine import (
        SyncConfig, plan_table, schema_fingerprint, sync_multi_fused)
    from python_cdc_component_spark.model.envelope import (
        SYSTEM_COLUMNS as SC)
    from python_cdc_component_spark.sources.events import read_cdc_events

    ev = read_cdc_events(spark, sf_dir)
    slim = ev.drop("props")
    fleet = {
        "wide_a": ev.filter(F.col("user_id") % 4 == 0),
        "wide_b": ev.filter(F.col("user_id") % 4 == 1),
        "slim_c": slim.filter(F.col("user_id") % 4 == 2),
        "slim_d": slim.filter(F.col("user_id") % 4 == 3),
    }
    cfgs = {t: SyncConfig(mode="DEDUPE", primary_keys=["user_id"])
            for t in fleet}

    state = RunState()
    results = sync_multi_fused(spark, fleet, str(tmp_path / "het"), cfgs,
                               state)
    # exactly 2 fingerprint groups of the output schema → 2 fused jobs
    assert len(results) == 2
    assert {schema_fingerprint(plan_table(fleet[t], cfgs[t]))
            for t in ("wide_a", "slim_c")} == set(results)

    out = spark.read.parquet(str(tmp_path / "het" / "tables"))
    for t, src in fleet.items():
        want = {(r["user_id"], r[SC.POS]) for r in
                plan_table(src, cfgs[t]).collect()}
        got = {(r["user_id"], r[SC.POS]) for r in
               out.filter(F.col("_table") == t).collect()}
        assert got == want, t
        assert state.offsets[t]["pos"] == max(p for _, p in want)
        assert os.path.exists(str(tmp_path / "het" / f"{t}.manifest"))

    # each group's plan keeps the fused shape: ONE data shuffle
    from python_cdc_component_spark.plans.explain import plan_summary
    for res in results.values():
        assert plan_summary(res).shuffles == 1


def test_sync_job_budget(spark, sf_dir, tmp_path):
    """A DEDUPE sync is one execution of its plan: the dedup window's
    shuffle map stage plus the write, on both sinks. The end offsets
    come from the write itself, and the CSV sink runs no partition
    probe — a further execution of the plan fails here."""
    for fmt in ("csv", "parquet"):
        out = str(tmp_path / fmt)
        cfg = SyncConfig(mode="DEDUPE", output_format=fmt)
        jobs = len(jobs_run_by(spark,
                                lambda: sync(spark, sf_dir, out, cfg)))
        assert 1 <= jobs <= 2, (fmt, jobs)
        st = RunState.load(os.path.join(out, "state.json"))
        assert st.offsets["events"]["pos"] is not None


def test_sync_offsets_observed_in_write(spark, sf_dir, tmp_path):
    """The offsets observed during the write are the max consumed
    coordinates; a chained run with no new events leaves ``state.json``
    byte-identical (NULL bounds keep the prior offsets)."""
    from pyspark.sql import functions as F
    from python_cdc_component_spark.model.envelope import SYSTEM_COLUMNS as SC
    from python_cdc_component_spark.sources.events import read_events

    out = str(tmp_path / "out")
    state_path = os.path.join(out, "state.json")
    res1 = sync(spark, sf_dir, out, SyncConfig(mode="DEDUPE"))["events"]
    ev = read_events(spark, sf_dir)
    st = RunState.load(state_path)
    assert st.offsets["events"]["pos"] == ev.agg(
        F.max("event_id")).collect()[0][0]
    assert st.offsets["events"]["ts"] == res1.agg(
        F.max(SC.EVENT_TIMESTAMP_MS)).collect()[0][0]
    with open(state_path, "rb") as fh:
        run1 = fh.read()

    # run 2: the stored state, the same log — nothing past the offsets
    res2 = sync(spark, sf_dir, out, SyncConfig(mode="DEDUPE"),
                RunState.load(state_path))["events"]
    assert res2.count() == 0
    with open(state_path, "rb") as fh:
        assert fh.read() == run1


def test_sync_schema_only_bootstrap_advances_to_source_end(spark, sf_dir,
                                                           tmp_path):
    """The schema-only bootstrap (``never`` on a fresh state) writes no
    rows but still captures the source's end position from the input,
    not from the (empty) output."""
    from pyspark.sql import functions as F
    from python_cdc_component_spark.model.envelope import SYSTEM_COLUMNS as SC
    from python_cdc_component_spark.sources.events import read_cdc_events

    out = str(tmp_path / "out")
    res = sync(spark, sf_dir, out,
               SyncConfig(snapshot_mode="never"))["events"]
    assert res.count() == 0
    assert spark.read.parquet(os.path.join(out, "events")).count() == 0
    end = read_cdc_events(spark, sf_dir).agg(
        F.max(SC.event_timestamp).alias("ts"),
        F.max(SC.pos).alias("pos")).collect()[0]
    st = RunState.load(os.path.join(out, "state.json"))
    assert st.offsets["events"]["pos"] == end["pos"]
    assert st.offsets["events"]["ts"] == end["ts"]


def test_write_csv_slice_count(spark, tmp_path):
    """Slices per write are min(estimated slices, input partitions): one
    file for a huge target, n for a target that asks n < k, and k
    (never more) for a tiny target."""
    from python_cdc_component_spark.sinks.csv_sink import _estimate_partitions

    k = 4
    df = spark.range(0, 4000, numPartitions=k).selectExpr(
        "id", "repeat('x', 100) AS pad")
    for target in (1 << 40, 40_000, 1_000):
        n = _estimate_partitions(df, target)
        path = str(tmp_path / f"slices_{target}")
        write_csv(df, path, target_slice_bytes=target)
        files = [f for f in os.listdir(path)
                 if f.startswith("part-") and f.endswith(".csv")]
        assert len(files) == min(n, k), (target, n, len(files))
    # the three targets cover n == 1, 1 < n < k and n > k
    assert 1 < _estimate_partitions(df, 40_000) < k
    assert _estimate_partitions(df, 1_000) > k


def _stage_log(spark, sf_dir, root, max_pos=None) -> str:
    """An event-log dir holding the events of ``sf_dir`` up to
    ``kbc__pos`` (the event id) ``max_pos``; ``None`` keeps them all."""
    from pyspark.sql import functions as F
    from python_cdc_component_spark.sources.events import read_events

    raw = read_events(spark, sf_dir).select(
        "event_id", F.col("ts_ns").alias("ts"), "user_id", "event_type",
        "value", "props")
    if max_pos is not None:
        raw = raw.filter(F.col("event_id") <= max_pos)
    raw.coalesce(1).write.parquet(os.path.join(root, "events.parquet"))
    return root


def _two_tables(spark, log):
    """The log's events split into tab_a (click/view) and tab_b (rest)."""
    from pyspark.sql import functions as F
    from python_cdc_component_spark.sources.events import read_cdc_events

    return read_cdc_events(spark, log).withColumn(
        "_table", F.when(F.col("event_type").isin("click", "view"), "tab_a")
                   .otherwise("tab_b"))


def test_chained_multi_table_runs_emit_only_new_events(spark, sf_dir,
                                                       tmp_path):
    """Both multi-table paths stream past each table's stored offsets:
    run 1 syncs the log cut at ``kbc__pos <= 500``, run 2 the full log
    with run 1's state, and run 2 writes exactly the plan of the events
    past run 1's offsets, per table. A run 3 over the same full log has
    nothing new and leaves no table output behind."""
    from pyspark.sql import functions as F
    from python_cdc_component_spark.engine import (
        plan_table, sync_multi, sync_multi_fused)
    from python_cdc_component_spark.model.envelope import SYSTEM_COLUMNS as SC

    cut, full = (_two_tables(spark, _stage_log(spark, sf_dir,
                                               str(tmp_path / name), top))
                 for name, top in (("cut", 500), ("full", None)))
    cfgs = {"tab_a": SyncConfig(mode="DEDUPE"),
            "tab_b": SyncConfig(mode="APPEND")}

    def slices(ev):
        return {t: ev.filter(F.col("_table") == t) for t in cfgs}

    for fused in (False, True):
        out, state = str(tmp_path / f"out_fused_{fused}"), RunState()
        for ev in (cut, full):
            first = dict(state.offsets)
            if fused:
                sync_multi_fused(spark, slices(ev), out, cfgs, state)
            else:
                sync_multi(spark, ev, out, cfgs, state)
        for t, cfg in cfgs.items():
            src = slices(full)[t]
            new = src.filter(F.col(SC.pos) > first[t]["pos"]).drop("_table")
            want = sorted(r[SC.POS] for r in plan_table(new, cfg).collect())
            got = (spark.read.parquet(os.path.join(out, "tables"))
                   .filter(F.col("_table") == t) if fused
                   else spark.read.parquet(os.path.join(out, t)))
            assert want, t                   # events past the cut exist
            assert sorted(r[SC.POS] for r in got.collect()) == want, \
                (fused, t)
            assert state.offsets[t]["pos"] == src.agg(
                F.max(SC.pos)).collect()[0][0]

        if fused:
            sync_multi_fused(spark, slices(full), out, cfgs, state)
            assert not any(os.path.exists(os.path.join(
                out, "tables", f"_table={t}")) for t in cfgs)
        else:
            sync_multi(spark, full, out, cfgs, state)
            assert all(spark.read.parquet(os.path.join(out, t)).isEmpty()
                       for t in cfgs)


def _manifest_sans_table(path: str) -> dict:
    """A manifest without the ``_table`` column that ``sync`` keeps."""
    with open(path) as fh:
        doc = json.load(fh)
    doc["columns"] = [c for c in doc["columns"] if c != "_table"]
    doc["schema"] = [c for c in doc["schema"] if c["name"] != "_table"]
    return doc


def test_sync_paths_agree_across_snapshot_modes(spark, sf_dir, tmp_path):
    """Every batch sync path gives the same answer for the same log,
    config and stored state: over two chained runs (the log cut at
    ``kbc__pos <= 500``, then the full log) ``sync``, a one-table
    ``sync_multi`` and ``sync_multi_fused`` agree on rows, offsets and
    manifest, for each snapshot mode and load type."""
    from python_cdc_component_spark.engine import sync_multi, sync_multi_fused
    from python_cdc_component_spark.sources.events import read_cdc_events

    logs = [_stage_log(spark, sf_dir, str(tmp_path / name), top)
            for name, top in (("cut", 500), ("full", None))]

    def run(path, log, out, cfg, state):
        if path == "sync":
            return sync(spark, log, out, cfg, state)["events"]
        ev, cfgs = read_cdc_events(spark, log), {"events": cfg}
        if path == "multi":
            return sync_multi(spark, ev, out, cfgs, state)["events"]
        [res] = sync_multi_fused(spark, {"events": ev}, out, cfgs,
                                 state).values()
        return res

    paths = ("sync", "multi", "fused")
    for snap in ("initial", "never", "when_needed"):
        for mode in ("APPEND", "DEDUPE"):
            cfg = SyncConfig(mode=mode, snapshot_mode=snap)
            states = {p: RunState() for p in paths}
            for i, log in enumerate(logs):
                got = {}
                for p in paths:
                    out = str(tmp_path / f"{snap}_{mode}_{p}")
                    res = run(p, log, out, cfg, states[p]).drop("_table")
                    cols = sorted(res.columns)
                    got[p] = (sorted(tuple(r) for r in
                                     res.select(*cols).collect()),
                              dict(states[p].offsets),
                              _manifest_sans_table(
                                  os.path.join(out, "events.manifest")))
                assert got["multi"] == got["sync"], (snap, mode, i)
                assert got["fused"] == got["sync"], (snap, mode, i)


def test_sync_multi_fused_job_budget(spark, sf_dir, tmp_path):
    """A fused write is one execution of its plan: the window's shuffle
    map stage plus the partitioned write, for a DEDUPE and an APPEND
    table at once. Every table's end offsets come from that write; a
    second pass for a per-table offsets aggregate fails here."""
    from pyspark.sql import functions as F
    from python_cdc_component_spark.engine import sync_multi_fused
    from python_cdc_component_spark.model.envelope import SYSTEM_COLUMNS as SC

    ev = _two_tables(spark, sf_dir)
    cfgs = {"tab_a": SyncConfig(mode="DEDUPE"),
            "tab_b": SyncConfig(mode="APPEND")}
    slices = {t: ev.filter(F.col("_table") == t) for t in cfgs}
    state = RunState()
    jobs = len(jobs_run_by(spark, lambda: sync_multi_fused(
        spark, slices, str(tmp_path / "out"), cfgs, state)))
    assert 1 <= jobs <= 2, jobs
    for t, src in slices.items():
        assert state.offsets[t]["pos"] == src.agg(
            F.max(SC.pos)).collect()[0][0]
