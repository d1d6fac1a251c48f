"""Control-plane I/O: the documents a run leaves for the next one
(``state.json``, ``schema.json``, manifests) go through the Hadoop FS
helpers in ``fs.py``, so URI paths work like local ones, and each write
is committed by one rename, so an interrupted write leaves the previous
document intact."""

import os

import pytest
from pyspark.sql import types as T

from python_cdc_component_spark.engine import (
    SyncConfig, sync, sync_multi_fused)
from python_cdc_component_spark.fs import (
    fs_read_text, fs_rename, fs_touch, fs_write_text)
from python_cdc_component_spark.model.schema import (
    SchemaRegistry, TableSchema)
from python_cdc_component_spark.sinks.state import RunState
from python_cdc_component_spark.sources.events import read_cdc_events


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_sync_over_file_uri_source_matches_local_path(spark, sf_dir,
                                                      tmp_path):
    """The footer's ts unit is probed through the Hadoop FS, so a
    ``file://`` source scales ``KBC__EVENT_TIMESTAMP_MS`` like the
    local path does."""
    local = sync(spark, sf_dir, str(tmp_path / "a"))["events"]
    uri = sync(spark, "file://" + sf_dir, str(tmp_path / "b"))["events"]
    assert _rows(uri) == _rows(local)


def test_uri_out_dir_chained_runs_keep_documents_beside_data(
        spark, sf_dir, tmp_path, monkeypatch):
    """Two chained syncs into a ``file://`` out_dir: the documents land
    beside ``events/`` (not in a CWD-relative ``file:`` tree), and run 2
    reads the registry back, so a column it drops survives as
    nullable."""
    monkeypatch.chdir(tmp_path)
    local = tmp_path / "out"
    out = "file://" + str(local)
    sync(spark, sf_dir, out)
    assert not (tmp_path / "file:").exists()
    assert sorted(p for p in os.listdir(local) if not p.startswith(".")) \
        == ["events", "events.manifest", "schema.json", "state.json"]

    st = RunState.load(out + "/state.json")
    assert st.offsets["events"]["pos"] is not None
    res = sync(spark, sf_dir, out, SyncConfig(column_exclude=["props"]),
               state=st)["events"]
    assert "props" in res.columns
    props = SchemaRegistry.load(out + "/schema.json").tables[
        "events"].struct["props"]
    assert props.nullable
    assert not (tmp_path / "file:").exists()


def test_fused_sync_rejects_csv_output(spark, sf_dir, tmp_path):
    ev = read_cdc_events(spark, sf_dir)
    with pytest.raises(ValueError, match="'b'"):
        sync_multi_fused(spark, {"a": ev, "b": ev}, str(tmp_path / "o"),
                         {"a": SyncConfig(),
                          "b": SyncConfig(output_format="csv")})
    assert not (tmp_path / "o").exists()


def test_interrupted_document_write_keeps_previous_document(
        spark, tmp_path, monkeypatch):
    """An exception while a document is produced leaves the previous
    bytes in place and loadable (``open(path, "w")`` truncated it)."""
    reg = SchemaRegistry()
    reg.update(TableSchema(
        "t", T.StructType([T.StructField("id", T.LongType(), False)]),
        ["id"]))
    reg_path = str(tmp_path / "schema.json")
    reg.save(reg_path)
    st_path = str(tmp_path / "state.json")
    RunState(offsets={"t": {"ts": 1, "file": "f", "pos": 2}}).save(st_path)
    before = {p: open(p, "rb").read() for p in (reg_path, st_path)}

    def boom(*_a, **_k):
        raise RuntimeError("interrupted")

    monkeypatch.setattr(TableSchema, "to_json", boom)
    with pytest.raises(RuntimeError):
        reg.save(reg_path)
    monkeypatch.setattr(RunState, "to_doc", boom)
    with pytest.raises(RuntimeError):
        RunState(offsets={"t": {"ts": 9, "file": "f", "pos": 9}}).save(
            st_path)
    monkeypatch.undo()

    assert {p: open(p, "rb").read() for p in before} == before
    assert SchemaRegistry.load(reg_path).tables["t"].primary_keys == ["id"]
    assert RunState.load(st_path).offsets["t"]["pos"] == 2


def test_write_cut_short_at_each_step_reads_old_or_new(spark, tmp_path):
    """The states a writer that dies mid-commit can leave behind: the
    reader sees the previous or the new document, never a partial one,
    and the next write commits over each of them."""
    doc = str(tmp_path / "d" / "doc.json")
    old = str(tmp_path / "d" / ".doc.json.old")
    part = tmp_path / "d" / ".doc.json.part"

    # died while the part file of the first write was being filled
    part.parent.mkdir()
    part.write_text('{"trunc')
    assert fs_read_text(spark, doc) is None
    fs_write_text(spark, doc, "v1")
    assert fs_read_text(spark, doc) == "v1"

    # died after moving the previous document aside, before the commit
    assert fs_rename(spark, doc, old)
    assert fs_read_text(spark, doc) == "v1"
    fs_write_text(spark, doc, "v2")
    assert fs_read_text(spark, doc) == "v2"
    assert not os.path.exists(old)

    # died after the commit, before dropping the moved-aside document
    fs_write_text(spark, old, "v1")
    assert fs_read_text(spark, doc) == "v2"
    fs_write_text(spark, doc, "v3")
    assert fs_read_text(spark, doc) == "v3"
    assert os.listdir(part.parent) == ["doc.json"]


def test_document_replaces_checksummed_copy_and_takes_hand_edits(
        spark, tmp_path):
    """A document is written without the local FS's ``.crc`` twin, and
    replacing a copy that has one drops it, so a hand edit of the file
    does not fail the next read's checksum."""
    doc = tmp_path / "meta.json"
    fs_touch(spark, str(doc))               # created with a .crc twin
    assert (tmp_path / ".meta.json.crc").exists()
    fs_write_text(spark, str(doc), "v1")
    assert not (tmp_path / ".meta.json.crc").exists()
    doc.write_text("edited")
    assert fs_read_text(spark, str(doc)) == "edited"
