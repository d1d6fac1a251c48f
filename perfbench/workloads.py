"""The four CDC workloads: inputs, the timed operation, output checks and
serving probes.

Each workload is driven only through the engine's public entry points;
``prepare`` (untimed, not part of set-up) builds per-op directories,
``op`` is the timed call, ``check`` compares the op's output with the
generator's ground truth and returns a list of failures.
"""

from __future__ import annotations

import json
import math
import os
import shutil
from collections import Counter

import numpy as np

import gen

# Input sizes. They are fixed per workload (never derived from the
# machine) so a run on a different seed does the same amount of work.
SNAP_EVENTS = 250_000          # ~10% distinct keys, 5% deletes
SNAP_FILES = 8
UPSERT_SEED_KEYS = 30_000
UPSERT_FILES = 2
UPSERT_EVENTS_PER_FILE = 4_000
UPSERT_HOT_KEYS = 1_000
FLEET_TABLES = 12
FLEET_EVENTS_PER_TABLE = 200
CORPUS_DOCS = 60
CORPUS_WAVES = 1
CORPUS_EXACT = 4
CORPUS_NEAR = 4


def _rm(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _hash_rows(df, key: str, pos: str, deleted: str):
    """(count, Σh1, Σh2) of a frame's (key, pos, deleted) rows — the
    Spark twin of ``gen.row_hash``."""
    from pyspark.sql import functions as F
    cols = dict(k=f"cast({key} as long)", p=f"cast({pos} as long)",
                d=f"coalesce(cast({deleted} as boolean), false)")
    r = df.agg(F.count(F.lit(1)).alias("n"),
               *[F.sum(F.expr(h.format(**cols))).alias(f"h{i}")
                 for i, h in enumerate(gen.HASH_SQL)]).collect()[0]
    return int(r["n"]), int(r["h0"] or 0), int(r["h1"] or 0)


def _cmp(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got}, want {want}"]


class Workload:
    name = ""
    streaming = True
    side_state = False
    events_per_op = 0
    input_bytes = 0

    def __init__(self, root: str, seed: int):
        self.root = root
        self.rng = np.random.default_rng(seed)
        self.clock = gen.FileClock()

    def seed_state(self, spark) -> None:
        """Pre-existing state the timed ops start from (timed as set-up)."""

    def prepare(self, i: int) -> None:
        """Untimed per-op preparation (fresh output directories)."""

    def op(self, spark, i: int):
        raise NotImplementedError

    def check(self, spark, i: int, result) -> list[str]:
        raise NotImplementedError

    def probe(self, spark, i: int, j: int):
        """One serving read against op ``i``'s output; returns a
        zero-argument check that lists failures."""
        raise NotImplementedError

    def output_dirs(self, i: int) -> list[str]:
        return [self.run_dir(i)]

    def output_size(self, i: int) -> tuple[int, int]:
        """(files, bytes) the op left in its output directories."""
        n = b = 0
        for d in self.output_dirs(i):
            for base, _, files in os.walk(d):
                n += len(files)
                b += sum(os.path.getsize(os.path.join(base, f))
                         for f in files)
        return n, b

    def csv_files(self, i: int) -> int:
        return sum(f.endswith(".csv") for d in self.output_dirs(i)
                   for _, _, files in os.walk(d) for f in files)

    def scan_dirs(self) -> list[str]:
        """Directories holding ``events.parquet``, for a plain scan with
        ``sources.events.read_cdc_events``."""
        return [os.path.dirname(self.src)]

    def traced_extras(self, spark, i: int) -> dict:
        """Quality measurements on op ``i``'s output (traced run only)."""
        return {}

    def run_dir(self, i: int) -> str:
        return os.path.join(self.root, f"run{i:03d}")

    def cleanup(self, i: int) -> None:
        _rm(self.run_dir(i))


class SnapshotCompact(Workload):
    """One table through ``engine.sync`` in DEDUPE mode with CSV egress,
    a manifest and a state file."""

    name = "snapshot_compact"
    streaming = False

    def __init__(self, root: str, seed: int):
        super().__init__(root, seed)
        n = SNAP_EVENTS
        keys = self.rng.integers(0, n // 10, n)
        self.ev = gen.key_events(self.rng, 1, keys, p_delete=0.05)
        self.src = os.path.join(root, "src")
        self.input_bytes = gen.write_files(
            self.clock, self.ev, os.path.join(self.src, "events.parquet"),
            SNAP_FILES)
        self.events_per_op = n
        self.truth = gen.compacted_hash(self.ev)
        k, p, d = gen.last_per_key(self.ev)
        self.last = dict(zip(k.tolist(), zip(p.tolist(), d.tolist())))
        self.probe_keys = self.rng.choice(k, 64).tolist()

    def op(self, spark, i: int):
        from python_cdc_component_spark.engine import SyncConfig, sync
        return sync(spark, self.src, self.run_dir(i),
                    SyncConfig(mode="DEDUPE", primary_keys=["user_id"],
                               output_format="csv"))

    def scan_dirs(self) -> list[str]:
        return [self.src]

    def _columns(self, i: int) -> list[str]:
        with open(os.path.join(self.run_dir(i), "events.manifest")) as fh:
            return json.load(fh)["columns"]

    def _csv(self, spark, i: int):
        from pyspark.sql import types as T
        from python_cdc_component_spark.sources.csv import (
            read_csv_with_schema)
        schema = T.StructType([T.StructField(c, T.StringType())
                               for c in self._columns(i)])
        return read_csv_with_schema(
            spark, os.path.join(self.run_dir(i), "events"), schema)

    def check(self, spark, i: int, result) -> list[str]:
        from python_cdc_component_spark.sinks.state import RunState
        d = self.run_dir(i)
        if not os.path.exists(os.path.join(d, "events.manifest")):
            return ["manifest missing"]
        st = RunState.load(os.path.join(d, "state.json"))
        errs = _cmp("state.json offset pos",
                    st.offsets.get("events", {}).get("pos"),
                    int(self.ev.event_id[-1]))
        got = _hash_rows(self._csv(spark, i), "user_id", "KBC__POS",
                         "KBC__DELETED")
        return errs + _cmp("compacted (key, pos, deleted) hash", got,
                           self.truth)

    def probe(self, spark, i: int, j: int):
        from pyspark.sql import functions as F
        k = self.probe_keys[j % len(self.probe_keys)]
        rows = (self._csv(spark, i).filter(F.col("user_id") == str(k))
                .select("KBC__POS", "KBC__DELETED").collect())
        pos, dele = self.last[k]
        return lambda: _cmp(
            f"row of key {k}",
            [(int(r[0]), r[1] == "true") for r in rows], [(pos, dele)])


def _stream_cfg(**kw):
    from python_cdc_component_spark.streaming.bounded import (
        BoundedStreamConfig)
    kw.setdefault("max_files_per_trigger", 1)
    return BoundedStreamConfig(mode="DEDUPE", primary_keys=["user_id"], **kw)


class StreamUpsert(Workload):
    """Chained incremental run: a seeded compacted state, then a drain of
    hot-key update files through ``bounded_sync``."""

    name = "stream_upsert"

    def __init__(self, root: str, seed: int):
        super().__init__(root, seed)
        rng = self.rng
        s = UPSERT_SEED_KEYS
        seed_ev = gen.key_events(rng, 1, np.arange(s), p_delete=0.0)
        n = UPSERT_FILES * UPSERT_EVENTS_PER_FILE
        hot = rng.choice(s, UPSERT_HOT_KEYS, replace=False)
        u = rng.random(n)
        keys = np.where(u < 0.8, hot[rng.integers(0, len(hot), n)],
                        rng.integers(0, s, n))
        new = u >= 0.9              # inserts of keys the seed never had
        keys[new] = s + np.arange(int(new.sum()))
        delta = gen.key_events(rng, s + 1, keys, p_delete=0.05)
        seen = np.isin(delta.user_id, seed_ev.user_id)
        first = np.zeros(n, bool)
        first[np.unique(delta.user_id, return_index=True)[1]] = True
        delta.event_type[seen & first] = gen.UPDATES[0]
        self.seed_src = os.path.join(root, "seed", "events.parquet")
        gen.write_files(self.clock, seed_ev, self.seed_src, 4)
        self.src = os.path.join(root, "delta", "events.parquet")
        self.input_bytes = gen.write_files(self.clock, delta, self.src,
                                           UPSERT_FILES)
        self.events_per_op = n
        both = gen.concat([seed_ev, delta])
        self.truth = gen.compacted_hash(both)
        k, p, d = gen.last_per_key(both)
        last = dict(zip(k.tolist(), zip(p.tolist(), d.tolist())))
        self.probes = [(int(x), last[int(x)])
                       for x in rng.choice(np.unique(keys), 64)]
        self.seed_dir = os.path.join(root, "seed_state")

    def seed_state(self, spark) -> None:
        from python_cdc_component_spark.streaming.bounded import (
            bounded_sync)
        _rm(self.seed_dir)
        bounded_sync(spark, self.seed_src,
                     os.path.join(self.seed_dir, "state"),
                     os.path.join(self.seed_dir, "ckpt"),
                     _stream_cfg(max_files_per_trigger=None))

    def state(self, i: int) -> str:
        return os.path.join(self.run_dir(i), "state")

    def prepare(self, i: int) -> None:
        _rm(self.run_dir(i))
        shutil.copytree(os.path.join(self.seed_dir, "state"), self.state(i))

    def op(self, spark, i: int):
        from python_cdc_component_spark.streaming.bounded import (
            bounded_sync)
        return bounded_sync(spark, self.src, self.state(i),
                            os.path.join(self.run_dir(i), "ckpt"),
                            _stream_cfg())

    def output_dirs(self, i: int) -> list[str]:
        return [self.state(i)]

    def check(self, spark, i: int, result) -> list[str]:
        from python_cdc_component_spark.model.envelope import (
            SYSTEM_COLUMNS as SC)
        from python_cdc_component_spark.sinks.merge import MergeCompactor
        got = _hash_rows(MergeCompactor(self.state(i), ["user_id"])
                         .read(spark), "user_id", SC.pos, SC.deleted)
        return (_cmp("micro-batches", result["batches"], UPSERT_FILES)
                + _cmp("compacted (key, pos, deleted) hash", got,
                       self.truth))

    def probe(self, spark, i: int, j: int):
        """A key lookup in the compacted store, as its readers do it."""
        from pyspark.sql import functions as F
        from python_cdc_component_spark.model.envelope import (
            SYSTEM_COLUMNS as SC)
        from python_cdc_component_spark.sinks.merge import MergeCompactor
        k, want = self.probes[j % len(self.probes)]
        rows = (MergeCompactor(self.state(i), ["user_id"]).read(spark)
                .filter(F.col("user_id") == k)
                .select(SC.pos, SC.deleted).collect())
        return lambda: _cmp(f"row of key {k}",
                            [(int(r[0]), bool(r[1])) for r in rows],
                            [want])


class FleetDrain(Workload):
    """Many small tables, two-thirds DEDUPE and one-third APPEND, drained
    by ``bounded_sync_multi_fused``."""

    name = "fleet_drain"

    def __init__(self, root: str, seed: int):
        super().__init__(root, seed)
        e = FLEET_EVENTS_PER_TABLE
        self.dirs, self.modes = {}, {}
        self.truth, self.append_rows, self.probes = {}, Counter(), []
        next_id, total = 1, 0
        for j in range(FLEET_TABLES):
            t = f"t{j:03d}"
            keys = self.rng.integers(0, e // 4, e)
            ev = gen.key_events(self.rng, next_id, keys, p_delete=0.05)
            next_id += e
            d = os.path.join(root, "src", t, "events.parquet")
            total += gen.write_files(self.clock, ev, d, 1)
            self.dirs[t] = d
            self.modes[t] = "APPEND" if j % 3 == 2 else "DEDUPE"
            if self.modes[t] == "DEDUPE":
                self.truth[t] = gen.compacted_hash(ev)
                if j % 15 == 0:
                    k, p, dl = gen.last_per_key(ev)
                    self.probes.append((t, int(k[0]),
                                        (int(p[0]), bool(dl[0]))))
            else:
                self.append_rows.update(
                    (t, int(a), int(b), c, float(v), s, c == gen.DELETE)
                    for a, b, c, v, s in zip(ev.event_id, ev.user_id,
                                             ev.event_type, ev.value,
                                             ev.props))
        self.input_bytes = total
        self.events_per_op = FLEET_TABLES * e

    def op(self, spark, i: int):
        from python_cdc_component_spark.streaming.bounded import (
            BoundedStreamConfig, bounded_sync_multi_fused)
        cfgs = {t: BoundedStreamConfig(mode=m, primary_keys=["user_id"])
                for t, m in self.modes.items()}
        return bounded_sync_multi_fused(
            spark, self.dirs, os.path.join(self.run_dir(i), "out"),
            os.path.join(self.run_dir(i), "ckpt"), cfgs)

    def output_dirs(self, i: int) -> list[str]:
        return [os.path.join(self.run_dir(i), "out")]

    def scan_dirs(self) -> list[str]:
        return [os.path.dirname(d) for d in self.dirs.values()]

    def _groups(self, i: int) -> dict:
        with open(os.path.join(self.run_dir(i), "out", "fleet.json")) as f:
            return json.load(f)

    def check(self, spark, i: int, result) -> list[str]:
        from pyspark.sql import functions as F
        from python_cdc_component_spark.model.envelope import (
            SYSTEM_COLUMNS as SC)
        errs = []
        got, rows = {}, Counter()
        for g in self._groups(i).values():
            df = spark.read.option("mergeSchema", "true").parquet(g["path"])
            if g["mode"] == "DEDUPE":
                cols = dict(k="cast(user_id as long)",
                            p=f"cast({SC.pos} as long)",
                            d=f"coalesce({SC.deleted}, false)")
                for r in (df.groupBy("_table").agg(
                        F.count(F.lit(1)).alias("n"),
                        *[F.sum(F.expr(h.format(**cols))).alias(f"h{j}")
                          for j, h in enumerate(gen.HASH_SQL)])
                        .collect()):
                    got[r["_table"]] = (r["n"], r["h0"], r["h1"])
            else:
                rows.update(tuple(r) for r in df.select(
                    "_table", SC.pos, "user_id", "event_type", "value",
                    "props", SC.deleted).collect())
        bad = sorted(t for t in self.truth if got.get(t) != self.truth[t])
        if bad:
            errs.append(f"compacted hash differs for {len(bad)} tables, "
                        f"e.g. {bad[0]}")
        if rows != self.append_rows:
            errs.append(f"APPEND rows differ: {sum(rows.values())} rows, "
                        f"want {sum(self.append_rows.values())}")
        return errs

    def probe(self, spark, i: int, j: int):
        from pyspark.sql import functions as F
        from python_cdc_component_spark.model.envelope import (
            SYSTEM_COLUMNS as SC)
        from python_cdc_component_spark.streaming.bounded import (
            read_fleet_table)
        t, k, want = self.probes[j % len(self.probes)]
        rows = (read_fleet_table(spark, os.path.join(self.run_dir(i),
                                                     "out"), t)
                .filter(F.col("user_id") == k)
                .select(SC.pos, SC.deleted).collect())
        return lambda: _cmp(f"row of {t} key {k}",
                            [(int(r[0]), bool(r[1])) for r in rows],
                            [want])


def bm25_scores(docs: dict[int, str], terms: list[str]) -> dict[int, float]:
    """Okapi BM25 (k1=1.2, b=0.75) of every doc matching a query term —
    the reference the index-served ``bm25_topk`` is checked against."""
    toks = {d: t.split(" ") for d, t in docs.items()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = {q: sum(q in t for t in toks.values()) for q in terms}
    out = {}
    for d, t in toks.items():
        if not any(q in t for q in terms):
            continue
        s = 0.0
        for q in terms:
            tf = float(t.count(q))
            idf = math.log((n - df[q] + 0.5) / (df[q] + 0.5) + 1.0)
            s += idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * len(t)
                                                 / avgdl))
        out[d] = s
    return out


class CorpusSidestate(Workload):
    """Documents with planted exact and near duplicates arriving as CDC
    inserts, updates and deletes, drained by ``bounded_sync`` with the
    dedup-groups and lexical-index side states, then served."""

    name = "corpus_sidestate"
    side_state = True
    TOPK = 5

    def __init__(self, root: str, seed: int):
        super().__init__(root, seed)
        self.corpus = gen.corpus_events(self.rng, CORPUS_DOCS, CORPUS_WAVES,
                                        CORPUS_EXACT, CORPUS_NEAR)
        self.src = os.path.join(root, "src", "events.parquet")
        self.input_bytes = sum(
            self.clock.write(w, os.path.join(self.src,
                                             f"part-{j:05d}.parquet"))
            for j, w in enumerate(self.corpus.waves))
        ev = gen.concat(self.corpus.waves)
        self.events_per_op = len(ev)
        self.truth = gen.compacted_hash(ev)
        live = sorted(self.corpus.live_text)
        self.queries = [self.corpus.live_text[int(d)].split(" ")[:3]
                        for d in self.rng.choice(live, 32)]

    def paths(self, i: int) -> dict:
        d = self.run_dir(i)
        return {p: os.path.join(d, p)
                for p in ("state", "ckpt", "groups", "lexical")}

    def op(self, spark, i: int):
        from python_cdc_component_spark.streaming.bounded import (
            bounded_sync)
        p = self.paths(i)
        return bounded_sync(spark, self.src, p["state"], p["ckpt"],
                            _stream_cfg(dedup_groups_path=p["groups"],
                                        dedup_groups_buckets=8,
                                        lexical_index_path=p["lexical"],
                                        lexical_parts=4))

    def groups(self, i: int):
        from python_cdc_component_spark.streaming.dedup_state import (
            StreamingDedupGroups)
        return StreamingDedupGroups(self.paths(i)["groups"])

    def lexical(self, i: int):
        from python_cdc_component_spark.streaming.lexical_state import (
            StreamingLexicalIndex)
        return StreamingLexicalIndex(self.paths(i)["lexical"])

    def pair_components(self, spark, i: int, pairs) -> list[bool]:
        ids = sorted({d for p in pairs for d in p})
        comp = {r["doc_id"]: r["component"] for r in
                self.groups(i).read_group_of(spark, ids).collect()}
        return [comp.get(a) is not None and comp.get(a) == comp.get(b)
                for a, b in pairs]

    def traced_extras(self, spark, i: int) -> dict:
        near = self.pair_components(spark, i, self.corpus.near_pairs)
        return {"near_dup_recall": sum(near) / len(near)}

    def check(self, spark, i: int, result) -> list[str]:
        from python_cdc_component_spark.model.envelope import (
            SYSTEM_COLUMNS as SC)
        from python_cdc_component_spark.sinks.merge import MergeCompactor
        got = _hash_rows(MergeCompactor(self.paths(i)["state"], ["user_id"])
                         .read(spark), "user_id", SC.pos, SC.deleted)
        errs = _cmp("compacted (key, pos, deleted) hash", got, self.truth)
        grouped = self.pair_components(spark, i, self.corpus.exact_pairs)
        if not all(grouped):
            errs.append(f"{grouped.count(False)} planted exact duplicate "
                        "pairs are not in one group")
        return errs

    def probe(self, spark, i: int, j: int):
        if j % 2:
            a, b = self.corpus.exact_pairs[(j // 2)
                                           % len(self.corpus.exact_pairs)]
            same = self.pair_components(spark, i, [(a, b)])
            return lambda: _cmp(f"group of docs {a}, {b}", same, [True])
        terms = self.queries[(j // 2) % len(self.queries)]
        rows = self.lexical(i).bm25_topk(spark, terms, self.TOPK).collect()
        return lambda: self._check_topk(terms, rows)

    def _check_topk(self, terms, rows) -> list[str]:
        want = bm25_scores(self.corpus.live_text, terms)
        cut = sorted(want.values(), reverse=True)[:self.TOPK][-1]
        errs = _cmp(f"bm25 top-{self.TOPK} size for {terms}", len(rows),
                    min(self.TOPK, len(want)))
        for r in rows:
            s = want.get(r["doc_id"])
            if s is None or abs(s - r["bm25"]) > 1e-5 or s < cut - 1e-5:
                errs.append(f"bm25 {terms}: doc {r['doc_id']} scored "
                            f"{r['bm25']}, reference {s}, cut {cut}")
        return errs


WORKLOADS = {w.name: w for w in (SnapshotCompact, StreamUpsert, FleetDrain,
                                 CorpusSidestate)}
