"""Incremental keyed-upsert (MERGE) compaction sink.

Parity target: the reference's DEDUPE export keeps one compacted row per
primary key across chained incremental runs
(``db_components/db_common/staging.py:216-282``; chained test
``ex_mysql_cdc/tests/functional/incremental-dedupe-chained/``). The
round-1 implementation re-read and overwrote the *entire* compacted
table every micro-batch — O(total-state x batches) I/O.

Spark-first design: the compacted state is a parquet table hash-bucketed
on the primary key (``_kbc_bucket = pmod(xxhash64(pk...), N)`` as a
partition directory). A batch can only change rows in the buckets its
own keys hash into, so ``merge``

1. computes the batch's touched bucket ids (a <=N-int driver scalar)
   in ONE Spark job: the batch is persisted and written to a ``noop``
   sink with an observed ``collect_set`` of its bucket ids, so the job
   that fills the cache also returns the ids,
2. reads ONLY those bucket directories back (``read_buckets``),
3. window-dedups batch+bucket rows per key (same W1 operator as batch
   mode) on the write's own bucket exchange, and
4. rewrites ONLY the touched buckets via dynamic partition overwrite —
   untouched buckets' files are never opened or rewritten.

Steps 3-4 shuffle on the bucket id with an EXPLICIT width,
``min(touched, defaultParallelism)`` reduce tasks. Without a count, AQE
coalescing (``parallelismFirst`` with a 1 MB ``minPartitionSize``)
folds a small bucket shuffle into one task, which then sorts, dedups
and writes every touched bucket's file in turn on one core; a
repartition with an explicit count is never coalesced. Each bucket
still lands wholly in one task, so a rewrite leaves one file per
bucket. ``purge`` and ``rebucket`` rewrite through the same helper.

Per-drain I/O (write-behind). A hot-key micro-batch hashes into every
bucket, so one ``merge`` per micro-batch rewrites the whole store per
batch. A stream drain that can run more than one micro-batch (a live
drain, or one with ``max_files_per_trigger``) therefore calls
``stage``: each micro-batch is appended as one delta directory under
``_delta/`` — O(|batch|) written, committed before ``foreachBatch``
returns, so offsets never run ahead of durable output — and ``fold``
upserts the committed deltas into the buckets with ONE ``merge``: when
the drain closes, or as soon as 8 deltas are pending. A drain of k
micro-batches pays k appends and one touched-bucket rewrite per fold,
instead of k rewrites. A one-batch drain would pay one append and
read-back more than a direct merge, so it merges directly. ``fold``
deletes exactly the deltas it merged, so a delta committed meanwhile
by a running drain stays pending. ``read`` merges pending deltas on
read; Spark's file index hides ``_``-prefixed directories, so a plain
parquet read of the store sees the folded base only. A fold is
idempotent (dedup-latest over identical rows), so a replayed batch
staged twice, or a crash between a fold's merge and its delta delete,
converges at the next fold.

Unverified crash claim: Spark's file commit protocol stages new files
and swaps them in per partition, which is taken to mean that a crash
mid-write leaves the previous bucket contents in place. Dynamic
partition overwrite deletes each old bucket before it renames the new
one in, so a kill between those two steps may lose that bucket's rows;
no fault-injection test has confirmed or refuted this yet.

At 100 TB, N scales with state size (N ~ state_bytes /
target_partition_bytes) and the bucket key gives every run the same
partitioning, so the per-bucket merge shuffle is bounded and skew-free
for uniform key hashes.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..fs import fs_delete as _fs_delete
from ..fs import fs_delete_empty_dir as _fs_delete_empty_dir
from ..fs import fs_exists as _fs_exists
from ..fs import fs_list_names as _fs_list_names
from ..fs import fs_read_text as _fs_read_text
from ..fs import fs_touch as _fs_touch
from ..fs import fs_write_text as _fs_write_text
from ..operators.dedup import dedup_latest
from ..operators.schema_align import union_epochs

BUCKET_COL = "_kbc_bucket"
DELTA_DIR = "_delta"  # pending deltas; the "_" hides them from base reads
# pending deltas that make ``stage`` fold
_FOLD_DELTAS = 8
_OVERWRITE_MODE_KEY = "spark.sql.sources.partitionOverwriteMode"


def _observed_buckets(df: DataFrame, write) -> list[int]:
    """Run ``write`` over ``df`` and return the distinct bucket ids of
    the rows it wrote, observed during that same job."""
    seen = Observation()
    write(df.observe(seen, F.collect_set(BUCKET_COL).alias("b")))
    return sorted(seen.get["b"])


def _noop_write(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class MergeCompactor:
    """Keyed-upsert sink: ``merge`` upserts one batch (a chained batch
    run, or a micro-batch that is read back inside its own batch);
    ``stage`` + ``fold`` is the write-behind form a stream drain uses.

    The bucket count is part of the store's PHYSICAL LAYOUT: a row of
    key k lives in directory ``pmod(xxhash64(k), N)`` for the N the
    store was BUILT with. The first write persists N to
    ``_meta.json``; every later open resolves N from the store, so a
    caller constructed with a different ``num_buckets`` cannot
    silently mis-bucket (which would read the wrong directory on merge
    and produce duplicate rows per key). Growing a store's N is an
    explicit full rewrite — :meth:`rebucket` — exactly like bucketed
    tables everywhere."""

    state_path: str
    keys: list[str]
    num_buckets: int = 32

    def _meta_path(self) -> str:
        return os.path.join(self.state_path, "_meta.json")

    def _delta_path(self) -> str:
        return os.path.join(self.state_path, DELTA_DIR)

    def _resolve_buckets(self, spark: SparkSession) -> int:
        """Layout-resolved bucket count: the stored N wins over the
        constructor arg; a legacy store (no meta) gets the current N
        persisted on first contact."""
        raw = _fs_read_text(spark, self._meta_path())
        if raw is not None:
            self.num_buckets = int(json.loads(raw)["num_buckets"])
        elif _fs_exists(spark, self.state_path):
            self._write_meta(spark)
        return self.num_buckets

    def _write_meta(self, spark: SparkSession) -> None:
        _fs_write_text(spark, self._meta_path(),
                       json.dumps({"num_buckets": self.num_buckets}))

    def _bucket(self) -> F.Column:
        return F.pmod(F.xxhash64(*[F.col(k) for k in self.keys]),
                      F.lit(self.num_buckets)).cast("int")

    def read_buckets(self, spark: SparkSession, buckets
                     ) -> tuple[list[int], DataFrame | None]:
        """The stored rows of the named buckets, bucket column kept:
        ``(ids of the buckets that exist, their rows)``, rows ``None``
        when none exists yet. The read lists the bucket DIRECTORIES
        explicitly (``basePath`` keeps the partition column): a
        whole-table load + filter would run the mergeSchema footer job
        over EVERY bucket's files before pruning — measured as a
        full-store task wave per micro-batch on a 512-bucket state.
        mergeSchema: after schema drift, buckets rewritten in different
        batches carry different file schemas; without it Spark infers
        from ONE arbitrary file and drifted columns silently vanish."""
        present = set(_fs_list_names(spark, self.state_path))
        ids = [b for b in buckets if f"{BUCKET_COL}={b}" in present]
        if not ids:
            return ids, None
        return ids, (spark.read.option("mergeSchema", "true")
                     .option("basePath", self.state_path)
                     .parquet(*[os.path.join(self.state_path,
                                             f"{BUCKET_COL}={b}")
                                for b in ids]))

    def rebucket(self, spark: SparkSession, new_num_buckets: int) -> int:
        """Maintenance op: rewrite the whole store under a new bucket
        count (state growth outpacing N means per-bucket merge I/O
        creeps up — the SCALING.md "N ~ state_bytes /
        target_partition_bytes" knob, applied). Full rewrite by
        construction; returns the new N."""
        self.fold(spark)
        self._resolve_buckets(spark)
        if not _fs_exists(spark, self.state_path):
            self.num_buckets = int(new_num_buckets)
            return self.num_buckets
        old = [int(n.split("=", 1)[1])
               for n in _fs_list_names(spark, self.state_path)
               if n.startswith(f"{BUCKET_COL}=")]
        cur = (spark.read.option("mergeSchema", "true")
               .option("basePath", self.state_path)
               .parquet(self.state_path).drop(BUCKET_COL))
        self.num_buckets = int(new_num_buckets)
        # pinned before the overwrite: the rows come from the files it
        # replaces
        out = (cur.withColumn(BUCKET_COL, self._bucket())
                  .localCheckpoint(eager=True))
        self._rewrite(spark, out,
                      sorted(set(old) | set(range(self.num_buckets))))
        self._write_meta(spark)
        return self.num_buckets

    def _rewrite(self, spark: SparkSession, rows: DataFrame,
                 buckets: list[int], dedup: bool = False) -> None:
        """Replace the named ``buckets`` of the store with ``rows``
        (bucket column set), latest row per key first when ``dedup``.
        A named bucket that ``rows`` leave empty is deleted: dynamic
        overwrite only replaces the partitions present in the written
        data, so it would keep its old files."""
        # An explicit width, or AQE coalesces a small bucket shuffle
        # into ONE task that sorts, dedups and writes every bucket's
        # file in turn; a repartition with a count is never coalesced.
        # The bucket id is a pure function of the PK, so this ONE
        # exchange also serves the window dedup: a window partitioned
        # by (bucket, *pk) rides it via the subset rule instead of
        # adding its own PK exchange. Each bucket lands wholly in one
        # writer task — one file per rewritten bucket.
        width = min(len(buckets), spark.sparkContext.defaultParallelism)
        rows = rows.repartition(width, F.col(BUCKET_COL))
        if dedup:
            rows = dedup_latest(rows, [BUCKET_COL, *self.keys])
        # WRITER-level dynamic overwrite, never the session conf:
        # inside foreachBatch the plan runs on the micro-batch's
        # CLONED session whose SQLConf was frozen at stream start — a
        # conf set here on the outer session never reaches it, the
        # overwrite silently degrades to static, and every bucket the
        # batch did NOT touch is wiped (reproduced: two single-key
        # batches, 64 buckets -> first key lost).
        written = _observed_buckets(
            rows, lambda df: (df.write.partitionBy(BUCKET_COL)
                              .option(_OVERWRITE_MODE_KEY.rsplit(".", 1)[-1],
                                      "dynamic")
                              .mode("overwrite").parquet(self.state_path)))
        for b in set(buckets) - set(written):
            _fs_delete(spark, os.path.join(self.state_path,
                                           f"{BUCKET_COL}={b}"))

    def merge(self, spark: SparkSession, batch_df: DataFrame) -> int:
        """Upsert one batch into the compacted state. Returns the number
        of buckets rewritten (0 for an empty batch)."""
        self._resolve_buckets(spark)
        batch = batch_df.withColumn(BUCKET_COL, self._bucket())
        batch.persist()
        try:
            # one job: fills the cache and observes the bucket ids
            touched = _observed_buckets(batch, _noop_write)
            if not touched:
                return 0
            _, current = self.read_buckets(spark, touched)
            merged = (batch if current is None
                      else union_epochs([current, batch]))
            self._rewrite(spark, merged, touched, dedup=True)
            if _fs_read_text(spark, self._meta_path()) is None:
                self._write_meta(spark)  # pin the layout at first write
            return len(touched)
        finally:
            batch.unpersist()

    def stage(self, spark: SparkSession, batch_df: DataFrame) -> int:
        """Write-behind upsert of one micro-batch: append its rows as a
        pending delta under ``_delta/``, and :meth:`fold` once
        ``_FOLD_DELTAS`` deltas are pending. The delta is committed
        (its ``_SUCCESS`` marker written) before this returns. A store
        with no base yet has nothing to rewrite, so the batch merges
        directly. Returns the number of buckets rewritten (0 when the
        batch was only appended)."""
        if not _fs_exists(spark, self._meta_path()):
            return self.merge(spark, batch_df)
        path = os.path.join(self._delta_path(), uuid.uuid4().hex)
        batch_df.write.parquet(path)
        # our own commit marker: a session may switch Spark's off
        _fs_touch(spark, os.path.join(path, "_SUCCESS"))
        if len(_fs_list_names(spark, self._delta_path())) < _FOLD_DELTAS:
            return 0
        return self.fold(spark)

    def _deltas(self, spark: SparkSession
                ) -> tuple[list[str], DataFrame | None]:
        """The committed pending deltas: ``(their directories, their
        rows as one frame)``, rows ``None`` if there is none. A delta
        directory without ``_SUCCESS`` is skipped: it is still being
        written, or a crash mid-append left it (only ``_temporary``),
        and then its micro-batch never committed to the checkpoint and
        replays."""
        root = self._delta_path()
        paths = [p for p in (os.path.join(root, n)
                             for n in _fs_list_names(spark, root))
                 if _fs_exists(spark, os.path.join(p, "_SUCCESS"))]
        if not paths:
            return paths, None
        return paths, spark.read.option("mergeSchema", "true").parquet(*paths)

    def fold(self, spark: SparkSession) -> int:
        """Upsert every committed pending delta into the bucketed base
        with ONE :meth:`merge`, then delete exactly those deltas (and
        ``_delta/`` once it is empty). A delta another writer commits
        or is still writing meanwhile stays pending, so a fold may run
        beside a live drain. Idempotent: a replayed batch staged twice,
        or a crash between the merge and the delete, re-merges
        identical rows and dedup-latest keeps one. Returns the number of
        buckets rewritten (0 with no delta)."""
        if not _fs_exists(spark, self._delta_path()):
            return 0
        paths, deltas = self._deltas(spark)
        n = 0 if deltas is None else self.merge(spark, deltas)
        for p in paths:
            _fs_delete(spark, p)
        _fs_delete_empty_dir(spark, self._delta_path())
        return n

    def settle(self, spark: SparkSession) -> int:
        """:meth:`fold` at a drain boundary — before the drain's query
        starts or after it stopped, when nothing stages into the store
        — then drop the uncommitted deltas a crashed or stopped
        micro-batch left: that batch never committed to the checkpoint
        and replays. Leaves no ``_delta/``. Returns the buckets
        rewritten."""
        n = self.fold(spark)
        _fs_delete(spark, self._delta_path())
        return n

    def purge(self, spark: SparkSession, keys_df: DataFrame) -> int:
        """Right-to-be-forgotten erasure against the stored state: drop
        every row whose key appears in ``keys_df``, rewriting ONLY the
        buckets those keys hash to (path-pruned read + dynamic partition
        overwrite — untouched buckets' files are never opened, same
        contract as ``merge``). Returns the number of buckets rewritten.
        Erasure is physical: the rewritten files no longer contain the
        rows, unlike a tombstone append. Pending deltas fold first, or a
        purged key would come back at the next fold."""
        self.fold(spark)
        self._resolve_buckets(spark)
        keys = (keys_df.select(*self.keys).distinct()
                .withColumn(BUCKET_COL, self._bucket()))
        keys.persist()
        try:
            touched = _observed_buckets(keys, _noop_write)
            present, current = self.read_buckets(spark, touched)
            if current is None:
                return 0
            kept = current.join(F.broadcast(keys), self.keys, "left_anti")
            self._rewrite(spark, kept, present)
            return len(present)
        finally:
            keys.unpersist()

    def health(self, spark: SparkSession) -> DataFrame:
        """Operational health report of the bucketed state store:
        per-bucket file count, row count, and tombstone count — the
        compaction-debt signals an operator watches (file-count creep
        means the bin-packing rewrite is being defeated; tombstone
        ratio drives retention compaction scheduling). One pruned scan;
        file attribution via the metadata column, no filesystem
        listing loop. Read-only: the rows and files of pending deltas
        count towards the buckets their keys hash into, as the debt the
        next fold clears."""
        def rows(df: DataFrame, bucket: F.Column) -> DataFrame:
            deleted = (F.col("__deleted").cast("int")
                       if "__deleted" in df.columns else F.lit(0))
            return df.select(bucket.alias("bucket"),
                             F.col("_metadata.file_path").alias("_f"),
                             deleted.alias("_d"))

        scan = rows(spark.read.option("mergeSchema", "true")
                    .parquet(self.state_path), F.col(BUCKET_COL))
        _, deltas = self._deltas(spark)
        if deltas is not None:
            self._resolve_buckets(spark)  # a delta implies _meta.json
            scan = scan.unionByName(rows(deltas, self._bucket()))
        return (scan.groupBy("bucket")
                .agg(F.countDistinct("_f").alias("n_files"),
                     F.count(F.lit(1)).alias("n_rows"),
                     F.sum("_d").cast("long").alias("n_tombstones"))
                .orderBy("bucket"))

    def read(self, spark: SparkSession) -> DataFrame:
        """The compacted table (bucket column dropped), pending deltas
        merged on read: the latest row per key over base and deltas, as
        a :meth:`fold` would store it. mergeSchema keeps post-drift
        columns visible regardless of which bucket's files the schema
        would otherwise be inferred from; at very large state, pass the
        registry's merged StructType via ``spark.read.schema`` instead
        to skip footer merging."""
        base = (spark.read.option("mergeSchema", "true")
                .parquet(self.state_path).drop(BUCKET_COL))
        _, deltas = self._deltas(spark)
        if deltas is None:
            return base
        return dedup_latest(union_epochs([base, deltas]), self.keys)
