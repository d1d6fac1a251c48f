"""Streaming near-duplicate detection: a persistent LSH band index fed
one micro-batch at a time.

This is the streaming twin of ``lsh_incremental_pairs`` (queries.py) and
the near-dup analogue of the exact-hash ``bloom_dedup_incremental``: a
growing corpus arrives in ingest batches, each batch probes the stored
band index for collisions against everything indexed so far (and
itself), emits the near-dup candidate pairs, then appends its own bands
to the index. Indexed×indexed pairs are never re-examined — per-batch
cost is O(|batch| × collision fan-out), the property that makes
continuous dedup viable at corpus scale.

Index layout: parquet partitioned by ``_lsh_bucket = pmod(xxhash64(bv),
N)`` and, inside each bucket, by ``_batch`` — the batch commit tier.
``_batch=-1`` is the unbatched/compacted tier; ``_batch=<id>`` holds
one identified batch's rows until compaction folds them into ``-1``.
A batch's probe reads ONLY the bucket directories its own band values
hash into (explicit path list + basePath, the MergeCompactor
discipline) — per-batch index I/O is proportional to the batch's
bucket footprint, never the full index.

Exactly-once (when the caller passes ``batch_id``, e.g. the
``foreachBatch`` epoch id):

* the batch's rows are written with a **dynamic partition overwrite**
  of its own ``(bucket, _batch=id)`` partitions — band values are a
  pure function of the batch's text, so a crashed half-append is
  replaced, not doubled, on replay;
* a marker file ``_batches/<id>`` is touched only AFTER the append —
  a replay that finds the marker recomputes and returns the identical
  pair set (the batch's stored copy and its in-memory copy collapse
  under ``countDistinct(band)``) and skips the append entirely, so
  the index bytes are untouched;
* compaction folds committed batch tiers into ``_batch=-1`` and then
  drops the consumed tiers — a crash between those two steps leaves
  duplicate rows, which are *semantically benign* here: probes count
  ``countDistinct(band)`` and purge anti-joins remove every copy.

Without ``batch_id`` the append is plain at-least-once (the
reference's Debezium window): re-processing re-appends, and
``countDistinct`` keeps later probes immune (tested).

Erasure sidecar: ``_docmap/`` stores (doc_id, bucket) pairs
partitioned by ``_doc_part = doc_id mod N`` — written in
:meth:`process_batch` while the bands are in hand. :meth:`purge_docs`
resolves victim buckets from the sidecar's victim partitions alone,
so erasure I/O is proportional to the victims' footprint, never a
full-index scan (untouched buckets are never opened — tested by
corrupting them).

The emitted pairs are pinned with an eager ``localCheckpoint`` BEFORE
the batch's bands are appended — the probe reads the very directories
the append is about to grow, and a lazy plan evaluated after the
append would see the batch's own bands in the "index" side and
double-count (the view_maintain lesson).

Parity guarantee (tested): feeding a corpus through in ANY batch split
yields exactly the pairs of the full-corpus banded self-join
(``minhash_lsh_pairs``), each pair exactly once — a pair is emitted by
whichever batch completes it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fs import fs_delete as _fs_delete
from ..fs import fs_exists as _fs_exists
from ..fs import fs_file_count as _fs_file_count
from ..fs import fs_has_children as _fs_has_children
from ..fs import fs_list_names as _fs_list_names
from ..fs import fs_read_text as _fs_read_text
from ..fs import fs_touch as _fs_touch
from ..fs import fs_write_text as _fs_write_text
from ..operators.llm.minhash import (band_table, minhash_signatures,
                                     shingle_hashes)
from ..operators.schema_align import union_epochs

BUCKET_COL = "_lsh_bucket"
BATCH_COL = "_batch"
DOC_PART_COL = "_doc_part"
GROUP_PART_COL = "_g_part"
COMPACTED_TIER = -1


def run_concurrent(*thunks) -> None:
    """Submit independent write jobs from worker threads so their
    fixed per-job costs overlap (Spark schedules jobs from concurrent
    threads independently). Only for writes to DISJOINT paths with no
    ordering constraint between them — the commit marker must still be
    touched strictly after ``run_concurrent`` returns. Exceptions
    propagate (first one wins), so a failed write still fails the
    batch before any marker lands."""
    from concurrent.futures import ThreadPoolExecutor
    if len(thunks) == 1:
        thunks[0]()
        return
    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futures = [ex.submit(t) for t in thunks]
        for f in futures:
            f.result()


@dataclass
class StreamingLshIndex:
    """Persistent LSH band index with batch-probe-then-append flow.
    Call :meth:`process_batch` once per micro-batch (e.g. from
    ``foreachBatch``, passing the epoch id as ``batch_id`` for
    exactly-once appends)."""

    index_path: str
    num_buckets: int = 64
    # append-mode stores accrete one file per bucket per batch; probe
    # cost then grows with BATCH COUNT (file open/footer overhead),
    # not index size. Size-tiered compaction: when a touched bucket
    # exceeds this many files it is rewritten into one — amortized
    # O(1) per batch, and per-batch probe I/O returns to being
    # proportional to touched-bucket DATA.
    compact_file_threshold: int = 8
    # Exact-text group collapse (the boilerplate guard, the streaming
    # twin of operators/llm/hybrid.py::exact_group_keyed): K
    # text-identical docs band ONCE, keyed by a 120-bit md5 text key —
    # the index emits one (rep, member) attach pair per duplicate doc
    # instead of K²/2 intra-group pairs, and LSH candidates are
    # emitted at unique-text-GROUP granularity, translated back to the
    # groups' representative doc ids. Physical layout (pinned in the
    # meta like num_buckets — a store never changes mode):
    #   _groups/ (gk1, gk2, doc_id, rep, buckets) by _g_part=pmod(
    #       xxhash64(gk1,gk2),N): ONE fused sidecar — a member row per
    #       doc, where a group's representative row doubles as the
    #       group DEFINITION (rep + the group's fixed band buckets
    #       non-null); serves text-key → rep lookup, group→doc
    #       expansion, and rep re-election on a rep's purge;
    #   _docmap/ (doc_id, _g_part) by _doc_part: victim → group
    #       partition, the erasure pruning map.
    # Docs under 3 tokens have no shingles (hence no bands) and an
    # undefined-empty Jaccard: they never enter the index in either
    # mode, so identical short docs stay singletons.
    collapse_exact: bool = False
    # doc-id kind, pinned in the meta at first build: "integral" (the
    # historical layout, doc partitions = id mod N) or "string" (a
    # composite-PK envelope key, partitions = xxhash64(id) mod N).
    # String ids require collapse mode (the uncollapsed docmap layout
    # is integral-only).
    id_kind: str = "integral"

    @property
    def _docmap_path(self) -> str:
        return os.path.join(self.index_path, "_docmap")

    @property
    def _groups_path(self) -> str:
        return os.path.join(self.index_path, "_groups")

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.index_path, "_batches")

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.index_path, "_meta.json")

    def _resolve_buckets(self, spark: SparkSession) -> bool:
        """The bucket count is physical layout (band values hash to
        ``pmod(xxhash64(bv), N)`` directories for the N the index was
        BUILT with): the stored N wins over the constructor arg, so a
        mismatched caller cannot silently probe the wrong bucket and
        MISS pairs. Legacy index (no meta): current N is persisted,
        stamped ``docmap_complete=False`` — docs ingested before the
        sidecar existed are not in it, so bucket resolution from a
        PARTIAL sidecar would silently skip their rows during erasure.
        Returns the docmap-complete flag (missing key == False: only a
        meta written at FIRST build can vouch for completeness). Meta
        I/O goes through the Hadoop FS API like every data path."""
        import json
        raw = _fs_read_text(spark, self._meta_path)
        if raw is not None:
            meta = json.loads(raw)
            self.num_buckets = int(meta["num_buckets"])
            # the collapse mode and the doc-id kind are physical layout
            # exactly like N (a collapsed store's band rows are
            # group-keyed structs; a string-keyed store's doc
            # partitions hash instead of taking the value mod N) — the
            # stored values win over the constructor args
            self.collapse_exact = bool(meta.get("collapse_exact", False))
            self.id_kind = meta.get("id_kind", "integral")
            return bool(meta.get("docmap_complete", False))
        if _fs_exists(spark, self.index_path):
            # legacy index built before the meta existed: necessarily
            # uncollapsed (collapse stores write a meta at first build)
            self.collapse_exact = False
            self.id_kind = "integral"
            self._write_meta(spark, docmap_complete=False)
            return False
        return True     # fresh build: the sidecar grows with the index

    def _write_meta(self, spark: SparkSession, *,
                    docmap_complete: bool) -> None:
        import json
        _fs_write_text(spark, self._meta_path,
                       json.dumps({"num_buckets": self.num_buckets,
                                   "docmap_complete": docmap_complete,
                                   "collapse_exact": self.collapse_exact,
                                   "id_kind": self.id_kind}))

    def _bucket(self) -> F.Column:
        return F.pmod(F.xxhash64(F.col("bv")),
                      F.lit(self.num_buckets)).cast("int")

    # -- doc-id kind (integral | string) ------------------------------

    @property
    def _id_sql_type(self) -> str:
        return "string" if self.id_kind == "string" else "long"

    def _id_part(self, col) -> F.Column:
        """Doc partition: value mod N for integral ids (the historical
        layout — computable driver-side), hash mod N for string ids
        (e.g. a composite-PK envelope key)."""
        if self.id_kind == "string":
            return F.pmod(F.xxhash64(col),
                          F.lit(self.num_buckets)).cast("int")
        return F.pmod(col, F.lit(self.num_buckets)).cast("int")

    def _id_parts_of(self, spark: SparkSession, values) -> set[int]:
        """Victim partition ids for a driver-side id list — python
        modulo for integral ids (no job), one tiny Spark select for
        string ids (xxhash64 has no python twin). Value-robust: string
        values take the hash path even if the resolved kind is stale
        (a metaless store), so a mismatch can never mis-prune."""
        if (self.id_kind != "string"
                and not any(isinstance(v, str) for v in values)):
            return {int(v) % self.num_buckets for v in values}
        df = spark.createDataFrame([(v,) for v in values],
                                   "doc_id string")
        return {r[0] for r in
                df.select(self._id_part(F.col("doc_id")).alias("p"))
                .distinct().collect()}

    def _adopt_id_kind(self, spark: SparkSession,
                       batch_docs: DataFrame) -> None:
        """Pin the id kind from the FIRST batch's schema; later batches
        must match the stored kind (a silent flip would mis-prune every
        doc-partition lookup)."""
        from pyspark.sql import types as T
        dt = batch_docs.schema["doc_id"].dataType
        kind = "string" if isinstance(dt, T.StringType) else "integral"
        if _fs_read_text(spark, self._meta_path) is None:
            self.id_kind = kind
        elif kind != self.id_kind:
            raise ValueError(
                f"store at {self.index_path} is keyed by "
                f"{self.id_kind} doc ids; this batch's doc_id is "
                f"{dt.simpleString()}")

    def _overwrite_dynamic(self, spark: SparkSession, df: DataFrame,
                           cols: list[str], path: str) -> None:
        # WRITER-level option, never the session conf: inside
        # foreachBatch the plan runs on the micro-batch's CLONED
        # session whose SQLConf was frozen at stream start — a conf set
        # on the outer session never reaches it and the overwrite
        # silently degrades to static, wiping the whole index
        # (reproduced before this fix: 4 streamed epochs left only the
        # last batch's bands, markers and sidecar gone).
        (df.write.partitionBy(*cols)
           .option("partitionOverwriteMode", "dynamic")
           .mode("overwrite").parquet(path))

    def process_batch(self, spark: SparkSession, batch_docs: DataFrame,
                      batch_id: int | None = None) -> DataFrame:
        """Probe + append one batch of (doc_id, text) rows. Returns the
        near-dup candidate pairs (doc_a, doc_b, n_bands) completed by
        this batch, already materialized (safe to consume after the
        index append). With ``batch_id``, a replay of an
        already-committed batch returns the identical pairs and leaves
        the index bytes untouched."""
        pairs, finish, _ = self.process_batch_deferred(
            spark, batch_docs, batch_id=batch_id)
        if finish is not None:
            finish()
        return pairs

    def process_batch_deferred(
            self, spark: SparkSession, batch_docs: DataFrame,
            batch_id: int | None = None):
        """:meth:`process_batch` with the WRITE half handed back to the
        caller: returns ``(pairs, finish, verify_sh)`` where ``pairs``
        is already materialized (localCheckpoint) and ``finish`` —
        ``None`` when the batch leaves no bytes to write (replay of a
        committed batch, all-short batch) — performs the
        band/sidecar/docmap appends, touches the batch marker, and runs
        the compaction gates. The writes land on DISJOINT paths from
        everything a verify/merge consumer of ``pairs`` reads, so the
        caller may run ``finish`` concurrently with its own stages
        (VERDICT r9 #4's pipelining lever) — but MUST complete it
        before committing any state of its own that presumes the index
        batch durable (the marker contract). ``finish`` must be called
        exactly once; it owns the batch's cache unpersists.

        ``verify_sh`` (collapse mode only, else ``None``) is a
        materialized (doc_id, v) DISTINCT shingle table covering every
        non-exact pair endpoint whose text arrived IN THIS BATCH (the
        batch-side group reps) — handed to
        ``verify_jaccard_pairs(precomputed=...)`` it spares the verify
        stage re-deriving those docs' shingles from the corpus; only
        previously-indexed endpoints still read corpus text."""
        self._resolve_buckets(spark)
        if self.collapse_exact:
            return self._process_batch_collapsed(spark, batch_docs,
                                                 batch_id)
        return (self._process_batch_uncollapsed(spark, batch_docs,
                                                batch_id), None, None)

    def _process_batch_uncollapsed(self, spark: SparkSession,
                                   batch_docs: DataFrame,
                                   batch_id: int | None) -> DataFrame:
        from pyspark.sql import types as T
        if isinstance(batch_docs.schema["doc_id"].dataType,
                      T.StringType):
            raise ValueError(
                "string doc ids require collapse_exact=True (the "
                "uncollapsed docmap layout partitions by id mod N)")
        committed = (batch_id is not None
                     and _fs_exists(spark, os.path.join(
                         self._manifest_path, str(batch_id))))
        bands = (band_table(minhash_signatures(batch_docs))
                 .withColumn(BUCKET_COL, self._bucket()))
        bands.persist()
        try:
            touched = [r[0] for r in
                       bands.select(BUCKET_COL).distinct().collect()]
            if not touched:
                return spark.createDataFrame(
                    [], "doc_a long, doc_b long, n_bands long")
            probe_side = bands
            if _fs_exists(spark, self.index_path):
                paths = [p for p in
                         (os.path.join(self.index_path, f"{BUCKET_COL}={b}")
                          for b in touched)
                         if _fs_exists(spark, p)]
                if paths:
                    indexed = (spark.read
                               .option("basePath", self.index_path)
                               .parquet(*paths)
                               .drop(BATCH_COL))
                    probe_side = union_epochs([indexed, bands])
            n, a = bands.alias("n"), probe_side.alias("a")
            cand = n.join(a, (F.col("n.band") == F.col("a.band"))
                          & (F.col("n.bv") == F.col("a.bv"))
                          & (F.col("n.doc_id") != F.col("a.doc_id")))
            # countDistinct, not count: a band value present both in
            # the in-memory batch and in an at-least-once/stored copy
            # of the same doc must count once — this is what makes
            # replay return identical multiplicities
            pairs = (cand.select(
                         F.least("n.doc_id", "a.doc_id").alias("doc_a"),
                         F.greatest("n.doc_id", "a.doc_id").alias("doc_b"),
                         F.col("n.band").alias("band"))
                     .groupBy("doc_a", "doc_b")
                     .agg(F.countDistinct("band").alias("n_bands")))
            # pin BEFORE the append below grows the directories the
            # probe read lazily
            pairs = pairs.localCheckpoint(eager=True)
            if committed:
                return pairs        # replay of a committed batch: no-op
            tier = COMPACTED_TIER if batch_id is None else int(batch_id)
            # bin-pack the append: without the bucket repartition every
            # writer task holding rows of a bucket emits its own file
            # (up to shuffle-partitions × buckets tiny files per batch
            # — measured 3.5 s/batch of pure file-create overhead at
            # sf0.1, and every bucket trips the compaction threshold
            # EVERY batch). One file per touched bucket per batch keeps
            # compaction amortized at threshold⁻¹ per batch.
            out = (bands.withColumn(BATCH_COL, F.lit(tier))
                   .repartition(self.num_buckets, F.col(BUCKET_COL)))
            if batch_id is None:
                band_write = (lambda: (out.write
                                       .partitionBy(BUCKET_COL,
                                                    BATCH_COL)
                                       .mode("append")
                                       .parquet(self.index_path)))
            else:
                # deterministic per-batch partitions: a replay after a
                # crashed half-append REPLACES the partial files
                band_write = (lambda: self._overwrite_dynamic(
                    spark, out, [BUCKET_COL, BATCH_COL],
                    self.index_path))
            docmap = (bands.select("doc_id", BUCKET_COL).distinct()
                      .withColumn(DOC_PART_COL,
                                  F.pmod("doc_id",
                                         F.lit(self.num_buckets))
                                  .cast("int"))
                      .repartition(self.num_buckets, F.col(DOC_PART_COL)))
            # disjoint paths, no mutual ordering — only the marker
            # below orders against the pair
            run_concurrent(
                band_write,
                lambda: (docmap.write.partitionBy(DOC_PART_COL)
                         .mode("append").parquet(self._docmap_path)))
            if _fs_read_text(spark, self._meta_path) is None:
                # pin the layout at first append; only a fresh build
                # reaches here (a legacy index got its meta — stamped
                # incomplete — in _resolve_buckets), so the sidecar has
                # covered every doc since row one
                self._write_meta(spark, docmap_complete=True)
            if batch_id is not None:
                _fs_touch(spark, os.path.join(self._manifest_path,
                                              str(batch_id)))
            self._compact(spark, touched)
            self._compact_docmap(spark)
            return pairs
        finally:
            bands.unpersist()

    # -- exact-text group collapse (the streaming boilerplate guard) --

    def _gpart(self, k1, k2) -> F.Column:
        return F.pmod(F.xxhash64(k1, k2),
                      F.lit(self.num_buckets)).cast("int")

    def _gkeyed(self, batch_docs: DataFrame) -> DataFrame:
        """(doc_id, text) → (doc_id, text, gk1, gk2, _g_part) for docs
        with ≥3 tokens — two 60-bit md5 slices of the text, the SAME
        120-bit exact-text key the batch collapse uses
        (operators/llm/hybrid.py::exact_group_keyed). Shorter docs have
        no shingles and an undefined-empty Jaccard: they are excluded
        here exactly as the banding pipeline excludes them."""
        m = F.md5(F.col("text").cast("binary"))
        k1 = F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
        k2 = F.conv(F.substring(m, 16, 15), 16, 10).cast("long")
        return (batch_docs
                .filter(F.size(F.split("text", " ")) >= 3)
                .select("doc_id", "text", k1.alias("gk1"),
                        k2.alias("gk2"),
                        self._gpart(k1, k2).alias(GROUP_PART_COL)))

    def _read_sidecar(self, spark: SparkSession, base: str,
                      parts: list[int]) -> DataFrame | None:
        """Partition-pruned read of a ``_g_part``-partitioned sidecar
        (duplicate rows from crashed at-least-once appends collapse
        under the callers' ``distinct()``)."""
        if not _fs_exists(spark, base):
            return None
        paths = [p for p in
                 (os.path.join(base, f"{GROUP_PART_COL}={v}")
                  for v in sorted(parts))
                 if _fs_exists(spark, p)]
        if not paths:
            return None
        return spark.read.option("basePath", base).parquet(*paths)

    def _process_batch_collapsed(self, spark: SparkSession,
                                 batch_docs: DataFrame,
                                 batch_id: int | None = None):
        """Collapse-mode probe + append: K text-identical docs cost K
        roster/docmap rows, ONE banded group node, and K−1 linear
        (rep, member) attach pairs — never K²/2 candidate pairs. LSH
        candidates join at unique-text-GROUP granularity and are
        translated back to the groups' current representative doc ids,
        so downstream consumers still see plain (doc_a, doc_b) pairs
        (attach pairs verify at exact Jaccard 1, so a verify stage
        needs no special-casing). Batches that introduce a group band
        it; later exact dups of the text attach without banding.

        Returns ``(pairs, finish)`` per the
        :meth:`process_batch_deferred` contract — the probe half is
        complete (pairs materialized) and ``finish`` carries the write
        half."""
        from ..operators.llm.minhash import LSH_BANDS
        self._adopt_id_kind(spark, batch_docs)
        t = self._id_sql_type
        empty = spark.createDataFrame(
            [], f"doc_a {t}, doc_b {t}, n_bands long, exact boolean")
        committed = (batch_id is not None
                     and _fs_exists(spark, os.path.join(
                         self._manifest_path, str(batch_id))))
        keyed = self._gkeyed(batch_docs)
        keyed.persist()
        bands = None
        handed_off = False
        try:
            bg = (keyed.groupBy("gk1", "gk2", GROUP_PART_COL)
                  .agg(F.min("doc_id").alias("brep")))
            # `mine`: groups THIS batch introduces. A stored row whose
            # rep is one of this batch's docs was written by this
            # batch's own earlier (crashed or committed) attempt — rep
            # ids belong to exactly one ingest batch, and a purged-
            # then-reingested id re-elects to a surviving member first
            # — so they re-band: the dynamic overwrite replaces a
            # crashed partial band append, and a committed replay
            # recomputes the identical probe for identical pairs.
            gparts = [r[0] for r in
                      bg.select(GROUP_PART_COL).distinct().collect()]
            if not gparts:
                # still pin the layout: an all-short first batch must
                # not leave the id kind unpinned — the state layer has
                # already partitioned its singleton rows by this kind,
                # and a reopened store would otherwise fall back to
                # the constructor default and mis-prune
                if (not committed
                        and _fs_read_text(spark, self._meta_path)
                        is None):
                    self._write_meta(spark, docmap_complete=True)
                return empty, None, None
            stored = self._read_sidecar(spark, self._groups_path,
                                        gparts)
            if stored is not None:
                hits = (stored.filter(F.col("rep").isNotNull())
                        .select("gk1", "gk2", "rep").distinct()
                        .join(F.broadcast(bg.select("gk1", "gk2")),
                              ["gk1", "gk2"], "left_semi")
                        .withColumnRenamed("rep", "srep"))
                groups = bg.join(F.broadcast(hits),
                                 ["gk1", "gk2"], "left")
            else:
                groups = bg.withColumn("srep", F.lit(None).cast(t))
            in_batch = (keyed.select("doc_id").distinct()
                        .withColumnRenamed("doc_id", "srep")
                        .withColumn("_in_batch", F.lit(True)))
            groups = (groups.join(F.broadcast(in_batch), "srep", "left")
                      .withColumn("rep", F.coalesce("srep", "brep"))
                      .withColumn("mine",
                                  F.col("srep").isNull()
                                  | F.coalesce("_in_batch", F.lit(False)))
                      .select("gk1", "gk2", GROUP_PART_COL, "rep",
                              "mine")
                      # batch-bounded (one row per unique batch text);
                      # consumed by attach, banding, translation, and
                      # the sidecar writes
                      .localCheckpoint(eager=True))
            attach = (keyed
                      .join(F.broadcast(groups
                                        .select("gk1", "gk2", "rep")),
                            ["gk1", "gk2"])
                      .filter(F.col("doc_id") != F.col("rep"))
                      .select(F.least("doc_id", "rep").alias("doc_a"),
                              F.greatest("doc_id", "rep").alias("doc_b"),
                              F.lit(int(LSH_BANDS)).cast("long")
                              .alias("n_bands"),
                              # text-identical by construction: exact
                              # Jaccard 1 — consumers may skip their
                              # verification stage for these
                              F.lit(True).alias("exact"))
                      .distinct())
            mine_g = groups.filter("mine")
            new_texts = (keyed
                         .join(F.broadcast(
                             mine_g.select("gk1", "gk2",
                                           F.col("rep")
                                           .alias("doc_id"))),
                               ["gk1", "gk2", "doc_id"])
                         .select(F.struct("gk1", "gk2").alias("doc_id"),
                                 "text"))
            bands = (band_table(minhash_signatures(new_texts))
                     .withColumn(BUCKET_COL, self._bucket()))
            bands.persist()
            touched = [r[0] for r in
                       bands.select(BUCKET_COL).distinct().collect()]
            lsh_pairs = empty
            if touched:
                probe_side = bands
                if _fs_exists(spark, self.index_path):
                    paths = [p for p in
                             (os.path.join(self.index_path,
                                           f"{BUCKET_COL}={b}")
                              for b in touched)
                             if _fs_exists(spark, p)]
                    if paths:
                        indexed = (spark.read
                                   .option("basePath", self.index_path)
                                   .parquet(*paths)
                                   .drop(BATCH_COL))
                        probe_side = union_epochs([indexed, bands])
                n, a = bands.alias("n"), probe_side.alias("a")
                cand = n.join(a, (F.col("n.band") == F.col("a.band"))
                              & (F.col("n.bv") == F.col("a.bv"))
                              & (F.col("n.doc_id") != F.col("a.doc_id")))
                gp_pairs = (cand.select(
                                F.least("n.doc_id", "a.doc_id")
                                .alias("ga"),
                                F.greatest("n.doc_id", "a.doc_id")
                                .alias("gb"),
                                F.col("n.band").alias("band"))
                            .groupBy("ga", "gb")
                            .agg(F.countDistinct("band")
                                 .alias("n_bands"))
                            # true group-level collisions only — tiny;
                            # pinned before the append grows the dirs
                            # the probe read lazily
                            .localCheckpoint(eager=True))
                # group → current rep translation, pruned to the pair
                # keys' partitions (collision partners can live in any
                # partition, not just the batch's own)
                pkeys = (gp_pairs.select(F.col("ga").alias("g"))
                         .unionByName(gp_pairs.select(F.col("gb")
                                                      .alias("g")))
                         .select("g.gk1", "g.gk2").distinct())
                pparts = [r[0] for r in
                          pkeys.select(self._gpart("gk1", "gk2"))
                          .distinct().collect()]
                gmap = mine_g.select("gk1", "gk2", "rep")
                # collision partners usually live in the batch's own
                # partitions (already read as `stored`) — only re-read
                # when a pair key hashes outside them
                if set(pparts) <= set(gparts):
                    st2 = stored
                else:
                    st2 = self._read_sidecar(spark, self._groups_path,
                                             sorted(set(pparts)
                                                    | set(gparts)))
                if st2 is not None:
                    gmap = (gmap.unionByName(
                                st2.filter(F.col("rep").isNotNull())
                                .select("gk1", "gk2", "rep"))
                            .join(F.broadcast(pkeys),
                                  ["gk1", "gk2"], "left_semi")
                            .distinct())
                ga_map = gmap.select(
                    F.struct("gk1", "gk2").alias("ga"),
                    F.col("rep").alias("ra"))
                gb_map = gmap.select(
                    F.struct("gk1", "gk2").alias("gb"),
                    F.col("rep").alias("rb"))
                lsh_pairs = (gp_pairs
                             .join(F.broadcast(ga_map), "ga")
                             .join(F.broadcast(gb_map), "gb")
                             .select(F.least("ra", "rb").alias("doc_a"),
                                     F.greatest("ra", "rb")
                                     .alias("doc_b"),
                                     "n_bands",
                                     F.lit(False).alias("exact")))
            pairs = (attach.unionByName(lsh_pairs)
                     .localCheckpoint(eager=True))
            # verify-shingle handoff (NOTES_r9 §9.3's named lever): the
            # non-exact pair endpoints whose text is IN THIS BATCH are
            # exactly the `mine` reps (a mine group's rep is always a
            # batch doc) — shingle them here from the in-memory keyed
            # texts and hand the slice to the caller's verify stage, so
            # it never re-derives batch-side shingle sets from the
            # corpus. Pinned eagerly: the deferred write half unpersists
            # `keyed` on its own thread, and the slice must outlive it.
            verify_sh = None
            if touched:
                pend = (pairs.filter(~F.col("exact"))
                        .select(F.col("doc_a").alias("doc_id"))
                        .unionByName(pairs.filter(~F.col("exact"))
                                     .select(F.col("doc_b")
                                             .alias("doc_id")))
                        .distinct())
                hot = (keyed
                       .join(F.broadcast(mine_g.select(
                           "gk1", "gk2", F.col("rep").alias("doc_id"))),
                             ["gk1", "gk2", "doc_id"])
                       .join(F.broadcast(pend), "doc_id", "left_semi")
                       .select("doc_id", "text"))
                verify_sh = (shingle_hashes(hot).distinct()
                             .localCheckpoint(eager=True))
            if committed:
                # replay of a committed batch: no writes, same pairs
                return pairs, None, verify_sh
            if _fs_read_text(spark, self._meta_path) is None:
                # pin the collapse layout BEFORE the first write: a
                # crash between the band append and a later stamp
                # would let _resolve_buckets mistake this for a legacy
                # UNCOLLAPSED index (docmap_complete is truthfully True
                # — the sidecar grows with the index from batch one)
                self._write_meta(spark, docmap_complete=True)
            tier = COMPACTED_TIER if batch_id is None else int(batch_id)
            writes = []
            if touched:
                out = (bands.withColumn(BATCH_COL, F.lit(tier))
                       .repartition(self.num_buckets, F.col(BUCKET_COL)))
                if batch_id is None:
                    writes.append(
                        lambda: (out.write
                                 .partitionBy(BUCKET_COL, BATCH_COL)
                                 .mode("append")
                                 .parquet(self.index_path)))
                else:
                    writes.append(
                        lambda: self._overwrite_dynamic(
                            spark, out, [BUCKET_COL, BATCH_COL],
                            self.index_path))
                # the group's FIXED band-bucket set (bands are a pure
                # function of the text) rides the new rep's member row
                defs = (bands.groupBy("doc_id")
                        .agg(F.array_sort(F.collect_set(BUCKET_COL))
                             .alias("buckets"))
                        .select(F.col("doc_id.gk1").alias("gk1"),
                                F.col("doc_id.gk2").alias("gk2"),
                                "buckets"))
            else:
                defs = spark.createDataFrame(
                    [], "gk1 long, gk2 long, buckets array<int>")
            # ONE fused sidecar write: a member row per batch doc; the
            # row of a NEW group's rep doubles as the group-definition
            # row (rep + the band-bucket set non-null) — duplicate rows
            # from crashed at-least-once appends are benign, readers
            # fold under distinct()
            mine_reps = mine_g.select(
                "gk1", "gk2", F.col("rep").alias("doc_id"))
            grows = (keyed.select("gk1", "gk2", "doc_id",
                                  GROUP_PART_COL)
                     .join(F.broadcast(
                         mine_reps.join(defs, ["gk1", "gk2"])),
                           ["gk1", "gk2", "doc_id"], "left")
                     .withColumn("rep",
                                 F.when(F.col("buckets").isNotNull(),
                                        F.col("doc_id")))
                     .repartition(self.num_buckets,
                                  F.col(GROUP_PART_COL)))
            writes.append(
                lambda: (grows.write.partitionBy(GROUP_PART_COL)
                         .mode("append").parquet(self._groups_path)))
            docmap = (keyed.select("doc_id",
                                   F.col(GROUP_PART_COL).alias("gp"))
                      .distinct()
                      .withColumn(DOC_PART_COL,
                                  self._id_part(F.col("doc_id")))
                      .repartition(self.num_buckets, F.col(DOC_PART_COL)))
            writes.append(
                lambda: (docmap.write.partitionBy(DOC_PART_COL)
                         .mode("append").parquet(self._docmap_path)))
            _keyed, _bands = keyed, bands

            def finish() -> None:
                # all three land on disjoint paths with no mutual
                # ordering — only the marker orders against them
                try:
                    run_concurrent(*writes)
                    if batch_id is not None:
                        _fs_touch(spark,
                                  os.path.join(self._manifest_path,
                                               str(batch_id)))
                    self._compact(spark, touched)
                    self._compact_docmap(spark)
                    self._compact_sidecar(spark, self._groups_path)
                finally:
                    _keyed.unpersist()
                    if _bands is not None:
                        _bands.unpersist()

            handed_off = True
            return pairs, finish, verify_sh
        finally:
            if not handed_off:
                keyed.unpersist()
                if bands is not None:
                    bands.unpersist()

    def _purge_docs_collapsed_df(self, spark: SparkSession,
                                 ids_df: DataFrame, hint,
                                 _victim_parts: set | None = None
                                 ) -> int:
        """Collapse-mode erasure (DataFrame victims — ``ids_df`` is
        already distinct + pinned; ``hint`` broadcasts it only on the
        list-API path). Non-rep members never banded, so their erasure
        is pure sidecar hygiene (their ``_groups`` member row + docmap
        row). A purged REP re-elects: the group-definition payload
        (rep + bucket set) moves to the min surviving member's row — a
        metadata rewrite of the victims' group partitions only, NO
        band rewrite (bands are keyed by the text group, not the rep).
        A group losing its last member dies: its band rows are dropped
        from exactly the buckets its definition row recorded. The
        affected-group resolution (dead vs relabel) is fully
        distributed — the only driver-side artifacts are the
        ≤num_buckets partition/bucket id lists. Step order is
        crash-retryable — bands, then ``_groups``, then docmap —
        because each retry re-derives the victim set from the sidecars
        a crash left intact (docmap rows vanish LAST)."""
        if not _fs_exists(spark, self._docmap_path):
            return 0
        if _victim_parts is not None:
            vparts = sorted(_victim_parts)
        else:
            vparts = sorted(
                r["p"] for r in
                ids_df.select(self._id_part(F.col("doc_id"))
                              .alias("p")).distinct().collect())
        map_paths = [
            p for p in
            (os.path.join(self._docmap_path, f"{DOC_PART_COL}={v}")
             for v in vparts)
            if _fs_exists(spark, p)]
        if not map_paths:
            return 0
        vic = (spark.read.option("basePath", self._docmap_path)
               .parquet(*map_paths)
               .join(hint(ids_df), "doc_id", "left_semi")
               .select("doc_id", "gp").distinct())
        gps = sorted({r["gp"] for r in vic.select("gp")
                      .distinct().collect()})
        if not gps:
            return 0
        roster = self._read_sidecar(spark, self._groups_path, gps)
        roster = (roster.distinct() if roster is not None
                  else spark.createDataFrame(
                      [], f"gk1 long, gk2 long, "
                          f"doc_id {self._id_sql_type}, "
                          f"buckets array<int>, "
                          f"rep {self._id_sql_type}, "
                          f"{GROUP_PART_COL} int"))
        vic_groups = (roster.join(hint(ids_df), "doc_id",
                                  "left_semi")
                      .select("gk1", "gk2").distinct()
                      .localCheckpoint(eager=True))
        roster_kept = (roster.join(hint(ids_df), "doc_id",
                                   "left_anti")
                       .localCheckpoint(eager=True))
        surv = (roster_kept.join(F.broadcast(vic_groups),
                                 ["gk1", "gk2"], "left_semi")
                .groupBy("gk1", "gk2")
                .agg(F.min("doc_id").alias("new_rep")))
        groups_cur = roster.filter(F.col("rep").isNotNull())
        # affected definition rows with their survivor verdict — stays
        # a frame (∝ victims' groups, never driver-materialized);
        # pinned because every consumer below reads the very sidecar
        # partitions the rewrites then replace
        aff = (groups_cur
               .join(F.broadcast(vic_groups), ["gk1", "gk2"],
                     "left_semi")
               .join(F.broadcast(surv), ["gk1", "gk2"], "left")
               .localCheckpoint(eager=True))
        dead = aff.filter(F.col("new_rep").isNull())
        # 1. band rows of groups that lost their last member — the
        # bucket list is ≤num_buckets distinct values by construction
        buckets = sorted({int(r["b"]) for r in
                          dead.select(F.explode("buckets").alias("b"))
                          .distinct().collect()})
        if buckets:
            dead_ids = dead.select(
                F.struct("gk1", "gk2").alias("doc_id"))
            paths = [p for p in
                     (os.path.join(self.index_path, f"{BUCKET_COL}={b}")
                      for b in buckets)
                     if _fs_exists(spark, p)]
            if paths:
                kept = (spark.read.option("basePath", self.index_path)
                        .parquet(*paths)
                        .join(dead_ids, "doc_id", "left_anti")
                        .withColumn(BATCH_COL, F.lit(COMPACTED_TIER))
                        .repartition(F.col(BUCKET_COL))
                        .localCheckpoint(eager=True))
                kept_buckets = {r[0] for r in
                                kept.select(BUCKET_COL)
                                .distinct().collect()}
                if kept_buckets:
                    self._overwrite_dynamic(spark, kept,
                                            [BUCKET_COL, BATCH_COL],
                                            self.index_path)
                for p in paths:
                    b = int(p.rsplit("=", 1)[1])
                    if b not in kept_buckets:
                        _fs_delete(spark, p)
                        continue
                    for name in _fs_list_names(spark, p):
                        if (name.startswith(f"{BATCH_COL}=")
                                and name !=
                                f"{BATCH_COL}={COMPACTED_TIER}"):
                            _fs_delete(spark, os.path.join(p, name))
        # 2. _groups: drop the victims' member rows (a dead group's
        # definition row is a victim's row — gone with them) and move
        # the definition payload of a relabeled group onto its min
        # surviving member's row. Relabel rows = affected groups with
        # a survivor whose OLD rep was a victim — resolved by joins,
        # never a driver list
        rel_df = (aff.filter(F.col("new_rep").isNotNull())
                  .join(hint(ids_df.select(F.col("doc_id")
                                           .alias("rep"))),
                        "rep", "left_semi")
                  .select("gk1", "gk2",
                          F.col("new_rep").alias("doc_id"),
                          F.col("buckets").alias("_nb")))
        rewritten = (roster_kept
                     .join(rel_df, ["gk1", "gk2", "doc_id"], "left")
                     .withColumn(
                         "rep",
                         F.when(F.col("_nb").isNotNull(),
                                F.col("doc_id"))
                         .otherwise(F.col("rep")))
                     .withColumn("buckets",
                                 F.coalesce("_nb", "buckets"))
                     .drop("_nb"))
        rewritten = (rewritten
                     .repartition(self.num_buckets,
                                  F.col(GROUP_PART_COL))
                     .localCheckpoint(eager=True))
        self._rewrite_gparts(spark, self._groups_path, rewritten, gps)
        # 3. docmap: drop the victims' pruning rows (LAST — they are
        # how a crashed retry finds everything above)
        kept_map = (spark.read.option("basePath", self._docmap_path)
                    .parquet(*map_paths)
                    .join(hint(ids_df), "doc_id", "left_anti")
                    .repartition(F.col(DOC_PART_COL))
                    .localCheckpoint(eager=True))
        kept_parts = {r[0] for r in
                      kept_map.select(DOC_PART_COL).distinct().collect()}
        if kept_parts:
            self._overwrite_dynamic(spark, kept_map, [DOC_PART_COL],
                                    self._docmap_path)
        for p in map_paths:
            if int(p.rsplit("=", 1)[1]) not in kept_parts:
                _fs_delete(spark, p)
        return len(gps)

    def _rewrite_gparts(self, spark: SparkSession, base: str,
                        rows: DataFrame, gps: list[int]) -> None:
        """Overwrite the given ``_g_part`` partitions with ``rows``
        (already checkpointed) and delete read partitions the
        overwrite did not re-emit (a dynamic overwrite only replaces
        partitions present in its output)."""
        emitted = {r[0] for r in
                   rows.select(GROUP_PART_COL).distinct().collect()}
        if emitted:
            self._overwrite_dynamic(spark, rows, [GROUP_PART_COL], base)
        for v in gps:
            p = os.path.join(base, f"{GROUP_PART_COL}={v}")
            if v not in emitted and _fs_exists(spark, p):
                _fs_delete(spark, p)

    def _compact_sidecar(self, spark: SparkSession, base: str) -> int:
        """Size-tiered fold for the ``_g_part`` sidecar (_groups)
        — same APPEND-then-DELETE discipline as the docmap
        (a torn overwrite could lose rows; duplicate rows are benign
        under the readers' ``distinct()``)."""
        from ..fs import fs_total_file_count as _fs_total
        names = [n for n in _fs_list_names(spark, base)
                 if n.startswith(f"{GROUP_PART_COL}=")]
        if not names or (_fs_total(spark, base)
                         <= self.compact_file_threshold * len(names)):
            return 0
        due: list[str] = []
        old_files: dict[str, list[str]] = {}
        for name in names:
            pdir = os.path.join(base, name)
            files = [f for f in _fs_list_names(spark, pdir)
                     if f.endswith(".parquet")]
            if len(files) > self.compact_file_threshold:
                due.append(name)
                old_files[name] = files
        if not due:
            return 0
        paths = [os.path.join(base, n) for n in due]
        folded = (spark.read.option("basePath", base).parquet(*paths)
                  .distinct()
                  .repartition(F.col(GROUP_PART_COL))
                  .localCheckpoint(eager=True))
        (folded.write.partitionBy(GROUP_PART_COL)
               .mode("append").parquet(base))
        for n in due:
            pdir = os.path.join(base, n)
            for f in old_files[n]:
                _fs_delete(spark, os.path.join(pdir, f))
        return len(due)

    def purge_docs(self, spark: SparkSession, doc_ids: list[int]) -> int:
        """Remove every band row of the given documents from the index
        — the near-dup-index half of right-to-be-forgotten erasure
        (``MergeCompactor.purge`` discipline) and the delete step of a
        document UPDATE (purge old version, ``process_batch`` the new
        text). List-based entry for erasure endpoints, where victim
        sets are small and driver-resident by nature; the per-epoch
        maintenance paths use :meth:`purge_docs_df` — same semantics,
        victims stay a distributed frame."""
        if not doc_ids or not _fs_exists(spark, self.index_path):
            return 0
        self._resolve_buckets(spark)
        ids_df = spark.createDataFrame(
            [(i,) for i in sorted(set(doc_ids))],
            f"doc_id {self._id_sql_type}")
        return self.purge_docs_df(spark, ids_df, broadcast_victims=True)

    def purge_docs_df(self, spark: SparkSession, victims: DataFrame,
                      broadcast_victims: bool = False,
                      _pinned: bool = False,
                      _victim_parts: set | None = None) -> int:
        """DataFrame-victims erasure (the ``purge_vectors_df``
        discipline, VERDICT r11 #1): remove every band row of the docs
        in ``victims`` (any frame with a castable ``doc_id`` column) —
        a CDC micro-batch purging its whole touched-key set must never
        materialize a batch-sized id list on the driver. Victim
        buckets come from the ``_docmap`` sidecar's victim partitions
        (victim → ``_id_part`` pruning, a semi-join) — the index
        itself is only opened at the buckets being rewritten, so
        erasure I/O is proportional to the victims' footprint, and the
        only driver-side artifacts are the ≤num_buckets touched
        partition/bucket ids. The sidecar is trusted ONLY when the
        meta vouches ``docmap_complete`` (stamped at first build): a
        mixed-era index — built pre-sidecar, continued with
        sidecar-writing code — has a PARTIAL docmap whose misses would
        be silent incomplete erasure. Such an index takes the full
        anti-join scan instead, and that one full read doubles as the
        migration: the sidecar is rebuilt from it and the meta stamped
        complete, so the NEXT purge is pruned. Surviving rows are
        folded into the ``_batch=-1`` tier; fully-emptied buckets are
        removed. Returns the number of buckets rewritten."""
        if not _fs_exists(spark, self.index_path):
            return 0
        docmap_complete = self._resolve_buckets(spark)
        hint = F.broadcast if broadcast_victims else (lambda df: df)
        # pin: the pruning joins below read the very directories the
        # rewrites then replace — the victim set must not recompute
        # from a plan over mutated state. ``_pinned`` (internal hot
        # callers) vouches the frame is already distinct and
        # checkpoint-derived — skip the re-pin job
        ids_df = victims.select(
            F.col("doc_id").cast(self._id_sql_type).alias("doc_id"))
        if not _pinned:
            ids_df = ids_df.distinct().localCheckpoint(eager=True)
        if self.collapse_exact:
            # emptiness gates inside (its victim-partition collect)
            return self._purge_docs_collapsed_df(spark, ids_df, hint,
                                                 _victim_parts)
        # the ≤num_buckets partition-id collect doubles as the
        # emptiness gate (no separate isEmpty job); ``_victim_parts``
        # (internal) carries the identical set when the caller already
        # folded ``_id_part`` into an aggregate of the same pinned
        # victims frame
        if _victim_parts is not None:
            vparts = sorted(_victim_parts)
        else:
            vparts = sorted(
                r["p"] for r in
                ids_df.select(self._id_part(F.col("doc_id"))
                              .alias("p")).distinct().collect())
        if not vparts:
            return 0
        map_paths = []
        if docmap_complete and _fs_exists(spark, self._docmap_path):
            map_paths = [
                p for p in
                (os.path.join(self._docmap_path, f"{DOC_PART_COL}={v}")
                 for v in vparts)
                if _fs_exists(spark, p)]
        if map_paths:
            victims_rows = (spark.read
                            .option("basePath", self._docmap_path)
                            .parquet(*map_paths)
                            .join(hint(ids_df), "doc_id", "left_semi"))
        elif docmap_complete and _fs_exists(spark, self._docmap_path):
            # a COMPLETE sidecar with no victim partitions proves no
            # victim was ever indexed — nothing to erase, no scan
            return 0
        else:
            # pre-/mixed-sidecar index: erasure must never miss rows —
            # full scan, then turn the read into the sidecar migration.
            # The rebuilt sidecar INCLUDES the victims: their band rows
            # are still in the index when the complete-stamp is
            # written, so the stamp is truthful at that instant and a
            # crash ANYWHERE after it retries down the pruned path and
            # still finds the victims' entries. (The old order —
            # exclude victims, stamp, then rewrite buckets — left a
            # window where a retry saw a "complete" sidecar with no
            # victim entries and returned 0 while the victims' rows
            # stayed indexed: silent permanent incomplete erasure.)
            # The victims' sidecar rows are removed by the normal
            # victim-partition rewrite below, after the index rewrite.
            # Gate on a VISIBLE bucket partition existing: a legacy
            # store whose every bucket was purged keeps only hidden
            # markers, and schema inference over a data-less dir would
            # crash — an emptied index means nothing to erase
            # (ADVICE r12, the guard IvfVectorIndex's legacy path got
            # in r12).
            if not _fs_has_children(spark, self.index_path,
                                    f"{BUCKET_COL}="):
                return 0
            full = (spark.read.option("basePath", self.index_path)
                    .parquet(self.index_path))
            victims_rows = (full.join(hint(ids_df), "doc_id",
                                      "left_semi")
                            .localCheckpoint(eager=True))
            self._rebuild_docmap(spark, full)
            map_paths = [
                p for p in
                (os.path.join(self._docmap_path, f"{DOC_PART_COL}={v}")
                 for v in vparts)
                if _fs_exists(spark, p)]
        touched = [r[0] for r in
                   victims_rows.select(BUCKET_COL).distinct().collect()]
        if not touched:
            return 0
        paths = [p for p in
                 (os.path.join(self.index_path, f"{BUCKET_COL}={b}")
                  for b in touched)
                 if _fs_exists(spark, p)]
        kept = (spark.read.option("basePath", self.index_path)
                .parquet(*paths)
                .join(hint(ids_df), "doc_id", "left_anti")
                .withColumn(BATCH_COL, F.lit(COMPACTED_TIER))
                .repartition(F.col(BUCKET_COL)))
        # eager pin, not persist(): the overwrite below replaces the
        # very directories this plan reads — a lost cached block would
        # otherwise recompute from a half-replaced source
        kept = kept.localCheckpoint(eager=True)
        kept_buckets = {r[0] for r in
                        kept.select(BUCKET_COL).distinct().collect()}
        if kept_buckets:
            self._overwrite_dynamic(spark, kept, [BUCKET_COL, BATCH_COL],
                                    self.index_path)
        # the overwrite only replaced (bucket, -1): drop the consumed
        # batch tiers, and whole buckets with no survivors
        for b in touched:
            bdir = os.path.join(self.index_path, f"{BUCKET_COL}={b}")
            if b not in kept_buckets:
                _fs_delete(spark, bdir)
                continue
            for name in _fs_list_names(spark, bdir):
                if (name.startswith(f"{BATCH_COL}=")
                        and name != f"{BATCH_COL}={COMPACTED_TIER}"):
                    _fs_delete(spark, os.path.join(bdir, name))
        # same rewrite for the sidecar's victim partitions (absent on a
        # pre-sidecar index — nothing to erase there)
        if map_paths:
            kept_map = (spark.read.option("basePath", self._docmap_path)
                        .parquet(*map_paths)
                        .join(hint(ids_df), "doc_id", "left_anti")
                        .repartition(F.col(DOC_PART_COL)))
            kept_map = kept_map.localCheckpoint(eager=True)
            kept_parts = {r[0] for r in
                          kept_map.select(DOC_PART_COL)
                                  .distinct().collect()}
            if kept_parts:
                self._overwrite_dynamic(spark, kept_map, [DOC_PART_COL],
                                        self._docmap_path)
            for p in map_paths:
                v = int(p.rsplit("=", 1)[1])
                if v not in kept_parts:
                    _fs_delete(spark, p)
        return len(touched)

    def migrate_docmap(self, spark: SparkSession) -> int:
        """Rebuild the erasure sidecar from one full index scan and
        stamp the meta ``docmap_complete`` — the explicit form of the
        migration :meth:`purge_docs` performs implicitly on a
        mixed-era index. When to call it: an index operated WITHOUT
        ``batch_id`` (plain at-least-once appends) that crashed
        between a band append and its sidecar write has index rows the
        sidecar misses, and no replay contract to heal them — under
        exactly-once operation (``batch_id`` + foreachBatch replay)
        the uncommitted batch is recomputed and its dynamic overwrite
        replaces the partial append, so the gap cannot survive and
        this method is never needed. Returns the number of docs
        mapped."""
        if not _fs_exists(spark, self.index_path):
            return 0
        self._resolve_buckets(spark)
        if self.collapse_exact:
            raise ValueError(
                "migrate_docmap: collapse-mode stores write their meta "
                "and sidecars from batch one — no pre-sidecar era "
                "exists to migrate")
        full = (spark.read.option("basePath", self.index_path)
                .parquet(self.index_path))
        self._rebuild_docmap(spark, full)
        return (spark.read.parquet(self._docmap_path)
                .select("doc_id").distinct().count())

    def _rebuild_docmap(self, spark: SparkSession,
                        full_index: DataFrame) -> None:
        """One-time sidecar migration for a pre-/mixed-sidecar index:
        the erasure full scan is already paying for a complete index
        read, so derive the FULL (doc_id, bucket) map from it,
        overwrite the sidecar wholesale, and stamp the meta complete —
        every later purge is partition-pruned. The map must cover
        EVERY doc currently in the index, including ones about to be
        purged: the stamp asserts sidecar-matches-index at write time,
        and a crash between this stamp and the purge's index rewrite
        must leave a retry able to find the victims through the pruned
        path (the purge's normal victim-partition rewrite drops their
        sidecar rows after the index rewrite succeeds)."""
        docmap = (full_index.select("doc_id", BUCKET_COL).distinct()
                  .withColumn(DOC_PART_COL,
                              F.pmod("doc_id", F.lit(self.num_buckets))
                              .cast("int"))
                  .repartition(F.col(DOC_PART_COL))
                  .localCheckpoint(eager=True))
        (docmap.write.partitionBy(DOC_PART_COL)
               .mode("overwrite").parquet(self._docmap_path))
        self._write_meta(spark, docmap_complete=True)

    def _compact_docmap(self, spark: SparkSession) -> int:
        """Size-tiered compaction for the erasure sidecar — it accretes
        one file per doc-part per batch, so after K batches a purge's
        pruned victim read would open K tiny files per partition.
        Over-threshold partitions fold to one DISTINCT file each via
        APPEND-then-DELETE, never overwrite: a crash between the append
        and the old-file deletes leaves duplicate (doc_id, bucket) rows
        — benign, victim resolution reads distinct buckets — while an
        overwrite could tear mid-replace and LOSE sidecar rows, turning
        the meta's ``docmap_complete`` vouch into silent incomplete
        erasure. Rows are never lost on any crash path. One
        ``getContentSummary`` round-trip gates the whole check — the
        per-partition listings (one py4j call each × up to num_buckets
        dirs, every batch — measured ~0.1-0.2 s/batch) only run once
        the sidecar's TOTAL file count exceeds threshold × partitions.
        A single over-threshold partition can defer its fold until the
        global average crosses — bounded by threshold × num_buckets
        files total, still amortized O(1) per batch. One Spark job
        folds all due partitions."""
        from ..fs import fs_total_file_count as _fs_total
        names = [n for n in _fs_list_names(spark, self._docmap_path)
                 if n.startswith(f"{DOC_PART_COL}=")]
        if not names or (_fs_total(spark, self._docmap_path)
                         <= self.compact_file_threshold * len(names)):
            return 0
        due: list[str] = []
        old_files: dict[str, list[str]] = {}
        for name in names:
            pdir = os.path.join(self._docmap_path, name)
            files = [f for f in _fs_list_names(spark, pdir)
                     if f.endswith(".parquet")]
            if len(files) > self.compact_file_threshold:
                due.append(name)
                old_files[name] = files
        if not due:
            return 0
        paths = [os.path.join(self._docmap_path, n) for n in due]
        folded = (spark.read.option("basePath", self._docmap_path)
                  .parquet(*paths)
                  .distinct()
                  .repartition(F.col(DOC_PART_COL))
                  # eager pin before the delete below removes the very
                  # files this plan reads
                  .localCheckpoint(eager=True))
        (folded.write.partitionBy(DOC_PART_COL)
               .mode("append").parquet(self._docmap_path))
        for n in due:
            pdir = os.path.join(self._docmap_path, n)
            for f in old_files[n]:
                _fs_delete(spark, os.path.join(pdir, f))
        return len(due)

    def _compact(self, spark: SparkSession, touched: list[int]) -> int:
        """Rewrite every touched bucket whose (recursive) file count
        exceeds the threshold into one ``_batch=-1`` file each — in
        ONE Spark job (read the due bucket dirs together,
        hash-partition on the bucket id so each lands wholly in one
        task, dynamic-partition overwrite of the ``-1`` tier, then
        drop the consumed batch tiers). A per-bucket job here would
        pay fixed job overhead × buckets per batch (measured 3× total
        cost at 64 buckets); batched, the amortized compaction I/O is
        index/threshold per batch and untouched buckets are never
        opened. A crash between the tier overwrite and the tier drops
        leaves duplicate rows — benign: probes countDistinct, purge
        anti-joins all copies."""
        due = [b for b in touched
               if _fs_file_count(
                   spark, os.path.join(self.index_path, f"{BUCKET_COL}={b}"),
                   recursive=True)
               > self.compact_file_threshold]
        if not due:
            return 0
        paths = [os.path.join(self.index_path, f"{BUCKET_COL}={b}")
                 for b in due]
        df = (spark.read.option("basePath", self.index_path)
              .parquet(*paths)
              .withColumn(BATCH_COL, F.lit(COMPACTED_TIER))
              .repartition(F.col(BUCKET_COL)))
        # eager pin before the read-then-overwrite of the same dirs
        df = df.localCheckpoint(eager=True)
        self._overwrite_dynamic(spark, df, [BUCKET_COL, BATCH_COL],
                                self.index_path)
        for b in due:
            bdir = os.path.join(self.index_path, f"{BUCKET_COL}={b}")
            for name in _fs_list_names(spark, bdir):
                if (name.startswith(f"{BATCH_COL}=")
                        and name != f"{BATCH_COL}={COMPACTED_TIER}"):
                    _fs_delete(spark, os.path.join(bdir, name))
        return len(due)
