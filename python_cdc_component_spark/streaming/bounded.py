"""Bounded CDC stream consumption (T1/T2/T3/T9 + P6).

Parity target: the reference's Debezium engine loop —
``DbChangeConsumer.handleBatch`` micro-batches (T1,
``DbChangeConsumer.java:68-102``), stop conditions (T2,
``AbstractDebeziumTask.java:166-189``: max-duration wall clock,
idle timeout, captured end position), snapshot-phase gating (T3,
``KeboolaNotification.java:25-34``), APPEND/DEDUPE mode switch (T9,
``DebeziumKBCWrapper.java:81-106``).

Spark-first mapping (SURVEY §2.9):
- "consume to the captured end position then stop" (P6) is exactly
  ``Trigger.AvailableNow`` — it snapshots the source's end offsets at
  start and drains up to them, across however many micro-batches;
- max-duration is ``awaitTermination(timeout)`` + ``stop()``;
- idle-stop is a ``StreamingQueryListener`` watching progress rows;
- APPEND mode is a pure streaming append sink; DEDUPE compacts in
  ``foreachBatch`` using the same batch operators (one code path for
  batch and streaming — the point of Structured Streaming).

Scale notes: at 100 TB the event stream partitions by table/key at the
source; ``maxFilesPerTrigger`` bounds micro-batch size like the
reference's ``max.batch.size`` (2048, ``mysql_extractor.py:166``), and
the DEDUPE compaction shuffles only each micro-batch plus the key-state,
not history.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

from ..control import SNAPSHOT_MODES
from ..engine import schema_fingerprint
from ..fs import fs_exists, fs_list_names, fs_read_text, fs_write_text
from ..model.envelope import OP_SNAPSHOT_READ, SYSTEM_COLUMNS as SC
from ..sinks.merge import BUCKET_COL, DELTA_DIR, MergeCompactor
from ..sources.events import (
    EVENTS_RAW_SCHEMA, PAYLOAD_COLS, _op_expr, ts_to_ns_factor,
)

# live drains poll the source for new files at this interval
_POLL_INTERVAL_MS = 250
# ``_epochs`` markers kept behind the current epoch (the lexical
# index's fixed horizon; the ANN index's default, which
# ``BoundedStreamConfig.ann_marker_retain`` overrides)
_MARKER_RETAIN = 64
# ANN compaction-debt gate: data files per estimated index directory
# before a fold — also the per-cell threshold that fold applies
_ANN_COMPACT_FILES = 8


@dataclass
class BoundedStreamConfig:
    """T2 stopping conditions + T9 mode (reference ``executor.py:48-71``
    dataclasses; MySQL defaults ``component.py:35`` /
    ``configuration.py:156``)."""

    mode: str = "DEDUPE"                       # APPEND | DEDUPE
    primary_keys: list[str] = field(default_factory=lambda: ["user_id"])
    max_duration_s: float = 85500.0            # reference MySQL default
    max_wait_s: float = 30.0                   # idle stop
    max_files_per_trigger: int | None = None   # engine batch-size analogue
    num_state_buckets: int = 32                # MERGE-sink hash buckets
    # live=False: Trigger.AvailableNow — drain to the end captured at
    # start, then stop (P6, the reference's bounded run). live=True:
    # keep polling (every _POLL_INTERVAL_MS) for NEW files arriving
    # mid-run (the reference's long-running engine loop,
    # AbstractDebeziumTask.java:116) until the idle timeout or max
    # duration fires.
    live: bool = False
    # SnapshotMode parity on the stream path (control.resolve_snapshot_mode
    # semantics): the "is this the initial run" signal is checkpoint
    # existence. 'never' on a fresh checkpoint degrades to schema-only
    # recovery — the drain COMMITS every present file to the checkpoint
    # while emitting zero rows, so the next run streams only new files.
    snapshot_mode: str = "initial"
    # Optional maintained aggregate view over the compacted state
    # (DEDUPE mode only): when view_path and view_group_keys are set,
    # each micro-batch updates the stored (count, decimal-sum) view via
    # streaming.view_maintain.StreamingAggView instead of bare
    # compaction — retract/add around the merge, delta-priced.
    view_path: str | None = None
    view_group_keys: list[str] | None = None
    view_measure: str = "value"
    # Optional verified near-dup groups side state (DEDUPE mode only):
    # when dedup_groups_path is set, each micro-batch ALSO maintains a
    # StreamingDedupGroups store beside the compacted state — the
    # many-table CDC sync meeting the LLM dedup surface. The payload
    # column named by dedup_doc_id_col is the document id (integral)
    # and dedup_text_col its text. CDC semantics: an INSERT ingests; an
    # UPDATE purges the old version and ingests the new; a tombstone
    # purges. Erasure keeps component topology (the documented
    # purge_docs contract), so keep-list parity with batch
    # hybrid_dedup_keep over the table's current state holds exactly
    # for insert-only tables; updated/deleted docs retain their
    # already-made group verdicts.
    dedup_groups_path: str | None = None
    dedup_doc_id_col: str = "user_id"
    dedup_text_col: str = "props"
    dedup_groups_buckets: int = 64
    # Optional CDC-maintained ANN serving index (DEDUPE mode only):
    # when ann_index_path is set, each micro-batch maintains an
    # IvfVectorIndex beside the compacted state — the CDC sync feeding
    # the vector-serving path directly. ann_vec_id_col names the
    # integral PK; ann_vec_col a payload column carrying the vector as
    # a JSON array string (the CDC-envelope shape). Semantics: an
    # INSERT indexes the vector; an UPDATE purges the old version and
    # re-indexes the new one UNDER THE STORED CENTROIDS (the codebook
    # never moves on ingest — the serving contract; retraining is a
    # rebuild); a tombstone purges. The first epoch builds the index
    # with seed centroids = the ann_index_cells smallest-id vectors of
    # that epoch's live set (deterministic, oracle-replayable).
    ann_index_path: str | None = None
    ann_vec_id_col: str = "user_id"
    ann_vec_col: str = "props"
    ann_index_cells: int = 8
    # epoch markers older than (current − retain) are pruned — replays
    # only ever target batches after the stream's last committed
    # checkpoint, and a pruned-then-replayed epoch converges anyway
    # (purge-then-add is idempotent); without pruning one empty marker
    # file accretes one per batch forever (ADVICE r10)
    ann_marker_retain: int = _MARKER_RETAIN
    # every N epochs, retrain the quantizer over the CURRENT corpus
    # (IvfVectorIndex.rebuild: kmeans_fit + crash-safe sibling swap) —
    # the maintenance window for the codebook-never-moves-on-ingest
    # contract; None = manual retraining only
    ann_retrain_epochs: int | None = None
    # when set (DEDUPE mode only), each micro-batch maintains a
    # StreamingSemanticGroups side state at this path — cosine near-dup
    # components over a vector payload column, the semantic member of
    # the CDC side-state triangle (text groups / ANN index / semantic
    # groups). semantic_vec_id_col names the integral PK;
    # semantic_vec_col the payload column carrying the vector as a
    # JSON array string (the wire shape, like ann_vec_col).
    semantic_groups_path: str | None = None
    semantic_vec_id_col: str = "user_id"
    semantic_vec_col: str = "props"
    semantic_cells: int = 8
    semantic_threshold: float = 0.4
    semantic_buckets: int = 16
    # opt-in maintained membership bloom (r13, the declared
    # insert-heavy-fleet seam): when True, the per-epoch update-victim
    # probe consults a maintained (word, mask) bitset instead of
    # scanning the full _vecmap sidecar — victim collection becomes
    # O(batch + bloom) instead of O(corpus) per epoch. False positives
    # only cost a pruned no-op purge; false negatives are impossible
    # by WRITE ORDER (the bloom unions the batch's live ids BEFORE the
    # index writes, and replays re-union idempotently). Erasures leave
    # the bloom an over-approximation — safe, never missing.
    semantic_membership_bloom: bool = False
    semantic_bloom_words: int = 65536
    # when set (DEDUPE mode only), each micro-batch maintains a
    # StreamingLexicalIndex side state at this path — postings +
    # doc-stats for the BM25 lexical retrieval leg, fed by the CDC
    # stream (VERDICT r11 #3: ad-hoc queries join k-sized postings
    # partitions, never scan the corpus). lexical_doc_id_col names the
    # integral PK; lexical_text_col the payload text column.
    lexical_index_path: str | None = None
    lexical_doc_id_col: str = "user_id"
    lexical_text_col: str = "props"
    lexical_parts: int = 16
    # positional postings (1-based pos_list per (doc, term) row) —
    # the phrase-search layout; pinned in the index meta at first
    # build, BM25 reads ignore it
    lexical_positions: bool = False


def read_event_stream(spark: SparkSession, events_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """S1 (stream flavor): file-backed CDC event stream with the same
    normalized envelope as the batch reader."""
    reader = spark.readStream.schema(EVENTS_RAW_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(events_dir)
    op = _op_expr()
    # raw ts unit varies by fixture (footer-probed); normalize to epoch-ms
    ns_factor = ts_to_ns_factor(events_dir)
    return raw.select(
        F.lit("events").alias("_table"),
        *PAYLOAD_COLS,
        op.alias(SC.operation),
        F.expr(f"(ts * {ns_factor}) div 1000000").alias(SC.event_timestamp),
        F.lit("binlog.000001").alias(SC.file),
        F.col("event_id").alias(SC.pos),
        (op == "d").alias(SC.deleted),
        F.col("event_id").alias(SC.batch_event_order),
        # T3: snapshot-phase column — op='r' rows belong to the initial
        # snapshot; stop conditions never fire during snapshot.
        (op == OP_SNAPSHOT_READ).alias("_snapshot_phase"),
    )


class _IdleStopListener(StreamingQueryListener):
    """T2(b): idle timeout — remembers when the stream last made progress
    with input rows; the driver loop stops the query when the idle gap
    exceeds ``max_wait_s`` (reference ``AbstractDebeziumTask.java:171-183``
    idle check, gated off during snapshot)."""

    def __init__(self):
        self.last_data_ts = time.time()
        self.busy = False
        # snapshot-phase gate (T3), shared with the drain's live sink
        self.phase = {"snapshot_active": False}
        self.query_id = None    # bound to its drain's query at start

    def bind(self, query_id) -> None:
        """Restrict this listener to ONE query's events. Listeners are
        session-global in Structured Streaming — a fused fleet runs
        several concurrent queries, and an unbound listener would reset
        its idle clock on ANY group's progress, deferring every
        group's idle stop to the busiest group's."""
        self.query_id = str(query_id)

    def _mine(self, event_id) -> bool:
        return self.query_id is None or str(event_id) == self.query_id

    def onQueryStarted(self, event):
        if self._mine(event.id):
            self.last_data_ts = time.time()

    def onQueryProgress(self, event):
        progress = event.progress
        if not self._mine(progress.id):
            return
        if progress.numInputRows > 0:
            self.last_data_ts = time.time()
            self.busy = True
        else:
            # an empty trigger means the source is drained — any
            # snapshot phase is over (clears the gate even though
            # foreachBatch is not invoked for empty batches)
            self.busy = False
            self.phase["snapshot_active"] = False

    def onQueryIdle(self, event):
        if not self._mine(event.id):
            return
        self.busy = False
        self.phase["snapshot_active"] = False

    def onQueryTerminated(self, event):
        pass


def _run_side_epoch(spark: SparkSession, *, done, extract, on_empty,
                    work, gate=None) -> None:
    """Shared per-epoch skeleton of the CDC side-state maintenance
    drivers (text groups / ANN index / semantic groups / lexical
    postings — VERDICT r12 #5, previously four hand-copies):

      exactly-once probe (``done``) → keyed batch ``extract`` (pinned
      for the epoch) → empty ``gate`` → mark-and-return (``on_empty``)
      or purge-then-add ``work``.

    The divergent bodies — marker scheme (``_epochs`` dir vs groups
    manifest tiers), victim resolution, ingest, compaction/retrain,
    marker retention — stay per-state hooks; a fifth side state
    composes these instead of copying the skeleton, and the fused
    fleet path drives the SAME per-table maintenance functions.
    ``gate`` defaults to a non-empty probe; a custom gate may raise
    (the dedup-groups malformed-key check) or stash derived frames for
    ``work``. The extracted frame is persisted for the epoch and
    unpersisted on every exit path."""
    if done():
        return
    keyed = extract()
    keyed.persist()
    try:
        ok = gate(keyed) if gate is not None else not keyed.isEmpty()
        if not ok:
            on_empty()
            return
        work(keyed)
    finally:
        keyed.unpersist()


def _epoch_done(spark: SparkSession, state_path: str, epoch: int) -> bool:
    """Exactly-once probe for ``_epochs``-marker side states (ANN /
    lexical): True iff this epoch's marker is committed."""
    return fs_exists(spark, os.path.join(state_path, "_epochs",
                                         str(epoch)))


def _epoch_commit(spark: SparkSession, state_path: str, epoch: int,
                  retain: int) -> None:
    """Commit an ``_epochs``-marker epoch: touch the marker, then
    prune markers past the replay horizon. Replays only ever target
    the batches after the stream's last committed checkpoint, so
    markers far behind are dead weight — and a pruned-then-replayed
    epoch converges anyway (purge-then-add is idempotent)."""
    from ..fs import fs_delete, fs_list_names, fs_touch
    fs_touch(spark, os.path.join(state_path, "_epochs", str(epoch)))
    edir = os.path.join(state_path, "_epochs")
    for name in fs_list_names(spark, edir):
        if name.isdigit() and int(name) < epoch - retain:
            fs_delete(spark, os.path.join(edir, name))


def _data_file_debt(spark: SparkSession, state_path: str) -> int:
    """Compaction-debt signal for ``_epochs``-marker stores: one
    recursive JVM-side file count minus the ``_epochs`` markers (the
    lsh_index ``fs_total_file_count`` discipline; markers accrete one
    per epoch forever and are NOT data debt — counting them would
    eventually trip the gate every epoch with nothing left to fold,
    ADVICE r10)."""
    from ..fs import fs_total_file_count
    return (fs_total_file_count(spark, state_path)
            - fs_total_file_count(spark, os.path.join(state_path,
                                                      "_epochs")))


def _maintain_dedup_groups(spark: SparkSession, groups,
                           compactor: MergeCompactor,
                           batch_df: DataFrame, epoch: int,
                           cfg: "BoundedStreamConfig") -> None:
    """One epoch of dedup-groups side maintenance (runs AFTER the
    compaction merge, so the compacted state already reflects this
    batch). Tier scheme on the groups store's batch_id sequence
    (mode ``cdc3``, pinned at first write): ``3·epoch`` for the purge
    (replaced/deleted doc versions), ``3·epoch+1`` for the ingest, and
    ``3·epoch+2`` left FREE as the between-runs erasure slot
    (``purge_between_runs`` consumes it) — monotone across epochs, so
    later ingest merges always outrank purge relabels and a
    between-runs erasure outranks everything up to its gap while the
    next epoch's purge outranks IT. Stores built by pre-r9 code are
    pinned ``cdc`` (2·e/2·e+1, no erasure slot) and keep that scheme —
    mixing residue schemes mid-stream would let a crashed epoch's
    partial tiers escape the in-flight exclusion. TWO markers gate the
    epoch: the INGEST marker (touched inside process_batch) skips a
    fully-committed epoch's replay, and the PURGE marker (touched here
    after the purge) skips the purge alone — a crash INSIDE
    process_batch (after the LSH index already appended this batch's
    bands and committed its sub-marker) must not re-run the purge on
    replay: that purge would erase the bands the crashed attempt
    committed, and the index's replay contract would then skip the
    re-append, silently un-indexing the batch's docs forever. A crash
    BEFORE the purge marker replays the purge, which is idempotent
    against pre-epoch state (no index rows of this batch exist yet —
    the purge runs before the append). An EMPTY epoch marks its ingest
    tier and returns (the side-state family convention) — a replayed
    empty epoch skips at the marker probe instead of re-running the
    gate aggregate."""
    from ..fs import fs_read_text, fs_touch
    from ..operators.dedup import dedup_latest

    mode = fs_read_text(spark, groups._tier_mode_path)
    stride = 2 if mode == "cdc" else 3
    ingest_tier = stride * epoch + 1
    idc, txc = cfg.dedup_doc_id_col, cfg.dedup_text_col
    # keyed envelope: a composite PK (list of columns) — the
    # reference-shaped table — concatenates into ONE string doc key
    # (unit-separator joined, the F1 concat_ws pattern); the groups
    # store then runs string-keyed (hash-partitioned, pinned in its
    # meta). A single integral column keeps the historical long keys.
    id_cols = [idc] if isinstance(idc, str) else list(idc)
    from pyspark.sql import types as T
    composite = (len(id_cols) > 1
                 or isinstance(batch_df.schema[id_cols[0]].dataType,
                               T.StringType))
    if composite:
        # The unit separator (U+001F) is RESERVED in composite doc
        # keys: concat_ws would otherwise silently drop NULL
        # components — PK tuples (NULL,'x') and ('x',NULL) both
        # collapse to 'x' — and a component containing U+001F could
        # alias another tuple. Both are malformed PKs for a CDC table
        # (Debezium never emits NULL key fields), so fail LOUDLY at
        # ingest instead of corrupting the groups store. The check
        # rides the keys frame below — a distributed aggregate, never
        # a key list on the driver (VERDICT r11 #1).
        from functools import reduce as _reduce
        bad_expr = _reduce(
            lambda a, b: a | b,
            [F.col(c).isNull()
             | F.col(c).cast("string").contains("\x1f")
             for c in id_cols])
        key_expr = F.concat_ws(
            "\x1f", *[F.col(c).cast("string") for c in id_cols])
    else:
        bad_expr = F.lit(False)
        key_expr = F.col(id_cols[0]).cast("long")
    held: dict = {}

    def _gate(latest: DataFrame) -> bool:
        # the batch's distinct doc keys STAY a distributed frame (the
        # purge_vectors_df discipline): a 1M-row micro-batch's key set
        # never lands on the driver. Pinned eagerly — the purge below
        # rewrites the very directories its pruning joins read, and
        # the gate/empty probes must not recompute the stream frame.
        keys = (latest.select(key_expr.alias("doc_id"),
                              bad_expr.alias("bad"))
                .distinct().localCheckpoint(eager=True))
        # ONE single-row aggregate serves all three gates (emptiness +
        # the distributed malformed-key check + the purge's victim
        # partition ids, r13 §2.10 — the purge's own ≤num_buckets
        # collect folds in here as a collect_set of the store's exact
        # pruning expression) — foreachBatch runs with AQE off and
        # fixed per-job cost dominates at micro-batch size, so every
        # tiny gate job counts (the r11 process_batch lesson)
        vp_expr, _ = groups._victim_part_expr(spark, F.col("doc_id"),
                                              composite)
        gate = keys.agg(F.count(F.lit(1)).alias("n"),
                        F.max("bad").alias("bad"),
                        F.collect_set(vp_expr).alias("vparts")
                        ).collect()[0]
        if not gate["n"]:
            return False
        if gate["bad"]:
            raise ValueError(
                f"dedup-groups doc key: primary-key columns {id_cols} "
                "contain a NULL component or the reserved U+001F "
                "separator — composite doc keys would alias; reject "
                "the malformed rows upstream")
        held["keys"] = keys
        held["vparts"] = set(gate["vparts"])
        return True

    def _on_empty() -> None:
        # mark-and-return (the side-state family convention): a
        # replayed empty epoch skips at the marker probe. Tier mode
        # pins first so an empty first batch cannot leave a manifest
        # on a store with no recorded scheme.
        groups._set_tier_mode(spark, "cdc" if mode == "cdc" else "cdc3")
        fs_touch(spark, os.path.join(groups._manifest_path,
                                     str(ingest_tier)))

    def _work(latest: DataFrame) -> None:
        groups._set_tier_mode(spark, "cdc" if mode == "cdc" else "cdc3")
        purge_marker = os.path.join(groups._manifest_path,
                                    str(stride * epoch))
        if not fs_exists(spark, purge_marker):
            # purge every batch-touched id: replaced versions and
            # tombstones lose their old bands/claims; never-indexed
            # ids are a pruned no-op — DataFrame victims, the
            # per-epoch hot path (VERDICT r11 #1)
            groups.purge_docs_df(spark, held["keys"].select("doc_id"),
                                 purge_batch_id=stride * epoch,
                                 _pinned=True,
                                 _victim_parts=held["vparts"])
            fs_touch(spark, purge_marker)
        live = (latest
                .filter(~F.coalesce(F.col(SC.deleted), F.lit(False)))
                .select(key_expr.alias("doc_id"),
                        F.col(txc).alias("text")))
        # explicit schema, not compactor.read(): the corpus is only
        # ever read pruned to pair-involved docs, and the mergeSchema
        # footer pass over every bucket (the drift-safe general read)
        # would otherwise run per epoch — these columns are guaranteed
        # present from epoch one (they come off the stream, types
        # taken from it)
        id_fields = ", ".join(
            f"{c} {batch_df.schema[c].dataType.simpleString()}"
            for c in id_cols)
        corpus = (spark.read
                  .schema(f"{id_fields}, {txc} string, "
                          f"{SC.deleted} boolean")
                  .parquet(compactor.state_path)
                  .filter(~F.coalesce(F.col(SC.deleted), F.lit(False)))
                  .select(key_expr.alias("doc_id"),
                          F.col(txc).alias("text")))
        groups.process_batch(spark, live, corpus=corpus,
                             batch_id=ingest_tier)

    _run_side_epoch(
        spark,
        done=lambda: fs_exists(spark, os.path.join(
            groups._manifest_path, str(ingest_tier))),
        extract=lambda: dedup_latest(batch_df.drop("_snapshot_phase"),
                                     id_cols),
        gate=_gate, on_empty=_on_empty, work=_work)


def _maintain_ann_index(spark: SparkSession, idx, batch_df: DataFrame,
                        epoch: int, cfg: "BoundedStreamConfig") -> None:
    """One epoch of ANN-index side maintenance (the CDC sync feeding
    the vector-serving path). Exactly-once: an ``_epochs/<id>`` marker
    under the index path is touched only after the epoch's writes; the
    replay of a marked epoch is a no-op. A crashed HALF-append is
    self-healing because the purge precedes the add and targets every
    batch-touched id — on replay it erases whatever rows the crashed
    attempt managed to append (discoverable because ``add_batch``
    writes the ``_vecmap`` sidecar BEFORE the cell rows — the append's
    discovery anchor, the mirror of the purge's cells-before-sidecar
    order) and the add then re-indexes cleanly."""
    from ..fs import fs_touch
    from ..operators.dedup import dedup_latest

    idc, vc = cfg.ann_vec_id_col, cfg.ann_vec_col

    def _extract() -> DataFrame:
        # finish any rebuild that crashed between delete and swap
        # (cheap: two existence probes when nothing is pending)
        idx.recover(spark)
        latest = dedup_latest(batch_df.drop("_snapshot_phase"), [idc])
        return latest.select(
            F.col(idc).cast("long").alias("vec_id"),
            F.from_json(F.col(vc), "array<double>").alias("e"),
            F.coalesce(F.col(SC.deleted), F.lit(False)).alias("_del"))

    def _work(keyed: DataFrame) -> None:
        live = keyed.filter(~F.col("_del")).select("vec_id", "e")
        if fs_exists(spark, idx._cent_path):
            # purge EVERY batch-touched id (replaced versions,
            # tombstones, and any crashed half-append rows); fresh
            # inserts are a sidecar-pruned no-op. DataFrame victims
            # (VERDICT r10 #3): this is the per-epoch hot path — a
            # 1M-row micro-batch must not materialize its id list on
            # the driver; the sidecar pruning becomes a semi-join on
            # pmod(vec_id, N), same math, distributed
            idx.purge_vectors_df(spark, keyed.select("vec_id"),
                                 _pinned=True)
            idx.add_batch(spark, live)
            # cheap debt gate before the per-directory listings
            # (shared helper: recursive JVM-side count minus the
            # _epochs markers)
            est_dirs = idx.n_cells + idx.num_map_parts
            if (_data_file_debt(spark, cfg.ann_index_path)
                    > _ANN_COMPACT_FILES * est_dirs):
                idx.compact_cells(spark, file_threshold=_ANN_COMPACT_FILES)
            # scheduled retraining: a codebook pinned at epoch 0 skews
            # as the corpus drifts; rebuild is crash-safe (sibling
            # swap) and maintenance-idempotent — a replayed epoch just
            # retrains again over the same corpus
            if (cfg.ann_retrain_epochs
                    and epoch > 0
                    and epoch % cfg.ann_retrain_epochs == 0):
                idx.rebuild(spark)
        else:
            # first epoch: deterministic seed codebook — the n_cells
            # smallest-id live vectors (an all-tombstone first epoch
            # defers the build to the next epoch)
            cents = [r["e"] for r in
                     live.orderBy("vec_id").limit(idx.n_cells)
                         .select("e").collect()]
            if cents:
                idx.build(spark, live, centroids=cents)
        _epoch_commit(spark, cfg.ann_index_path, epoch,
                      cfg.ann_marker_retain)

    _run_side_epoch(
        spark,
        done=lambda: _epoch_done(spark, cfg.ann_index_path, epoch),
        extract=_extract,
        on_empty=lambda: fs_touch(spark, os.path.join(
            cfg.ann_index_path, "_epochs", str(epoch))),
        work=_work)


def _maintain_semantic_groups(spark: SparkSession, st, batch_df: DataFrame,
                              epoch: int,
                              cfg: "BoundedStreamConfig") -> None:
    """One epoch of semantic near-dup-group side maintenance — the
    vector twin of ``_maintain_dedup_groups``, on the same ``cdc3``
    tier scheme (inline purge 3e, ingest 3e+1, residue 3e+2 free for
    between-runs erasure) with the groups manifest as the
    exactly-once anchor.

    ``StreamingSemanticGroups.process_batch`` is INSERT-ONLY (its
    documented contract: stale cosine edges survive an in-place
    update), so updates and tombstones purge FIRST — group claims,
    survivor re-election, and the vector rows all drop at tier 3e —
    and only then does the ingest tier index the batch's live
    versions. Victims are resolved by a semi-join against the index's
    ``_vecmap`` sidecar and STAY a distributed frame end-to-end
    (``purge_docs_df``, VERDICT r11 #1) — fresh inserts skip the purge
    entirely, and nothing batch-sized ever reaches the driver.

    With ``cfg.semantic_membership_bloom`` (r13) the membership probe
    consults a maintained ``_bloom`` bitset instead of scanning the
    sidecar — O(batch + bloom) victim collection for insert-heavy
    fleets at extreme corpus sizes (the seam previously declared in
    this docstring). FPs cost a pruned no-op purge; FNs are
    impossible by write order (bloom unions live ids before the index
    writes; replays re-union). Results are identical either way
    (parity-tested)."""
    from ..fs import fs_touch
    from ..operators.dedup import dedup_latest

    ingest_marker = os.path.join(st.groups._manifest_path,
                                 str(3 * epoch + 1))
    idc, vc = cfg.semantic_vec_id_col, cfg.semantic_vec_col

    def _extract() -> DataFrame:
        latest = dedup_latest(batch_df.drop("_snapshot_phase"), [idc])
        return latest.select(
            F.col(idc).cast("long").alias("vec_id"),
            F.from_json(F.col(vc), "array<double>").alias("e"),
            F.coalesce(F.col(SC.deleted), F.lit(False)).alias("_del"))

    def _on_empty() -> None:
        # mark-and-return (the side-state family convention, VERDICT
        # r12 cosmetic): a replayed empty epoch skips at the marker
        # probe instead of paying an isEmpty job. Tier mode pins FIRST
        # so an empty first batch cannot leave a manifest on a store
        # with no recorded tier scheme.
        st.groups._set_tier_mode(spark, "cdc3")
        fs_touch(spark, ingest_marker)

    bloom_path = (os.path.join(cfg.semantic_groups_path, "_bloom")
                  if cfg.semantic_groups_path else None)

    def _work(keyed: DataFrame) -> None:
        st.groups._set_tier_mode(spark, "cdc3")
        purge_marker = os.path.join(st.groups._manifest_path,
                                    str(3 * epoch))
        if not fs_exists(spark, purge_marker):
            from ..fs import fs_has_children
            from ..operators.llm.annindex import (CELL_COL as _CC,
                                                  VEC_PART_COL as _VP)
            idx = st.index
            if cfg.semantic_membership_bloom:
                # maintained membership bloom (r13, the declared
                # insert-heavy-fleet seam): candidate update victims
                # are the batch ids whose k bloom bits are all set —
                # O(batch + bloom) per epoch, never a sidecar scan. A
                # false positive only adds a pruned no-op purge
                # victim; false negatives cannot happen because the
                # bloom unions every live id BEFORE the index writes
                # (below) and a crashed epoch's replay re-unions.
                from ..operators.llm.bloom import bloom_probe
                if fs_exists(spark, bloom_path):
                    bloom = spark.read.parquet(bloom_path)
                    maybe = bloom_probe(
                        keyed.select("vec_id"), bloom,
                        F.col("vec_id").cast("string"),
                        id_col="vec_id",
                        m_words=cfg.semantic_bloom_words)
                    upd = keyed.join(
                        maybe.filter("maybe_seen").select("vec_id"),
                        "vec_id", "left_semi")
                else:
                    upd = keyed.limit(0)
            else:
                # membership probe: one columnar scan of the (vec_id,
                # cell) sidecar — two small columns, never the
                # inverted file. This keeps victim COLLECTION bounded
                # by real updates/tombstones at the cost of a
                # sidecar-proportional scan per epoch (exact — zero
                # wasted purge rows; the bloom flavor above trades a
                # few FP no-ops for corpus-independence). Both reads
                # are gated on a VISIBLE data partition existing: a
                # tombstone wave that purged every partition leaves
                # only hidden markers (_COMPLETE/_SUCCESS) behind, and
                # schema inference over a data-less directory would
                # crash the stream — an emptied index simply means
                # nothing is indexed (ADVICE r11, medium).
                if (fs_exists(spark, idx._vecmap_ok_path)
                        and fs_has_children(spark, idx._vecmap_path,
                                            f"{_VP}=")):
                    indexed = (spark.read.parquet(idx._vecmap_path)
                               .select("vec_id"))
                elif (fs_exists(spark, idx._cent_path)
                        and fs_has_children(spark, idx.index_path,
                                            f"{_CC}=")):
                    # pre-attestation index: membership from the cells
                    indexed = (spark.read.parquet(idx.index_path)
                               .select("vec_id"))
                else:
                    indexed = None
                upd = (keyed.join(indexed, "vec_id", "left_semi")
                       if indexed is not None
                       else keyed.limit(0))
            # victims STAY a distributed frame (VERDICT r11 #1): an
            # update-heavy micro-batch's touched-id set must never
            # materialize on the driver. Pinned eagerly — the purge
            # rewrites the very _vecmap/cell directories this plan's
            # membership semi-join read.
            victims = (keyed.filter("_del").select("vec_id")
                       .unionByName(upd.select("vec_id"))
                       .distinct().localCheckpoint(eager=True))
            if not victims.isEmpty():
                st.purge_docs_df(spark, victims,
                                 purge_batch_id=3 * epoch,
                                 _pinned=True)
            fs_touch(spark, purge_marker)
        live = keyed.filter(~F.col("_del")).select("vec_id", "e")
        if cfg.semantic_membership_bloom:
            # union the batch's live ids into the bloom BEFORE the
            # index writes — the order that makes false negatives
            # impossible (a crash after this write costs only FPs;
            # a replay re-unions idempotently). Bloom-sized job:
            # ≤ semantic_bloom_words rows read, OR-ed, rewritten.
            from ..operators.llm.bloom import bloom_build
            delta = bloom_build(live.select("vec_id"),
                                F.col("vec_id").cast("string"),
                                m_words=cfg.semantic_bloom_words)
            if fs_exists(spark, bloom_path):
                old = spark.read.parquet(bloom_path)
                delta = (old.unionByName(delta)
                         .groupBy("word")
                         .agg(F.bit_or("mask").alias("mask")))
            # read-then-overwrite: pin before replacing the source
            delta = delta.localCheckpoint(eager=True)
            delta.write.mode("overwrite").parquet(bloom_path)
        st.process_batch(spark, live, batch_id=3 * epoch + 1)

    _run_side_epoch(
        spark,
        done=lambda: fs_exists(spark, ingest_marker),
        extract=_extract, on_empty=_on_empty, work=_work)


def _maintain_lexical_index(spark: SparkSession, lex, batch_df: DataFrame,
                            epoch: int,
                            cfg: "BoundedStreamConfig") -> None:
    """One epoch of lexical-index side maintenance — the inverted-file
    member of the CDC side-state family (text groups / ANN index /
    semantic groups / lexical postings), on the ``_maintain_ann_index``
    exactly-once scheme: an ``_epochs/<id>`` marker under the state
    path gates the epoch; purge-then-add makes a replay of an unmarked
    epoch converge (a crashed half-append's rows are discoverable
    because the ``_docterms`` sidecar lands before postings — the
    add's discovery anchor). Victims stay a distributed frame
    (``purge_docs_df`` — the VERDICT r11 #1 discipline, applied from
    birth)."""
    from ..fs import fs_touch
    from ..operators.dedup import dedup_latest

    idc, txc = cfg.lexical_doc_id_col, cfg.lexical_text_col

    def _extract() -> DataFrame:
        latest = dedup_latest(batch_df.drop("_snapshot_phase"), [idc])
        return latest.select(
            F.col(idc).cast("long").alias("doc_id"),
            F.col(txc).alias("text"),
            F.coalesce(F.col(SC.deleted), F.lit(False)).alias("_del"))

    def _work(keyed: DataFrame) -> None:
        # purge EVERY batch-touched id (replaced versions, tombstones,
        # crashed half-appends); never-indexed ids are a sidecar-pruned
        # no-op — the ids never materialize on the driver. The epoch
        # rides into both calls so the maintained corpus-stats
        # retract/add is crash-exact under replay (a marked-epoch
        # replay never reaches here; an unmarked one re-derives the
        # same final from the pinned base).
        lex.purge_docs_df(spark, keyed.select("doc_id"), epoch=epoch)
        live = keyed.filter(~F.col("_del")).select("doc_id", "text")
        lex.add_batch(spark, live, epoch=epoch)
        # compaction-debt gate across the three tables' partition
        # estimate (shared helper: recursive count minus markers)
        est_dirs = 3 * lex.num_parts
        if (_data_file_debt(spark, cfg.lexical_index_path)
                > lex.compact_file_threshold * est_dirs):
            lex.compact(spark)
        _epoch_commit(spark, cfg.lexical_index_path, epoch, _MARKER_RETAIN)

    _run_side_epoch(
        spark,
        done=lambda: _epoch_done(spark, cfg.lexical_index_path, epoch),
        extract=_extract,
        on_empty=lambda: fs_touch(spark, os.path.join(
            cfg.lexical_index_path, "_epochs", str(epoch))),
        work=_work)


def _check_side_states(cfg: BoundedStreamConfig,
                       table: str | None = None) -> None:
    """Reject side state a drain cannot maintain, before anything is
    read. Every side state mirrors the table's CURRENT state (latest
    version per key), which only DEDUPE mode maintains. A fused fleet
    table (``table`` set) may carry only the lexical and ANN indexes:
    maintained views, text dedup groups and semantic groups are
    per-table state."""
    who = "" if table is None else f"table {table!r}: "
    if table is not None:
        for kind, configured in (
                ("maintained views", cfg.view_path or cfg.view_group_keys),
                ("dedup-groups side state", cfg.dedup_groups_path),
                ("semantic-groups side state", cfg.semantic_groups_path)):
            if configured:
                raise ValueError(
                    f"{who}{kind}: per-table state, not supported on the "
                    "fused fleet path — run that table through "
                    "bounded_sync")
    if cfg.mode.upper() != "DEDUPE":
        for name in ("dedup_groups_path", "ann_index_path",
                     "semantic_groups_path", "lexical_index_path"):
            if getattr(cfg, name):
                raise ValueError(
                    f"{who}{name} requires DEDUPE mode — the side state "
                    "mirrors the table's CURRENT state (latest version "
                    "per key), which APPEND mode does not maintain")


def _stream_snapshot_mode(spark: SparkSession, stream: DataFrame,
                          snapshot_mode: str,
                          checkpoint_dir: str) -> tuple[DataFrame, str]:
    """Snapshot-mode dispatch, stream flavor (batch twin:
    ``control.resolve_snapshot_mode`` in ``engine.sync``). The initial
    run is the one with no committed checkpoint; ``never`` on it
    degrades to schema-only recovery. Schema-only recovery consumes
    (and checkpoints) every present file of the INITIAL contact and
    emits no rows — "the actual sync starts next execution".
    Post-initial, every mode streams changes normally, like Debezium
    with stored offsets: filtering then would checkpoint past events
    without emitting them (ADVICE r4, medium: silent data loss every
    run). Returns the gated stream and the effective mode."""
    if snapshot_mode not in SNAPSHOT_MODES:
        raise ValueError(f"unknown snapshot_mode {snapshot_mode!r}; "
                         f"expected one of {SNAPSHOT_MODES}")
    # Hadoop FS probe: the checkpoint may be a URI (file://, hdfs://)
    initial = not fs_exists(spark, os.path.join(checkpoint_dir, "commits"))
    effective = snapshot_mode
    if initial and snapshot_mode == "never":
        effective = "schema_only"
    if initial and effective in ("schema_only", "schema_only_recovery"):
        stream = stream.filter(F.lit(False))
    return stream, effective


def _merge_keys(stream: DataFrame, primary_keys, prefix=()) -> list[str]:
    """Compaction key of a DEDUPE drain: ``prefix`` plus the primary
    keys. No-PK parity with the batch path (dedup_latest_no_pk,
    reference component.py:406-408): without primary keys the key is
    every non-system column, collapsing exact-duplicate payloads — NOT
    a fixture default that would merge distinct payloads sharing one
    column."""
    if not primary_keys:
        system = set(SC.ingest_names) | {"_table", "_snapshot_phase"}
        primary_keys = [c for c in stream.columns if c not in system]
    return [*prefix, *primary_keys]


def _side_maintainers(cfg: BoundedStreamConfig,
                      compactor: MergeCompactor) -> list:
    """The side-state maintainers one table's cfg configures, in run
    order: each ``fn(spark, batch_df, epoch)`` runs one epoch of its
    ``_maintain_*`` driver against a state handle built here, once per
    drain."""
    out = []
    if cfg.dedup_groups_path:
        from .dedup_state import StreamingDedupGroups
        groups = StreamingDedupGroups(cfg.dedup_groups_path,
                                      num_buckets=cfg.dedup_groups_buckets)
        out.append(lambda s, b, e: _maintain_dedup_groups(
            s, groups, compactor, b, e, cfg))
    if cfg.ann_index_path:
        from ..operators.llm.annindex import IvfVectorIndex
        ann = IvfVectorIndex(cfg.ann_index_path, n_cells=cfg.ann_index_cells)
        out.append(lambda s, b, e: _maintain_ann_index(s, ann, b, e, cfg))
    if cfg.semantic_groups_path:
        from .semantic_state import StreamingSemanticGroups
        sem = StreamingSemanticGroups(cfg.semantic_groups_path,
                                      n_cells=cfg.semantic_cells,
                                      threshold=cfg.semantic_threshold,
                                      num_buckets=cfg.semantic_buckets)
        out.append(lambda s, b, e: _maintain_semantic_groups(
            s, sem, b, e, cfg))
    if cfg.lexical_index_path:
        from .lexical_state import StreamingLexicalIndex
        lex = StreamingLexicalIndex(cfg.lexical_index_path,
                                    num_parts=cfg.lexical_parts,
                                    positions=cfg.lexical_positions)
        out.append(lambda s, b, e: _maintain_lexical_index(
            s, lex, b, e, cfg))
    return out


@dataclass
class _Drain:
    """One started drain query with its bound idle-stop listener."""

    query: StreamingQuery
    listener: _IdleStopListener
    max_wait_s: float

    def idle(self) -> bool:
        """T2(b): no input rows for ``max_wait_s``, the last trigger was
        not busy, and no snapshot phase is open (T3). A long-running
        micro-batch emits no progress events until it completes, so
        the live trigger status is consulted last: an in-flight batch
        is "busy", not "idle" (the reference's ``taskState ==
        RUNNING`` guard in AbstractDebeziumTask)."""
        lis = self.listener
        if (lis.busy or lis.phase["snapshot_active"]
                or time.time() - lis.last_data_ts <= self.max_wait_s):
            return False
        try:
            return not self.query.status.get("isTriggerActive")
        except Exception:
            return True


def _start_drain(spark: SparkSession, stream: DataFrame, out_path: str,
                 checkpoint_dir: str, cfg: BoundedStreamConfig, *,
                 compactor: MergeCompactor | None = None, view=None,
                 side=(), partition_by: str | None = None) -> _Drain:
    """Start one drain query — stream → sink → checkpoint → trigger —
    with an idle-stop listener bound to it (listeners are
    session-global; an unbound one would reset its idle clock on any
    concurrent query's progress).

    A DEDUPE drain (``compactor`` set) that can run more than one
    micro-batch (live, or ``max_files_per_trigger`` set) stages each
    micro-batch as a pending delta of the bucketed compacted state,
    which the caller folds when the drain closes (write-behind, see
    ``sinks.merge``). A one-batch drain merges its batch directly, as
    staging would only add a delta write and read-back. Two kinds of
    drain read the store back inside the batch, so they merge each
    micro-batch at once too: a maintained ``view`` (updated around
    that merge) and dedup groups (which read the compacted corpus).
    It then runs each ``side`` maintainer ``(table, fn)`` over
    its table's slice of the batch (``table`` None: the whole batch).
    An APPEND drain writes the stream as parquet under ``out_path``. A
    live drain polls for new files every ``_POLL_INTERVAL_MS``; a
    bounded one drains under ``Trigger.AvailableNow``."""
    listener = _IdleStopListener()
    if compactor is not None:
        write_behind = (view is None and not cfg.dedup_groups_path
                        and bool(cfg.live or cfg.max_files_per_trigger))

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            if cfg.live:
                # T3 gate: while the latest micro-batch still carried
                # snapshot (op='r') rows the idle stop must not fire
                # (reference AbstractDebeziumTask.java:176-178). A
                # limit(1) probe; AvailableNow terminates on its own.
                listener.phase["snapshot_active"] = not (
                    batch_df.filter(F.col("_snapshot_phase")).isEmpty())
            rows = batch_df.drop("_snapshot_phase")
            if view is not None:
                view.update(spark, compactor, rows)
            elif write_behind:
                compactor.stage(spark, rows)
            else:
                compactor.merge(spark, rows)
            for table, maintain in side:
                part = batch_df if table is None else (
                    batch_df.filter(F.col("_table") == table).drop("_table"))
                maintain(spark, part, int(batch_id))

        writer = stream.writeStream.foreachBatch(sink)
    else:
        writer = stream.drop("_snapshot_phase").writeStream.format("parquet")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer = writer.option("path", out_path)
    writer = writer.option("checkpointLocation", checkpoint_dir)
    if cfg.live:
        writer = writer.trigger(
            processingTime=f"{_POLL_INTERVAL_MS} milliseconds")
    else:
        writer = writer.trigger(availableNow=True)
    spark.streams.addListener(listener)
    try:
        query = writer.start()
    except BaseException:
        spark.streams.removeListener(listener)
        raise
    listener.bind(query.id)
    return _Drain(query, listener, cfg.max_wait_s)


def _drive_drains(drains: list[_Drain], max_duration_s: float) -> list[str]:
    """Poll started drains to termination and return each one's stop
    reason: ``drained``, ``max_duration`` (a wall clock shared by all,
    from the first pass) or ``idle_timeout`` (:meth:`_Drain.idle`). The
    idle stop guards AvailableNow drains too. One pass waits about a
    second in all, split across the pending drains, so a single drain
    consults its query status at most once a second."""
    start = time.time()
    reasons = ["drained"] * len(drains)
    pending = list(range(len(drains)))
    while pending:
        wait = 1.0 / len(pending)
        still = []
        for i in pending:
            query = drains[i].query
            if not query.isActive or query.awaitTermination(wait):
                continue
            if time.time() - start > max_duration_s:
                reasons[i] = "max_duration"
            elif drains[i].idle():
                reasons[i] = "idle_timeout"
            else:
                still.append(i)
                continue
            query.stop()
        pending = still
    for d in drains:
        d.query.awaitTermination()
    return reasons


def _close_drains(spark: SparkSession, drains: list[_Drain]) -> None:
    """Stop any drain still running (an error path) and drop the
    listeners."""
    for d in drains:
        if d.query.isActive:
            d.query.stop()
        spark.streams.removeListener(d.listener)


def _last_commit(spark: SparkSession, checkpoint_dir: str) -> int:
    """Id of the last micro-batch committed to ``checkpoint_dir`` (-1
    before the first commit)."""
    names = fs_list_names(spark, os.path.join(checkpoint_dir, "commits"))
    return max((int(n) for n in names if n.isdigit()), default=-1)


def bounded_sync(spark: SparkSession, events_dir: str, out_path: str,
                 checkpoint_dir: str,
                 cfg: BoundedStreamConfig | None = None) -> dict:
    """Run one bounded sync over the event stream: the single-drain
    case of :func:`bounded_sync_multi_fused`'s drive loop.

    ``Trigger.AvailableNow`` drains everything present at start then
    stops (P6 semantics); the wall-clock and idle stops guard the drain
    like the reference's poll loop. A DEDUPE drain settles its store
    (:meth:`MergeCompactor.settle`: pending deltas folded, uncommitted
    ones dropped) before it starts (leftovers of a crashed run) and
    after it stops, so on return the store holds no ``_delta/``.
    Returns run stats; ``batches`` counts the micro-batches this run
    committed, not the checkpoint's lifetime total.
    """
    cfg = cfg or BoundedStreamConfig()
    _check_side_states(cfg)
    stream, effective = _stream_snapshot_mode(
        spark, read_event_stream(spark, events_dir, cfg.max_files_per_trigger),
        cfg.snapshot_mode, checkpoint_dir)
    compactor, view, side = None, None, []
    if cfg.mode.upper() == "DEDUPE":
        keys = _merge_keys(stream, cfg.primary_keys)
        compactor = MergeCompactor(out_path, keys, cfg.num_state_buckets)
        if cfg.view_path and cfg.view_group_keys:
            from .view_maintain import StreamingAggView
            view = StreamingAggView(cfg.view_path, keys,
                                    cfg.view_group_keys, cfg.view_measure)
        side = [(None, fn) for fn in _side_maintainers(cfg, compactor)]
        compactor.settle(spark)
    committed = _last_commit(spark, checkpoint_dir)
    drain = _start_drain(spark, stream, out_path, checkpoint_dir, cfg,
                         compactor=compactor, view=view, side=side)
    try:
        [stopped_reason] = _drive_drains([drain], cfg.max_duration_s)
    finally:
        _close_drains(spark, [drain])
    if compactor is not None:
        compactor.settle(spark)
    return {
        "stopped_reason": stopped_reason,
        "batches": _last_commit(spark, checkpoint_dir) - committed,
        "sink_path": out_path,
        "snapshot_mode_effective": effective,
    }


def _fleet_group_key(spark: SparkSession, events_dir: str,
                     cfg: BoundedStreamConfig) -> tuple:
    """Fusion grouping key: (payload schema fingerprint, mode, keys)
    plus EVERY behavior-relevant cfg field — tables may only share one
    streaming query when the query would treat them identically.
    Grouping on (schema, mode, keys) alone and then reading the rest
    of the config from the group's first table silently dropped
    per-table differences in snapshot_mode / num_state_buckets /
    max_files_per_trigger / live / idle settings, breaking the
    documented bit-identical parity with per-table ``bounded_sync``
    (e.g. one table ``snapshot_mode='never'``, another ``'initial'``
    in the same group). ``max_duration_s`` stays fleet-shared by
    design (the documented fleet-max wall-clock guard)."""
    fp = schema_fingerprint(spark.read.parquet(events_dir))
    return (fp, cfg.mode.upper(), tuple(cfg.primary_keys or ()),
            cfg.snapshot_mode, cfg.num_state_buckets,
            cfg.max_files_per_trigger, cfg.live, cfg.max_wait_s)


def bounded_sync_multi_fused(spark: SparkSession,
                             events_dirs: dict[str, str],
                             out_dir: str, checkpoint_root: str,
                             cfgs: dict[str, BoundedStreamConfig]) -> dict:
    """Streaming twin of ``engine.sync_multi_fused`` (VERDICT r5
    #6): drain a FLEET of bounded CDC streams in O(#fusion groups)
    streaming queries instead of one query per table.

    Tables fuse when their payload schema fingerprint, mode, primary
    keys and every behavior-relevant cfg field agree (``live``,
    ``snapshot_mode``, ``num_state_buckets``, ``max_files_per_trigger``,
    ``max_wait_s`` — see :func:`_fleet_group_key`), so a group's
    behavior is exactly its members' shared config, never the first
    table's. Each group is ONE drain over the union of its tables'
    sources, every event stamped with its ``_table`` discriminator;
    DEDUPE groups compact through ONE :class:`MergeCompactor` keyed
    ``(_table, *pks)``. Per-table results are bit-identical to running
    :func:`bounded_sync` per table (parity-tested), but a 150-table
    fleet with 3 schemas costs 3 queries' worth of trigger scheduling,
    checkpointing and job launch overhead. No-PK groups dedupe on all
    non-system columns, same as the single-table path.

    Every group runs as a :func:`bounded_sync` drain does — same
    query start, snapshot-mode dispatch and sink — and all groups are
    driven CONCURRENTLY by the same poll loop, under one shared
    ``max_duration_s`` guard (the max across the fleet). Each group's
    query has its OWN bound :class:`_IdleStopListener` and
    snapshot-phase gate, and stops on its own ``max_wait_s`` idle
    timeout: ``live=False`` groups drain under ``Trigger.AvailableNow``
    (the idle stop only guards them, as on the single-table path);
    ``live=True`` groups poll for new files every ``_POLL_INTERVAL_MS``
    until idle. Group state lands at ``{out_dir}/group=<gid>``
    partitioned the same way as any MergeCompactor state, where ``gid``
    is a stable hash of (group key, member tables) — NOT an enumeration
    index, so adding or removing a table from the fleet can never
    resume another group's checkpoint (a changed membership changes the
    union plan's source legs, which a file-source checkpoint cannot
    absorb; the new gid starts fresh and the keyed MERGE reconverges).
    ``fleet.json`` beside it maps groups to tables for readers
    (:func:`read_fleet_table`); it is written through the Hadoop FS
    API, so any FS URI works. DEDUPE groups settle their stores
    before their query starts and after the fleet stops, as
    :func:`bounded_sync` does. Snapshot-mode parity matches
    :func:`bounded_sync`: ``never``/``schema_only`` on a group's FIRST
    contact drains-and-commits without emitting rows.

    Per-table side state (VERDICT r12 #3): a table may configure
    ``lexical_index_path`` and/or ``ann_index_path`` — its slice of
    the fused drain runs through the same ``_maintain_lexical_index``
    / ``_maintain_ann_index`` per-epoch drivers as a per-table
    :func:`bounded_sync` (the unified epoch skeleton), producing
    byte-identical index content (parity-tested), so a 150-table
    fleet keeps the fused drain's one-query economics while its
    search-serving tables stay indexed. The remaining kinds
    (maintained views, text dedup groups, semantic groups) still
    reject loudly — run those tables through :func:`bounded_sync`.
    """
    for t, c in cfgs.items():
        _check_side_states(c, t)

    groups: dict[tuple, list[str]] = {}
    for t in sorted(cfgs):
        groups.setdefault(
            _fleet_group_key(spark, events_dirs[t], cfgs[t]), []).append(t)

    manifest: dict[str, dict] = {}
    drains: list[_Drain] = []
    compactors: list[MergeCompactor] = []
    max_duration = max(c.max_duration_s for c in cfgs.values())
    try:
        # group keys can mix None/int fields (max_files_per_trigger):
        # deterministic order via repr, not tuple comparison
        for key, tables in sorted(groups.items(),
                                  key=lambda kv: repr(kv[0])):
            mode, pks = key[1], key[2]
            # every behavior-relevant field is IN the group key, so the
            # first member's cfg is the group's cfg by construction
            cfg0 = cfgs[tables[0]]
            gi = hashlib.md5(repr((key, tuple(tables)))
                             .encode()).hexdigest()[:12]
            gpath = os.path.join(out_dir, f"group={gi}")
            ckpt = os.path.join(checkpoint_root, f"group={gi}")
            stream = functools.reduce(DataFrame.unionByName, [
                read_event_stream(spark, events_dirs[t],
                                  cfg0.max_files_per_trigger)
                .withColumn("_table", F.lit(t)) for t in tables])
            stream, effective = _stream_snapshot_mode(
                spark, stream, cfg0.snapshot_mode, ckpt)
            compactor, side = None, []
            if mode == "DEDUPE":
                compactor = MergeCompactor(
                    gpath, _merge_keys(stream, pks, ["_table"]),
                    cfg0.num_state_buckets)
                # per-table side states (VERDICT r12 #3) run through
                # the SAME maintainers the per-table path uses; the
                # group epoch id rides as the exactly-once marker, and
                # index CONTENT is batch-partitioning-independent
                # (purge-then-add of within-batch latest versions; the
                # ANN seed codebook keys off wave-one ids, identical
                # under the same waves), so a fused table's index
                # equals its per-table twin's
                side = [(t, fn) for t in tables
                        for fn in _side_maintainers(cfgs[t], compactor)]
                compactor.settle(spark)
                compactors.append(compactor)
            drains.append(_start_drain(
                spark, stream, gpath, ckpt, cfg0, compactor=compactor,
                side=side, partition_by="_table"))
            manifest[gi] = {"tables": tables, "mode": mode,
                            "primary_keys": list(pks), "path": gpath,
                            "live": cfg0.live,
                            "snapshot_mode_effective": effective,
                            # operator/erasure visibility: which tables
                            # carry maintained side state, where, and
                            # which event column keys it (r13) — this
                            # is what lets purge_fleet_keys reach the
                            # indexes, not just the compacted state
                            "side_states": {
                                t: {k: {"path": p, "id_col": c}
                                    for k, p, c in
                                    (("lexical",
                                      cfgs[t].lexical_index_path,
                                      cfgs[t].lexical_doc_id_col),
                                     ("ann", cfgs[t].ann_index_path,
                                      cfgs[t].ann_vec_id_col))
                                    if p}
                                for t in tables
                                if (cfgs[t].lexical_index_path
                                    or cfgs[t].ann_index_path)}}
        reasons = dict(zip(manifest, _drive_drains(drains, max_duration)))
    finally:
        _close_drains(spark, drains)
    for compactor in compactors:
        compactor.settle(spark)
    fs_write_text(spark, os.path.join(out_dir, "fleet.json"),
                  json.dumps(manifest, indent=2))
    return {"n_tables": len(cfgs), "n_queries": len(groups),
            "groups": {gi: m["tables"] for gi, m in manifest.items()},
            "stopped_reasons": reasons, "out_dir": out_dir}


def _read_fleet_manifest(spark: SparkSession, out_dir: str) -> dict:
    """``fleet.json`` of a :func:`bounded_sync_multi_fused` output."""
    raw = fs_read_text(spark, os.path.join(out_dir, "fleet.json"))
    if raw is None:
        raise FileNotFoundError(f"no fleet.json under {out_dir}")
    return json.loads(raw)


def _group_compactor(spark: SparkSession, m: dict) -> MergeCompactor:
    """The compactor of a stored DEDUPE group, keyed as its drain keyed
    it (:func:`_merge_keys`); a no-PK group's key columns are read off
    the stored schema."""
    stored = (spark.read.option("mergeSchema", "true").parquet(m["path"])
              .drop(BUCKET_COL) if not m["primary_keys"] else None)
    return MergeCompactor(m["path"], _merge_keys(
        stored, m["primary_keys"], ["_table"]))


def purge_fleet_keys(spark: SparkSession, out_dir: str,
                     key_values: DataFrame) -> dict:
    """Right-to-be-forgotten across a whole
    :func:`bounded_sync_multi_fused` output: erase every row whose
    primary-key columns match ``key_values`` from EVERY table of every
    DEDUPE group (the reference's per-table erasure, fleet-wide in one
    call) — AND from every table's maintained side-state indexes
    (r13: a fused table may carry lexical postings / ANN vectors; an
    erasure that cleaned only the compacted state would leave the
    victim's tokens and embeddings serving). Each group's
    :meth:`MergeCompactor.purge` stays bucket-pruned — the victim
    keys are crossed with the group's table list so only the buckets
    those (table, key) pairs hash into are opened; index purges ride
    the sidecar-pruned ``purge_docs_df`` / ``purge_vectors_df``. The
    side-state id column (recorded in ``fleet.json``) must be among
    ``key_values``'s columns — tables where it is not are reported
    under ``skipped_side_states``, never silently ignored. No-PK
    groups dedupe on full payloads and have no stable erasure key —
    they are skipped and reported. Returns {group id: buckets
    rewritten} plus per-index erased-row counts and the skip lists."""
    manifest = _read_fleet_manifest(spark, out_dir)
    rewritten: dict = {}
    skipped: list[str] = []
    side_erased: dict = {}
    skipped_side: list[str] = []
    for gid, m in manifest.items():
        if m["mode"] != "DEDUPE" or not m["primary_keys"]:
            skipped.append(gid)
            continue
        pks = m["primary_keys"]
        tables = spark.createDataFrame([(t,) for t in m["tables"]],
                                       "_table string")
        keys = key_values.select(*pks).distinct().crossJoin(
            F.broadcast(tables))
        rewritten[gid] = _group_compactor(spark, m).purge(spark, keys)
        for t, states in m.get("side_states", {}).items():
            for kind, st in states.items():
                if st["id_col"] not in key_values.columns:
                    skipped_side.append(f"{t}/{kind}")
                    continue
                ids = (key_values.select(F.col(st["id_col"])
                                         .cast("long").alias("vid"))
                       .distinct())
                if kind == "lexical":
                    from .lexical_state import StreamingLexicalIndex
                    n = StreamingLexicalIndex(st["path"]).purge_docs_df(
                        spark, ids.select(F.col("vid").alias("doc_id")),
                        broadcast_victims=True)
                else:
                    from ..operators.llm.annindex import IvfVectorIndex
                    n = IvfVectorIndex(st["path"]).purge_vectors_df(
                        spark, ids.select(F.col("vid").alias("vec_id")),
                        broadcast_victims=True)
                side_erased[f"{t}/{kind}"] = n
    return {"rewritten_buckets": rewritten, "skipped_groups": skipped,
            "side_state_rows_erased": side_erased,
            "skipped_side_states": skipped_side}


def read_fleet_table(spark: SparkSession, out_dir: str,
                     table: str) -> DataFrame:
    """Read one table's compacted rows back out of a
    :func:`bounded_sync_multi_fused` output directory (drops the fleet
    plumbing columns — same shape as a per-table ``bounded_sync``
    state read). A group that legitimately drained with zero rows —
    e.g. snapshot_mode='never' on first contact — has no state
    directory yet; that reads as an empty (schema-less) frame, not a
    scan error."""
    for m in _read_fleet_manifest(spark, out_dir).values():
        if table in m["tables"]:
            if not fs_exists(spark, m["path"]):
                from pyspark.sql.types import StructType
                return spark.createDataFrame([], StructType([]))
            if m["mode"] == "DEDUPE" and fs_exists(
                    spark, os.path.join(m["path"], DELTA_DIR)):
                # deltas pend only while a drain runs or after a crash
                df = _group_compactor(spark, m).read(spark)
            else:
                df = (spark.read.option("mergeSchema", "true")
                      .option("basePath", m["path"]).parquet(m["path"])
                      .drop(BUCKET_COL))
            return df.filter(F.col("_table") == table).drop("_table")
    raise KeyError(f"table {table!r} not in fleet at {out_dir}")
