"""Continuously-maintained verified near-dup groups — the streaming
state form of the batch flagship ``hybrid_dedup_keep``:

    ingest batch → LSH index probe (indexed×indexed never joins)
    → exact-Jaccard verify (pairs only) → INCREMENTAL component merge
    → keep-list state

Batch mode re-runs the closure over the whole corpus each time; this
class keeps (node → component, n_tokens) as persistent state and per
batch touches only the components the new verified edges actually
connect. Per-batch cost is O(|batch| + affected-component footprint):

* candidate pairs come from :class:`StreamingLshIndex` (per-batch
  probe cost O(|batch| × collision fan-out), exactly-once tiers);
* verification reads only the pair-involved docs' text
  (``verify_jaccard_pairs`` prunes with a broadcast semi-join before
  any shingling);
* the component merge is driver-side union-find over the VERIFIED
  edge endpoints' components — near-dup edges per batch are tiny (the
  whole point of LSH) — but component SIZE is unbounded (one batch doc
  matching a boilerplate mega-component must not collect that whole
  component), so the affected-member fetch is a bounded
  ``limit(threshold+1)`` probe: complete → driver union-find (one
  job); truncated → the merge runs DISTRIBUTED through
  ``connected_components`` (member→label edges + the batch's verified
  edges), the same provably-complete-probe-else-distributed
  discipline as ``operators/llm/components.py``. Member/row lookups
  are partition-pruned the same way the LSH index prunes erasure:

State layout (the lsh_index commit-tier discipline, twice):

* ``labels/`` — rows (node, component, n_tokens) partitioned by
  ``_comp_part = component mod N`` and ``_batch`` tier: member lookup
  for an affected component opens only its partitions;
* ``node_map/`` — the same rows partitioned by ``_node_part = node
  mod N``: current-component lookup for an edge endpoint opens only
  its partitions. A node whose component changes gets a NEW row in
  both tables (later ``_batch`` tier wins); its stale row in the old
  component's partition is filtered at read time by checking the
  node_map's current claim — stale rows cost bounded read-side work
  until compaction folds them away, never correctness.

Exactly-once: both tables write per-batch ``(part, _batch=id)`` tiers
via dynamic partition overwrite, and a ``_batches/<id>`` marker is
touched only after BOTH writes — a replay of a committed batch leaves
state bytes untouched; a crashed half-write is replaced wholesale
because resolution reads EXCLUDE the in-flight batch's own tier (the
only tier that can be partial — every earlier tier is marker-gated).

Tier ordering is the currency resolution (``_latest`` = highest
``_batch`` wins), so every write path must be MONOTONE: sequenced
stores use the caller's ``batch_id`` (foreachBatch epochs), and
unsequenced stores draw tiers from a persisted ``_seq`` counter — a
node relabeled across appends always has a strictly newer row, never
two rows at one tier with an arbitrary tie-break. The two modes never
mix (guarded): an unsequenced append interleaved into an epoch
sequence would make claim ordering nondeterministic, and erasure on a
sequenced store must ride the same sequence (``purge_batch_id``
required) — a purge tier ABOVE the sequence would outrank every later
ingest merge forever, silently splitting groups.

Parity contract (tested): any batch split of a corpus yields state
whose keep-list is EXACTLY ``hybrid_dedup_keep`` of the full corpus.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fs import fs_delete as _fs_delete
from ..fs import fs_exists as _fs_exists
from ..fs import fs_file_count as _fs_file_count
from ..fs import fs_list_names as _fs_list_names
from ..fs import fs_read_text as _fs_read_text
from ..fs import fs_touch as _fs_touch
from ..fs import fs_write_text as _fs_write_text
from ..operators.llm.components import connected_components
from ..operators.llm.hybrid import verify_jaccard_pairs
from .lsh_index import StreamingLshIndex

COMP_PART = "_comp_part"
NODE_PART = "_node_part"
BATCH_COL = "_batch"
COMPACTED_TIER = -1


@dataclass
class StreamingDedupGroups:
    """Persistent verified near-dup groups with per-batch maintenance.
    Call :meth:`process_batch` once per ingest batch; read the current
    keep-list with :meth:`read_groups`."""

    state_path: str
    num_buckets: int = 64
    jaccard_num: int = 3
    jaccard_den: int = 5
    compact_file_threshold: int = 8
    # above this many affected-component members the per-batch merge
    # runs distributed instead of driver union-find (the components.py
    # SMALL_GRAPH_EDGES discipline): a batch doc matching a
    # boilerplate mega-component must never collect that component's
    # membership onto the driver
    driver_merge_max_members: int = 100_000
    # the same discipline one level up: the VERIFIED EDGE list is
    # probed with limit(threshold+1) — above it the merge runs fully
    # distributed off the edge DataFrame and the edges never land on
    # the driver (a batch fanning out against a huge indexed
    # neighborhood must not collect its edge list either)
    driver_merge_max_edges: int = 100_000
    # above this many edge endpoints, batch-side endpoint filters run
    # as a broadcast semi/anti-join instead of a literal Catalyst
    # ``In`` — a near-threshold edge list would otherwise inline up to
    # 2×driver_merge_max_edges literals into the plan (analysis-time
    # bloat + a multi-MB plan broadcast) on the very path that exists
    # to keep the driver light
    isin_literal_max: int = 512
    # exact-text group collapse in the LSH front end (the streaming
    # boilerplate guard): K text-identical docs cost K−1 linear attach
    # pairs, never K²/2 banded pairs. Pinned in the store meta at
    # first build — reopening an existing store adopts its stored mode
    collapse_exact: bool = True
    index: StreamingLshIndex = field(init=False)

    def __post_init__(self) -> None:
        # collapse merges text-identical docs BEFORE verification —
        # sound only for valid Jaccard bounds in [0, 1] (intra-group
        # Jaccard is exactly 1); reject unsatisfiable thresholds
        # loudly, the hybrid_dedup_keep precedent
        if (self.jaccard_den <= 0
                or not 0 <= self.jaccard_num <= self.jaccard_den):
            raise ValueError(
                f"threshold {self.jaccard_num}/{self.jaccard_den} is "
                f"not a valid Jaccard bound in [0, 1]")
        self.index = StreamingLshIndex(
            os.path.join(self.state_path, "index"),
            num_buckets=self.num_buckets,
            compact_file_threshold=self.compact_file_threshold,
            collapse_exact=self.collapse_exact)

    @property
    def _id_t(self) -> str:
        return self.index._id_sql_type

    def _id_part(self, col):
        return self.index._id_part(col)

    def _resolve_buckets(self, spark: SparkSession) -> None:
        """Partition counts are physical layout for labels/node_map
        exactly as for the index's buckets: adopt the count the store
        was BUILT with (the index's ``_meta.json`` is the single
        source of truth — all three tables share one N), so a caller
        reopening with a different constructor arg cannot mis-prune a
        member/claim lookup and silently miss rows."""
        self.index._resolve_buckets(spark)
        self.num_buckets = self.index.num_buckets

    @property
    def _labels_path(self) -> str:
        return os.path.join(self.state_path, "labels")

    @property
    def _node_map_path(self) -> str:
        return os.path.join(self.state_path, "node_map")

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.state_path, "_batches")

    @property
    def _seq_path(self) -> str:
        return os.path.join(self.state_path, "_seq")

    def _next_tier(self, spark: SparkSession) -> int:
        """Monotone commit tier for UNSEQUENCED operation: a persisted
        counter, bumped BEFORE the data writes (a crash after the bump
        leaves a harmless gap; bumping after would let a retry reuse a
        tier that already holds committed rows). This is what makes
        ``_latest`` deterministic in append mode — every relabel of a
        node lands at a strictly newer tier, never a same-tier tie."""
        raw = _fs_read_text(spark, self._seq_path)
        nxt = (int(raw) if raw is not None else -1) + 1
        _fs_write_text(spark, self._seq_path, str(nxt))
        return nxt

    def _is_sequenced(self, spark: SparkSession) -> bool:
        return _fs_exists(spark, self._manifest_path)

    @property
    def _tier_mode_path(self) -> str:
        return os.path.join(self.state_path, "_tier_mode")

    def _set_tier_mode(self, spark: SparkSession, mode: str) -> None:
        """Record which epoch→tier discipline drives this sequenced
        store — ``"facade"`` (dedup_groups_sync: ingest on odd tiers,
        even slots free for between-runs erasure), ``"cdc3"``
        (bounded_sync side state, round-9 scheme: inline purge 3e,
        ingest 3e+1, between-runs erasure 3e+2), or legacy ``"cdc"``
        (pre-r9 bounded_sync: purge 2e / ingest 2e+1, no free
        residue). Explicit metadata, not parity inference: the
        disciplines leave similar-looking manifests, and erasure
        safety depends on knowing which residue each driver owns.
        First writer pins the mode; a conflicting driver raises."""
        cur = _fs_read_text(spark, self._tier_mode_path)
        if cur is None:
            _fs_write_text(spark, self._tier_mode_path, mode)
        elif cur != mode:
            raise ValueError(
                f"store at {self.state_path} is driven by tier mode "
                f"{cur!r}; cannot also drive it as {mode!r}")

    def _check_mode(self, spark: SparkSession,
                    batch_id: int | None, what: str) -> None:
        """Sequenced (foreachBatch epoch tiers) and unsequenced
        (``_seq`` counter tiers) operation must never mix: the two tier
        namespaces interleave nondeterministically in ``_latest`` and a
        dynamic overwrite of a colliding tier would destroy the other
        mode's rows."""
        if batch_id is None and self._is_sequenced(spark):
            raise ValueError(
                f"{what}: this store is batch_id-sequenced (commit "
                "markers exist) — pass the next id in the same "
                "sequence (batch_id / purge_batch_id); an unsequenced "
                "write would resolve nondeterministically against the "
                "epoch tiers")
        if batch_id is not None and _fs_exists(spark, self._seq_path):
            raise ValueError(
                f"{what}: this store uses unsequenced appends (_seq "
                "counter exists) — a batch_id tier would interleave "
                "nondeterministically with the counter tiers")

    # -- tier-aware pruned reads ------------------------------------

    def _read_parts(self, spark: SparkSession, base: str, part_col: str,
                    parts: set[int], exclude_batch: int | None
                    ) -> DataFrame | None:
        paths = [p for p in
                 (os.path.join(base, f"{part_col}={v}")
                  for v in sorted(parts))
                 if _fs_exists(spark, p)]
        if not paths:
            return None
        df = spark.read.option("basePath", base).parquet(*paths)
        if exclude_batch is not None:
            # the in-flight batch's own tier may be a crashed partial
            # write about to be replaced — never let it feed resolution
            df = df.filter(F.col(BATCH_COL) != int(exclude_batch))
        return df

    @staticmethod
    def _latest(df: DataFrame) -> DataFrame:
        """Latest claim per node across tiers (later batch wins; the
        compacted tier -1 is oldest by construction)."""
        from pyspark.sql import Window
        w = (Window.partitionBy("node")
             .orderBy(F.col(BATCH_COL).desc()))
        return (df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn"))

    def _current_comps(self, spark: SparkSession, nodes: list[int],
                       exclude_batch: int | None) -> dict[int, int]:
        if not nodes or not _fs_exists(spark, self._node_map_path):
            return {}
        parts = self.index._id_parts_of(spark, nodes)
        df = self._read_parts(spark, self._node_map_path, NODE_PART,
                              parts, exclude_batch)
        if df is None:
            return {}
        nodes_df = spark.createDataFrame([(n,) for n in nodes],
                                         f"node {self._id_t}")
        rows = (self._latest(
                    df.join(F.broadcast(nodes_df), "node", "left_semi"))
                .select("node", "component").collect())
        return {r["node"]: r["component"] for r in rows}

    def _members_df(self, spark: SparkSession, comps: set[int],
                    exclude_batch: int | None) -> DataFrame | None:
        """(node, component, n_tokens) for every CURRENT member of the
        given components — fully DISTRIBUTED: nothing component-sized
        ever lands on the driver (the only collects are ≤num_buckets
        partition ids). Candidate rows come from the components' own
        ``labels`` partitions; staleness (a node that since moved away
        — or whose row in this partition is superseded) is resolved
        against the node_map's current claim via a semi-join."""
        if not comps or not _fs_exists(spark, self._labels_path):
            return None
        parts = self.index._id_parts_of(spark, comps)
        df = self._read_parts(spark, self._labels_path, COMP_PART,
                              parts, exclude_batch)
        if df is None:
            return None
        # literal In below the cutoff; above it the same broadcast
        # semi-join idiom as _members_df_dist (the comp set on the
        # driver merge path is edge-endpoint-sized — up to
        # 2×driver_merge_max_edges near the probe threshold)
        if len(comps) > self.isin_literal_max:
            comps_df = spark.createDataFrame(
                [(c,) for c in comps], f"component {self._id_t}")
            cand = (df.join(F.broadcast(comps_df), "component",
                            "left_semi")
                    .select("node", "component", "n_tokens"))
        else:
            cand = (df.filter(F.col("component").isin(list(comps)))
                    .select("node", "component", "n_tokens"))
        # node partitions the candidates hash into: ≤num_buckets values
        nparts = {r[0] for r in
                  cand.select(self._id_part(F.col("node")).alias("p"))
                      .distinct().collect()}
        nm = self._read_parts(spark, self._node_map_path, NODE_PART,
                              nparts, exclude_batch)
        if nm is None:
            return None
        current = (self._latest(
                       nm.join(cand.select("node").distinct(),
                               "node", "left_semi"))
                   .select("node", "component"))
        # keep candidate rows matching the current claim; duplicate
        # tiers of one claim collapse (n_tokens is a doc constant)
        return (cand.join(current, ["node", "component"], "left_semi")
                .distinct())

    def _members_df_dist(self, spark: SparkSession, comps_df: DataFrame,
                         exclude_batch: int | None) -> DataFrame | None:
        """``_members_df`` for the distributed-edges path: the affected
        component set itself may be unbounded, so it arrives as a
        one-column ``component`` DataFrame — only its ≤num_buckets
        distinct PARTITION ids are ever collected; the membership
        filter is a semi-join instead of a literal isin."""
        if not _fs_exists(spark, self._labels_path):
            return None
        cparts = {r[0] for r in
                  comps_df.select(self._id_part(F.col("component"))
                                  .alias("p"))
                  .distinct().collect()}
        df = self._read_parts(spark, self._labels_path, COMP_PART,
                              cparts, exclude_batch)
        if df is None:
            return None
        cand = (df.join(comps_df, "component", "left_semi")
                .select("node", "component", "n_tokens"))
        nparts = {r[0] for r in
                  cand.select(self._id_part(F.col("node")).alias("p"))
                      .distinct().collect()}
        nm = self._read_parts(spark, self._node_map_path, NODE_PART,
                              nparts, exclude_batch)
        if nm is None:
            return None
        current = (self._latest(
                       nm.join(cand.select("node").distinct(),
                               "node", "left_semi"))
                   .select("node", "component"))
        return (cand.join(current, ["node", "component"], "left_semi")
                .distinct())

    # -- per-batch maintenance --------------------------------------

    def process_batch(self, spark: SparkSession, batch_docs: DataFrame,
                      corpus: DataFrame,
                      batch_id: int | None = None) -> dict:
        """Ingest one batch of (doc_id, text) rows. ``corpus`` is a
        (doc_id, text) frame covering every doc indexed so far plus
        this batch (the CDC state store at production scale) — it is
        only ever read pruned to pair-involved docs. Returns a stats
        dict. With ``batch_id``, replays of committed batches are
        no-ops and crashed half-writes are replaced (exactly-once);
        without it, tiers come from the store's ``_seq`` counter
        (monotone, so cross-batch merges resolve deterministically —
        the two modes never mix, guarded)."""
        self._resolve_buckets(spark)
        self._check_mode(spark, batch_id, "process_batch")
        committed = (batch_id is not None
                     and _fs_exists(spark, os.path.join(
                         self._manifest_path, str(batch_id))))
        pairs, index_finish, verify_sh = (
            self.index.process_batch_deferred(
                spark, batch_docs, batch_id=batch_id))
        # pipeline (VERDICT r9 #4, NOTES_r9 §9.2's lever): the index's
        # write half — band append, fused sidecar, docmap, its batch
        # marker, compaction gates — lands on paths DISJOINT from
        # everything the verify+merge stages below read (corpus,
        # labels, node_map) or write, so it runs on a worker thread
        # concurrently with them. The marker order still holds:
        # _commit_rows drains the thread before OUR marker/return, so
        # a state commit always implies a durable index batch.
        self._start_index_writes(index_finish)
        try:
            return self._merge_batch(spark, batch_docs, corpus,
                                     batch_id, committed, pairs,
                                     verify_sh)
        except BaseException:
            # an error in verify/merge must not leave the write
            # thread running into teardown; its own error (if any)
            # must not mask the one propagating
            self._drain_index_writes(swallow=True)
            raise

    def merge_pairs(self, spark: SparkSession, batch_docs: DataFrame,
                    pairs: DataFrame,
                    corpus: DataFrame | None = None,
                    batch_id: int | None = None) -> dict:
        """Component-merge entry for EXTERNAL pair sources: merge
        ``pairs`` (doc_a, doc_b[, exact boolean]) into the groups
        state exactly as :meth:`process_batch` merges its own LSH
        candidates — same markers, same bounded-probe-else-distributed
        merge, same exactly-once replay contract — WITHOUT running the
        text LSH front end. Callers: the streaming semantic twin
        (cosine pairs, already verified → ``exact=True`` rows skip the
        Jaccard check), an offline suspect list (no ``exact`` column →
        verified against ``corpus`` text like LSH candidates).
        ``batch_docs`` is (doc_id, text); payloads without real text
        synthesize a constant — the keep window then degrades to
        min-doc-id keepers, which the caller's oracle must mirror."""
        self._resolve_buckets(spark)
        self._check_mode(spark, batch_id, "merge_pairs")
        committed = (batch_id is not None
                     and _fs_exists(spark, os.path.join(
                         self._manifest_path, str(batch_id))))
        # pin the layout: labels/node_map partition counts and the id
        # kind adopt the index meta, but a store fed only external
        # pairs never writes bands — stamp the meta here so a reopen
        # cannot mis-prune
        if not committed:
            self.index._adopt_id_kind(spark, batch_docs)
            if _fs_read_text(spark, self.index._meta_path) is None:
                self.index._write_meta(spark, docmap_complete=True)
        self._start_index_writes(None)
        # pin: the merge consumes pairs from several subtrees (verify
        # split, edge probe, distributed path) — external callers'
        # lazy pair plans must not recompute per consumer
        pairs = pairs.localCheckpoint(eager=True)
        try:
            return self._merge_batch(
                spark, batch_docs,
                corpus if corpus is not None else batch_docs,
                batch_id, committed, pairs)
        except BaseException:
            self._drain_index_writes(swallow=True)
            raise

    def _start_index_writes(self, finish) -> None:
        """Run the index's deferred write half on one worker thread
        (``None`` — replay/all-short batch — is a no-op)."""
        self._index_write_fut = None
        self._index_write_pool = None
        if finish is None:
            return
        from concurrent.futures import ThreadPoolExecutor
        self._index_write_pool = ThreadPoolExecutor(max_workers=1)
        self._index_write_fut = self._index_write_pool.submit(finish)

    def _drain_index_writes(self, swallow: bool = False) -> None:
        """Block until the deferred index writes are durable; their
        exception propagates (a failed write must fail the batch
        before any state marker lands) unless ``swallow``."""
        fut = getattr(self, "_index_write_fut", None)
        pool = getattr(self, "_index_write_pool", None)
        self._index_write_fut = self._index_write_pool = None
        if pool is None:
            return
        try:
            fut.result()
        except Exception:
            if not swallow:
                raise
        finally:
            pool.shutdown()

    def _merge_batch(self, spark: SparkSession, batch_docs: DataFrame,
                     corpus: DataFrame, batch_id: int | None,
                     committed: bool, pairs: DataFrame,
                     verify_sh: DataFrame | None = None) -> dict:
        """Verify + merge half of :meth:`process_batch` (runs
        concurrently with the index's deferred writes).
        ``verify_sh`` — the probe stage's materialized shingle slice
        for batch-side pair endpoints — feeds the verify as
        ``precomputed`` so only previously-indexed endpoints re-read
        corpus text (NOTES_r9 §9.3's lever)."""
        # collapse-mode attach pairs are text-identical by
        # construction (exact Jaccard 1 ≥ any valid threshold — the
        # constructor rejects >1 thresholds): they skip the shingle
        # verification entirely, so a dup-heavy batch's verify cost is
        # ∝ its LSH candidates, not its duplicate volume
        if "exact" in pairs.columns:
            to_verify = (pairs.filter(~F.col("exact"))
                         .select("doc_a", "doc_b"))
            certain = pairs.filter("exact").select("doc_a", "doc_b")
        else:
            to_verify = pairs.select("doc_a", "doc_b")
            certain = None
        # pinned: consumed by the bounded probe AND (over-threshold)
        # the distributed merge — never recomputed, never collected
        # wholesale
        verified_df = (verify_jaccard_pairs(
                           corpus, to_verify,
                           threshold_num=self.jaccard_num,
                           threshold_den=self.jaccard_den,
                           precomputed=verify_sh)
                       .filter("verified").select("doc_a", "doc_b"))
        if certain is not None:
            verified_df = verified_df.unionByName(certain)
        verified_df = verified_df.localCheckpoint(eager=True)
        # bounded EDGE probe (the same probe-else-distributed
        # discipline the member fetch uses): a batch fanning out
        # against a huge indexed neighborhood — the collapse guard
        # makes that near-dup-shaped, never exact-dup-shaped, but the
        # shape still exists — must not collect its edge list
        eprobe = (verified_df.limit(self.driver_merge_max_edges + 1)
                  .collect())
        edges_small = len(eprobe) <= self.driver_merge_max_edges
        batch_n = batch_docs.select(
            "doc_id", F.size(F.split("text", " ")).cast("long")
            .alias("n_tokens"))
        if committed:
            self._drain_index_writes()
            return {"batch_id": batch_id, "replay": True,
                    "n_verified_edges": (len(eprobe) if edges_small
                                         else verified_df.count())}

        if not edges_small:
            return self._merge_distributed_edges(
                spark, verified_df, batch_n, batch_id)

        edges = [(r["doc_a"], r["doc_b"]) for r in eprobe]
        edge_nodes = sorted({n for e in edges for n in e})
        # endpoint filters: literal In below the cutoff, broadcast
        # semi/anti-join above it (see isin_literal_max)
        if len(edge_nodes) > self.isin_literal_max:
            _en_df = spark.createDataFrame(
                [(n,) for n in edge_nodes], f"doc_id {self._id_t}")

            def _endpoints(df: DataFrame) -> DataFrame:
                return df.join(F.broadcast(_en_df), "doc_id", "semi")

            def _non_endpoints(df: DataFrame) -> DataFrame:
                return df.join(F.broadcast(_en_df), "doc_id", "anti")
        else:
            def _endpoints(df: DataFrame) -> DataFrame:
                return (df.filter(F.col("doc_id").isin(edge_nodes))
                        if edge_nodes else df.filter(F.lit(False)))

            def _non_endpoints(df: DataFrame) -> DataFrame:
                return (df.filter(~F.col("doc_id").isin(edge_nodes))
                        if edge_nodes else df)
        # current components of every edge endpoint (absent → itself);
        # edge_nodes is O(batch × LSH fan-out) — bounded by design
        cur = self._current_comps(spark, edge_nodes, batch_id)
        batch_tok = {r["doc_id"]: r["n_tokens"] for r in
                     _endpoints(batch_n).collect()} if edge_nodes else {}
        comps = {cur.get(n, n) for n in edge_nodes}
        members_df = self._members_df(spark, comps, batch_id)
        # bounded probe (the components.py discipline): the affected
        # components' membership is UNBOUNDED — a batch doc matching a
        # boilerplate mega-component must not collect it. A complete
        # probe (≤ threshold rows) merges on the driver in one job; a
        # truncated probe is DISCARDED and the merge runs distributed.
        probe = (members_df
                 .limit(self.driver_merge_max_members + 1).collect()
                 if members_df is not None else [])
        if len(probe) <= self.driver_merge_max_members:
            merge_path = "driver"
            members = {r["node"]: (r["component"], r["n_tokens"])
                       for r in probe}
            # union-find over affected members + this batch's edges
            parent: dict[int, int] = {}

            def find(x: int) -> int:
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:
                    parent[x], x = r, parent[x]
                return r

            tok: dict[int, int] = {}
            for n, (_, nt) in members.items():
                parent.setdefault(n, n)
                tok[n] = nt
            for n in edge_nodes:
                parent.setdefault(n, n)
                if n in batch_tok:
                    tok[n] = batch_tok[n]
            # nodes already sharing a stored component start connected
            by_comp: dict[int, int] = {}
            for n, (c, _) in members.items():
                if c in by_comp:
                    ra, rb = find(n), find(by_comp[c])
                    if ra != rb:
                        parent[ra] = rb
                else:
                    by_comp[c] = n
            for a, b in edges:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[ra] = rb
            comp_min: dict[int, int] = {}
            for n in parent:
                r = find(n)
                if r not in comp_min or n < comp_min[r]:
                    comp_min[r] = n
            new_label = {n: comp_min[find(n)] for n in parent}
            changed = [(n, new_label[n], tok[n])
                       for n in parent
                       if members.get(n, (None, None))[0] != new_label[n]]
            changed_df = spark.createDataFrame(
                changed, f"node {self._id_t}, component {self._id_t}, "
                         f"n_tokens long")
            n_relabeled = len(changed)
        else:
            merge_path = "distributed"
            # pin: the writes below replace the very tiers this plan
            # reads (the lsh_index read-then-overwrite discipline)
            members_df = members_df.localCheckpoint(eager=True)
            edge_df = spark.createDataFrame(
                edges, f"src {self._id_t}, dst {self._id_t}")
            # a stored component's members connect through its label
            # node (component ids are always a current member's id, so
            # member→label edges are node–node edges); components()
            # self-selects driver vs Pregel on its OWN bounded probe
            member_edges = (members_df
                            .filter(F.col("node") != F.col("component"))
                            .select(F.col("node").alias("src"),
                                    F.col("component").alias("dst")))
            labels_new = connected_components(
                edge_df.unionByName(member_edges))
            old = members_df.select(
                "node", F.col("component").alias("_old_c"))
            tok_all = (members_df.select("node", "n_tokens")
                       .unionByName(
                           _endpoints(batch_n)
                           .select(F.col("doc_id").alias("node"),
                                   "n_tokens"))
                       .groupBy("node")
                       .agg(F.max("n_tokens").alias("n_tokens")))
            changed_df = (labels_new
                          .join(old, "node", "left")
                          .filter(F.col("_old_c").isNull()
                                  | (F.col("_old_c")
                                     != F.col("component")))
                          .join(tok_all, "node")
                          .select("node", "component", "n_tokens")
                          .localCheckpoint(eager=True))
            n_relabeled = changed_df.count()

        # distributed singleton rows for the rest of the batch; the
        # edge-involved rows ride along from the merge's resolution
        singles = (_non_endpoints(batch_n)
                   .select(F.col("doc_id").alias("node"),
                           F.col("doc_id").alias("component"),
                           "n_tokens"))
        return self._commit_rows(spark, changed_df, singles, batch_id,
                                 n_verified_edges=len(edges),
                                 n_relabeled=n_relabeled,
                                 merge_path=merge_path)

    def _merge_distributed_edges(self, spark: SparkSession,
                                 verified_df: DataFrame,
                                 batch_n: DataFrame,
                                 batch_id: int | None) -> dict:
        """Over-threshold edge list: the merge runs with the edges as
        a DataFrame end to end — endpoints, affected components,
        membership, closure, relabel, and singles are all joins; the
        only collects are ≤num_buckets partition-id lists."""
        ends = (verified_df.select(F.col("doc_a").alias("node"))
                .unionByName(verified_df.select(F.col("doc_b")
                                                .alias("node")))
                .distinct().localCheckpoint(eager=True))
        nparts = {r[0] for r in
                  ends.select(self._id_part(F.col("node")).alias("p"))
                      .distinct().collect()}
        nm = self._read_parts(spark, self._node_map_path, NODE_PART,
                              nparts, batch_id)
        if nm is not None:
            cur_df = (self._latest(nm.join(ends, "node", "left_semi"))
                      .select("node", "component"))
        else:
            cur_df = spark.createDataFrame(
                [], f"node {self._id_t}, component {self._id_t}")
        comps_df = (ends.join(cur_df, "node", "left")
                    .select(F.coalesce("component", "node")
                            .alias("component"))
                    .distinct().localCheckpoint(eager=True))
        members_df = self._members_df_dist(spark, comps_df, batch_id)
        if members_df is None:
            members_df = spark.createDataFrame(
                [], f"node {self._id_t}, component {self._id_t}, "
                    f"n_tokens long")
        # pin: the writes below replace the very tiers this plan reads
        members_df = members_df.localCheckpoint(eager=True)
        edge_df = verified_df.select(F.col("doc_a").alias("src"),
                                     F.col("doc_b").alias("dst"))
        member_edges = (members_df
                        .filter(F.col("node") != F.col("component"))
                        .select(F.col("node").alias("src"),
                                F.col("component").alias("dst")))
        labels_new = connected_components(
            edge_df.unionByName(member_edges))
        old = members_df.select("node",
                                F.col("component").alias("_old_c"))
        tok_all = (members_df.select("node", "n_tokens")
                   .unionByName(
                       batch_n.join(ends.withColumnRenamed("node",
                                                           "doc_id"),
                                    "doc_id", "left_semi")
                       .select(F.col("doc_id").alias("node"),
                               "n_tokens"))
                   .groupBy("node")
                   .agg(F.max("n_tokens").alias("n_tokens")))
        changed_df = (labels_new
                      .join(old, "node", "left")
                      .filter(F.col("_old_c").isNull()
                              | (F.col("_old_c") != F.col("component")))
                      .join(tok_all, "node")
                      .select("node", "component", "n_tokens")
                      .localCheckpoint(eager=True))
        singles = (batch_n
                   .join(ends.withColumnRenamed("node", "doc_id"),
                         "doc_id", "left_anti")
                   .select(F.col("doc_id").alias("node"),
                           F.col("doc_id").alias("component"),
                           "n_tokens"))
        return self._commit_rows(spark, changed_df, singles, batch_id,
                                 n_verified_edges=verified_df.count(),
                                 n_relabeled=changed_df.count(),
                                 merge_path="distributed-edges")

    def _commit_rows(self, spark: SparkSession, changed_df: DataFrame,
                     singles: DataFrame, batch_id: int | None, *,
                     n_verified_edges: int, n_relabeled: int,
                     merge_path: str) -> dict:
        """Write one batch's state rows (merge resolution + batch
        singletons) to both tables at this batch's tier, touch the
        commit marker, compact — the shared tail of every merge
        path."""
        tier = (self._next_tier(spark) if batch_id is None
                else int(batch_id))
        rows = singles.unionByName(changed_df).withColumn(
            BATCH_COL, F.lit(tier))
        # bin-pack: one file per touched partition per tier (the
        # lsh_index append discipline — unpacked writes emit up to
        # shuffle-partitions files per partition per batch and trip
        # compaction every batch)
        labels = (rows.withColumn(COMP_PART,
                                  self._id_part(F.col("component")))
                  .repartition(self.num_buckets, F.col(COMP_PART)))
        nmap = (rows.withColumn(NODE_PART,
                                self._id_part(F.col("node")))
                .repartition(self.num_buckets, F.col(NODE_PART)))
        from .lsh_index import run_concurrent
        if batch_id is None:
            run_concurrent(
                lambda: (labels.write.partitionBy(COMP_PART, BATCH_COL)
                         .mode("append").parquet(self._labels_path)),
                lambda: (nmap.write.partitionBy(NODE_PART, BATCH_COL)
                         .mode("append").parquet(self._node_map_path)))
            # unsequenced stores have no marker; the contract is
            # "durable when process_batch returns" — drain here
            self._drain_index_writes()
        else:
            run_concurrent(
                lambda: self.index._overwrite_dynamic(
                    spark, labels, [COMP_PART, BATCH_COL],
                    self._labels_path),
                lambda: self.index._overwrite_dynamic(
                    spark, nmap, [NODE_PART, BATCH_COL],
                    self._node_map_path))
            # the pipelined index writes (and the index marker) must
            # be durable BEFORE the state marker: a state commit
            # implies the index batch committed
            self._drain_index_writes()
            _fs_touch(spark, os.path.join(self._manifest_path,
                                          str(batch_id)))
        self._compact(spark, self._labels_path, COMP_PART)
        self._compact(spark, self._node_map_path, NODE_PART)
        return {"batch_id": batch_id, "replay": False,
                "n_verified_edges": n_verified_edges,
                "n_relabeled": n_relabeled,
                "merge_path": merge_path}

    # -- erasure ------------------------------------------------------

    def purge_docs(self, spark: SparkSession, doc_ids: list[int],
                   purge_batch_id: int | None = None) -> int:
        """Right-to-be-forgotten across the dedup state: remove the
        victims from the LSH index (bucket-pruned,
        ``StreamingLshIndex.purge_docs``) AND from the group state. A
        victim that was its component's LABEL (the min id) or its
        KEEPER (the longest doc) forces a relabel/re-pick of the
        SURVIVING members — all resolved from partition-pruned reads
        of the victims' components only. Component topology is NOT
        re-split (erasing a bridge doc keeps the survivors grouped):
        groups record near-dup verdicts already made, and erasure
        removes a member, not history. On a batch_id-sequenced store
        ``purge_batch_id`` is REQUIRED and must be the next unused id
        in the same sequence (a tier above the sequence would outrank
        every later ingest merge forever — a survivor could never be
        merged into a new component again); unsequenced stores draw the
        tier from the shared ``_seq`` counter, keeping purge and later
        ingest mutually ordered. Returns rows rewritten.

        List-based entry for erasure endpoints (victim sets small and
        driver-resident by nature); the per-epoch CDC maintenance
        paths use :meth:`purge_docs_df` — same semantics, victims stay
        a distributed frame."""
        if not doc_ids:
            return 0
        self._resolve_buckets(spark)
        ids_df = spark.createDataFrame(
            [(v,) for v in sorted(set(doc_ids))], f"doc_id {self._id_t}")
        return self.purge_docs_df(spark, ids_df,
                                  purge_batch_id=purge_batch_id,
                                  broadcast_victims=True)

    def _victim_part_expr(self, spark: SparkSession,
                          col, victims_is_string: bool):
        """The exact partition expression :meth:`purge_docs_df` prunes
        its node_map read with, over a victim ``doc_id`` column —
        single source of truth, exposed so the per-epoch gate can fold
        the victim-partition collect into its existing single-row
        aggregate (``collect_set`` of this expression) instead of
        paying a separate job (r13 §2.10). Returns ``(expr,
        forwardable)``; ``forwardable`` means the index docmap prunes
        with the SAME expression (meta pinned), so one set serves both
        layers. Id typing mirrors purge_docs_df exactly: the store's
        pinned kind wins once the meta exists, else the victims' own
        string-ness (a metaless store has nothing to prune — the
        expression just must not ANSI-abort)."""
        self._resolve_buckets(spark)
        meta_pinned = (_fs_read_text(spark, self.index._meta_path)
                       is not None)
        id_t = (self._id_t if meta_pinned
                else ("string" if victims_is_string else "long"))
        if id_t == "string":
            expr = F.pmod(F.xxhash64(col),
                          F.lit(self.num_buckets)).cast("int")
        else:
            expr = self._id_part(col)
        return expr, meta_pinned

    def purge_docs_df(self, spark: SparkSession, victims: DataFrame,
                      purge_batch_id: int | None = None,
                      broadcast_victims: bool = False,
                      _pinned: bool = False,
                      _victim_parts: set | None = None) -> int:
        """DataFrame-victims form of :meth:`purge_docs` (the
        ``purge_vectors_df`` discipline, VERDICT r11 #1): the per-epoch
        CDC hot paths — ``_maintain_dedup_groups`` purging every
        batch-touched key, ``_maintain_semantic_groups`` purging its
        update/tombstone set — must never materialize a batch-sized id
        list on the driver. ``victims`` is any frame with a castable
        ``doc_id`` column; claim resolution, survivor re-election and
        the partition rewrites are all joins, and the only driver-side
        artifacts are the ≤num_buckets touched partition-id lists."""
        self._resolve_buckets(spark)
        self._check_mode(spark, purge_batch_id, "purge_docs")
        hint = F.broadcast if broadcast_victims else (lambda df: df)
        # id typing: the store's PINNED kind wins once the meta exists;
        # an unbuilt store has no kind yet, so adopt the victims' own
        # string-ness — a first-epoch composite-key purge must not
        # ANSI-abort casting 'a\x1fb' to the long default (the value-
        # robust _id_parts_of discipline; the purge is a no-op on an
        # unbuilt store either way)
        meta_pinned = (_fs_read_text(spark, self.index._meta_path)
                       is not None)
        if meta_pinned:
            id_t = self._id_t
        else:
            from pyspark.sql import types as T
            id_t = ("string"
                    if isinstance(victims.schema["doc_id"].dataType,
                                  T.StringType) else "long")
        # pin: every pruning join below reads the very directories the
        # rewrites then replace — the victim set must not recompute
        # from a plan over mutated state. ``_pinned`` (internal, the
        # per-epoch hot callers) vouches the frame is ALREADY distinct
        # and checkpoint-derived — skip the re-pin job (foreachBatch
        # fixed job cost; duplicates would be harmless anyway — every
        # consumer is a semi/anti join — the pin is about recompute)
        ids_df = victims.select(
            F.col("doc_id").cast(id_t).alias("node"))
        if not _pinned:
            ids_df = ids_df.distinct().localCheckpoint(eager=True)
        # the ≤num_buckets partition-id collect doubles as the
        # emptiness gate (no separate isEmpty job — foreachBatch fixed
        # job cost dominates at micro-batch size). The partition
        # expression follows id_t, not the resolved kind: on an
        # UNBUILT store the integral default's `pmod(node, N)` would
        # ANSI-abort casting a string key (any scheme is fine there —
        # no partitions exist to prune — it just must not crash).
        # ``_victim_parts`` (internal, the per-epoch gate) carries the
        # identical set pre-collected by folding _victim_part_expr
        # into the gate's single-row aggregate — skip the job.
        if _victim_parts is not None:
            vparts = set(_victim_parts)
        else:
            if id_t == "string":
                _vp = F.pmod(F.xxhash64(F.col("node")),
                             F.lit(self.num_buckets)).cast("int")
            else:
                _vp = self._id_part(F.col("node"))
            vparts = {r[0] for r in
                      ids_df.select(_vp.alias("p")).distinct().collect()}
        if not vparts:
            return 0
        self.index.purge_docs_df(
            spark, ids_df.select(F.col("node").alias("doc_id")),
            broadcast_victims=broadcast_victims, _pinned=True,
            # the docmap prunes with the same expression iff the meta
            # pinned the kind (then id_t == the index kind); a
            # metaless index short-circuits before pruning anyway
            _victim_parts=(vparts if meta_pinned else None))
        if not _fs_exists(spark, self._node_map_path):
            return 0
        # ALL components the victims ever claimed (every historical
        # claim of a node lives in its ONE node_map partition, so this
        # is a pruned read) — the complete set of labels partitions
        # holding any victim row, current or stale
        vmap = self._read_parts(spark, self._node_map_path, NODE_PART,
                                vparts, None)
        if vmap is None:
            return 0
        claims = (vmap.join(hint(ids_df), "node", "left_semi")
                  .select("node", "component", BATCH_COL)
                  .localCheckpoint(eager=True))
        # same fusion: the claimed-component partition ids gate
        # emptiness (no victim ever claimed ⇔ no claimed partitions)
        claimed_cparts = {r[0] for r in
                          claims.select(
                              self._id_part(F.col("component"))
                              .alias("p")).distinct().collect()}
        if not claimed_cparts:
            return 0
        # current comps decide which components lose a member now; the
        # survivor relabel is fully DISTRIBUTED (affected components
        # may be arbitrarily large — same bound as process_batch)
        comps_df = (self._latest(claims)
                    .select("component").distinct()
                    .localCheckpoint(eager=True))
        members_df = self._members_df_dist(spark, comps_df, None)
        if members_df is None:
            members_df = spark.createDataFrame(
                [], f"node {self._id_t}, component {self._id_t}, "
                    f"n_tokens long")
        surv = (members_df.join(hint(ids_df), "node", "left_anti")
                .localCheckpoint(eager=True))
        # components whose min surviving member changed get relabeled
        new_rows = (surv.join(
                        surv.groupBy("component")
                            .agg(F.min("node").alias("_new_c")),
                        "component")
                    .filter(F.col("_new_c") != F.col("component"))
                    .select("node", F.col("_new_c").alias("component"),
                            "n_tokens")
                    .localCheckpoint(eager=True))
        # relabel rows must OUTRANK every existing claim in _latest —
        # and stay UNDER every future ingest tier (so later merges can
        # supersede them): caller-sequenced in exactly-once mode, the
        # shared _seq counter otherwise
        tier = (int(purge_batch_id) if purge_batch_id is not None
                else self._next_tier(spark))
        # ONE aggregate serves both relabel partition sets (two
        # collect_sets over the same checkpointed frame — was two
        # separate distinct-collect jobs; foreachBatch fixed job cost)
        _rp = new_rows.agg(
            F.collect_set(self._id_part(F.col("component")))
            .alias("pc"),
            F.collect_set(self._id_part(F.col("node")))
            .alias("pn")).collect()[0]
        relabel_cparts = set(_rp["pc"])
        relabel_nparts = set(_rp["pn"])
        n_rewritten = 0
        for base, part_col, key in (
                (self._labels_path, COMP_PART, "component"),
                (self._node_map_path, NODE_PART, "node")):
            if key == "component":
                touched = claimed_cparts | relabel_cparts
            else:
                touched = vparts | relabel_nparts
            paths = [p for p in
                     (os.path.join(base, f"{part_col}={v}")
                      for v in sorted(touched))
                     if _fs_exists(spark, p)]
            if not paths:
                continue
            kept = (spark.read.option("basePath", base).parquet(*paths)
                    .join(hint(ids_df), "node", "left_anti"))
            add = (new_rows.withColumn(BATCH_COL, F.lit(tier))
                   .withColumn(part_col, self._id_part(F.col(key))))
            out = (kept.unionByName(add)
                   .repartition(F.col(part_col))
                   .localCheckpoint(eager=True))
            kept_parts = {r[0] for r in
                          out.select(part_col).distinct().collect()}
            if kept_parts:
                self.index._overwrite_dynamic(
                    spark, out, [part_col, BATCH_COL], base)
            for p in paths:
                v = int(p.rsplit("=", 1)[1])
                if v not in kept_parts:
                    _fs_delete(spark, p)
                    continue
                # tier dirs the overwrite did not re-emit would keep
                # their (victim-bearing) files — drop them
                emitted = {r[0] for r in
                           out.filter(F.col(part_col) == v)
                           .select(BATCH_COL).distinct().collect()}
                for t in _fs_list_names(spark, p):
                    if (t.startswith(f"{BATCH_COL}=")
                            and int(t.split("=", 1)[1]) not in emitted):
                        _fs_delete(spark, os.path.join(p, t))
            n_rewritten += out.count()
        return n_rewritten

    # -- reads -------------------------------------------------------

    def purge_between_runs(self, spark: SparkSession,
                           doc_ids: list[int]) -> int:
        """Erasure convenience for ``"facade"`` stores
        (:func:`dedup_groups_sync`: ingest on odd tiers, even slots
        free): derives the next free EVEN tier —
        ``max(manifest) + 1`` — so the purge outranks every existing
        claim while the next run's first ingest epoch (a higher odd
        tier) still outranks the purge's relabels, records the
        consumed tier in the manifest, and purges. ONE erasure slot
        exists per ingest gap: a second call before any new ingest
        would need the next even tier, which can collide with — or
        permanently outrank — a future epoch's tier, so it raises
        (batch the doc_ids into one call, or run a sync in between).
        Must not race a concurrently-running sync of the same store.

        ``"cdc3"`` stores (bounded_sync side state, round-9 scheme:
        purge 3e / ingest 3e+1 / erasure 3e+2) get the same one slot
        per gap at ``3e+2`` — it outranks everything the last epoch
        wrote while the NEXT epoch's inline purge (3e+3) outranks it.
        Requires the last manifest slot to be a committed INGEST: a
        pending epoch (purge marker without its ingest) will REPLAY at
        a lower tier on resume and would re-add rows the erasure just
        removed, so that state refuses. Legacy ``"cdc"`` stores
        (2e/2e+1, no free residue) are still refused: erase via
        tombstone events, the CDC-native route."""
        if not _fs_exists(spark, self._manifest_path):
            raise ValueError(
                "purge_between_runs: no committed ingest epochs — use "
                "purge_docs directly on an unsequenced store")
        mode = _fs_read_text(spark, self._tier_mode_path)
        if mode not in ("facade", "cdc3"):
            raise ValueError(
                f"purge_between_runs: store tier mode is {mode!r} — "
                "a legacy 'cdc' store has no free tier residue; erase "
                "via tombstone events")
        tiers = [int(x) for x in
                 _fs_list_names(spark, self._manifest_path)]
        top = max(tiers)
        if mode == "facade":
            if top % 2 == 0:
                raise ValueError(
                    "purge_between_runs: the last manifest slot is "
                    "already a purge tier — one erasure slot per "
                    "ingest gap (batch doc_ids into one call, or run "
                    "a sync between erasures)")
            tier = top + 1
        else:
            if top % 3 == 2:
                raise ValueError(
                    "purge_between_runs: the last manifest slot is "
                    "already this gap's erasure tier — one erasure "
                    "slot per ingest gap (batch doc_ids into one "
                    "call, or run a sync between erasures)")
            if top % 3 == 0:
                raise ValueError(
                    "purge_between_runs: the last epoch's ingest is "
                    "pending — its replay would re-add rows at a "
                    "lower tier than this erasure; resume the sync "
                    "first")
            tier = top + 1
        n = self.purge_docs(spark, doc_ids, purge_batch_id=tier)
        _fs_touch(spark, os.path.join(self._manifest_path, str(tier)))
        return n

    def read_group_of(self, spark: SparkSession,
                      doc_ids: list[int]) -> DataFrame:
        """Point lookup: (doc_id, component, keep_doc_id,
        keep_n_tokens, cluster_size) for the given docs — the
        production query shape ("is this doc a dup? who's the
        keeper?") answered from PARTITION-PRUNED reads only: the docs'
        claims from their node_map partitions, then the members of
        exactly those components from the labels partitions
        (``_members_df``). ``read_groups`` scans the whole state;
        this touches O(queried docs + their components' footprint)
        whatever the corpus size. Docs with no claim (never ingested,
        or erased) are absent from the result."""
        exists = _fs_exists(spark, self._node_map_path)
        if exists:
            # resolve the store's pinned id kind BEFORE building the
            # result schema: a fresh handle over an existing
            # string-keyed store must return empty results typed
            # `doc_id string`, not the pre-resolution long default —
            # callers union/join the empty frame
            self._resolve_buckets(spark)
        out_schema = (f"doc_id {self._id_t}, component {self._id_t}, "
                      f"keep_doc_id {self._id_t}, "
                      f"keep_n_tokens long, cluster_size long")
        if not doc_ids or not exists:
            return spark.createDataFrame([], out_schema)
        cur = self._current_comps(spark, sorted(set(doc_ids)), None)
        if not cur:
            return spark.createDataFrame([], out_schema)
        members = self._members_df(spark, set(cur.values()), None)
        if members is None:
            return spark.createDataFrame([], out_schema)
        from pyspark.sql import Window
        w = Window.partitionBy("component")
        picked = (members
                  .withColumn("cluster_size", F.count(F.lit(1)).over(w))
                  .withColumn("_rn", F.row_number().over(
                      w.orderBy(F.col("n_tokens").desc(),
                                F.col("node")))))
        keepers = (picked.filter(F.col("_rn") == 1)
                   .select("component",
                           F.col("node").alias("keep_doc_id"),
                           F.col("n_tokens").alias("keep_n_tokens"),
                           F.col("cluster_size").cast("long")
                           .alias("cluster_size")))
        asked = spark.createDataFrame(
            [(d, c) for d, c in cur.items()],
            f"doc_id {self._id_t}, component {self._id_t}")
        return asked.join(F.broadcast(keepers), "component").select(
            "doc_id", "component", "keep_doc_id", "keep_n_tokens",
            "cluster_size")

    def read_groups(self, spark: SparkSession) -> DataFrame:
        """Current keep-list: (component, keep_doc_id, keep_n_tokens,
        cluster_size) — the same shape (and, by the parity contract,
        the same rows) as batch ``hybrid_dedup_keep``."""
        from ..fs import fs_has_children as _fs_has_children
        from pyspark.sql import Window
        if (not _fs_exists(spark, self._node_map_path)
                or not _fs_has_children(spark, self._node_map_path,
                                        f"{NODE_PART}=")):
            # the index (and its id-kind meta) commits before the
            # node_map inside an epoch — adopt the pinned kind if it
            # exists so the empty frame is typed like the store.
            # A node_map whose every partition was purged (only
            # _SUCCESS left) reads as empty too — schema inference
            # over a data-less dir would crash (ADVICE r11 class)
            self._resolve_buckets(spark)
            return spark.createDataFrame(
                [], f"component {self._id_t}, "
                    f"keep_doc_id {self._id_t}, "
                    f"keep_n_tokens long, cluster_size long")
        df = (spark.read.option("basePath", self._node_map_path)
              .parquet(self._node_map_path))
        latest = self._latest(df)
        w = Window.partitionBy("component")
        picked = (latest
                  .withColumn("csize", F.count(F.lit(1)).over(w))
                  .withColumn("rn", F.row_number().over(
                      w.orderBy(F.col("n_tokens").desc(),
                                F.col("node")))))
        return (picked.filter(F.col("rn") == 1)
                .select("component",
                        F.col("node").alias("keep_doc_id"),
                        F.col("n_tokens").alias("keep_n_tokens"),
                        F.col("csize").cast("long")
                        .alias("cluster_size")))

    # -- compaction ---------------------------------------------------

    def _compact(self, spark: SparkSession, base: str,
                 part_col: str) -> int:
        """Fold every over-threshold partition's tiers into ONE
        ``_batch=-1`` file holding only the latest claim per node —
        stale rows from moved nodes are dropped here (node_map's
        latest is authoritative; for the labels table a fold keeps the
        latest row per node WITHIN the partition, which is exactly its
        current row when the node still lives there and a droppable
        stale row otherwise — checked against node_map at read time
        either way). One Spark job for all due partitions. A single
        ``getContentSummary`` round-trip gates the per-partition
        listings (one py4j call each × up to num_buckets dirs × two
        tables × every batch otherwise — the docmap-gate lesson)."""
        from ..fs import fs_total_file_count as _fs_total
        names = [name for name in _fs_list_names(spark, base)
                 if name.startswith(f"{part_col}=")]
        if not names or (_fs_total(spark, base)
                         <= self.compact_file_threshold * len(names)):
            return 0
        due = [name for name in names
               if _fs_file_count(spark, os.path.join(base, name),
                                 recursive=True)
               > self.compact_file_threshold]
        if not due:
            return 0
        paths = [os.path.join(base, name) for name in due]
        df = (spark.read.option("basePath", base).parquet(*paths))
        folded = (self._latest(df)
                  .withColumn(BATCH_COL, F.lit(COMPACTED_TIER))
                  .repartition(F.col(part_col))
                  .localCheckpoint(eager=True))
        self.index._overwrite_dynamic(spark, folded,
                                      [part_col, BATCH_COL], base)
        for name in due:
            pdir = os.path.join(base, name)
            for t in _fs_list_names(spark, pdir):
                if (t.startswith(f"{BATCH_COL}=")
                        and t != f"{BATCH_COL}={COMPACTED_TIER}"):
                    _fs_delete(spark, os.path.join(pdir, t))
        return len(due)

    def vacuum(self, spark: SparkSession) -> int:
        """Drop CROSS-PARTITION stale labels rows. ``_compact`` folds a
        partition's tiers to the latest claim per node WITHIN that
        partition, but a node relabeled across partitions leaves one
        row per former component partition — read-time node_map checks
        keep results correct, at bounded-but-growing read cost on
        churn-heavy stores. One maintenance pass: resolve every node's
        current claim from node_map (authoritative — a node's claims
        all live in its one node_map partition), find the labels
        partitions holding any row that is NOT the current claim (or a
        superseded tier of it), and rewrite ONLY those partitions from
        the current claims; untouched partitions keep their exact
        bytes. A crash mid-pass leaves duplicate rows in rewritten
        partitions — benign, same as the ``_compact`` contract (the
        claim check and ``distinct`` absorb them). Returns the number
        of partitions rewritten."""
        from ..fs import fs_has_children as _fs_has_children
        if (not _fs_exists(spark, self._labels_path)
                or not _fs_exists(spark, self._node_map_path)
                or not _fs_has_children(spark, self._labels_path,
                                        f"{COMP_PART}=")
                or not _fs_has_children(spark, self._node_map_path,
                                        f"{NODE_PART}=")):
            return 0
        self._resolve_buckets(spark)
        current = (self._latest(
                       spark.read.option("basePath", self._node_map_path)
                       .parquet(self._node_map_path))
                   .select("node", "component", "n_tokens")
                   .localCheckpoint(eager=True))
        labels = (spark.read.option("basePath", self._labels_path)
                  .parquet(self._labels_path))
        stale_parts = (labels
                       .join(current.select("node", "component"),
                             ["node", "component"], "left_anti")
                       .select(COMP_PART))
        multi_tier = (labels.groupBy(COMP_PART, "node", "component")
                      .agg(F.count(F.lit(1)).alias("_n"))
                      .filter(F.col("_n") > 1).select(COMP_PART))
        due = sorted({r[0] for r in
                      stale_parts.unionByName(multi_tier)
                      .distinct().collect()})
        if not due:
            return 0
        rebuilt = (current
                   .withColumn(COMP_PART,
                               self._id_part(F.col("component")))
                   .filter(F.col(COMP_PART).isin(due))
                   .withColumn(BATCH_COL, F.lit(COMPACTED_TIER))
                   .repartition(F.col(COMP_PART))
                   .localCheckpoint(eager=True))
        live_parts = {r[0] for r in
                      rebuilt.select(COMP_PART).distinct().collect()}
        if live_parts:
            self.index._overwrite_dynamic(
                spark, rebuilt, [COMP_PART, BATCH_COL],
                self._labels_path)
        for v in due:
            pdir = os.path.join(self._labels_path, f"{COMP_PART}={v}")
            if v not in live_parts:
                _fs_delete(spark, pdir)
                continue
            for t in _fs_list_names(spark, pdir):
                if (t.startswith(f"{BATCH_COL}=")
                        and t != f"{BATCH_COL}={COMPACTED_TIER}"):
                    _fs_delete(spark, os.path.join(pdir, t))
        return len(due)


def dedup_groups_sync(spark: SparkSession, docs_dir: str,
                      state_path: str, checkpoint_path: str, *,
                      num_buckets: int = 64,
                      max_files_per_trigger: int | None = None,
                      max_duration_s: float = 300.0
                      ) -> StreamingDedupGroups:
    """Structured-Streaming front end for :class:`StreamingDedupGroups`
    (the `bounded_sync` convention applied to the dedup surface): drain
    a growing documents directory under ``Trigger.AvailableNow``, one
    :meth:`process_batch` per micro-batch with the epoch id mapped to
    the exactly-once tier ``2·epoch + 1`` — even slots stay free so
    :meth:`StreamingDedupGroups.purge_between_runs` always has a tier
    that outranks existing claims without colliding with the next
    run's first epoch. Re-running with the same checkpoint
    resumes — already-committed epochs replay as no-ops, a torn epoch
    is replaced (the class-level crash contract). The verification
    corpus is the directory itself re-resolved per batch: it always
    covers batch ∪ indexed docs (pairs only ever reference those), and
    the verify stage reads it pruned to pair-involved docs."""
    st = StreamingDedupGroups(state_path, num_buckets=num_buckets)
    st._set_tier_mode(spark, "facade")
    schema = spark.read.parquet(docs_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               int(max_files_per_trigger))
    stream = reader.parquet(docs_dir).select("doc_id", "text")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        corpus = (spark.read.schema(schema).parquet(docs_dir)
                  .select("doc_id", "text"))
        st.process_batch(spark, batch_df, corpus=corpus,
                         batch_id=2 * int(batch_id) + 1)

    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", checkpoint_path)
         .trigger(availableNow=True).start())
    q.awaitTermination(max_duration_s)
    if q.isActive:
        q.stop()
        q.awaitTermination()
    return st
