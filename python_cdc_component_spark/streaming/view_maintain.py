"""Streaming aggregate-view maintenance: the micro-batch twin of
``operators/aggmv.py``.

The batch form maintains a grouped (count, sum) view of the compacted
current state from one delta. In streaming, the same identity runs once
per ``foreachBatch``: before the batch merges into the keyed state,
retract the touched keys' OLD contribution; after the merge, add their
NEW contribution. The stored view is updated in place — at no point is
the full state re-aggregated, so per-batch view cost is proportional to
the batch's touched keys plus the (group-keyed, tiny) view itself.

Exactness across an unbounded batch sequence: the stored view keeps the
measure as ``decimal(18,6)`` — persisting the double projection instead
would re-enter float territory on every read-modify-write and drift off
the full-recompute answer batch by batch. The double only appears in
the read-side projection (``read_view``).

Eager materialization: the OLD contribution and the stored view are
read from the very files the update is about to overwrite, and Spark
reads are lazy — ``localCheckpoint(eager=True)`` pins both BEFORE the
state merge / view overwrite runs (both frames are touched-keys- and
group-count-sized, so pinning is control-plane cost).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fs import fs_exists as _fs_exists
from ..model.envelope import SYSTEM_COLUMNS as SC
from ..operators.aggmv import DEC, merge_contributions, signed_contribution
from ..sinks.merge import (BUCKET_COL, MergeCompactor, _noop_write,
                           _observed_buckets)


@dataclass
class StreamingAggView:
    """Grouped (count, decimal-sum) view over a ``MergeCompactor``'s
    compacted state, maintained incrementally per micro-batch."""

    view_path: str
    pk: list[str]
    group_keys: list[str]
    measure: str

    def _state_live(self, spark: SparkSession, compactor: MergeCompactor,
                    buckets: list[int] | None = None) -> DataFrame:
        """Live (non-deleted) state rows; with ``buckets``, only the
        named hash buckets are read — a PARTITION filter on the bucketed
        store, so per-batch state I/O is proportional to the batch's
        touched buckets, never the full table (the same pruning
        ``MergeCompactor.merge`` itself uses). This is what makes the
        retract/add terms delta-priced at scale: without key-pruned
        reads the semi-join would scan all of state and the maintained
        view would only tie a full re-aggregate, not beat it."""
        reader = spark.read.option("mergeSchema", "true")
        if buckets is None:
            df = reader.parquet(compactor.state_path)
        else:
            _, df = compactor.read_buckets(spark, buckets)
            if df is None:
                # none of the touched buckets materialized yet (all-new
                # keys): schema-correct empty frame
                df = reader.parquet(compactor.state_path).limit(0)
        return df.drop(BUCKET_COL).filter(~F.col(SC.deleted))

    def update(self, spark: SparkSession, compactor: MergeCompactor,
               batch_df: DataFrame) -> None:
        """Process one micro-batch: retract old touched contribution,
        merge the batch into state, add new touched contribution,
        rewrite the view. Call INSTEAD of ``compactor.merge`` from
        ``foreachBatch`` (it merges internally, between the two reads)."""
        batch_df = batch_df.persist()
        try:
            touched = batch_df.select(*self.pk).distinct()
            # the store's N, not the caller's: bucket under its layout;
            # one job observes the touched buckets and fills the cache
            compactor._resolve_buckets(spark)
            tb = _observed_buckets(
                batch_df.withColumn(BUCKET_COL, compactor._bucket()),
                _noop_write)
            parts: list[DataFrame] = []
            if _fs_exists(spark, self.view_path):
                parts.append(
                    spark.read.parquet(self.view_path)
                    .select(*self.group_keys, "_n", "_s")
                    .localCheckpoint(eager=True))
            if _fs_exists(spark, compactor.state_path):
                old_t = (self._state_live(spark, compactor, tb)
                         .join(F.broadcast(touched), self.pk, "semi"))
                parts.append(
                    signed_contribution(old_t, self.group_keys,
                                        self.measure, -1)
                    .localCheckpoint(eager=True))
            compactor.merge(spark, batch_df)
            new_t = (self._state_live(spark, compactor, tb)
                     .join(F.broadcast(touched), self.pk, "semi"))
            parts.append(signed_contribution(new_t, self.group_keys,
                                             self.measure, +1))
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            view = (u.groupBy(*self.group_keys)
                     .agg(F.sum("_n").cast("long").alias("_n"),
                          F.sum("_s").cast(DEC).alias("_s"))
                     .filter(F.col("_n") > 0)
                     .localCheckpoint(eager=True))
            view.write.mode("overwrite").parquet(self.view_path)
        finally:
            batch_df.unpersist()

    def read_view(self, spark: SparkSession,
                  count_alias: str = "n_rows",
                  sum_alias: str = "sum_value") -> DataFrame:
        return (spark.read.parquet(self.view_path)
                .select(*self.group_keys,
                        F.col("_n").alias(count_alias),
                        F.col("_s").cast("double").alias(sum_alias)))

    def recompute(self, spark: SparkSession,
                  compactor: MergeCompactor) -> DataFrame:
        """Full recompute from the compacted state — the invariant the
        maintained view must equal after every batch (test surface)."""
        return merge_contributions(
            [signed_contribution(
                self._state_live(spark, compactor, buckets=None),
                self.group_keys, self.measure, +1)],
            self.group_keys)
