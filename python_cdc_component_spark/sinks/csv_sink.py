"""CSV / parquet table sinks (K1, K2).

Parity targets:
- K1 headerless CSV export: ``COPY (SELECT cols FROM t) TO 'path'
  (HEADER false, DELIMITER ',')`` (reference ``staging.py:188-201``);
- K2 sliced CSV: one slice per chunk, 500 MB target slices via
  ``kbc_slicer`` (``staging.py:266-282,325-340``) — Spark slices
  naturally: one file per partition, sized with a pre-write
  repartition by target bytes.

NULLs are written as the ``KBC__NULL`` sentinel so they round-trip
through the S7 reader exactly like the reference staging format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sources.csv import NULL_SENTINEL

TARGET_SLICE_BYTES = 500 * 1024 * 1024  # reference kbc_slicer --bytes-per-slice


def _estimate_partitions(df: DataFrame, target_bytes: int) -> int | None:
    """Pick an output partition count from the plan's size estimate so each
    CSV slice lands near the target size (AQE refines at runtime)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        size = int(stats.sizeInBytes())
        if size <= 0 or size > 1 << 60:   # unknown → let AQE decide
            return None
        return max(1, min(10000, size // target_bytes + 1))
    except Exception:
        return None


def write_csv(df: DataFrame, path: str, columns: list[str] | None = None,
              header: bool = False, delimiter: str = ",",
              target_slice_bytes: int = TARGET_SLICE_BYTES,
              mode: str = "overwrite",
              null_value: str = NULL_SENTINEL,
              options: dict | None = None) -> None:
    """K1/K2: headerless sliced CSV.

    ``null_value`` defaults to the staging sentinel (lossless S7
    round-trip); the reference's FINAL egress writes NULLs as empty
    fields (see the ``schema-drift-chained`` expected CSVs) — pass
    ``null_value=""`` for that byte format.  ``options`` passes extra
    writer options through (e.g. ``escape='"'`` for RFC-4180
    quote-doubling, ``timestampFormat``/``timestampNTZFormat`` for the
    reference's temporal egress formats)."""
    if columns:
        df = df.select(*columns)
    # No partition-count probe guards the coalesce: a shuffle-free
    # coalesce(n) already yields min(n, partitions), while reading
    # df.rdd.getNumPartitions() under AQE materialises the shuffle map
    # stage in a job of its own that the write then runs again.
    # coalesce(n) is narrow, so it also pulls everything above the last
    # exchange into n tasks: over a DEDUPE plan, the window's Sort and
    # Window run in n reduce tasks (one, for any table under a slice).
    # It stays: splitting the write from the window needs a shuffle, a
    # third Spark job per sync, and letting AQE size the slices writes
    # one file per coalesced partition, more than min(n, partitions).
    # On snapshot_compact (4-core VM, seed 7, 4 interleaved pairs) AQE
    # sizing took sync_s from 0.635 to 0.587 s (median) and wrote 2
    # files instead of 1.
    n = _estimate_partitions(df, target_slice_bytes)
    if n is not None:
        df = df.coalesce(n)
    writer = (df.write.mode(mode)
              .option("header", str(header).lower())
              .option("sep", delimiter)
              .option("nullValue", null_value)
              # empty string written quoted so the reader keeps ''
              # distinct from NULL (which is the sentinel), matching the
              # reference staging CSVs
              .option("emptyValue", '""'))
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    writer.csv(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None,
                  mode: str = "overwrite") -> None:
    """Columnar sink for at-rest data (the 100 TB path: partition by the
    routing/table column so downstream reads prune)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
