"""Bucketed-table layout: pre-shuffle data ONCE so every later join or
aggregation on the bucket key is shuffle-free.

The reference re-reads its MySQL tables for every run (reference
src/Anonymizer.php:298-317 — no layout control at all). At 100 TB the
dominant cost of the synchro-remap join and of repeated fact-fact joins is
the shuffle; Spark's bucketing (hive-style `CLUSTERED BY ... INTO n
BUCKETS`) persists the partitioning in the table metadata so Catalyst plans
both sides of a same-key join without an Exchange — the two scans are
already co-located.

Rules of thumb encoded here:
  - bucket count should be chosen once per table family (both join sides
    MUST have compatible bucket counts — equal, or one a multiple of the
    other with `spark.sql.bucketing.coalesceBucketsInJoin.enabled`);
  - always `sortBy` the bucket key so the sort-merge join also skips the
    sort;
  - bucketed writes require `saveAsTable` (the bucket spec lives in the
    catalog, not in parquet footers); `option("path", ...)` keeps the data
    external so the warehouse is just metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    path: str | None = None,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (+ sorted) table named ``table``."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols).sortBy(
        *(sort_cols or bucket_cols)
    )
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)

