"""Scalable deterministic row numbering.

The reference's ``#row#`` is a 0-based counter over SELECT result order —
non-deterministic because no ORDER BY is emitted (reference
src/Anonymizer.php:166, 179, 310). We define it over primary-key ascending
order (deterministic, oracle-hashable; SURVEY §4.2 item 2).

A naive ``row_number().over(Window.orderBy(*pk))`` collapses to ONE
partition — a non-starter at 100 TB. Instead:

  1. range-repartition by the ordering key (parallel, ordered partitions),
  2. per-partition local row_number (parallel — window is keyed by
     spark_partition_id),
  3. per-partition counts -> cumulative offsets (tiny DF, one window over
     num_partitions rows), broadcast-joined back.

Total cost: one range shuffle + one broadcast join; no single-partition
stage. Result is exact regardless of sampled range boundaries because
offsets come from actual partition counts.

CRITICAL: the range-partitioned frame is consumed TWICE (counts + the
final join), and RangePartitioner's reservoir sampling is seeded per RDD
— two evaluations of the same subtree can sample DIFFERENT boundaries, so
counts from evaluation A applied to evaluation B's partitions shift every
index after the first divergent boundary. Invisible at small inputs
(below ~sampleSizePerPartition the "sample" is the whole partition and
boundaries are data-deterministic); at sf0.1 (15k rows / 32 partitions)
the subsample diverged and indexes drifted by up to a few hundred. An
eager checkpoint (``session.pin``) pins ONE partitioning for both
consumers; with pinned boundaries the result is exact and run-invariant
for ANY sampled boundary placement (earlier ranges hold strictly smaller
keys, so index = earlier-range row count + local rank is
boundary-independent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mysql_data_anonymizer_spark.session import pin

_PID = "__mda_pid"
_LOCAL = "__mda_local_rn"
_OFFSET = "__mda_offset"


def with_row_index(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "__row__",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add 0-based ``out_col`` numbering rows by ``order_cols`` ascending."""
    if num_partitions is None:
        num_partitions = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    order = [F.col(c) for c in order_cols]

    part = df.repartitionByRange(num_partitions, *order).withColumn(
        _PID, F.spark_partition_id()
    )
    local_w = Window.partitionBy(_PID).orderBy(*order)
    # pin: BOTH consumers (counts, final join) must read the SAME
    # materialized partitioning — see module docstring
    part = pin(part.withColumn(_LOCAL, F.row_number().over(local_w)))

    counts = part.groupBy(_PID).agg(F.count(F.lit(1)).alias("__n"))
    # cumulative offset over the (tiny: one row per partition) counts DF
    cum_w = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(_OFFSET, F.coalesce(F.sum("__n").over(cum_w), F.lit(0))).drop(
        "__n"
    )

    out = part.join(F.broadcast(offsets), _PID)
    out = out.withColumn(out_col, (F.col(_OFFSET) + F.col(_LOCAL) - F.lit(1)).cast("long"))
    return out.drop(_PID, _LOCAL, _OFFSET)
