"""Scalable global ordering: total row numbering without a
single-partition Window.

The reference has no ranking operators at all (SURVEY.md §2.3 —
`worker/__main__.py:55-58` dispatches only map/reduce); global ranks are
new Layer-B capability. Spark's built-in unpartitioned Window funnels
every row through ONE task ("No Partition Defined" warning) — tolerable
on a dim table at test scale, fatal on a 1B-row table at SF100k. These
helpers compute the same total ordering with the classic two-pass
range-partition trick:

  1. ``repartitionByRange`` on the sort key — one shuffle, all
     partitions work in parallel, partition *i* holds a contiguous
     slice of the global order;
  2. count rows per partition (a tiny aggregate over the persisted
     input — O(num_partitions) rows reach the driver, never O(rows));
  3. broadcast the cumulative offsets back and add a PARTITIONED
     row_number: global position = offset[partition] + local position.

Determinism: callers must pass a TOTAL ordering (include a unique
tie-break column); with a total order the result is independent of
where the range partitioner draws its boundaries.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from engine.io import local_frame

_PID = "_gr_pid"
_OFF = "_gr_offset"


def _as_cols(order_cols: Sequence[Column | str]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_cols]


def with_global_row_number(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Add a 1-based global row number in ``order_cols`` order.

    Returns ``(df_with_out_col, total_row_count)``. ``order_cols`` must
    be a total ordering (unique tie-break) for a deterministic result.
    Cost: one range shuffle + one tiny count job + one hash shuffle on
    the synthetic partition id — every stage fully parallel; driver
    state is O(num_partitions).
    """
    cols = _as_cols(order_cols)
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    part = (
        df.repartitionByRange(n, *cols)
        .withColumn(_PID, F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = {
        row[_PID]: row["cnt"]
        for row in part.groupBy(_PID).agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    total = sum(counts.values())
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = local_frame(spark, offsets or [(0, 0)], f"{_PID} INT, {_OFF} BIGINT")
    w = W.partitionBy(_PID).orderBy(*cols)
    out = (
        part.join(F.broadcast(off_df), _PID)
        .withColumn(out_col, (F.row_number().over(w) + F.col(_OFF)).cast("bigint"))
        .drop(_PID, _OFF)
    )
    return out, total


def ntile_expr(rn: Column, total: int, k: int) -> Column:
    """SQL-standard NTILE(k) from a 1-based global row number ``rn``:
    first ``total % k`` buckets get one extra row. Matches Spark's and
    DuckDB's NTILE exactly, but needs no global window."""
    q, r = divmod(total, k)
    big = (q + 1) * r  # rows covered by the r larger buckets
    denom = q if q > 0 else 1  # q == 0 ⇒ rn <= big always; branch unused
    return F.when(rn <= big, F.ceil(rn / (q + 1))).otherwise(
        r + F.ceil((rn - big) / denom)
    )


def with_global_value_ranks(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    value_col: str,
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """row_number + rank + dense_rank over a global ordering in ONE
    range pass — no second global numbering, no per-value window.

    ``order_cols`` must be a total ordering whose FIRST component is
    ``value_col`` (ties beyond the value broken by the remaining
    columns); rank/dense_rank are computed with respect to runs of
    equal ``value_col``.

    Construction: after ``repartitionByRange`` every partition holds a
    contiguous slice of the global order, so a row starts a new value
    run iff its in-partition predecessor has a different value — except
    each partition's FIRST row, whose run may have started in the
    previous partition. That boundary is resolved on the driver from
    one O(num_partitions) aggregate (first/last value, last run-start
    position per partition), then broadcast back:

    - ``rn``    = in-partition row_number + row offset;
    - ``dense`` = in-partition run-start count + run offset (carry-in
      runs cancel their spurious local flag);
    - ``rank``  = global position of the row's run start (carry-in rows
      take the boundary run's start from the driver walk).

    Cost: one range shuffle + one partitioned window + a broadcast —
    every stage fully parallel, driver state O(num_partitions).
    """
    cols = _as_cols(order_cols)
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    part = (
        df.repartitionByRange(n, *cols)
        .withColumn(_PID, F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    w = W.partitionBy(_PID).orderBy(*cols)
    w_cum = w.rowsBetween(W.unboundedPreceding, 0)
    v = F.col(value_col)
    # Partition-first detection via lag of a CONSTANT (lag(v) is NULL
    # both at the first row and after a NULL value, which made every
    # post-NULL row a spurious run start), and null-safe value
    # comparison so NULL==NULL / NaN==NaN rows share one run exactly
    # like SQL rank/dense_rank (Spark's <=> treats NaN = NaN).
    first_in_part = F.lag(F.lit(1)).over(w).isNull()
    flag = F.when(
        first_in_part | ~F.lag(v).over(w).eqNullSafe(v), 1
    ).otherwise(0)
    local = (
        part.withColumn("_l_rn", F.row_number().over(w))
        .withColumn("_l_flag", flag)
        .withColumn("_l_runs", F.sum("_l_flag").over(w_cum))
        .withColumn(
            "_l_run_start",
            F.max(F.when(F.col("_l_flag") == 1, F.col("_l_rn"))).over(w_cum),
        )
    ).persist(StorageLevel.MEMORY_AND_DISK)

    stats = {
        r[_PID]: r
        for r in local.groupBy(_PID)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("_l_flag").alias("flags"),
            F.min(F.struct("_l_rn", v.alias("v"))).alias("first"),
            F.max(F.struct("_l_rn", v.alias("v"))).alias("last"),
            F.max(F.when(F.col("_l_flag") == 1, F.col("_l_rn"))).alias(
                "last_run_start"
            ),
        )
        .collect()
    }
    total = sum(r["cnt"] for r in stats.values())

    # Driver walk in partition order: offsets + carry-in resolution.
    def _veq(a, b):
        # Null-safe, NaN-safe equality matching Spark's <=> semantics
        # (a bare == would call a NULL boundary 'new run' and a NaN
        # boundary 'new run' since nan != nan in Python).
        if a is None or b is None:
            return a is None and b is None
        if isinstance(a, float) and isinstance(b, float):
            if math.isnan(a) or math.isnan(b):
                return math.isnan(a) and math.isnan(b)
        return a == b

    rows_acc = 0
    runs_acc = 0
    carry_rank = 0  # global rn of the run spanning into this partition
    prev_last_v = None
    seen_first = False
    offsets = []
    for pid in sorted(stats):
        r = stats[pid]
        spurious = int(seen_first and _veq(r["first"]["v"], prev_last_v))
        seen_first = True
        offsets.append((pid, rows_acc, runs_acc, spurious, carry_rank))
        # Next partition's carry: the global start of the run in
        # progress at this partition's end.
        if r["last_run_start"] is not None and not (
            spurious and r["flags"] == 1
        ):
            # a genuine run started here; its global position:
            carry_rank = rows_acc + r["last_run_start"]
        # else: the whole partition continues the carried run.
        rows_acc += r["cnt"]
        runs_acc += r["flags"] - spurious
        prev_last_v = r["last"]["v"]

    off_df = local_frame(
        spark, offsets or [(0, 0, 0, 0, 0)],
        f"{_PID} INT, _row_off BIGINT, _run_off BIGINT, _spur INT, _carry BIGINT",
    )
    in_carry = (F.col("_spur") == 1) & (F.col("_l_runs") == 1)
    out = (
        local.join(F.broadcast(off_df), _PID)
        .withColumn("rn", (F.col("_l_rn") + F.col("_row_off")).cast("bigint"))
        .withColumn(
            "dense",
            (F.col("_l_runs") - F.col("_spur") + F.col("_run_off")).cast(
                "bigint"
            ),
        )
        .withColumn(
            "rank",
            F.when(in_carry, F.col("_carry"))
            .otherwise(F.col("_l_run_start") + F.col("_row_off"))
            .cast("bigint"),
        )
        .drop(_PID, "_l_rn", "_l_flag", "_l_runs", "_l_run_start",
              "_row_off", "_run_off", "_spur", "_carry")
    )
    return out, total


def topk_per_group(
    df: DataFrame,
    group_cols: Sequence[Column | str],
    order_cols: Sequence[Column | str],
    k: int,
    out_col: str = "rank",
) -> DataFrame:
    """Per-group top-k without sorting whole groups in one task.

    A bare ``row_number() OVER (PARTITION BY group)`` ships every row
    of a group to a single task — fatal for a billion-row group (the
    per-group analog of the global-window problem above). Two phases:

      1. local top-k per (group, input partition): the window key
         includes ``spark_partition_id()``, so a huge group is sorted
         as many independent bounded slices in parallel;
      2. final top-k per group over the survivors — at most
         ``k * num_input_partitions`` rows per group ever meet in one
         task, regardless of group size.

    Invariant: the global top-k of a group is a subset of the union of
    its local top-ks (each local set keeps k), so the result is
    independent of the physical input partitioning. ``order_cols``
    must be a total ordering (unique tie-break) for determinism.
    ``out_col`` receives the 1-based in-group rank.
    """
    gcols = _as_cols(group_cols)
    ocols = _as_cols(order_cols)
    local = (
        df.withColumn(_PID, F.spark_partition_id())
        .withColumn(
            "_tk_rn",
            F.row_number().over(W.partitionBy(*gcols, _PID).orderBy(*ocols)),
        )
        .filter(F.col("_tk_rn") <= k)
        .drop(_PID, "_tk_rn")
    )
    return (
        local.withColumn(
            out_col,
            F.row_number().over(W.partitionBy(*gcols).orderBy(*ocols)).cast("bigint"),
        )
        .filter(F.col(out_col) <= k)
    )
