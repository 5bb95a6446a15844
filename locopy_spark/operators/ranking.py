"""Distributed global ranking.

Spark's ``Window.orderBy`` with no partition key moves the whole table
to ONE partition — a non-starter at scale. The classic fix: range
partition on the sort key, rank locally inside each (sorted) range,
then add each partition's global offset (exclusive prefix sum of
per-partition counts — P numbers, metadata). Total cost: one
range-partitioning sort shuffle; every partition ranks in parallel.

Offsets are computed IN-PLAN (r11): the per-partition counts are a
P-row aggregate, their exclusive prefix sum a window over those P rows
(one task over metadata, never data), broadcast-joined back. The
pre-r11 form collected the counts to the driver and re-broadcast them,
which cost every call two extra synchronous jobs (the eager checkpoint
materialization + the collect) before the caller's own action; the
lazy form folds the whole device into the caller's single job. The
``localCheckpoint(eager=False)`` is still required: the ranged frame
feeds both the counts subtree and the ranking subtree, and
``repartitionByRange`` boundaries come from a sample, so two
independent materializations could disagree on partition assignment
(wrong offsets). The lazy checkpoint pins ONE RDD (one boundary
sample) that both subtrees read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _ranged(df: DataFrame, keys: list[str], num_partitions: int | None):
    """Range-partition ``df`` on ``keys`` and pin the partitioning:
    one RDD (one boundary sample) that every consumer subtree reads.

    NOTE (r11): ``repartitionByRange`` reads its input twice — the
    range partitioner's boundary-sampling pass is a separate full-scan
    job before the shuffle.  A blanket input persist here was A/B'd
    and REJECTED (7 device-using keys interleaved at sf0.1: 5 slower —
    persisting cheap inputs costs more than the sampler re-read
    saves).  Callers whose device input is an expensive multi-join
    subtree should persist it themselves (q_kendall_tau's grid is the
    measured instance: −40%)."""
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartitionByRange(parts, *keys)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )


def _w_pid():
    """Exclusive prefix over partition ids — P rows of metadata, one
    task.  Built per call: WindowSpec construction needs a live
    SparkContext, so a module-level constant would break imports that
    precede session startup."""
    return Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rn",
    num_partitions: int | None = None,
    _return_total: bool = False,
    bounded: bool = False,
):
    """Exact 1-based global row number under ``order_cols`` (which must
    be a total order for a deterministic result).

    ``_return_total=True`` additionally returns a ONE-ROW DataFrame
    carrying the total row count as ``__total`` — derived from the same
    per-partition counts, so callers that need it (``global_ntile``,
    percentile thresholds) don't replay the rank plan to count, and
    nothing round-trips through the driver.

    ``bounded=True``: the domain-bounded arm (see
    :func:`global_running_sum`) — one plain window over a
    SinglePartition exchange, no range sampler, no offset join.  Pass
    only with a boundedness argument in hand (not combined with
    ``_return_total``)."""
    if bounded:
        return df.withColumn(
            out_col, F.row_number().over(Window.orderBy(*order_cols))
        )
    ranged = _ranged(df, order_cols, num_partitions)
    cnts = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    off = cnts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(_w_pid()), F.lit(0)).alias("__off"),
    )
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    out = (
        ranged.join(F.broadcast(off), "__pid")
        .withColumn(out_col, F.row_number().over(w) + F.col("__off"))
        .drop("__pid", "__off")
    )
    if _return_total:
        total = cnts.agg(F.sum("__cnt").alias("__total"))
        return out, total
    return out


def global_ntile(
    df: DataFrame,
    order_cols: list[str],
    n: int,
    out_col: str = "ntile",
) -> DataFrame:
    """Exact NTILE(n) from the distributed global rank (same SQL
    semantics: first ``n_rows % n`` tiles get the extra row)."""
    ranked, total = global_row_number(
        df, order_cols, out_col="__grn", _return_total=True
    )
    # tile arithmetic rides as columns off the 1-row total (broadcast
    # cross join) — the same integer/double expressions the driver-side
    # literals produced, now fully lazy
    withtot = ranked.crossJoin(F.broadcast(total)).withColumn(
        "__base", F.expr(f"__total div {n}")
    ).withColumn("__rem", F.expr(f"__total % {n}"))
    cut = F.col("__rem") * (F.col("__base") + 1)
    tile = F.when(
        F.col("__grn") <= cut,
        ((F.col("__grn") - 1) / (F.col("__base") + 1)).cast("bigint") + 1,
    ).otherwise(
        F.when(
            F.col("__base") > 0,
            ((F.col("__grn") - cut - 1) / F.col("__base")).cast("bigint")
            + F.col("__rem")
            + 1,
        ).otherwise(F.lit(None))
    )
    return withtot.withColumn(out_col, tile.cast("int")).drop(
        "__grn", "__total", "__base", "__rem"
    )


def grouped_global_row_number(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    out_col: str = "rn",
    size_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based row number *within each group* under ``order_cols``
    — without ``Window.partitionBy(group)``'s one-task-per-group sort.

    Built for the few-groups/many-rows regime (order priorities,
    languages, market segments …) where a partitioned window serializes:
    range-partition on (group, order) so every partition holds a
    contiguous slice of one-or-more groups' sort order, rank locally,
    then add per-(partition, group) offsets (≤ P + G - 1 rows of
    metadata — the ranges overlap at most G-1 group boundaries).
    ``size_col`` additionally attaches the group's total row count
    (broadcast G-row join), enabling percent_rank/cume_dist arithmetic.
    """
    ranged = _ranged(df, [*group_cols, *order_cols], num_partitions)
    cnts = ranged.groupBy("__pid", *group_cols).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    w_grp = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_df = cnts.select(
        *group_cols,
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_grp), F.lit(0)).alias("__off"),
    )
    w = Window.partitionBy("__pid", *group_cols).orderBy(*order_cols)
    out = (
        ranged.join(F.broadcast(off_df), ["__pid", *group_cols])
        .withColumn(out_col, F.row_number().over(w) + F.col("__off"))
        .drop("__pid", "__off")
    )
    if size_col:
        sizes = cnts.groupBy(*group_cols).agg(F.sum("__cnt").alias(size_col))
        out = out.join(F.broadcast(sizes), group_cols)
    return out


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running",
    num_partitions: int | None = None,
    bounded: bool = False,
) -> DataFrame:
    """Exact exclusive prefix sum of ``value_col`` under the global
    order ``order_cols`` (a total order), without a one-partition
    window.

    Same shape as :func:`global_row_number`: range-partition on the
    order, per-partition SUMS → exclusive offsets (a P-row window over
    metadata), then a per-partition running sum plus the offset. Powers
    order-dependent assignment at scale — sequence packing, quota
    fills, cumulative budgets.  ``out_col`` excludes the current row
    (sum of everything strictly before it).

    ``bounded=True`` is the DOMAIN-BOUNDED arm (r12): when the caller
    can prove ``df`` is bounded by a value domain rather than data
    volume (whole-dollar price grids, day-index grids, degree
    histograms — all ≤ ~10^6 rows at ANY corpus size), the prefix runs
    as one plain window over a single SinglePartition exchange.  That
    drops the range partitioner (whose boundary sampling is a separate
    full-scan job per call) and the offsets/broadcast-join scaffolding
    — measured −0.7 s per call on a 129k-row grid at sf0.1.  Only pass
    it with a boundedness argument in hand; data-sized inputs keep the
    range-partitioned default.
    """
    if bounded:
        w = (
            Window.orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        zero = F.lit(0).cast(df.schema[value_col].dataType)
        return df.withColumn(
            out_col, F.coalesce(F.sum(value_col).over(w), zero)
        )
    ranged = _ranged(df, order_cols, num_partitions)
    sums = ranged.groupBy("__pid").agg(F.sum(value_col).alias("__s"))
    zero = F.lit(0).cast(sums.schema["__s"].dataType)
    off_df = sums.select(
        "__pid",
        F.coalesce(F.sum("__s").over(_w_pid()), zero).alias("__off"),
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ranged.join(F.broadcast(off_df), "__pid")
        .withColumn(
            out_col,
            F.coalesce(F.sum(value_col).over(w), zero) + F.col("__off"),
        )
        .drop("__pid", "__off")
    )


def grouped_global_running_sum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    weight_col: str,
    out_col: str = "cumw",
    total_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact INCLUSIVE running sum of ``weight_col`` *within each
    group* under ``order_cols`` — :func:`grouped_global_row_number`
    for weights instead of row counts, and the grouped form of
    :func:`global_running_sum`.

    Same shape: range-partition on (group, order) so every partition
    holds a contiguous slice of one-or-more groups' order, per-
    (partition, group) weight sums (≤ P + G - 1 rows of metadata) →
    exclusive offsets, then a per-partition running sum plus the
    offset. ``total_col`` attaches each group's total weight
    (broadcast G-row join) — together they power weighted quantiles /
    cumulative-share arithmetic without a one-task-per-group window.
    Weights must be bigint (exactness contract).
    """
    ranged = _ranged(df, [*group_cols, *order_cols], num_partitions)
    sums = ranged.groupBy("__pid", *group_cols).agg(
        F.coalesce(F.sum(weight_col), F.lit(0)).alias("__s")
    )
    w_grp = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_df = sums.select(
        *group_cols,
        "__pid",
        F.coalesce(F.sum("__s").over(w_grp), F.lit(0)).alias("__off"),
    )
    w = (
        Window.partitionBy("__pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        ranged.join(F.broadcast(off_df), ["__pid", *group_cols])
        .withColumn(out_col, F.sum(weight_col).over(w) + F.col("__off"))
        .drop("__pid", "__off")
    )
    if total_col:
        tots = sums.groupBy(*group_cols).agg(F.sum("__s").alias(total_col))
        out = out.join(F.broadcast(tots), group_cols)
    return out


def global_rank_and_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    rank_col: str = "rn",
    sum_col: str = "running",
    num_partitions: int | None = None,
    bounded: bool = False,
) -> DataFrame:
    """:func:`global_row_number` AND :func:`global_running_sum` from
    ONE range-partitioned pass: a single ranged frame, one P-row
    metadata aggregate carrying (count, sum) per partition, then both
    local windows add their offsets.  Callers that need the rank and
    the exclusive prefix sum together (change-point scans, Lorenz
    tails) pay one shuffle instead of two.

    ``bounded=True``: the domain-bounded arm (see
    :func:`global_running_sum`) — both windows over one plain
    SinglePartition exchange, no range sampler, no offset join."""
    if bounded:
        wr = Window.orderBy(*order_cols)
        ws = wr.rowsBetween(Window.unboundedPreceding, -1)
        zero = F.lit(0).cast(df.schema[value_col].dataType)
        return df.withColumn(rank_col, F.row_number().over(wr)).withColumn(
            sum_col, F.coalesce(F.sum(value_col).over(ws), zero)
        )
    ranged = _ranged(df, order_cols, num_partitions)
    per = ranged.groupBy("__pid").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.coalesce(F.sum(value_col), F.lit(0)).alias("__s"),
    )
    off_df = per.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(_w_pid()), F.lit(0)).alias("__offn"),
        F.coalesce(F.sum("__s").over(_w_pid()), F.lit(0)).alias("__offs"),
    )
    wr = Window.partitionBy("__pid").orderBy(*order_cols)
    ws = wr.rowsBetween(Window.unboundedPreceding, -1)
    return (
        ranged.join(F.broadcast(off_df), "__pid")
        .withColumn(rank_col, F.row_number().over(wr) + F.col("__offn"))
        .withColumn(
            sum_col,
            F.coalesce(F.sum(value_col).over(ws), F.lit(0))
            + F.col("__offs"),
        )
        .drop("__pid", "__offn", "__offs")
    )
