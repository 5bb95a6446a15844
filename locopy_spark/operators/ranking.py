"""Distributed global ranking.

Spark's ``Window.orderBy`` with no partition key moves the whole table
to ONE partition — a non-starter at scale. The classic fix: range
partition on the sort key, rank locally inside each (sorted) range,
then add each partition's global offset (exclusive prefix sum of
per-partition counts — P numbers, metadata). Total cost: one
range-partitioning sort shuffle; every partition ranks in parallel.
The device is written once, in :func:`_prefix`; every public function
below (row number, ntile, running sums, grouped or not) is one call.

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


def _join_null_safe(df: DataFrame, small: DataFrame, keys: list[str]):
    """``df.join(broadcast(small), keys)`` (same column order: keys
    first) with ``<=>`` key matching, so rows whose group key is NULL
    join their own group's metadata — ``Window.partitionBy`` keeps
    them as one group, a plain equi-join would drop them."""
    renamed = [f"__k{i}" for i in range(len(keys))]
    rest = [c for c in small.columns if c not in keys]
    right = small.select(
        *[F.col(k).alias(r) for k, r in zip(keys, renamed)], *rest
    )
    on = [F.col(k).eqNullSafe(F.col(r)) for k, r in zip(keys, renamed)]
    return df.join(F.broadcast(right), on).select(
        *keys, *[c for c in df.columns if c not in keys], *rest
    )


def _prefix(
    df: DataFrame, group_cols: list[str], order_cols: list[str],
    measures: list[tuple[str, str | None, bool]],
    num_partitions: int | None = None, bounded: bool = False,
    total_col: str | None = None,
) -> DataFrame:
    """The one exact prefix device every public function here wraps:
    per-(partition, group) totals → exclusive offsets → a local scan
    plus the offset (Blelloch's scan, with range partitions as blocks).

    ``measures`` is a list of ``(out_col, value_col, exclusive)``.
    ``value_col=None`` is the 1-based row number (``row_number()``;
    ``exclusive`` is ignored).  Otherwise ``out_col`` is the running
    sum of ``value_col`` over the rows before the current one
    (``exclusive=True``; 0, not null, on a group's first row) or up to
    and including it (``exclusive=False``).  The exclusive frame stays
    a window frame rather than inclusive-minus-value: for doubles the
    subtraction is not bit-identical.

    Range-partitioned on (group, order) so every partition holds a
    contiguous slice of one-or-more groups' order; the metadata is one
    aggregate per (``__pid``, group) — ≤ P + G - 1 rows, the ranges
    overlap at most G-1 group boundaries — whose exclusive prefix over
    ``__pid`` (a window over metadata, never data) is broadcast-joined
    back.  ``group_cols=[]`` is the global case: the offsets window is
    then ordered by ``__pid`` alone.

    ``total_col`` (range arm only) attaches each group's total of the
    FIRST measure (a broadcast G-row join; ungrouped, a cross join of
    the one-row total), derived from the same metadata so nothing
    replays the scan.

    ``bounded=True`` is the DOMAIN-BOUNDED arm (r12): when the caller
    can prove ``df`` is bounded by a value domain rather than data
    volume (whole-dollar price grids, day-index grids, degree
    histograms — all ≤ ~10^6 rows at ANY corpus size), the measures
    run as plain windows over one exchange.  That drops the range
    partitioner (whose boundary sampling is a separate full-scan job
    per call) and the offsets/broadcast-join scaffolding — measured
    −0.7 s per call on a 129k-row grid at sf0.1.  Only pass it with a
    boundedness argument in hand; data-sized inputs keep the
    range-partitioned default.  There ``row_number()`` stays ``int``
    (the range arm adds a ``bigint`` offset).
    """
    pre = Window.unboundedPreceding
    pid = [] if bounded else ["__pid"]
    w = Window.partitionBy(*pid, *group_cols).orderBy(*order_cols)

    def scan(value_col, exclusive):
        if value_col is None:
            return F.row_number().over(w)
        if exclusive:
            before = F.sum(value_col).over(w.rowsBetween(pre, -1))
            return F.coalesce(before, F.lit(0))
        return F.sum(value_col).over(w.rowsBetween(pre, Window.currentRow))

    if bounded:
        for out_col, value_col, exclusive in measures:
            df = df.withColumn(out_col, scan(value_col, exclusive))
        return df
    ranged = _ranged(df, [*group_cols, *order_cols], num_partitions)
    meta = ranged.groupBy("__pid", *group_cols).agg(*[
        (F.count(F.lit(1)) if v is None else F.coalesce(F.sum(v), F.lit(0)))
        .alias(f"__m{i}") for i, (_, v, _) in enumerate(measures)
    ])
    w_off = (
        Window.partitionBy(*group_cols).orderBy("__pid").rowsBetween(pre, -1)
    )
    offs = [f"__off{i}" for i in range(len(measures))]
    off = meta.select(*group_cols, "__pid", *[
        F.coalesce(F.sum(f"__m{i}").over(w_off), F.lit(0)).alias(o)
        for i, o in enumerate(offs)
    ])
    out = _join_null_safe(ranged, off, ["__pid", *group_cols])
    for (out_col, value_col, exclusive), o in zip(measures, offs):
        out = out.withColumn(out_col, scan(value_col, exclusive) + F.col(o))
    out = out.drop("__pid", *offs)
    if total_col:
        tot = meta.groupBy(*group_cols).agg(F.sum("__m0").alias(total_col))
        out = (
            _join_null_safe(out, tot, group_cols) if group_cols
            else out.crossJoin(F.broadcast(tot))
        )
    return out


def global_row_number(
    df: DataFrame, order_cols: list[str], out_col: str = "rn",
    num_partitions: int | None = None, bounded: bool = False,
) -> DataFrame:
    """Exact 1-based global row number under ``order_cols`` (which must
    be a total order for a deterministic result).  ``bounded=True``:
    the domain-bounded arm (see :func:`_prefix`)."""
    return _prefix(df, [], order_cols, [(out_col, None, False)],
                   num_partitions, bounded)


def global_ntile(
    df: DataFrame, order_cols: list[str], n: int, out_col: str = "ntile"
) -> DataFrame:
    """Exact NTILE(n) from the distributed global rank (same SQL
    semantics: first ``n_rows % n`` tiles get the extra row)."""
    # the row total comes off the rank's own per-partition counts as a
    # broadcast 1-row cross join; the tile arithmetic rides as columns
    ranked = _prefix(df, [], order_cols, [("__grn", None, False)],
                     total_col="__total")
    withtot = ranked.withColumn(
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
    df: DataFrame, group_cols: list[str], order_cols: list[str],
    out_col: str = "rn", size_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based row number *within each group* under ``order_cols``
    — without ``Window.partitionBy(group)``'s one-task-per-group sort.

    Built for the few-groups/many-rows regime (order priorities,
    languages, market segments …) where a partitioned window
    serializes.  ``size_col`` additionally attaches the group's total
    row count, enabling percent_rank/cume_dist arithmetic.
    """
    return _prefix(df, group_cols, order_cols, [(out_col, None, False)],
                   num_partitions, total_col=size_col)


def global_running_sum(
    df: DataFrame, order_cols: list[str], value_col: str,
    out_col: str = "running", num_partitions: int | None = None,
    bounded: bool = False,
) -> DataFrame:
    """Exact exclusive prefix sum of ``value_col`` under the global
    order ``order_cols`` (a total order), without a one-partition
    window: ``out_col`` is the sum of everything strictly before the
    row.  Powers order-dependent assignment at scale — sequence
    packing, quota fills, cumulative budgets.  ``bounded=True``: the
    domain-bounded arm (see :func:`_prefix`)."""
    return _prefix(df, [], order_cols, [(out_col, value_col, True)],
                   num_partitions, bounded)


def grouped_global_running_sum(
    df: DataFrame, group_cols: list[str], order_cols: list[str],
    weight_col: str, out_col: str = "cumw", total_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact INCLUSIVE running sum of ``weight_col`` *within each
    group* under ``order_cols`` — :func:`grouped_global_row_number`
    for weights instead of row counts.  ``total_col`` attaches each
    group's total weight — together they power weighted quantiles /
    cumulative-share arithmetic without a one-task-per-group window.
    Weights must be bigint (exactness contract).
    """
    return _prefix(df, group_cols, order_cols, [(out_col, weight_col, False)],
                   num_partitions, total_col=total_col)


def global_rank_and_running_sum(
    df: DataFrame, order_cols: list[str], value_col: str,
    rank_col: str = "rn", sum_col: str = "running",
    num_partitions: int | None = None, bounded: bool = False,
) -> DataFrame:
    """:func:`global_row_number` AND :func:`global_running_sum` from
    ONE range-partitioned pass: one metadata aggregate carries (count,
    sum) per partition, then both local windows add their offsets.
    Callers that need the rank and the exclusive prefix sum together
    (change-point scans, Lorenz tails) pay one shuffle instead of two.
    ``bounded=True``: the domain-bounded arm (see :func:`_prefix`)."""
    measures = [(rank_col, None, False), (sum_col, value_col, True)]
    return _prefix(df, [], order_cols, measures, num_partitions, bounded)
