"""Distributed graph analytics over an edge-list DataFrame.

``triangle_census`` is the degree-oriented triangle counter (the
edge-iterator form of Suri & Vassilvitskii, "Counting Triangles and
the Curse of the Last Reducer", WWW'11): orient each undirected edge
from its lower-(degree, id) endpoint — which bounds every out-degree
by O(√m) — and count each triangle exactly once at its lowest-ordered
corner as a row-local out-adjacency intersection. The O(m^{3/2})
wedge stream is never materialized; the only shuffles are |E|-sized
(degrees, orientation, one adjacency aggregation).

Connected components live in ``operators.cluster``; this module holds
the counting/census side of the graph surface.

Reference analog: capitalone/locopy has no graph surface; this
extends the engine's analytics families (SURVEY §2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def triangle_census(
    e: DataFrame,
    broadcast_adj: bool = True,
    degrees: DataFrame | None = None,
) -> DataFrame:
    """One-row census of an undirected simple graph.

    ``e`` must be the distinct edge list with columns ``(a, b)``,
    ``a < b`` (bigint node ids). Returns ``(n_nodes, n_edges,
    n_wedges, n_triangles, clustering_coeff)``: ``n_wedges`` counts
    UNDIRECTED wedges (Σ_v C(deg(v), 2) — every unordered path of
    length 2), and ``clustering_coeff`` is the standard global
    clustering coefficient 3·triangles / wedges (each triangle closes
    three undirected wedges; NULL when there are none). Deterministic:
    every number is an exact integer count; the ratio is one int/int
    double division.

    ``broadcast_adj`` (default) ships the out-adjacency table to every
    task — right whenever its |E| total entries fit the broadcast
    limit (~8 GB / driver memory). On larger graphs pass ``False``:
    the intersection pass becomes two shuffle joins on u/w, still
    |E|-sized, and nothing is driver-collected.

    ``degrees``: a pre-computed (v, d) vertex-degree table for the
    SAME edge list (a caller's materialized index) — skips the
    |2E| endpoint shuffle; must be exactly the degrees of ``e`` or
    the orientation (and the count) is silently wrong.
    """
    deg = (
        degrees
        if degrees is not None
        else (
            e.select(F.col("a").alias("v"))
            .unionAll(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # o/adj deliberately NOT persisted: A/B at sf0.1 showed caching
    # them costs more in materialization than the recomputation they
    # save (8.2-9.2 s vs 7.0 s best-of-2) — both re-read the caller's
    # persisted edge table and everything above it is cheap column work
    o = (
        e.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("w"),
        )
    )
    adj = o.groupBy("u").agg(
        F.sort_array(F.collect_list("w")).alias("nbrs"),
        F.count(F.lit(1)).alias("outd"),
    )
    # ONE lazy plan for the whole census (r11): the degree-derived
    # stats (node count, edge count = Σd/2, undirected wedge count)
    # and the triangle sum close as two 1-row aggregates cross-joined
    # — the pre-r11 form collected each to the driver (two synchronous
    # jobs before the caller's own action) and re-created a local
    # DataFrame; folding them into the returned plan lets the caller's
    # single action compute both subtrees in one job.
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.expr("coalesce(sum(d), 0) div 2").alias("n_edges"),
        F.expr("sum(d * (d - 1) div 2)").alias("n_wedges"),
    )
    au = adj.select(F.col("u"), F.col("nbrs").alias("nu"))
    aw = adj.select(F.col("u").alias("w"), F.col("nbrs").alias("nw"))
    bc = F.broadcast if broadcast_adj else (lambda df: df)
    tri = (
        o.join(bc(au), "u")
        .join(bc(aw), "w", "left")
        .select(
            F.size(
                F.array_intersect(
                    "nu",
                    F.coalesce("nw", F.expr("cast(array() as array<bigint>)")),
                )
            ).alias("t")
        )
        .agg(F.expr("coalesce(sum(t), 0)").alias("n_triangles"))
    )
    return stats.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        # NULL on a wedge-free graph, as in the DuckDB twin: degenerate
        # ratios close as NULL (n_wedges itself is NULL on an empty one)
        F.expr(
            "try_divide(3.0 * CAST(n_triangles AS DOUBLE),"
            " CAST(n_wedges AS DOUBLE))"
        ).alias("clustering_coeff"),
    )
