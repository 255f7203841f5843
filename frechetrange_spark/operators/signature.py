"""J2: Baldus/Bringmann signature join — the bb engine's candidate
generation, Spark-first.

The reference keys every curve by an 8-d signature
``(first_x, first_y, last_x, last_y, min_x, min_y, max_x, max_y)``
(detail/bb/spatial_index.hpp:228-242) inside an 8-d quadtree and answers a
ball query of radius eps under a mixed norm: the max of the start-pair and
end-pair Euclidean distances and Chebyshev over the MBR coordinates
(``nd_point_dist``, :28-39). The quadtree's only role is spatial
partitioning, which Spark replaces with a bucketed equi-join: curves are
keyed by their start-point grid cell, queries explode the neighbor cells
their eps-ball crosses, and the ball predicate decomposes into native
column predicates (the per-dimension interval checks of :76-85) that
Catalyst pushes into the join. Fully relational — the DuckDB oracle in
``__spark_entry__`` checks it bit-for-bit.

``bb_range_query`` refines the candidates with the same exact decider
funnel as the grid engine; results are identical to J1's by construction
(both are exact), which tests assert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from frechetrange_spark.operators.range_query import _pair_stage, _q, _refine_map
from frechetrange_spark.operators.tiling import cell_coord, explode_neighbor_cells


def signature_candidates(
    curves: DataFrame, queries: DataFrame, eps: float, mesh: float
) -> DataFrame:
    """(query_id, traj_id) pairs whose signatures are within the bb mixed
    norm ball of radius eps. Equi-join on start-point cell + native
    predicates only."""
    eps_l = F.lit(float(eps))
    eps2 = F.lit(float(eps) * float(eps))
    data = curves.withColumn(
        "cell_x", cell_coord(F.col("x_first"), mesh)
    ).withColumn("cell_y", cell_coord(F.col("y_first"), mesh))
    qexp = explode_neighbor_cells(
        _q(queries, "q_"), "q_x_first", "q_y_first", mesh, eps
    )
    joined = qexp.join(data, on=["cell_x", "cell_y"])
    d2_first = (F.col("q_x_first") - F.col("x_first")) ** 2 + (
        F.col("q_y_first") - F.col("y_first")
    ) ** 2
    d2_last = (F.col("q_x_last") - F.col("x_last")) ** 2 + (
        F.col("q_y_last") - F.col("y_last")
    ) ** 2
    cheby = (
        (F.abs(F.col("q_min_x") - F.col("min_x")) <= eps_l)
        & (F.abs(F.col("q_min_y") - F.col("min_y")) <= eps_l)
        & (F.abs(F.col("q_max_x") - F.col("max_x")) <= eps_l)
        & (F.abs(F.col("q_max_y") - F.col("max_y")) <= eps_l)
    )
    return joined.filter((d2_first <= eps2) & (d2_last <= eps2) & cheby)


def bb_range_query(
    curves: DataFrame,
    queries: DataFrame,
    eps: float,
    mesh: float,
) -> DataFrame:
    """Exact range query via the signature join (bb lifecycle, SURVEY
    §3.3 footnote): J2 candidates -> the bb filter pack (F4 greedy accept,
    F5 negative filter — the reference's decide_frechet order,
    detail/bb/spatial_index.hpp:198-209) -> batched exact decider. Result
    sets equal the dv-grid engine's (both exact; the filters are
    result-set invariant and always on here for engine parity)."""
    cand = signature_candidates(curves, queries, eps, mesh).select(
        F.col("q_traj_id").alias("query_id"),
        "traj_id",
        "q_xs",
        "q_ys",
        "xs",
        "ys",
    )
    return _pair_stage(
        cand,
        _refine_map(
            eps,
            greedy_accept=True,
            neg_reject=True,
            # r06 result-invariant UB accepts (see range_query_grid)
            rev_greedy_accept=True,
            dfd_accept=True,
        ),
        "query_id long, traj_id long",
    )
