"""Index-build enrichment: per-curve Agarwal simplifications (S5/K8/K10)
stored as array columns, and the query-time simplification funnel columns.

Reference lifecycle (SURVEY §3.3): ``spatial_hash::build_index`` runs
``construct_simplifications`` over every dataset curve
(detail/bddm/spatial_hash.hpp:702-736); each curve gets NUM_SIMPLIFICATIONS
levels. In Spark this is one Arrow kernel pass over the curves table at
index-build time; the simplifications become ordinary columns
(s{i}_xs, s{i}_ys, s{i}_eps) that ride through the candidate join into the
refine kernel — the funnel then never needs a second shuffle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from frechetrange_spark.kernels.simplify import NUM_LEVELS, simplification_levels


def dataset_diagonal(curves: DataFrame) -> float:
    """A3 global bbox diagonal (bddm:727-735): one tiny aggregate."""
    row = curves.agg(
        F.min("min_x").alias("x0"),
        F.max("max_x").alias("x1"),
        F.min("min_y").alias("y0"),
        F.max("max_y").alias("y1"),
    ).first()
    return float(np.hypot(row["x1"] - row["x0"], row["y1"] - row["y0"]))


def avg_eps_ratios(enriched: DataFrame, levels: int, diagonal: float) -> list[float]:
    """A6 (bddm:147, 583-586): the dataset's per-level average of
    simplification-eps / dataset-diagonal, for reuse on external query
    curves at query time (make_source_simplifications, :630-663)."""
    aggs = [F.avg(F.col(f"s{i}_eps") / F.lit(diagonal)).alias(f"r{i}") for i in range(levels)]
    row = enriched.agg(*aggs).first()
    return [float(row[f"r{i}"]) for i in range(levels)]


def enrich_queries_with_ratios(
    queries: DataFrame, ratios: list[float], diagonal: float
) -> DataFrame:
    """Query-side enrichment the reference way: each level's eps is
    diagonal * avg_ratio (no per-curve search), so external query curves
    get funnel columns in one cheap kernel pass. Exactness is unaffected —
    the stored eps is whatever the simplification was built with."""
    diagonal = float(diagonal)
    levels = len(ratios)
    in_fields = list(queries.schema.fields)
    out_schema = StructType(
        in_fields
        + [
            f
            for i in range(levels)
            for f in (
                StructField(f"s{i}_xs", ArrayType(DoubleType(), False), False),
                StructField(f"s{i}_ys", ArrayType(DoubleType(), False), False),
                StructField(f"s{i}_eps", DoubleType(), False),
            )
        ]
    )
    eps_levels = [diagonal * r for r in ratios]

    def fn(batches):
        import pyarrow as pa

        from frechetrange_spark.kernels.batch import _list_buffers
        from frechetrange_spark.kernels.simplify import agarwal_indices

        for rb in batches:
            fx, ox = _list_buffers(rb.column("xs"))
            fy, oy = _list_buffers(rb.column("ys"))
            B = rb.num_rows
            per_x = [[] for _ in range(levels)]
            per_y = [[] for _ in range(levels)]
            for r in range(B):
                curve = np.column_stack([fx[ox[r] : ox[r + 1]], fy[oy[r] : oy[r + 1]]])
                for i, eps in enumerate(eps_levels):
                    idx = agarwal_indices(curve, eps)
                    per_x[i].append(curve[idx, 0])
                    per_y[i].append(curve[idx, 1])
            arrays = list(rb.columns)
            names = list(rb.schema.names)
            for i in range(levels):
                arrays += [
                    pa.array(per_x[i], type=pa.list_(pa.float64())),
                    pa.array(per_y[i], type=pa.list_(pa.float64())),
                    pa.array(np.full(B, eps_levels[i])),
                ]
                names += [f"s{i}_xs", f"s{i}_ys", f"s{i}_eps"]
            yield pa.RecordBatch.from_arrays(arrays, names)

    return queries.mapInArrow(fn, schema=out_schema)


PORTAL_COLS = ("portal_src", "portal_dst", "portal_dist")


def enrich_with_portals(enriched: DataFrame, levels: int | None = None) -> DataFrame:
    """Append the CFDQ portal columns (K9/O4, SURVEY §3.3) to a curves
    DataFrame already enriched with simplifications: per curve, re-run the
    Agarwal pass at each stored level eps recording every probed
    (source, destination, etd) triple, then compile the per-source jump
    map (adjacent/duplicate destinations dropped, destination-sorted).

    Stored as three parallel flat arrays — portal_src/portal_dst
    (array<long>) and portal_dist (array<double>) — the columnar
    equivalent of SURVEY §3.3's array<struct<src,dst,dist>>: parallel
    primitive lists ride through Arrow batches zero-copy, where a
    list-of-struct would force row materialization in the kernel."""
    if levels is None:
        levels = 0
        while f"s{levels}_eps" in enriched.columns:
            levels += 1
    if levels == 0:
        raise ValueError("enrich_with_portals requires s{i}_eps columns")
    in_fields = list(enriched.schema.fields)
    from pyspark.sql.types import LongType

    out_schema = StructType(
        in_fields
        + [
            StructField("portal_src", ArrayType(LongType(), False), False),
            StructField("portal_dst", ArrayType(LongType(), False), False),
            StructField("portal_dist", ArrayType(DoubleType(), False), False),
        ]
    )

    def fn(batches):
        import pyarrow as pa

        from frechetrange_spark.kernels.batch import _list_buffers
        from frechetrange_spark.kernels.cfdq import (
            agarwal_with_portals,
            compile_portals,
        )

        for rb in batches:
            fx, ox = _list_buffers(rb.column("xs"))
            fy, oy = _list_buffers(rb.column("ys"))
            eps_cols = [
                rb.column(f"s{i}_eps").to_numpy(zero_copy_only=False)
                for i in range(levels)
            ]
            B = rb.num_rows
            srcs, dsts, dists = [], [], []
            for r in range(B):
                curve = np.column_stack(
                    [fx[ox[r] : ox[r + 1]], fy[oy[r] : oy[r + 1]]]
                )
                cache: dict = {}
                plists = [
                    agarwal_with_portals(curve, float(eps_cols[i][r]), cache)[1]
                    for i in range(levels)
                ]
                pmap = compile_portals(plists)
                flat = [
                    p for src in sorted(pmap) for p in pmap[src]
                ]
                srcs.append(np.array([p[0] for p in flat], dtype=np.int64))
                dsts.append(np.array([p[1] for p in flat], dtype=np.int64))
                dists.append(np.array([p[2] for p in flat], dtype=np.float64))
            arrays = list(rb.columns) + [
                pa.array(srcs, type=pa.list_(pa.int64())),
                pa.array(dsts, type=pa.list_(pa.int64())),
                pa.array(dists, type=pa.list_(pa.float64())),
            ]
            names = [*rb.schema.names, *PORTAL_COLS]
            yield pa.RecordBatch.from_arrays(arrays, names)

    return enriched.mapInArrow(fn, schema=out_schema)


def simp_cols(levels: int = NUM_LEVELS) -> list[str]:
    out = []
    for i in range(levels):
        out += [f"s{i}_xs", f"s{i}_ys", f"s{i}_eps"]
    return out


def enrich_with_simplifications(
    curves: DataFrame,
    diagonal: float | None = None,
    levels: int = NUM_LEVELS,
    fractions: tuple[float, ...] | None = None,
    min_pts: int = 20,
) -> DataFrame:
    """Append s{i}_xs / s{i}_ys / s{i}_eps columns (i < levels) to a curves
    DataFrame (requires xs/ys plus the MBR columns)."""
    if diagonal is None:
        diagonal = dataset_diagonal(curves)
    diagonal = float(diagonal)
    if fractions is None:
        from frechetrange_spark.kernels.simplify import TARGET_FRACTIONS

        fractions = TARGET_FRACTIONS

    in_fields = list(curves.schema.fields)
    out_schema = StructType(
        in_fields
        + [
            f
            for i in range(levels)
            for f in (
                StructField(f"s{i}_xs", ArrayType(DoubleType(), False), False),
                StructField(f"s{i}_ys", ArrayType(DoubleType(), False), False),
                StructField(f"s{i}_eps", DoubleType(), False),
            )
        ]
    )

    def fn(batches):
        import pyarrow as pa

        from frechetrange_spark.kernels.batch import _list_buffers

        for rb in batches:
            fx, ox = _list_buffers(rb.column("xs"))
            fy, oy = _list_buffers(rb.column("ys"))
            B = rb.num_rows
            per_level_x = [[] for _ in range(levels)]
            per_level_y = [[] for _ in range(levels)]
            per_level_e = [np.empty(B) for _ in range(levels)]
            for r in range(B):
                curve = np.column_stack([fx[ox[r] : ox[r + 1]], fy[oy[r] : oy[r + 1]]])
                for i, (idx, eps) in enumerate(
                    simplification_levels(curve, diagonal, levels, fractions, min_pts)
                ):
                    per_level_x[i].append(curve[idx, 0])
                    per_level_y[i].append(curve[idx, 1])
                    per_level_e[i][r] = eps
            arrays = list(rb.columns)
            names = list(rb.schema.names)
            for i in range(levels):
                arrays += [
                    pa.array(per_level_x[i], type=pa.list_(pa.float64())),
                    pa.array(per_level_y[i], type=pa.list_(pa.float64())),
                    pa.array(per_level_e[i]),
                ]
                names += [f"s{i}_xs", f"s{i}_ys", f"s{i}_eps"]
            yield pa.RecordBatch.from_arrays(arrays, names)

    return curves.mapInArrow(fn, schema=out_schema)
