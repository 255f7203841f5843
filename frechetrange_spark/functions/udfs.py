"""The engine's scalar UDF surface — the Spark counterpart of the
reference's Python binding (python-package/frechet.cpp:406-432 registers
``FrechetDecider.decide/decide_dv/decide_bb``; index classes expose
add/build/query). Per the input hint, everything is a vectorized
Arrow/pandas UDF — no per-row Python registered anywhere.

Curves are passed as paired array<double> columns (xs, ys), the engine's
native layout. The Fréchet UDFs are ``arrow_udf``s: their list columns
arrive as pyarrow ListArrays whose buffers go straight into the engine's
curve-table kernels (``kernels.batch.pair_tables`` and the ``*_buffers``
kernels), the same entry every range/kNN kernel uses.
``register_all(spark)`` makes every function callable from SQL, e.g.::

    SELECT frechet_decide(a.xs, a.ys, b.xs, b.ys, 15.0) FROM ...
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql.functions import arrow_udf, pandas_udf
from pyspark.sql.types import ArrayType, BooleanType, DoubleType, LongType


@arrow_udf(BooleanType())
def frechet_decide(
    xs1: pa.Array, ys1: pa.Array, xs2: pa.Array, ys2: pa.Array, eps: pa.Array
) -> pa.Array:
    """True iff continuous Fréchet distance <= eps (exact decision, K5).
    Reference: FrechetDecider.decide, python-package/frechet.cpp:86-111."""
    from frechetrange_spark.kernels.batch import decide_pairs_arrow

    e = eps.cast(pa.float64()).to_numpy(zero_copy_only=False)
    return pa.array(decide_pairs_arrow(xs1, ys1, xs2, ys2, e, etd_accept=False))


@arrow_udf(DoubleType())
def frechet_dist(xs1: pa.Array, ys1: pa.Array, xs2: pa.Array, ys2: pa.Array) -> pa.Array:
    """Fréchet distance value via batched bisection over the decider (K12,
    samples/plain.cpp:47-60)."""
    from frechetrange_spark.kernels.batch import distance_pairs_buffers, pair_tables

    return pa.array(distance_pairs_buffers(*pair_tables(xs1, ys1, xs2, ys2)))


@arrow_udf(DoubleType())
def frechet_etd(xs1: pa.Array, ys1: pa.Array, xs2: pa.Array, ys2: pa.Array) -> pa.Array:
    """Equal-time distance — upper bound on the Fréchet distance (F8,
    detail/bddm/spatial_hash.hpp:253-362)."""
    from frechetrange_spark.kernels.batch import etd_pairs_buffers, pair_tables

    return pa.array(etd_pairs_buffers(*pair_tables(xs1, ys1, xs2, ys2)))


@arrow_udf(DoubleType())
def frechet_greedy_ub(
    xs1: pa.Array, ys1: pa.Array, xs2: pa.Array, ys2: pa.Array
) -> pa.Array:
    """Greedy monotone-alignment upper bound (F4,
    detail/bb/spatial_index.hpp:251-278): one flat walk over all rows."""
    from frechetrange_spark.kernels.batch import greedy_pairs_buffers, pair_tables

    return pa.array(greedy_pairs_buffers(*pair_tables(xs1, ys1, xs2, ys2)))


@pandas_udf(ArrayType(LongType()))
def agarwal_simplify(xs: pd.Series, ys: pd.Series, eps: pd.Series) -> pd.Series:
    """Vertex indices of the Agarwal simplification at eps (K8,
    detail/bddm/spatial_hash.hpp:1193-1257); frechet(curve[idx], curve) <= eps."""
    from frechetrange_spark.kernels.simplify import agarwal_indices

    out = []
    for a, b, e in zip(xs, ys, eps):
        c = np.column_stack([np.asarray(a), np.asarray(b)])
        out.append(agarwal_indices(c, float(e)).tolist())
    return pd.Series(out)


def register_all(spark) -> None:
    """Register the full UDF surface for SQL use."""
    spark.udf.register("frechet_decide", frechet_decide)
    spark.udf.register("frechet_dist", frechet_dist)
    spark.udf.register("frechet_etd", frechet_etd)
    spark.udf.register("frechet_greedy_ub", frechet_greedy_ub)
    spark.udf.register("agarwal_simplify", agarwal_simplify)
