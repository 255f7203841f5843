"""J2 signature join, F5 negative filter, and the SQL UDF surface."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from frechetrange_spark.kernels.core import (
    decide_frechet,
    equal_time_distance,
    frechet_distance,
    greedy_upper_bound,
    negfilter,
)


class TestNegfilter:
    """F5 proves NO only when the answer really is NO (never changes
    result sets — SURVEY §7 step 4 requirement)."""

    def test_never_contradicts_decider(self):
        rng = np.random.default_rng(31)
        fired = 0
        for _ in range(200):
            p = np.cumsum(rng.normal(size=(rng.integers(2, 40), 2)), axis=0)
            q = np.cumsum(rng.normal(size=(rng.integers(2, 40), 2)), axis=0)
            q += rng.normal(scale=3.0, size=2)
            eps = rng.uniform(0.5, 10.0)
            if negfilter(p, q, eps):
                fired += 1
                assert not decide_frechet(p, q, eps)
        assert fired > 0  # the filter actually fires on this distribution

    def test_fires_on_clear_separation(self):
        p = np.array([[0.0, 0.0], [1.0, 0.0]])
        q = np.array([[100.0, 100.0], [101.0, 100.0]])
        assert negfilter(p, q, 1.0)

    def test_inconclusive_on_equal_curves(self):
        p = np.array([[0.0, 0.0], [5.0, 1.0], [9.0, 0.0]])
        assert not negfilter(p, p, 0.5)


@pytest.mark.usefixtures("spark")
class TestSignatureJoin:
    def _curves(self, spark):
        from frechetrange_spark.sources.trajectories import (
            assemble_curves,
            trajectory_points,
        )

        return assemble_curves(
            trajectory_points(spark, "/root/testdata/sf0.001")
        ).persist()

    def test_bb_equals_grid_range_query(self, spark):
        from frechetrange_spark.operators.range_query import (
            build_grid_index,
            range_query_grid,
        )
        from frechetrange_spark.operators.signature import bb_range_query

        curves = self._curves(spark)
        queries = curves.filter(F.col("traj_id") % 20 == 0)
        idx, meta = build_grid_index(curves, 15.0, corner="min_min")
        grid_res = set(
            map(tuple, range_query_grid(idx, queries, 15.0, meta).collect())
        )
        bb_res = set(map(tuple, bb_range_query(curves, queries, 15.0, 15.0).collect()))
        assert bb_res == grid_res

    def test_signature_candidates_superset_of_matches(self, spark):
        from frechetrange_spark.operators.signature import (
            bb_range_query,
            signature_candidates,
        )

        curves = self._curves(spark)
        queries = curves.filter(F.col("traj_id") % 20 == 0)
        cand = set(
            map(
                tuple,
                signature_candidates(curves, queries, 15.0, 15.0)
                .select(F.col("q_traj_id"), F.col("traj_id"))
                .collect(),
            )
        )
        matches = set(map(tuple, bb_range_query(curves, queries, 15.0, 15.0).collect()))
        assert matches <= cand


@pytest.mark.usefixtures("spark")
class TestUdfSurface:
    def test_sql_udfs(self, spark):
        from frechetrange_spark.functions import register_all

        register_all(spark)
        df = spark.createDataFrame(
            [
                (
                    [1.0, 2.0, 4.0, 5.0],
                    [0.0, 0.0, 0.0, 0.0],
                    [1.0, 3.0, 5.0],
                    [0.0, 3.0, 0.0],
                )
            ],
            "xs1 array<double>, ys1 array<double>, xs2 array<double>, ys2 array<double>",
        )
        df.createOrReplaceTempView("udf_test_pairs")
        row = spark.sql(
            """
            SELECT frechet_decide(xs1, ys1, xs2, ys2, 3.01) AS yes,
                   frechet_decide(xs1, ys1, xs2, ys2, 2.99) AS no,
                   frechet_dist(xs1, ys1, xs2, ys2) AS d,
                   frechet_etd(xs1, ys1, xs2, ys2) AS etd,
                   frechet_greedy_ub(xs1, ys1, xs2, ys2) AS gub,
                   agarwal_simplify(xs1, ys1, 0.1) AS simp
            FROM udf_test_pairs
            """
        ).first()
        # reference known answer: delta_F = 3 (python-package/test.py:11-19)
        assert row["yes"] and not row["no"]
        assert abs(row["d"] - 3.0) < 1e-6
        assert row["etd"] >= row["d"] - 1e-12
        assert row["gub"] >= row["d"] - 1e-12
        assert row["simp"][0] == 0 and row["simp"][-1] == 3

    def test_udf_distance_matches_kernel(self, spark):
        from frechetrange_spark.functions import (
            frechet_decide,
            frechet_dist,
            frechet_etd,
            frechet_greedy_ub,
        )

        rng = np.random.default_rng(33)
        rows = []
        curves = []
        for _ in range(20):
            p = np.cumsum(rng.normal(size=(rng.integers(2, 30), 2)), axis=0)
            q = np.cumsum(rng.normal(size=(rng.integers(2, 30), 2)), axis=0)
            curves.append((p, q))
            rows.append(
                (p[:, 0].tolist(), p[:, 1].tolist(), q[:, 0].tolist(), q[:, 1].tolist())
            )
        df = spark.createDataFrame(
            rows,
            "xs1 array<double>, ys1 array<double>, xs2 array<double>, ys2 array<double>",
        )
        got = [
            r["d"]
            for r in df.select(
                frechet_dist("xs1", "ys1", "xs2", "ys2").alias("d")
            ).collect()
        ]
        exp = [frechet_distance(p, q) for p, q in curves]
        np.testing.assert_allclose(got, exp, rtol=1e-7)

        # a frame spanning several kernel length tiles: the
        # decide, greedy and ETD UDFs against the scalar kernels
        rows, curves = [], []
        for _ in range(600):
            p = np.cumsum(rng.normal(size=(rng.integers(1, 31), 2)), axis=0)
            q = np.cumsum(rng.normal(size=(rng.integers(1, 31), 2)), axis=0)
            e = float(rng.uniform(0.5, 10.0))
            curves.append((p, q, e))
            rows.append(
                (p[:, 0].tolist(), p[:, 1].tolist(), q[:, 0].tolist(), q[:, 1].tolist(), e)
            )
        df = spark.createDataFrame(
            rows,
            "xs1 array<double>, ys1 array<double>, xs2 array<double>, "
            "ys2 array<double>, eps double",
        ).coalesce(1)
        args = ("xs1", "ys1", "xs2", "ys2")
        got = df.select(
            F.monotonically_increasing_id().alias("i"),
            frechet_decide(*args, "eps").alias("yes"),
            frechet_greedy_ub(*args).alias("gub"),
            frechet_etd(*args).alias("etd"),
        ).orderBy("i").collect()
        assert [r["yes"] for r in got] == [decide_frechet(p, q, e) for p, q, e in curves]
        assert [r["gub"] for r in got] == [greedy_upper_bound(p, q) for p, q, _ in curves]
        np.testing.assert_allclose(
            [r["etd"] for r in got],
            [equal_time_distance(p, q) for p, q, _ in curves],
            rtol=1e-12,
        )
