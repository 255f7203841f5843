"""End-to-end range-query correctness: the indexed pipeline must produce
exactly the brute-force result set (order-insensitive id pairs) — the
reference's own N-version-agreement oracle style (benchmark/test.py:26-78)."""

import pytest
from pyspark.sql import functions as F

from frechetrange_spark.operators.range_query import (
    build_grid_index,
    choose_corner,
    grid_candidates,
    range_query_bruteforce,
    range_query_grid,
)
from frechetrange_spark.sources.trajectories import curves as load_curves
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def corpus(spark):
    c = load_curves(spark, SF_SMALL).cache()
    c.count()
    return c


def _pairs(df):
    return {(r["query_id"], r["traj_id"]) for r in df.collect()}


@pytest.mark.parametrize("eps,mesh", [(5.0, 5.0), (15.0, 15.0), (30.0, 15.0)])
def test_grid_matches_bruteforce(spark, corpus, eps, mesh):
    queries = corpus.filter(F.col("traj_id") % 50 == 0)
    truth = _pairs(range_query_bruteforce(corpus, queries, eps))
    index_df, meta = build_grid_index(corpus, mesh)
    got = _pairs(range_query_grid(index_df, queries, eps, meta))
    assert got == truth
    # sanity: every query matches itself
    qids = {r["traj_id"] for r in queries.select("traj_id").collect()}
    assert {(q, q) for q in qids} <= got


def test_candidates_superset_and_filters_sound(spark, corpus):
    eps, mesh = 15.0, 15.0
    queries = corpus.filter(F.col("traj_id") % 50 == 0)
    truth = _pairs(range_query_bruteforce(corpus, queries, eps))
    index_df, meta = build_grid_index(corpus, mesh)
    cand = grid_candidates(index_df, queries, eps, meta)
    cand_pairs = {
        (r["q_traj_id"], r["traj_id"])
        for r in cand.select("q_traj_id", "traj_id").collect()
    }
    assert truth <= cand_pairs  # filters are necessary conditions only
    f3 = {
        (r["q_traj_id"], r["traj_id"])
        for r in cand.filter("accept_f3").select("q_traj_id", "traj_id").collect()
    }
    assert f3 <= truth  # F3 is a sufficient condition


def test_dihash_matches_bruteforce(spark, corpus):
    """The di-hash engine (J3 endpoint candidates -> exact decider) returns
    exactly the brute-force result set on the synthetic corpus."""
    from frechetrange_spark.operators.dihash import dihash_range_query

    queries = corpus.filter(F.col("traj_id") % 50 == 0)
    truth = _pairs(range_query_bruteforce(corpus, queries, 15.0))
    assert _pairs(dihash_range_query(corpus, queries, 15.0, 15.0)) == truth


def test_choose_corner_is_deterministic(spark, corpus):
    c1 = choose_corner(corpus, 15.0)
    c2 = choose_corner(corpus, 15.0)
    assert c1 == c2
    assert c1 in {"min_min", "min_max", "max_min", "max_max"}


def test_salted_candidates_identical(spark):
    """Hot-cell salting changes the physical plan only: candidate pair sets
    are identical with and without it (SURVEY §4 skew row)."""
    from frechetrange_spark.operators.range_query import (
        build_grid_index,
        grid_candidates,
    )
    from frechetrange_spark.sources.trajectories import (
        assemble_curves,
        trajectory_points,
    )
    from pyspark.sql import functions as F

    curves = assemble_curves(
        trajectory_points(spark, "/root/testdata/sf0.001")
    ).persist()
    queries = curves.filter(F.col("traj_id") % 20 == 0)
    idx, meta = build_grid_index(curves, 15.0, corner="min_min")
    plain = set(
        map(
            tuple,
            grid_candidates(idx, queries, 15.0, meta)
            .select("q_traj_id", "traj_id")
            .collect(),
        )
    )
    salted = set(
        map(
            tuple,
            grid_candidates(idx, queries, 15.0, meta, salt=8)
            .select("q_traj_id", "traj_id")
            .collect(),
        )
    )
    assert salted == plain
    # the auto path: a meta-carried salt (as choose_salt would set on a
    # skewed corpus) is applied by default and changes nothing but the plan
    auto = set(
        map(
            tuple,
            grid_candidates(idx, queries, 15.0, {**meta, "salt": 4})
            .select("q_traj_id", "traj_id")
            .collect(),
        )
    )
    assert auto == plain


def test_auto_salt_heuristic(spark, corpus):
    """choose_salt fires on fan-out skew (one hot cell holding most rows)
    and stays silent on uniform corpora — so the graded/default path gets
    the urban-skew split with no manual flag (SURVEY §4 skew row)."""
    from pyspark.sql import functions as F

    from frechetrange_spark.operators.range_query import choose_salt

    # uniform: 4000 rows over 100 cells, every cell small -> no salt
    uni = spark.range(4000).select(
        (F.col("id") % 10).alias("cell_x"),
        F.floor(F.col("id") / 400).cast("long").alias("cell_y"),
    )
    assert choose_salt(uni, 32) is None
    # hot: 80% of 4000 rows in ONE cell -> salted, clamped to [2, 16]
    hot = spark.range(4000).select(
        F.when(F.col("id") % 10 < 8, F.lit(0))
        .otherwise(F.col("id") % 100 + 1)
        .cast("long")
        .alias("cell_x"),
        F.lit(0).cast("long").alias("cell_y"),
    )
    s = choose_salt(hot, 32)
    assert s is not None and 2 <= s <= 16
    # real uniform corpus: build_grid_index's default auto_salt stays None
    _, meta = build_grid_index(corpus, 15.0, corner="min_min")
    assert meta["salt"] is None


def test_eps_exceeding_mesh_widens_stencil(spark):
    """The reference throws when eps > mesh (grid.hpp:125-127); we widen
    the neighbor stencil instead (SURVEY §7). Results must still equal
    brute force at radius ceil(eps/mesh) = 3."""
    from frechetrange_spark.operators.range_query import (
        build_grid_index,
        range_query_bruteforce,
        range_query_grid,
    )
    from frechetrange_spark.sources.trajectories import (
        assemble_curves,
        trajectory_points,
    )
    from pyspark.sql import functions as F

    curves = assemble_curves(
        trajectory_points(spark, "/root/testdata/sf0.001")
    ).persist()
    queries = curves.filter(F.col("traj_id") % 50 == 0)
    idx, meta = build_grid_index(curves, 15.0, corner="min_min")
    for eps in (40.0, 22.5):
        got = set(map(tuple, range_query_grid(idx, queries, eps, meta).collect()))
        exp = set(
            map(tuple, range_query_bruteforce(curves, queries, eps).collect())
        )
        assert got == exp, f"eps={eps}"


def test_small_eps_results_nested(spark):
    """Monotonicity: result sets grow with eps (and tiny eps is mostly
    self-matches only)."""
    from frechetrange_spark.operators.range_query import (
        build_grid_index,
        range_query_grid,
    )
    from frechetrange_spark.sources.trajectories import (
        assemble_curves,
        trajectory_points,
    )
    from pyspark.sql import functions as F

    curves = assemble_curves(
        trajectory_points(spark, "/root/testdata/sf0.001")
    ).persist()
    queries = curves.filter(F.col("traj_id") % 50 == 0)
    idx, meta = build_grid_index(curves, 15.0, corner="min_min")
    prev: set = set()
    for eps in (0.5, 5.0, 15.0):
        cur = set(map(tuple, range_query_grid(idx, queries, eps, meta).collect()))
        assert prev <= cur, f"eps={eps} not a superset"
        prev = cur
    # every query matches itself at any eps
    ids = [r["traj_id"] for r in queries.select("traj_id").collect()]
    assert {(i, i) for i in ids} <= prev


def test_random_corpus_property(spark, tmp_path):
    """End-to-end property check on corpora unlike the synthetic testdata:
    random-walk curves with varying lengths/scales through SSV -> assemble
    -> enrich -> grid index -> range query == brute force, three trials."""
    import numpy as np

    from frechetrange_spark.operators.range_query import (
        build_grid_index,
        range_query_bruteforce,
        range_query_grid,
    )
    from frechetrange_spark.operators.simplifications import (
        enrich_with_simplifications,
    )
    from frechetrange_spark.sources.trajectories import assemble_curves, read_ssv

    rng = np.random.default_rng(1234)
    for trial, (n_curves, eps, mesh) in enumerate(
        [(60, 4.0, 4.0), (40, 9.0, 3.0), (50, 1.0, 8.0)]
    ):
        lines = ["x y id"]
        for tid in range(n_curves):
            n = int(rng.integers(1, 70))
            scale = float(rng.uniform(0.2, 2.0))
            start = rng.uniform(-20, 20, size=2)
            pts = start + np.cumsum(rng.normal(scale=scale, size=(n, 2)), axis=0)
            for x, y in pts:
                lines.append(f"{x!r} {y!r} {tid}")
        p = tmp_path / f"corpus{trial}.ssv"
        p.write_text("\n".join(lines) + "\n")
        pts_df = read_ssv(spark, str(p))
        raw = assemble_curves(pts_df).persist()
        cur = enrich_with_simplifications(
            raw, levels=2, fractions=(0.07, 0.6)
        ).persist()
        idx, meta = build_grid_index(cur, mesh)  # corner chosen by A4/A5
        got = set(map(tuple, range_query_grid(idx, cur, eps, meta).collect()))
        exp = set(map(tuple, range_query_bruteforce(raw, raw, eps).collect()))
        assert got == exp, f"trial={trial}: extra={got-exp} missing={exp-got}"


def test_attach_modes_identical(spark):
    """The refine input can travel two ways — arrays riding the shuffle
    (the 100-TB shape) or ids-only repartition + broadcast array attach
    (faster while the curve table fits the threshold; BENCH.md real-corpus
    section). Result sets must be identical in both, with and without the
    funnel columns and under the symmetric fast path."""
    from frechetrange_spark.operators.range_query import (
        build_grid_index,
        range_query_grid,
    )
    from frechetrange_spark.operators.simplifications import (
        enrich_with_simplifications,
    )
    from frechetrange_spark.sources.trajectories import (
        assemble_curves,
        trajectory_points,
    )

    plain = assemble_curves(
        trajectory_points(spark, "/root/testdata/sf0.001")
    ).persist()
    enriched = enrich_with_simplifications(
        plain, levels=2, fractions=(0.07, 0.6)
    ).persist()
    for curves, sym in ((plain, True), (enriched, False)):
        idx, meta = build_grid_index(curves, 15.0, corner="min_min")
        queries = curves if sym else curves.filter(F.col("traj_id") % 20 == 0)
        shuf = set(
            map(
                tuple,
                range_query_grid(
                    idx, queries, 15.0, meta, symmetric=sym, attach="shuffle"
                ).collect(),
            )
        )
        bcast = set(
            map(
                tuple,
                range_query_grid(
                    idx, queries, 15.0, meta, symmetric=sym, attach="broadcast"
                ).collect(),
            )
        )
        assert bcast == shuf


def test_symmetric_self_join_identical(spark):
    """The symmetric fast path (lower-triangle refine + mirror) returns
    exactly the plain self-join result set."""
    from frechetrange_spark.operators.range_query import (
        build_grid_index,
        range_query_grid,
    )
    from frechetrange_spark.operators.simplifications import (
        enrich_with_simplifications,
    )
    from frechetrange_spark.sources.trajectories import (
        assemble_curves,
        trajectory_points,
    )

    curves = enrich_with_simplifications(
        assemble_curves(trajectory_points(spark, "/root/testdata/sf0.001")),
        levels=2,
        fractions=(0.07, 0.6),
    ).persist()
    idx, meta = build_grid_index(curves, 15.0, corner="min_min")
    plain = set(map(tuple, range_query_grid(idx, curves, 15.0, meta).collect()))
    sym = set(
        map(
            tuple,
            range_query_grid(idx, curves, 15.0, meta, symmetric=True).collect(),
        )
    )
    assert sym == plain


class TestAutoMesh:
    """mesh=None workload-model selection (A4/A5-style argmin over an
    eps-relative mesh grid; the reference pins mesh=10*eps by convention,
    benchmark/benchmark.py:59)."""

    def test_mesh_costs_pairs_is_exact_join_size(self, spark, corpus):
        """The `pairs` statistic must equal the ACTUAL equi-join output
        size of grid_candidates before the F1/F2 predicates — it is a
        histogram identity, not an estimate."""
        from frechetrange_spark.operators.range_query import (
            _CORNERS,
            cell_coord,
            mesh_costs,
        )
        from frechetrange_spark.operators.tiling import explode_neighbor_cells

        eps, mesh = 15.0, 30.0
        costs = mesh_costs(corpus, eps, [mesh], corner="min_min")
        cx, cy = _CORNERS["min_min"]
        homes = corpus.select(
            cell_coord(F.col(cx), mesh).alias("cell_x"),
            cell_coord(F.col(cy), mesh).alias("cell_y"),
        )
        q = corpus.select(F.col(cx).alias(f"q_{cx}"), F.col(cy).alias(f"q_{cy}"))
        stencil = explode_neighbor_cells(q, f"q_{cx}", f"q_{cy}", mesh, eps)
        direct = stencil.join(homes, ["cell_x", "cell_y"]).count()
        assert costs[0]["pairs"] == direct
        assert costs[0]["exploded"] == stencil.count()

    def test_choose_mesh_deterministic_and_in_candidates(self, spark, corpus):
        from frechetrange_spark.operators.range_query import choose_mesh

        eps = 15.0
        cands = [eps * f for f in (1.0, 2.0, 5.0, 10.0, 20.0)]
        m1 = choose_mesh(corpus, eps, corner="min_min")
        m2 = choose_mesh(corpus, eps, corner="min_min")
        assert m1 == m2
        assert m1 in cands

    def test_build_auto_mesh_matches_bruteforce(self, spark, corpus):
        """build_grid_index(mesh=None, eps=...) must return the same
        result set as any pinned mesh (grid is only a candidate filter)."""
        from frechetrange_spark.operators.range_query import (
            build_grid_index,
            range_query_bruteforce,
            range_query_grid,
        )

        eps = 15.0
        queries = corpus.filter(F.col("traj_id") % 50 == 0)
        truth = _pairs(range_query_bruteforce(corpus, queries, eps))
        idx, meta = build_grid_index(corpus, mesh=None, eps=eps)
        assert meta["mesh_auto"] is True
        assert meta["mesh"] > 0
        got = _pairs(range_query_grid(idx, queries, eps, meta))
        assert got == truth

    def test_mesh_none_without_eps_raises(self, spark, corpus):
        from frechetrange_spark.operators.range_query import build_grid_index

        with pytest.raises(ValueError):
            build_grid_index(corpus, mesh=None)
