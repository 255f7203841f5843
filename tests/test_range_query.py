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


def test_self_join_attach_uses_build_payload(spark, corpus, monkeypatch):
    """A self-join's attach decision (``symmetric=True``: the queries are
    the indexed curves) reads the query side's payload from the index's
    build-time ``payload_bytes`` and runs no payload job of its own."""
    from frechetrange_spark.operators import range_query as rq

    index_df, meta = build_grid_index(corpus, 15.0)

    def no_scan(df, thr):
        raise AssertionError("payload job on a self-join")

    monkeypatch.setattr(rq, "_payload_bytes_gated", no_scan)
    q, t = rq._sources(index_df, corpus, meta, 0, True, "auto")
    assert q[0] == t[0] == "bcast"
    with pytest.raises(AssertionError, match="payload job"):
        rq._sources(index_df, corpus, meta, 0, False, "auto")


class TestKernelCalls:
    """The refine and kNN maps hand a partition's Arrow batches to the
    kernels as a few large calls (``_kernel_calls``): the rows must not
    depend on how Spark cut the partition into batches, nor on how the
    batches are merged into calls."""

    @staticmethod
    def _pairs(n=1500, seed=61):
        """(curves, qi, ti): 90 curves resampled from 30 walks, and pairs
        of curves that are mostly from the same walk, so every refine
        stage decides some of them at eps 1."""
        import numpy as np

        rng = np.random.default_rng(seed)
        walks = [np.cumsum(rng.uniform(-1, 1, (30, 2)), axis=0) for _ in range(30)]
        curves = []
        for w in walks:
            for _ in range(3):
                k = int(rng.integers(2, 40))
                u = np.sort(np.concatenate([[0.0, 29.0], rng.uniform(0, 29, k - 2)]))
                c = np.column_stack([np.interp(u, np.arange(30), w[:, d]) for d in (0, 1)])
                curves.append(c + rng.normal(0, 0.2, c.shape))
        qi = rng.integers(0, 90, n)
        ti = np.where(rng.random(n) < 0.7, 3 * (qi // 3) + rng.integers(0, 3, n), rng.integers(0, 90, n))
        return curves, qi.astype(np.int64), ti.astype(np.int64)

    @staticmethod
    def _batches(cols: dict, sizes) -> list:
        """The rows of ``cols`` cut into consecutive batches of ``sizes``."""
        import pyarrow as pa

        rb = pa.RecordBatch.from_pydict(cols)
        out, s = [], 0
        for k in sizes:
            out.append(rb.slice(s, k))
            s += k
        assert s == rb.num_rows
        return out

    @staticmethod
    def _rows(fn, batches) -> list:
        import pyarrow as pa

        rows = pa.Table.from_batches(list(fn(iter(batches)))).to_pylist()
        return sorted(tuple(r.values()) for r in rows)

    def _same_rows(self, fn, cols, n, monkeypatch):
        """``fn``'s rows on one batch equal its rows on 60 small batches,
        merged into one call or, with a small byte budget, into several."""
        import numpy as np

        from frechetrange_spark.operators import range_query as rq

        rng = np.random.default_rng(5)
        cuts = np.sort(rng.choice(np.arange(1, n), 59, replace=False))
        sizes = np.diff(np.concatenate([[0], cuts, [n]])).tolist()
        whole = self._rows(fn, self._batches(cols, [n]))
        assert len(whole) > 0
        assert self._rows(fn, self._batches(cols, sizes)) == whole
        small = self._batches(cols, sizes)
        monkeypatch.setattr(rq, "CALL_BYTES", sum(b.nbytes for b in small) // 7)
        assert len(list(rq._kernel_calls(iter(small)))) > 1
        assert self._rows(fn, small) == whole
        return whole

    def test_refine_map_rows_independent_of_batches(self, monkeypatch):
        from types import SimpleNamespace

        import numpy as np

        from frechetrange_spark.operators.range_query import _refine_map

        curves, qi, ti = self._pairs()
        n = qi.size
        ids = np.arange(len(curves), dtype=np.int64) * 10 + 3
        inline = {
            "query_id": ids[qi],
            "traj_id": ids[ti],
            "q_xs": [curves[i][:, 0] for i in qi],
            "q_ys": [curves[i][:, 1] for i in qi],
            "xs": [curves[i][:, 0] for i in ti],
            "ys": [curves[i][:, 1] for i in ti],
        }
        off = np.concatenate([[0], np.cumsum([len(c) for c in curves])]).astype(np.int64)
        pack = {
            "ids": ids,
            "cols": {
                "xs": (np.concatenate([c[:, 0] for c in curves]), off),
                "ys": (np.concatenate([c[:, 1] for c in curves]), off),
            },
            "scal": {},
        }
        bcast = ("bcast", SimpleNamespace(value=pack))
        flags = dict(greedy_accept=True, rev_greedy_accept=True, dfd_accept=True)
        for stats in (False, True):
            fn = _refine_map(1.0, mirror=True, stats=stats, **flags)
            rows = self._same_rows(fn, inline, n, monkeypatch)
            ids_only = {"query_id": inline["query_id"], "traj_id": inline["traj_id"]}
            fb = _refine_map(1.0, mirror=True, stats=stats, sources=(bcast, bcast), **flags)
            assert self._same_rows(fb, ids_only, n, monkeypatch) == rows
            if stats:
                stages = {r[2] for r in rows}
                assert {"etd_accept", "greedy_accept", "decider_no"} <= stages

    def test_knn_maps_rows_independent_of_batches(self, monkeypatch):
        import numpy as np

        from frechetrange_spark.operators.knn import _decide_distance_map, _etd_map
        from frechetrange_spark.operators.range_query import _INLINE

        curves, qi, ti = self._pairs(n=600, seed=67)
        cols = {
            "query_id": qi,
            "traj_id": ti,
            "q_xs": [curves[i][:, 0] for i in qi],
            "q_ys": [curves[i][:, 1] for i in qi],
            "xs": [curves[i][:, 0] for i in ti],
            "ys": [curves[i][:, 1] for i in ti],
        }
        etd = self._same_rows(_etd_map(*_INLINE), cols, qi.size, monkeypatch)
        assert len(etd) == qi.size
        cols["radius"] = np.full(qi.size, 1.5)
        dist = self._same_rows(_decide_distance_map(*_INLINE), cols, qi.size, monkeypatch)
        assert 0 < len(dist) < qi.size

    def test_over_budget_input_is_split_into_calls(self, monkeypatch):
        import numpy as np
        import pyarrow as pa

        from frechetrange_spark.operators import range_query as rq

        batches = [
            pa.RecordBatch.from_pydict({"query_id": np.arange(s, s + 100)})
            for s in range(0, 1000, 100)
        ]
        per = batches[0].nbytes

        def calls():
            out = list(rq._kernel_calls(iter(batches)))
            ids = np.concatenate([c.column("query_id").to_numpy() for c in out])
            assert (ids == np.arange(1000)).all()
            return [c.num_rows for c in out]

        assert calls() == [1000]
        monkeypatch.setattr(rq, "CALL_BYTES", 3 * per)
        assert calls() == [300, 300, 300, 100]
        # a batch over the budget is a call of its own
        monkeypatch.setattr(rq, "CALL_BYTES", per // 2)
        assert calls() == [100] * 10


def _count_packs_and_gates(monkeypatch):
    """Wrap range_query's pack collect and payload gate: returns the list
    of collected pack sizes and the list of gated tables' row counts."""
    from frechetrange_spark.operators import range_query as rq

    packs, gates = [], []
    pack_curves, gated = rq._pack_curves, rq._payload_bytes_gated

    def counting_pack(df, simp_levels):
        pack = pack_curves(df, simp_levels)
        packs.append(pack["ids"].size)
        return pack

    def counting_gate(df, thr):
        gates.append(df.count())
        return gated(df, thr)

    monkeypatch.setattr(rq, "_pack_curves", counting_pack)
    monkeypatch.setattr(rq, "_payload_bytes_gated", counting_gate)
    rq.clear_pack_cache()
    return packs, gates


@pytest.fixture(scope="module")
def stored_index(spark, corpus, tmp_path_factory):
    """(scan, meta) of the corpus index written with write_index and read
    back, as an interactive client reads it per op."""
    from frechetrange_spark.sources.index_table import read_index, write_index

    index_df, meta = build_grid_index(corpus, 15.0, corner="min_min")
    path = str(tmp_path_factory.mktemp("stored") / "idx")
    write_index(index_df, path, meta)
    return read_index(spark, path)


def _interior_reversed(df):
    """``df`` with each curve's interior vertices reversed: the endpoints,
    MBR and vertex set (so every stored feature column) stay valid, the
    curves change."""

    def col(c):
        n = F.size(c)
        return F.when(
            n >= 3,
            F.concat(F.slice(c, 1, 1), F.reverse(F.slice(c, F.lit(2), n - 2)), F.slice(c, -1, 1)),
        ).otherwise(F.col(c))

    return df.withColumn("xs", col("xs")).withColumn("ys", col("ys"))


@pytest.mark.parametrize("shape", ["one_filter", "two_filters", "in_memory"])
def test_row_subset_queries_share_index_pack(spark, corpus, stored_index, monkeypatch, shape):
    """Queries that are filters over the index table (a ``read_index``
    scan, or a persisted in-memory index) are a row subset of it: the
    attach decision runs no payload job for them, no query pack is
    collected (the index's pack serves both sides) and the rows equal
    the brute-force decider's."""
    from frechetrange_spark.operators import range_query as rq

    if shape == "in_memory":
        idx, meta = build_grid_index(corpus, 15.0, corner="min_min")
        idx = idx.persist()
    else:
        idx, meta = stored_index
    queries = idx.filter(F.col("traj_id") % 9 == 0)
    if shape == "two_filters":
        queries = queries.filter(F.col("n_points") > 20)
    n_index = idx.count()
    packs, gates = _count_packs_and_gates(monkeypatch)
    q, t = rq._sources(idx, queries, meta, 0, False, "auto")
    assert q == t and t[0] == "bcast"
    got = _pairs(range_query_grid(idx, queries, 15.0, meta))
    assert packs == [n_index] and gates == []
    assert got == _pairs(range_query_bruteforce(idx, queries, 15.0))
    assert len(got) > queries.count()  # more than the self-matches
    if shape == "in_memory":
        idx.unpersist()


@pytest.mark.parametrize("shape", ["rewrite", "foreign_union", "join"])
def test_non_subset_queries_get_own_gate_and_pack(spark, stored_index, monkeypatch, shape):
    """Query tables that are not provably a row subset of the index get
    their own payload gate and pack and the brute-force decider's rows:
    a ``withColumn("xs", ...)`` rewrite of the index, a union with a
    foreign table whose traj_ids are index ids with other curves, and a
    join (a row subset, but not by plan shape)."""
    idx, meta = stored_index
    n_index = idx.count()
    if shape == "rewrite":
        queries = _interior_reversed(idx).filter(F.col("traj_id") % 9 == 0)
    elif shape == "foreign_union":
        foreign = _interior_reversed(idx).filter(F.col("traj_id") % 9 == 1)
        queries = idx.filter(F.col("traj_id") % 9 == 0).unionByName(foreign)
    else:
        ids = spark.createDataFrame([(i,) for i in range(0, 600, 9)], "traj_id long")
        queries = idx.join(ids, "traj_id")
    n_queries = queries.count()
    packs, gates = _count_packs_and_gates(monkeypatch)
    got = _pairs(range_query_grid(idx, queries, 15.0, meta))
    assert gates == [n_queries]
    assert sorted(packs) == sorted([n_queries, n_index])
    assert got == _pairs(range_query_bruteforce(idx, queries, 15.0))


def test_pair_stage_runs_one_slot_per_core(spark, corpus):
    """The pair stage repartitions into defaultParallelism slots: one
    wave of tasks."""
    from frechetrange_spark.operators.range_query import _pair_stage

    pairs = corpus.select(F.col("traj_id").alias("query_id"), "traj_id")
    out = _pair_stage(pairs, lambda batches: batches, "query_id long, traj_id long")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == corpus.count()
