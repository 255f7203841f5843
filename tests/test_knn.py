"""kNN-by-Fréchet: exactness against distributed all-pairs distances."""

import pytest
from pyspark.sql import functions as F

from frechetrange_spark.operators.knn import (
    _pairs_with_arrays,
    frechet_distances,
    knn_frechet,
)
from frechetrange_spark.sources.trajectories import curves as load_curves
from tests.conftest import SF_SMALL

K = 5


@pytest.fixture(scope="module")
def corpus(spark):
    c = load_curves(spark, SF_SMALL).cache()
    c.count()
    return c


def test_radius_boundary_translated_duplicates():
    """A pair whose true distance EQUALS the prune radius must survive
    the radius decision *without* relying on the ETD pre-accept.

    Translated duplicates are the adversarial case: their Fréchet distance
    is their own ETD, so when the k-th smallest ETD is the pair's ETD the
    radius decision runs exactly at the boundary, where eps*eps =
    sqrt(d2)^2 rounds below d2 (empirically 119/2000 false rejects with
    the bare decider at eps==ETD, 4/2000 at one ulp). Pins the
    1e-12-relative widening in _decide_distance_map so a future
    etd_accept / chunk-layout change can't silently drop true top-k
    members."""
    import numpy as np
    import pyarrow as pa

    from frechetrange_spark.kernels.batch import decide_pairs_arrow, etd_batch

    rng = np.random.default_rng(7)
    n = 2000
    bx = np.cumsum(rng.normal(size=12))
    by = np.cumsum(rng.normal(size=12))
    P = np.broadcast_to(np.stack([bx, by], axis=1), (n, 12, 2)).copy()
    shift = rng.normal(size=(n, 1, 2))
    Q = P + shift
    radius = etd_batch(P, Q)  # == the pair's true Fréchet distance

    def col(a):
        return pa.array([row.tolist() for row in a], pa.list_(pa.float64()))

    args = (col(P[:, :, 0]), col(P[:, :, 1]), col(Q[:, :, 0]), col(Q[:, :, 1]))
    # the exact widening _decide_distance_map applies, bare decider
    widened = np.nextafter(radius * (1.0 + 1e-12), np.inf)
    keep = decide_pairs_arrow(*args, widened, etd_accept=False)
    assert keep.all(), f"{int((~keep).sum())}/{n} boundary pairs dropped"
    # and the widening is sound: clearly-outside pairs still rejected
    reject = decide_pairs_arrow(*args, radius * 0.999, etd_accept=False)
    assert not reject.any()

    # drive the actual kernel too (it applies the widening internally),
    # on inline curve sources: the arrays ride the pair rows
    from frechetrange_spark.operators.knn import _decide_distance_map
    from frechetrange_spark.operators.range_query import _INLINE

    rb = pa.RecordBatch.from_arrays(
        [
            pa.array(np.arange(n)),
            pa.array(np.arange(n)),
            *args,
            pa.array(radius),
        ],
        ["query_id", "traj_id", "q_xs", "q_ys", "xs", "ys", "radius"],
    )
    out = list(_decide_distance_map(*_INLINE)(iter([rb])))
    assert sum(b.num_rows for b in out) == n


def test_grid_prefilter_identical_and_sublinear(spark):
    """knn_candidates_grid returns the exact same top-k as the all-pairs
    bound pass, and on a clustered corpus (10 far-apart clusters) its
    candidate stream is sublinear — each query's ring probes stay inside
    its own cluster instead of scoring all N curves."""
    from pyspark.sql import functions as F

    from frechetrange_spark.operators.knn import knn_candidates_grid
    from frechetrange_spark.sources.trajectories import (
        assemble_curves,
        trajectory_points,
    )

    pts = trajectory_points(spark, SF_SMALL).select(
        "traj_id",
        "seq",
        (F.col("x") + (F.col("traj_id") % 10) * 100000.0).alias("x"),
        "y",
    )
    curves = assemble_curves(pts).localCheckpoint()
    queries = curves.filter(F.col("traj_id") % 150 == 0).localCheckpoint()
    n, q = curves.count(), queries.count()

    n_cand = knn_candidates_grid(curves, queries, K, 15.0).count()
    assert n_cand < 0.25 * q * (n - 1), f"{n_cand} of {q * (n - 1)} pairs"

    grid = knn_frechet(curves, queries, k=K, mesh=15.0).toPandas()
    allp = knn_frechet(curves, queries, k=K, mesh=None).toPandas()
    key = ["query_id", "rank"]
    grid = grid.sort_values(key).reset_index(drop=True)
    allp = allp.sort_values(key).reset_index(drop=True)
    assert list(grid["traj_id"]) == list(allp["traj_id"])
    assert list(grid["distance"]) == pytest.approx(list(allp["distance"]))


def test_knn_exact(spark, corpus):
    queries = corpus.filter(F.col("traj_id") % 150 == 0)
    got = knn_frechet(corpus, queries, k=K, mesh=15.0).toPandas()

    # brute force: all-pairs distances, top-k in pandas
    all_pairs = (
        queries.select(F.col("traj_id").alias("query_id"))
        .crossJoin(corpus.select("traj_id"))
        .filter(F.col("query_id") != F.col("traj_id"))
    )
    dists = frechet_distances(
        _pairs_with_arrays(corpus, queries, all_pairs)
    ).toPandas()

    for qid, sub in got.groupby("query_id"):
        want = (
            dists[dists["query_id"] == qid]
            .sort_values(["distance", "traj_id"])
            .head(K)
        )
        sub = sub.sort_values("rank")
        assert list(sub["traj_id"]) == list(want["traj_id"]), qid
        assert list(sub["distance"]) == pytest.approx(
            list(want["distance"]), rel=1e-9, abs=1e-9
        )
    assert set(got["query_id"]) == {
        r["traj_id"] for r in queries.select("traj_id").collect()
    }
    assert (got.groupby("query_id").size() == K).all()


def test_etd_radius_prune_keeps_boundary_pair(spark):
    """A pair whose ETD sets the radius (the k-th smallest ETD) and whose
    hypot endpoint lower bound rounds one ulp above that ETD must survive
    the ETD prune: its Fréchet distance can equal the radius (a
    translated duplicate's distance is its own ETD), so dropping it loses
    a true k-th neighbour. Clearly-outside pairs are still pruned."""
    import numpy as np

    from frechetrange_spark.operators.knn import _etd_radius_prune

    etd = 11.930339
    lb = float(np.nextafter(etd, np.inf))
    bounds = spark.createDataFrame(
        [(1, 10, 0.5, 1.0), (1, 11, lb, etd), (1, 12, etd + 5.0, etd + 6.0)],
        "query_id long, traj_id long, lb double, etd double",
    )
    kept = {r["traj_id"] for r in _etd_radius_prune(bounds, 2).collect()}
    assert kept == {10, 11}


def test_knn_arms_agree(spark, corpus):
    """Past the broadcast threshold knn_frechet runs the same plan on
    inline curve sources (arrays joined onto the pair rows) instead of
    broadcast packs: same (query_id, traj_id, rank) rows, same distances."""
    queries = corpus.filter(F.col("traj_id") % 150 == 0)
    key = ["query_id", "rank"]
    packed = knn_frechet(corpus, queries, k=K, mesh=15.0).toPandas()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1k")
        inline = knn_frechet(corpus, queries, k=K, mesh=15.0).toPandas()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    packed = packed.sort_values(key).reset_index(drop=True)
    inline = inline.sort_values(key).reset_index(drop=True)
    assert len(packed) > 0
    cols = ["query_id", "traj_id", "rank"]
    assert inline[cols].values.tolist() == packed[cols].values.tolist()
    assert list(inline["distance"]) == pytest.approx(list(packed["distance"]))


def _dense_ring_plan(qcx, qcy, ccx, ccy, ccnt, k):
    """The ring planner on the full (Q, C) matrix — the reference the
    blocked planner must reproduce."""
    import numpy as np

    g = np.maximum(np.abs(qcx[:, None] - ccx[None, :]), np.abs(qcy[:, None] - ccy[None, :]))
    order = np.argsort(g, axis=1, kind="stable")
    g_sorted = np.take_along_axis(g, order, axis=1)
    reach = np.cumsum(ccnt[order], axis=1) >= k + 1
    first = np.argmax(reach, axis=1)
    rq = np.where(reach.any(axis=1), g_sorted[np.arange(len(qcx)), first], g_sorted[:, -1])
    return g, rq, g_sorted[:, -1]


def _histogram(rng, n_q, n_c):
    import numpy as np

    cells = rng.choice(400 * 400, n_c, replace=False)
    ccx, ccy = cells // 400 - 200, cells % 400 - 200
    ccnt = rng.integers(1, 4, n_c)
    qcx, qcy = rng.integers(-200, 200, n_q), rng.integers(-200, 200, n_q)
    return qcx, qcy, ccx, ccy, ccnt


def test_ring_planner_blocks_match_dense(monkeypatch):
    """The query-blocked ring planner returns the dense planner's r_q,
    farthest ring and (query, cell) probe pairs, in the same order."""
    import numpy as np

    from frechetrange_spark.operators import knn

    rng = np.random.default_rng(3)
    qcx, qcy, ccx, ccy, ccnt = _histogram(rng, 97, 300)
    g, rq_d, gall_d = _dense_ring_plan(qcx, qcy, ccx, ccy, ccnt, K)
    monkeypatch.setattr(knn, "_PLAN_CELLS", 1000)  # 3 queries per block
    assert len(knn._plan_blocks(97, 300)) == 33
    for kk in (1, K, 200, 10_000):  # 10_000: no ring reaches k+1
        _, rq_k, gall_k = _dense_ring_plan(qcx, qcy, ccx, ccy, ccnt, kk)
        rq, g_all = knn._ring_radii(qcx, qcy, ccx, ccy, ccnt, kk)
        assert (rq == rq_k).all() and (g_all == gall_k).all()
    for bound in (rq_d, gall_d, rq_d + 0.5):
        qi, ci = knn._ring_pairs(qcx, qcy, ccx, ccy, bound)
        dqi, dci = np.nonzero(g <= bound[:, None])
        assert (qi == dqi).all() and (ci == dci).all()


def test_ring_planner_driver_memory_bounded():
    """Ring planning for Q=500 queries over a C=20,000-cell histogram
    peaks under 40 MB of traced numpy memory. The dense (Q, C) planner
    holds several 80 MB int64 matrices at once (~380 MB peak)."""
    import tracemalloc

    import numpy as np

    from frechetrange_spark.operators.knn import _ring_pairs, _ring_radii

    qcx, qcy, ccx, ccy, ccnt = _histogram(np.random.default_rng(5), 500, 20_000)
    tracemalloc.start()
    try:
        rq, g_all = _ring_radii(qcx, qcy, ccx, ccy, ccnt, K)
        qi, _ = _ring_pairs(qcx, qcy, ccx, ccy, rq)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert qi.size >= 500 * (K + 1) // 3  # each query probes >= 1 ring
    assert peak < 40 * 2**20, f"ring planner peaked at {peak / 2**20:.0f} MB"


def test_knn_shares_index_pack_with_range(spark, corpus, tmp_path, monkeypatch):
    """Two kNN calls with different queries over one ``read_index`` scan
    collect the index-side broadcast pack once, and a range query over
    the same scan reuses it: kNN keys its packs by the caller's plan."""
    from frechetrange_spark.operators import range_query as rq
    from frechetrange_spark.sources.index_table import read_index, write_index

    index_df, meta = rq.build_grid_index(corpus, 15.0, corner="min_min")
    path = str(tmp_path / "idx")
    write_index(index_df, path, meta)
    idx, meta = read_index(spark, path)
    n_index = idx.count()
    collects = []
    pack_curves = rq._pack_curves

    def counting(df, simp_levels):
        pack = pack_curves(df, simp_levels)
        collects.append(pack["ids"].size)
        return pack

    monkeypatch.setattr(rq, "_pack_curves", counting)
    rq.clear_pack_cache()
    for mod in (150, 170):
        queries = idx.filter(F.col("traj_id") % mod == 0)
        assert knn_frechet(idx, queries, k=K, mesh=15.0).count() > 0
    assert collects.count(n_index) == 1, collects
    assert rq.range_query_grid(idx, queries, 15.0, meta).count() > 0
    assert collects.count(n_index) == 1, collects


def test_knn_scans_index_payload_once_per_file_set(spark, corpus, tmp_path, monkeypatch):
    """kNN carries no build-time meta, so its attach gate scans the index
    table's payload — once: two kNN calls with different row-subset
    queries over one ``read_index`` scan run one payload job (the
    estimate is kept in the index's cached pack entry) and none for the
    queries. After a parquet file lands in the index's data dir the
    re-read scan lists other files, and the next call scans again."""
    import os

    from frechetrange_spark.operators import range_query as rq
    from frechetrange_spark.sources.index_table import read_index, write_index

    index_df, meta = rq.build_grid_index(corpus, 15.0, corner="min_min")
    path = str(tmp_path / "idx")
    write_index(index_df, path, meta)
    gates = []
    gated = rq._payload_bytes_gated

    def counting(df, thr):
        gates.append(df.count())
        return gated(df, thr)

    monkeypatch.setattr(rq, "_payload_bytes_gated", counting)
    rq.clear_pack_cache()
    idx, _ = read_index(spark, path)
    n_index = idx.count()
    for mod in (150, 170):
        queries = idx.filter(F.col("traj_id") % mod == 0)
        assert knn_frechet(idx, queries, k=K, mesh=15.0).count() > 0
    assert gates == [n_index]
    idx.filter(F.col("traj_id") == 0).withColumn(
        "traj_id", F.lit(10**6).cast("long")
    ).select(*idx.columns).write.mode("append").parquet(os.path.join(path, "data"))
    idx, _ = read_index(spark, path)
    queries = idx.filter(F.col("traj_id") % 150 == 0)
    assert knn_frechet(idx, queries, k=K, mesh=15.0).count() > 0
    assert gates == [n_index, n_index + 1]
