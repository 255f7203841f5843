"""kNN by Fréchet distance (north-rule extension; the reference has no
top-k — SURVEY §2.5 O5).

Single-pass bound-and-prune algorithm (no driver iteration). Ranking is
exact up to the distance kernel's 1e-6 *relative* bisection tolerance
(the reference's own benchmark tolerance, benchmark/benchmark.py): two
candidates whose true distances differ by less than ~2e-6 relative may
swap ranks; every pruning step below is tolerance-free (sound bounds).

1. **Scalar bound pass** — broadcast the query curves' scalar features
   (MBR + endpoints, ~10 doubles) against the dataset's: per pair compute
   a cheap upper bound UB (farthest possible point-pair distance between
   the two MBRs, the F3 quantity of detail/dv/grid.hpp:719-730 — any
   matching is pointwise below it, so δF <= UB) and a lower bound LB
   (max of start/start and end/end distances — endpoints must match
   endpoints — and the per-axis MBR border gaps |Δmin|/|Δmax|, each a
   1-D projection of δF; cf. the F1/F2 filter quantities,
   dv/frechet_distance.hpp:44-47, dv/grid.hpp:683-717).
2. **Radius** — per query, U_k = k-th smallest UB (self excluded). At
   least k curves have δF <= U_k, so every true k-nearest neighbor has
   δF <= U_k and hence LB <= U_k: pairs with LB > U_k cannot be in the
   answer and are pruned without touching any array data.
3. **Refine** — an ETD kernel tightens the radius to the k-th smallest
   equal-time distance (etd_prune), then one fused kernel decides each
   survivor at that radius and computes the exact distance of the
   accepted ones (bisection over the free-space decider, K12, bracketed
   by endpoint-LB / equal-time-UB inside the kernel); a window ranks and
   keeps the top k. Both kernels are range_query pair stages
   (``_pair_stage``) and read curves through its curve sources:
   broadcast packs under ids-only pair streams, or inline arrays joined
   onto the pairs past the broadcast threshold.

Everything is one relational plan + two Arrow kernel passes; there is no
per-round driver loop, so the serial fraction is a single window
aggregate over scalar rows. The scalar cross join broadcasts the query
side, so at cluster scale it is a map-only stage over the (partitioned)
dataset features. The plan reads its inputs several times and
materializes none of them: callers pass persisted, checkpointed or
file-scanned tables."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from frechetrange_spark.operators.range_query import (
    _INLINE,
    _pair_kernel,
    _pair_stage,
    _pairs_with_arrays,
    _sources,
    _xy,
)


def frechet_distances(pairs: DataFrame) -> DataFrame:
    """(query_id, traj_id, distance) for pair rows carrying q_xs/q_ys/xs/ys
    — the fused decide+distance kernel over inline curve sources with an
    infinite radius, so every pair gets its bisection distance."""
    return _pair_stage(
        pairs.withColumn("radius", F.lit(float("inf"))),
        _decide_distance_map(*_INLINE),
        _DIST_SCHEMA,
    )


_DIST_SCHEMA = "query_id long, traj_id long, distance double"

_FEATS = [
    "x_first",
    "y_first",
    "x_last",
    "y_last",
    "min_x",
    "max_x",
    "min_y",
    "max_y",
]


def _ub_col():
    """UB: farthest possible point-pair distance between the MBRs (the F3
    quantity, detail/dv/grid.hpp:719-730) — any matching is pointwise
    below it, so δF <= UB."""
    fx = F.greatest(
        F.abs(F.col("q_min_x") - F.col("max_x")),
        F.abs(F.col("q_max_x") - F.col("min_x")),
    )
    fy = F.greatest(
        F.abs(F.col("q_min_y") - F.col("max_y")),
        F.abs(F.col("q_max_y") - F.col("min_y")),
    )
    return F.sqrt(fx * fx + fy * fy)


def _lb_col():
    """LB: endpoint distances (endpoints must match endpoints) and
    per-axis MBR border gaps — each a 1-D projection of δF (cf. the F1/F2
    filter quantities, dv/frechet_distance.hpp:44-47, grid.hpp:683-717)."""
    d_first = F.sqrt(
        (F.col("q_x_first") - F.col("x_first")) ** 2
        + (F.col("q_y_first") - F.col("y_first")) ** 2
    )
    d_last = F.sqrt(
        (F.col("q_x_last") - F.col("x_last")) ** 2
        + (F.col("q_y_last") - F.col("y_last")) ** 2
    )
    return F.greatest(
        F.abs(F.col("q_min_x") - F.col("min_x")),
        F.abs(F.col("q_max_x") - F.col("max_x")),
        F.abs(F.col("q_min_y") - F.col("min_y")),
        F.abs(F.col("q_max_y") - F.col("max_y")),
        d_first,
        d_last,
    )


def _radius_prune(bounded: DataFrame, k: int) -> DataFrame:
    """Step 2: per query, U_k = k-th smallest UB. At least k curves have
    δF <= U_k, so every true k-nearest neighbor has δF <= U_k and hence
    LB <= U_k: pairs with LB > U_k are pruned. If a query has < k pairs,
    keep them all.

    One-pass plan (r06): U_k and the pair count come from a second window
    over the SAME partitioning instead of a groupBy + broadcast join —
    the old shape evaluated ``bounded`` twice (once under the window,
    once as the join probe) and paid a broadcast-build job; this shape
    computes it once behind a single exchange. Identical keep set (the
    k-th smallest UB value does not depend on the row_number tie
    order)."""
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("ub").asc(), F.col("traj_id").asc()
    )
    w_all = Window.partitionBy("query_id")
    return (
        bounded.withColumn("_rk", F.row_number().over(w_rank))
        .withColumn(
            "_radius", F.max(F.when(F.col("_rk") <= k, F.col("ub"))).over(w_all)
        )
        .withColumn("_np", F.count(F.lit(1)).over(w_all))
        .filter((F.col("_np") <= k) | (F.col("lb") <= F.col("_radius")))
        .select("query_id", "traj_id")
    )


def knn_candidates(curves: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Steps 1-2 over ALL pairs: (query_id, traj_id) pairs that can be in
    the exact top-k by Fréchet distance — scalar bounds only, no array
    data moved. O(N·Q) scalar rows: fine for moderate query batches; use
    ``knn_candidates_grid`` for the sublinear cell-prefiltered variant."""
    t = curves.select(F.col("traj_id"), *[F.col(c) for c in _FEATS])
    q = queries.select(
        F.col("traj_id").alias("query_id"),
        *[F.col(c).alias(f"q_{c}") for c in _FEATS],
    )
    pairs = t.join(F.broadcast(q), F.col("traj_id") != F.col("query_id"))
    bounded = pairs.select(
        "query_id", "traj_id", _lb_col().alias("lb"), _ub_col().alias("ub")
    )
    return _radius_prune(bounded, k)


def knn_candidates_grid(
    curves: DataFrame, queries: DataFrame, k: int, mesh: float
) -> DataFrame:
    """Steps 1-2 with a grid prefilter (SURVEY O5 at scale): instead of
    scoring every (query, curve) pair, probe the home-cell grid with an
    expanding Chebyshev ring — the candidate stream is sublinear in N on
    clustered corpora (tested) while the returned set still provably
    contains the exact top-k.

    Soundness chain (exact, no tuning):
    1. Home cells: each curve keyed by floor(min-corner / mesh) — the J1
       grid convention (grid.hpp:352-358). For home cells at Chebyshev
       cell distance g >= 1, the min-corner coordinates differ by
       > (g-1)·mesh on some axis, and |Δmin_x|, |Δmin_y| are both LB
       terms, so LB > (g-1)·mesh.
    2. Ring radius r_q = smallest g whose cumulative occupied-cell count
       reaches k+1 (per query, over the tiny broadcast cell histogram —
       +1 absorbs the query itself). U'_k = k-th smallest UB among the
       non-self ring pairs. Rings < r_q hold at most k-1 non-self curves
       (else r_q would be smaller), so at least one of the k smallest-UB
       ring curves sits at ring exactly r_q, and U'_k >= its UB >= its
       LB > (r_q-1)·mesh.
    3. Any true top-k member m has δF(m) <= U'_k (>= k ring curves have
       δF <= UB <= U'_k), hence LB(m) <= U'_k, hence by (1) its home
       cell lies within g_max = floor(U'_k/mesh) + 2 (+2: one ring of
       slack absorbs the float division, keeping the bound strict).
    4. The final candidate set = all curves with g <= g_max, re-pruned by
       the standard U_k/LB radius logic (_radius_prune) — a superset of
       the ring set, so its k-th smallest UB <= U'_k and the prune stays
       sound. Identical top-k to the all-pairs variant (tested).

    Cost: the per-(query, occupied-cell) scalar product replaces the
    per-(query, curve) product — on a corpus with C cells << N curves the
    planning stage is O(Q·C) and only cells inside g_max fan out rows."""
    from frechetrange_spark.operators.tiling import cell_coord

    homed = curves.select(F.col("traj_id"), *[F.col(c) for c in _FEATS]).withColumn(
        "cell_x", cell_coord(F.col("min_x"), mesh)
    ).withColumn("cell_y", cell_coord(F.col("min_y"), mesh))
    spark = curves.sparkSession
    # Ring PLANNING runs on the driver (r06): its two inputs are bounded
    # — the occupied-cell histogram (an index statistic of the same
    # family choose_corner/choose_salt already collect; #cells << N) and
    # the per-query scalar features (the bounded query workload, which
    # the refine stage collects into a broadcast pack anyway). The old
    # all-relational planning DAG (crossJoin + window + three
    # checkpoints + five broadcast builds) cost 18 Spark jobs of
    # sub-second tiny-data work per call; this shape costs 2 collects +
    # 1 aggregate, and the DATA-scale work (the two homed probes and the
    # scalar radius prune) stays relational and map-only. Every float
    # expression is replicated exactly (same IEEE ops), so the candidate
    # set is identical (pinned by the grid==all-pairs parity test). The
    # per-(query, cell) numpy work runs over query blocks
    # (_ring_radii/_ring_pairs), so planning never holds a dense Q x C
    # matrix; each probe side is still as large as the (query, cell)
    # pairs it selects, up to Q x C when g_max reaches every cell.
    cell_rows = (
        homed.groupBy("cell_x", "cell_y").agg(F.count("*").alias("cnt")).collect()
    )
    ccx = np.array([r["cell_x"] for r in cell_rows], dtype=np.int64)
    ccy = np.array([r["cell_y"] for r in cell_rows], dtype=np.int64)
    ccnt = np.array([r["cnt"] for r in cell_rows], dtype=np.int64)
    q_rows = queries.select(F.col("traj_id"), *[F.col(c) for c in _FEATS]).collect()
    if not cell_rows or not q_rows:
        return curves.sparkSession.createDataFrame(
            [], "query_id long, traj_id long"
        )
    qid = np.array([r["traj_id"] for r in q_rows], dtype=np.int64)
    qfe = {c: np.array([r[c] for r in q_rows], dtype=np.float64) for c in _FEATS}
    qcx = np.floor(qfe["min_x"] / float(mesh)).astype(np.int64)
    qcy = np.floor(qfe["min_y"] / float(mesh)).astype(np.int64)
    rq, g_all = _ring_radii(qcx, qcy, ccx, ccy, ccnt, k)

    def _probe_df(bound: np.ndarray):
        """(query_id, q-features, cell_x, cell_y) rows for the (query,
        cell) pairs within ring distance ``bound[query]`` — the tiny
        broadcast probe side."""
        qi, ci = _ring_pairs(qcx, qcy, ccx, ccy, bound)
        data = {"query_id": qid[qi]}
        for c in _FEATS:
            data[f"q_{c}"] = qfe[c][qi]
        data["cell_x"] = ccx[ci]
        data["cell_y"] = ccy[ci]
        import pandas as pd

        schema = "query_id long, " + ", ".join(
            f"q_{c} double" for c in _FEATS
        ) + ", cell_x long, cell_y long"
        return spark.createDataFrame(pd.DataFrame(data), schema=schema)

    # ring pairs: curves homed within r_q — enough to bound the k-th
    # smallest UB per query; the probe side is tiny and BROADCAST, so the
    # join is a map-only hash probe over the curves — never a shuffle
    # keyed by (hot) cells.
    ring = (
        homed.join(F.broadcast(_probe_df(rq)), ["cell_x", "cell_y"])
        .filter(F.col("traj_id") != F.col("query_id"))
        .select("query_id", "traj_id", _ub_col().alias("ub"))
    )
    uk_rows = (
        ring.groupBy("query_id")
        .agg(
            F.try_element_at(F.array_sort(F.collect_list("ub")), F.lit(k)).alias(
                "uprime"
            ),
            F.count("*").alias("n_ring"),
        )
        .collect()
    )
    # g_max per query: floor(U'_k/mesh) + 2; a query with < k non-self
    # ring pairs (tiny corpus) falls back to every occupied cell
    g_max = g_all.copy()
    pos = {int(i): n for n, i in enumerate(qid)}
    for r in uk_rows:
        if r["n_ring"] >= k:
            g_max[pos[int(r["query_id"])]] = (
                np.floor(float(r["uprime"]) / float(mesh)) + 2
            )
    cand = homed.join(
        F.broadcast(_probe_df(g_max)), ["cell_x", "cell_y"]
    ).filter(F.col("traj_id") != F.col("query_id"))
    bounded = cand.select(
        "query_id", "traj_id", _lb_col().alias("lb"), _ub_col().alias("ub")
    )
    return _radius_prune(bounded, k)


# (query, occupied cell) entries per block of the ring planner: its
# dense (block, C) int64 work arrays stay ~4 MB each whatever Q is
_PLAN_CELLS = 1 << 19


def _plan_blocks(n_q: int, n_c: int) -> list[slice]:
    """Query-row blocks of the ring planner, sized from the cell count."""
    step = max(1, _PLAN_CELLS // max(n_c, 1))
    return [slice(s, s + step) for s in range(0, n_q, step)]


def _ring_dist(qcx, qcy, ccx, ccy, blk: slice) -> np.ndarray:
    """(block, C) Chebyshev cell distance of the block's queries' home
    cells to every occupied cell."""
    return np.maximum(
        np.abs(qcx[blk, None] - ccx[None, :]), np.abs(qcy[blk, None] - ccy[None, :])
    )


def _ring_radii(qcx, qcy, ccx, ccy, ccnt, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Per query: r_q, the smallest ring distance g whose cumulative
    occupied-cell count reaches k+1 (the farthest ring when none does),
    and g_all, the farthest ring. Runs over query blocks, so driver
    memory is O(_PLAN_CELLS), not O(Q x C)."""
    n_q = qcx.size
    rq = np.empty(n_q, dtype=np.int64)
    g_all = np.empty(n_q, dtype=np.int64)
    for blk in _plan_blocks(n_q, ccx.size):
        g = _ring_dist(qcx, qcy, ccx, ccy, blk)
        order = np.argsort(g, axis=1, kind="stable")
        g_sorted = np.take_along_axis(g, order, axis=1)
        del g
        cum = np.cumsum(ccnt[order], axis=1)
        del order
        reach = cum >= k + 1
        del cum
        first = np.argmax(reach, axis=1)
        g_all[blk] = g_sorted[:, -1]
        rq[blk] = np.where(
            reach.any(axis=1), g_sorted[np.arange(first.size), first], g_sorted[:, -1]
        )
    return rq, g_all


def _ring_pairs(qcx, qcy, ccx, ccy, bound: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(query index, cell index) of every pair with ring distance <=
    ``bound[query]``, in row-major order, block by block."""
    qis, cis = [np.empty(0, dtype=np.int64)], [np.empty(0, dtype=np.int64)]
    for blk in _plan_blocks(qcx.size, ccx.size):
        qi, ci = np.nonzero(_ring_dist(qcx, qcy, ccx, ccy, blk) <= bound[blk, None])
        qis.append(qi + blk.start)
        cis.append(ci)
    return np.concatenate(qis), np.concatenate(cis)


def _etd_map(q_spec, t_spec):
    """ETD + endpoint lower bound per pair (a ``_pair_kernel`` map), both
    curves gathered through the curve sources ``q_spec``/``t_spec``
    (range_query._curve_source): inline pair-row arrays, or broadcast
    packs under an ids-only pair stream (the candidate stream and the
    repartition shuffle then carry 16 B/pair instead of the array
    payload)."""

    def kernel(rb, qid, tid, q, t):
        import pyarrow as pa

        from frechetrange_spark.kernels.batch import etd_pairs_buffers

        (qpack, qsel), (tpack, tsel) = q, t
        bq, bt = _xy(qpack), _xy(tpack)
        fqx, oqx, fqy, oqy = bq
        ftx, otx, fty, oty = bt
        etd = etd_pairs_buffers(bq, bt, qsel, tsel)
        lbs = np.maximum(
            np.hypot(
                fqx[oqx[qsel]] - ftx[otx[tsel]],
                fqy[oqy[qsel]] - fty[oty[tsel]],
            ),
            np.hypot(
                fqx[oqx[qsel + 1] - 1] - ftx[otx[tsel + 1] - 1],
                fqy[oqy[qsel + 1] - 1] - fty[oty[tsel + 1] - 1],
            ),
        )
        return pa.RecordBatch.from_arrays(
            [pa.array(qid), pa.array(tid), pa.array(lbs), pa.array(etd)],
            ["query_id", "traj_id", "lb", "etd"],
        )

    return _pair_kernel(kernel, (q_spec, t_spec))


# Relative widening of a k-th smallest ETD radius wherever it is compared.
# The radius is sqrt(max d2) and the bounds compared against it are other
# float expressions of the same distance (a hypot endpoint bound, eps*eps
# inside the decider), each of which can round a few ulps past it — a pair
# whose true distance EQUALS the radius (a translated duplicate, whose
# Fréchet distance is its own ETD) would then be dropped. Widening only
# keeps more pairs, so both prunes stay sound.
_RADIUS_WIDEN = 1.0 + 1e-12


def _etd_radius_prune(bounds: DataFrame, k: int) -> DataFrame:
    """Window-only ETD radius prune over (query_id, traj_id, lb, etd)
    rows: radius = k-th smallest ETD per query; drop pairs with lb >
    radius, the radius widened by _RADIUS_WIDEN (keep all when a query
    has <= k pairs). Same shape as ``_radius_prune`` — one exchange, the
    ETD kernel upstream runs ONCE."""
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("etd").asc(), F.col("traj_id").asc()
    )
    w_all = Window.partitionBy("query_id")
    return (
        bounds.withColumn("_rk", F.row_number().over(w_rank))
        .withColumn(
            "radius", F.max(F.when(F.col("_rk") <= k, F.col("etd"))).over(w_all)
        )
        .withColumn("_np", F.count(F.lit(1)).over(w_all))
        .filter(
            (F.col("_np") <= k)
            | (F.col("lb") <= F.col("radius") * F.lit(_RADIUS_WIDEN))
        )
        .select("query_id", "traj_id", "radius")
    )


def etd_prune(curves: DataFrame, queries: DataFrame, candidates: DataFrame, k: int) -> DataFrame:
    """Step 2b: tighten the candidate set with the equal-time distance
    (F8, detail/bddm/spatial_hash.hpp:253-362 — a linear-time upper bound
    ~3000x cheaper than the bisection decider). Per query the k-th smallest
    ETD is a valid radius: >= k curves have δF <= it, so pairs whose
    endpoint lower bound exceeds it cannot be in the top k.

    Returns (query_id, traj_id, radius) — the radius rides along so the
    fused decide+distance stage (step 2c + 3) can run without recomputing
    ETDs. Arrays ride the pair rows (inline curve sources): the plan
    ``knn_frechet`` runs past the broadcast threshold."""
    return _etd_survivors(
        _pairs_with_arrays(curves, queries, candidates), k, _INLINE
    )


def _etd_survivors(pairs: DataFrame, k: int, sources: tuple) -> DataFrame:
    bounds = _pair_stage(
        pairs, _etd_map(*sources), "query_id long, traj_id long, lb double, etd double"
    )
    return _etd_radius_prune(bounds, k)


def _decide_distance_map(q_spec, t_spec, rel_tol: float = 1e-6):
    """Fused step 2c + 3, curves gathered through the curve sources
    ``q_spec``/``t_spec``: ONE kernel pass that (a) decides each surviving
    pair at its per-query radius (the k-th smallest ETD) and (b) runs the
    bisection distance only on the accepted pairs. At least k pairs per
    query have true distance <= radius, so a NO proves the pair is outside
    the top k — one free-space sweep replaces the ~40-sweep bisection for
    every eliminated pair.

    The decision runs at radius*_RADIUS_WIDEN (next float up), not at the
    radius itself: eps*eps can round a few ulps below the radius's d2, and
    the bare decider then rejects pairs whose true distance EQUALS the
    radius (translated duplicates: 119/2000 dropped at eps==ETD, 4/2000 at
    one ulp, 0 at 1e-12 relative — pinned by
    test_radius_boundary_translated_duplicates). Widening keeps the prune
    sound AND consistent with the distance kernel: it shares this decider,
    so a NO at eps' > radius implies its bisection distance >= eps' >
    radius — never a true top-k member.

    1e-6 relative bisection tolerance = the reference's own kNN-style
    bisection (benchmark/test.py:96, eps=1E-6); ranks are stable well
    above it and it saves ~10 of ~37 decide sweeps per pair. A
    ``_pair_kernel`` map; per-pair results are independent of batch
    composition (see ``kernels.batch.distance_pairs_buffers``)."""

    def kernel(rb, qid, tid, q, t):
        import pyarrow as pa

        from frechetrange_spark.kernels.batch import (
            decide_pairs_buffers,
            distance_pairs_buffers,
        )

        (qpack, qsel), (tpack, tsel) = q, t
        bq, bt = _xy(qpack), _xy(tpack)
        radius = rb.column("radius").to_numpy(zero_copy_only=False)
        eps = np.nextafter(radius * _RADIUS_WIDEN, np.inf)
        keep = decide_pairs_buffers(bq, bt, qsel, tsel, eps)
        idx = np.nonzero(keep)[0]
        dists = distance_pairs_buffers(bq, bt, qsel[idx], tsel[idx], rel_tol=rel_tol)
        return pa.RecordBatch.from_arrays(
            [pa.array(qid[idx]), pa.array(tid[idx]), pa.array(dists)],
            ["query_id", "traj_id", "distance"],
        )

    return _pair_kernel(kernel, (q_spec, t_spec))


def knn_frechet(
    curves: DataFrame,
    queries: DataFrame,
    k: int,
    mesh: float | None = None,
) -> DataFrame:
    """(query_id, traj_id, distance, rank): the k nearest trajectories per
    query by continuous Fréchet distance (self excluded). Ties break by
    traj_id ascending.

    Distances come from bisection at the reference's own tolerance
    (1e-6 relative, benchmark/test.py:96), so each value over-states the
    true distance by at most that much and two candidates whose true
    distances differ by less than ~2e-6 relative may swap ranks — the
    same guarantee the reference's kNN-by-bisection gives. Pass an
    exact-tolerance kernel via frechet_distances for stricter ranking.

    ``mesh``: home-cell size for the grid-prefiltered candidate stage
    (knn_candidates_grid — expanding Chebyshev ring probes; sublinear
    candidate streams on clustered corpora, identical top-k). ``None``
    falls back to the all-pairs scalar bound pass.

    Refine: the ETD kernel, the ETD radius prune, then ONE fused
    decide+distance kernel pass. Both kernels read curves through the
    curve sources range_query._sources picks for ``attach="auto"``:
    broadcast curve packs under ids-only pair streams when both curve
    tables' array payloads fit the broadcast threshold; past it the same
    plan runs on inline curve sources, with ``_pairs_with_arrays``
    attaching the arrays to each kernel's pair stream. Identical results
    either way (per-pair kernel outputs are batch-composition
    independent).

    ``curves`` and ``queries`` feed several plan branches (scalar
    features, the broadcast gate and packs, the ETD and final pair
    streams), so callers own their materialization: pass a persisted,
    checkpointed or file-scanned table. A scanned or persisted table keeps
    its plan across calls, so its broadcast pack is collected once and
    shared with range queries over the same table (_pack_broadcast); the
    payload estimate the broadcast gate scans for ``curves`` is kept in
    that pack's cache entry, so later calls over the same table run no
    payload job. Queries that are filters of ``curves`` (e.g.
    ``curves.filter(F.col("traj_id").isin(ids))``) are a row subset of
    it: no payload job and no pack of their own, their curves come from
    the ``curves`` pack (range_query._sources)."""
    if mesh is not None:
        candidates = knn_candidates_grid(curves, queries, k, float(mesh))
    else:
        candidates = knn_candidates(curves, queries, k)
    sources = _sources(curves, queries, {}, 0, False, "auto")

    def attach(pair_ids):
        if sources == _INLINE:
            return _pairs_with_arrays(curves, queries, pair_ids)
        return pair_ids

    survivors = _etd_survivors(attach(candidates), k, sources)
    dists = _pair_stage(attach(survivors), _decide_distance_map(*sources), _DIST_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col("traj_id").asc()
    )
    return (
        dists.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "traj_id", "distance", F.col("rank").cast("long").alias("rank")
        )
    )
