"""Co-partitioned curve-pack store (sources/pack_store): the attach arm
for curve tables past the broadcast threshold. Parity-gated against both
existing arms — all three must return identical result sets."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from frechetrange_spark.operators.range_query import (
    _pack_curves,
    build_grid_index,
    range_query_grid,
)
from frechetrange_spark.operators.simplifications import (
    enrich_with_simplifications,
)
from frechetrange_spark.sources.pack_store import gather_pack, write_pack
from frechetrange_spark.sources.trajectories import (
    assemble_curves,
    trajectory_points,
)
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def enriched(spark):
    c = enrich_with_simplifications(
        assemble_curves(trajectory_points(spark, SF_SMALL)),
        levels=2,
        fractions=(0.07, 0.6),
    ).persist()
    c.count()
    return c


def test_write_gather_roundtrip(spark, enriched, tmp_path):
    """gather_pack over the on-disk blocks reproduces the driver-side
    broadcast pack (_pack_curves) buffer-for-buffer, for the full id set
    and for scattered subsets crossing block boundaries."""
    path = str(tmp_path / "pack")
    man = write_pack(enriched, path, n_blocks=7)
    assert len(man["blocks"]) >= 1
    ref = _pack_curves(enriched, 2)
    for ids in (ref["ids"], ref["ids"][::5], ref["ids"][-3:]):
        got = gather_pack(path, np.asarray(ids), 2)
        assert np.array_equal(got["ids"], ids)
        sel = np.searchsorted(ref["ids"], ids)
        for c, (flat, off) in got["cols"].items():
            rflat, roff = ref["cols"][c]
            for k, r in enumerate(sel):
                np.testing.assert_array_equal(
                    flat[off[k] : off[k + 1]], rflat[roff[r] : roff[r + 1]]
                )
        for c, vals in got["scal"].items():
            np.testing.assert_array_equal(vals, ref["scal"][c][sel])


def test_missing_ids_raise(spark, enriched, tmp_path):
    path = str(tmp_path / "pack")
    write_pack(enriched, path, n_blocks=3)
    with pytest.raises(KeyError):
        gather_pack(path, np.asarray([10**12], dtype=np.int64), 0)
    # empty request is fine (degenerate candidate batch)
    empty = gather_pack(path, np.empty(0, dtype=np.int64), 2)
    assert empty["ids"].size == 0


def test_pack_attach_parity(spark, enriched, tmp_path):
    """attach='pack' == 'broadcast' == 'shuffle' result sets, with the
    funnel columns riding and with the query side broadcast-packed."""
    from frechetrange_spark.sources.index_table import read_index, write_index

    index_df, meta = build_grid_index(enriched, 15.0, corner="min_min")
    path = str(tmp_path / "idx")
    write_index(index_df, path, meta, pack=True)
    idx, meta2 = read_index(spark, path)
    assert meta2.get("pack_path")
    queries = idx.filter(F.col("traj_id") % 20 == 0)
    res = {
        a: set(
            map(
                tuple,
                range_query_grid(idx, queries, 15.0, meta2, attach=a).collect(),
            )
        )
        for a in ("shuffle", "broadcast", "pack")
    }
    assert res["pack"] == res["shuffle"] == res["broadcast"]
    assert len(res["pack"]) > 0
    # funnel_stats rows (one (query_id, traj_id, stage, accepted) row per
    # candidate) are identical too: one funnel driver, one stage taxonomy,
    # simplification stages included
    stats = {
        a: sorted(
            map(
                tuple,
                range_query_grid(
                    idx, queries, 15.0, meta2, attach=a, funnel_stats=True
                ).collect(),
            )
        )
        for a in ("shuffle", "broadcast", "pack")
    }
    assert stats["pack"] == stats["shuffle"] == stats["broadcast"]
    stages = {r[2] for r in stats["pack"]}
    assert "f3_accept" in stages
    assert any(s.startswith("simp") for s in stages)


def test_pack_self_join_disk_query_side(spark, enriched, tmp_path):
    """Symmetric self-join with the broadcast threshold forced to 0-ish:
    the query side cannot broadcast and falls back to the SAME disk
    store; results still match the shuffle arm, and attach='auto' routes
    to the pack arm (meta carries pack_path + over-threshold payload)."""
    from frechetrange_spark.sources.index_table import read_index, write_index

    index_df, meta = build_grid_index(enriched, 15.0, corner="min_min")
    path = str(tmp_path / "idx")
    write_index(index_df, path, meta, pack=True)
    idx, meta2 = read_index(spark, path)
    want = set(
        map(
            tuple,
            range_query_grid(
                idx, idx, 15.0, meta2, symmetric=True, attach="shuffle"
            ).collect(),
        )
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1k")
        got = set(
            map(
                tuple,
                range_query_grid(
                    idx, idx, 15.0, meta2, symmetric=True, attach="pack"
                ).collect(),
            )
        )
        assert got == want
        auto = set(
            map(
                tuple,
                range_query_grid(
                    idx, idx, 15.0, meta2, symmetric=True, attach="auto"
                ).collect(),
            )
        )
        assert auto == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_pack_foreign_over_threshold_query_raises(spark, enriched, tmp_path):
    """r06 (advice item): an over-broadcast-threshold query table that is
    NOT the indexed table itself (symmetric=False, no query_pack_path)
    must fail loudly instead of silently gathering the index's curves
    for the query side — id-overlapping foreign data would otherwise
    return wrong results without any error."""
    from frechetrange_spark.sources.index_table import read_index, write_index

    index_df, meta = build_grid_index(enriched, 15.0, corner="min_min")
    path = str(tmp_path / "idx")
    write_index(index_df, path, meta, pack=True)
    idx, meta2 = read_index(spark, path)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1k")
        with pytest.raises(ValueError, match="query table"):
            range_query_grid(idx, idx, 15.0, meta2, attach="pack")
        # and an explicit query_pack_path pointing at the (correct) store
        # restores the old behaviour for the genuinely-same-table case
        meta3 = dict(meta2, query_pack_path=meta2["pack_path"])
        got = set(
            map(
                tuple,
                range_query_grid(idx, idx, 15.0, meta3, attach="pack").collect(),
            )
        )
        want = set(
            map(
                tuple,
                range_query_grid(
                    idx, idx, 15.0, meta2, attach="shuffle"
                ).collect(),
            )
        )
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_auto_attach_foreign_over_threshold_query_uses_shuffle(spark, enriched, tmp_path):
    """attach='auto' with a pack store on the index and a query table past
    the broadcast threshold that is not the index itself: the pack arm
    cannot serve that query side, so auto takes the inline arm and
    returns the attach='shuffle' rows instead of raising."""
    from frechetrange_spark.sources.index_table import read_index, write_index

    index_df, meta = build_grid_index(enriched, 15.0, corner="min_min")
    path = str(tmp_path / "idx")
    write_index(index_df, path, meta, pack=True)
    idx, meta2 = read_index(spark, path)
    queries = idx.filter(F.col("traj_id") % 3 == 0)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1k")
        got = set(map(tuple, range_query_grid(idx, queries, 15.0, meta2).collect()))
        want = set(
            map(tuple, range_query_grid(idx, queries, 15.0, meta2, attach="shuffle").collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == want
    assert len(got) > 0


def _pack_curves_pandas(df, simp_levels):
    """The broadcast pack as collected through ``toPandas`` with a
    per-curve length loop — the reference ``_pack_curves`` must match."""
    cols, scal = ["xs", "ys"], []
    for i in range(simp_levels):
        cols += [f"s{i}_xs", f"s{i}_ys"]
        scal.append(f"s{i}_eps")
    pdf = df.select("traj_id", *cols, *scal).orderBy("traj_id").toPandas()
    packed = {}
    for c in cols:
        vals = pdf[c].to_numpy()
        lens = np.fromiter((len(v) for v in vals), dtype=np.int64, count=len(vals))
        off = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(lens)])
        flat = (
            np.concatenate(list(vals)).astype(np.float64, copy=False)
            if len(vals)
            else np.empty(0, dtype=np.float64)
        )
        packed[c] = (flat, off)
    return {
        "ids": pdf["traj_id"].to_numpy(dtype=np.int64),
        "cols": packed,
        "scal": {c: pdf[c].to_numpy(dtype=np.float64) for c in scal},
    }


def test_pack_curves_matches_pandas_collect(spark):
    """``_pack_curves`` (Arrow list buffers) equals the pandas-collected
    pack array for array and dtype for dtype: two simplification levels
    with their eps scalars, traj_ids out of row order, 1-vertex curves,
    and an empty table."""
    rng = np.random.default_rng(11)
    schema = "traj_id long, xs array<double>, ys array<double>" + "".join(
        f", s{i}_xs array<double>, s{i}_ys array<double>, s{i}_eps double"
        for i in range(2)
    )
    rows = []
    for tid in rng.permutation(np.arange(40) * 7 + 3):
        n = int(rng.integers(1, 9)) if tid % 5 else 1
        xs, ys = rng.normal(size=n).tolist(), rng.normal(size=n).tolist()
        row = [int(tid), xs, ys]
        for i in range(2):
            k = max(1, n - i - 1)
            row += [xs[:k], ys[:k], float(rng.uniform(0, 1))]
        rows.append(tuple(row))
    df = spark.createDataFrame(rows, schema).repartition(3)
    assert any(len(r[1]) == 1 for r in rows)
    for table in (df, df.limit(0)):
        want = _pack_curves_pandas(table, 2)
        got = _pack_curves(table, 2)
        assert list(got) == list(want)
        for a, b in [(got["ids"], want["ids"])] + [
            (got["scal"][c], want["scal"][c]) for c in ("s0_eps", "s1_eps")
        ]:
            assert a.dtype == b.dtype
            np.testing.assert_array_equal(a, b)
        assert list(got["cols"]) == list(want["cols"])
        for c, (flat, off) in want["cols"].items():
            gflat, goff = got["cols"][c]
            assert (gflat.dtype, goff.dtype) == (flat.dtype, off.dtype)
            np.testing.assert_array_equal(gflat, flat)
            np.testing.assert_array_equal(goff, off)
    assert _pack_curves(df, 2)["ids"].size == 40


def test_pack_curves_one_job_sorted_on_driver(spark, tmp_path):
    """``_pack_curves`` of a multi-file parquet scan whose files hold the
    traj_ids in descending order runs one Spark job and equals the
    pack collected through a Spark ``orderBy`` and ``toPandas``."""
    rng = np.random.default_rng(12)
    schema = "traj_id long, xs array<double>, ys array<double>, s0_xs array<double>, s0_ys array<double>, s0_eps double"
    rows = []
    for tid in range(300, 0, -3):
        n = int(rng.integers(1, 12))
        xs, ys = rng.normal(size=n).tolist(), rng.normal(size=n).tolist()
        rows.append((tid, xs, ys, xs[:1], ys[:1], float(rng.uniform())))
    path = str(tmp_path / "curves")
    spark.createDataFrame(rows, schema).coalesce(4).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) > 1
    sc = spark.sparkContext
    sc.setJobGroup("pack-curves-jobs", "pack")
    try:
        got = _pack_curves(df, 1)
    finally:
        sc.setJobGroup("", "")
    assert len(sc.statusTracker().getJobIdsForGroup("pack-curves-jobs")) == 1
    want = _pack_curves_pandas(df, 1)
    np.testing.assert_array_equal(got["ids"], np.arange(3, 301, 3))
    np.testing.assert_array_equal(got["ids"], want["ids"])
    np.testing.assert_array_equal(got["scal"]["s0_eps"], want["scal"]["s0_eps"])
    assert list(got["cols"]) == list(want["cols"])
    for c, (flat, off) in want["cols"].items():
        np.testing.assert_array_equal(got["cols"][c][0], flat)
        np.testing.assert_array_equal(got["cols"][c][1], off)
