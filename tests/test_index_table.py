"""Persisted index table (sources/index_table): compaction crash
recovery, and queries over an index that grew by appended files."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from frechetrange_spark.operators.range_query import (
    build_grid_index,
    range_query_grid,
)
from frechetrange_spark.sources.index_table import (
    compact_index,
    read_index,
    write_index,
)
from frechetrange_spark.sources.trajectories import curves as load_curves
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def indexed(spark):
    curves = load_curves(spark, SF_SMALL).localCheckpoint()
    return build_grid_index(curves, 15.0, corner="min_min")


def _ids(spark, data_dir):
    return sorted(r["traj_id"] for r in spark.read.parquet(data_dir).collect())


@pytest.mark.parametrize("crash", ["rewrite", "between_renames", "cleanup"])
def test_compact_recovers_from_crash(spark, indexed, tmp_path, crash):
    """Re-running compact_index after a crash at any point keeps every
    row. The directories a crash leaves are laid out by hand:

    - ``rewrite``: died while writing — ``data`` plus a partial
      ``data._compact``;
    - ``between_renames``: ``data`` already renamed to ``data._old``,
      the finished rewrite still in ``data._compact``, no ``data``;
    - ``cleanup``: swap done, ``data._old`` not yet removed."""
    index_df, meta = indexed
    path = str(tmp_path / "idx")
    write_index(index_df, path, meta)
    data = os.path.join(path, "data")
    want = _ids(spark, data)
    if crash == "rewrite":
        os.makedirs(data + "._compact")
        with open(os.path.join(data + "._compact", "part-0.parquet"), "w") as f:
            f.write("truncated")
    elif crash == "between_renames":
        shutil.copytree(data, data + "._compact")
        os.rename(data, data + "._old")
    else:
        shutil.copytree(data, data + "._old")
    compact_index(spark, path)
    assert _ids(spark, data) == want
    assert not os.path.exists(data + "._compact")
    assert not os.path.exists(data + "._old")


def test_broadcast_pack_sees_appended_files(spark, indexed, tmp_path):
    """A query over an index re-read after a parquet file of new index
    rows landed in its data dir sees the new curves: the broadcast
    curve-pack cache must not serve the pack of the old file set."""
    index_df, meta = indexed
    path = str(tmp_path / "idx")
    write_index(index_df, path, meta)

    def query():
        idx, m = read_index(spark, path)
        queries = idx.filter(F.col("traj_id") % 20 == 0)
        return set(map(tuple, range_query_grid(idx, queries, 15.0, m).collect()))

    before = query()
    # a query curve whose self-pair reaches the refine kernel: its MBR
    # diagonal exceeds eps, so the F3 MBR accept cannot decide it
    q0 = (
        index_df.filter(F.col("traj_id") % 20 == 0)
        .filter(
            F.hypot(F.col("max_x") - F.col("min_x"), F.col("max_y") - F.col("min_y"))
            > 15.0
        )
        .agg(F.min("traj_id"))
        .collect()[0][0]
    )
    new_id = max(r["traj_id"] for r in index_df.select("traj_id").collect()) * 20 + 1
    # the new curve is a copy of curve q0 under a fresh (non-query) id, in
    # the stored column order, so the table's schema (and plan) is unchanged
    stored = read_index(spark, path)[0]
    stored.filter(F.col("traj_id") == q0).withColumn(
        "traj_id", F.lit(new_id).cast("long")
    ).select(*stored.columns).write.mode("append").parquet(
        os.path.join(path, "data")
    )
    after = query()
    assert after == before | {(q, new_id) for q, t in before if t == q0}
    assert (q0, new_id) in after


def test_read_index_runs_no_job(spark, indexed, tmp_path):
    """read_index takes the table's schema from _meta.json instead of
    inferring it in a Spark job, and returns the inferred schema, the
    rows and the meta as written. A _meta.json without the schema (an
    index written before it was stored) still reads."""
    index_df, meta = indexed
    path = str(tmp_path / "idx")
    write_index(index_df, path, meta)
    data = os.path.join(path, "data")
    sc = spark.sparkContext
    sc.setJobGroup("read-index-jobs", "read_index")
    try:
        idx, m = read_index(spark, path)
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("read-index-jobs") == []
    inferred = spark.read.parquet(data)
    assert idx.schema == inferred.schema
    assert idx.orderBy("traj_id").collect() == inferred.orderBy("traj_id").collect()
    assert m == {"salt": None, **meta}

    meta_file = os.path.join(path, "_meta.json")
    with open(meta_file) as f:
        stored = json.load(f)
    del stored["schema"]
    with open(meta_file, "w") as f:
        json.dump(stored, f)
    old, m_old = read_index(spark, path)
    assert old.schema == inferred.schema
    assert old.orderBy("traj_id").collect() == idx.orderBy("traj_id").collect()
    assert m_old == m
