"""Streaming index maintenance and snapshot-checkpoint resume."""

import json
import os

import pytest
from pyspark.sql import functions as F

from frechetrange_spark.operators.range_query import build_grid_index
from frechetrange_spark.plans.checkpoints import CheckpointedPipeline
from frechetrange_spark.sources.trajectories import assemble_curves, points_from_text
from frechetrange_spark.streaming.ingest import start_index_ingest
from tests.conftest import SF_SMALL


def test_stream_built_index_equals_batch_built(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    # split the corpus into two "arriving" files
    in_dir = str(tmp_path / "incoming")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.mode("overwrite").parquet(
        in_dir + "/batch1"
    )
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(
        in_dir + "/batch2"
    )
    # flatten: move part files up so the stream source sees them as files
    import glob
    import shutil

    os.makedirs(in_dir + "/flat", exist_ok=True)
    for i, f in enumerate(sorted(glob.glob(in_dir + "/batch*/part-*.parquet"))):
        shutil.copy(f, in_dir + f"/flat/file{i}.parquet")

    index_path = str(tmp_path / "index")
    q = start_index_ingest(
        spark,
        in_dir + "/flat",
        index_path,
        str(tmp_path / "ckpt"),
        mesh=15.0,
    )
    q.awaitTermination(120)

    streamed = spark.read.parquet(index_path)
    batch, _ = build_grid_index(
        assemble_curves(points_from_text(docs)), 15.0, corner="min_min"
    )
    cols = ["traj_id", "n_points", "cell_x", "cell_y", "min_x", "max_y"]
    a = streamed.select(cols).orderBy("traj_id").toPandas()
    b = batch.select(cols).orderBy("traj_id").toPandas()
    assert a.equals(b)


def test_compaction_restores_o1_layout(spark, tmp_path):
    """O3 compaction: a stream-appended index (correct cells, files NOT
    bucket-sorted) compacted by compact_index equals the batch
    write_index layout — the multiset of per-file (cell_x, cell_y,
    border-sort-value) sequences is identical, every row group carries
    min/max stats on the cell columns, and queries are unchanged. This is
    the Spark twin of the reference's sorted post-build insert
    (dv/grid.hpp:399-407): appends land fast/unsorted, a periodic
    compaction re-establishes O1 so O2's row-group skipping survives
    sustained ingest."""
    import glob

    import pyarrow.parquet as pq

    from frechetrange_spark.operators.range_query import range_query_grid
    from frechetrange_spark.sources.index_table import (
        compact_index,
        write_index,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    curves = assemble_curves(points_from_text(docs)).persist()
    idx, meta = build_grid_index(
        curves, 15.0, corner="min_min", auto_salt=False
    )

    # batch-built reference layout
    batch_path = str(tmp_path / "batch_index")
    write_index(idx, batch_path, meta)

    # simulated sustained ingest: two appends, neither bucket-sorted
    # (exactly what streaming/ingest.py's foreachBatch writes)
    appended = str(tmp_path / "appended")
    idx.filter("traj_id % 2 = 0").write.mode("append").parquet(appended)
    idx.filter("traj_id % 2 = 1").write.mode("append").parquet(appended)

    compact_index(spark, appended, corner="min_min")

    # the chosen per-cell sort dimension, recomputed independently
    import pandas as pd

    feats = idx.select(
        "traj_id", "cell_x", "cell_y", "min_x", "min_y"
    ).toPandas()
    spread = feats.groupby(["cell_x", "cell_y"]).agg(
        sx=("min_x", lambda s: s.max() - s.min()),
        sy=("min_y", lambda s: s.max() - s.min()),
    )
    use_x = (spread["sx"] >= spread["sy"]).to_dict()

    def layout(d):
        """Per-file sequence of (cell, border-sort-value) keys — the
        order-deterministic part of the O1 layout (row ties under equal
        sort keys may permute)."""
        seqs = []
        for f in sorted(glob.glob(d + "/part-*.parquet")):
            t = pq.read_table(
                f, columns=["cell_x", "cell_y", "min_x", "min_y"]
            ).to_pandas()
            keys = [
                (
                    r.cell_x,
                    r.cell_y,
                    r.min_x if use_x[(r.cell_x, r.cell_y)] else r.min_y,
                )
                for r in t.itertuples()
            ]
            assert keys == sorted(keys), f"file {f} not O1-sorted"
            seqs.append(tuple(keys))
        return sorted(seqs)

    assert layout(appended) == layout(batch_path + "/data")

    # every row group exposes min/max stats on the clustering columns
    for f in glob.glob(appended + "/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        names = {
            md.row_group(0).column(i).path_in_schema
            for i in range(md.row_group(0).num_columns)
        }
        for rg in range(md.num_row_groups):
            for i in range(md.row_group(rg).num_columns):
                col = md.row_group(rg).column(i)
                if col.path_in_schema in ("cell_x", "cell_y", "min_x", "min_y"):
                    assert col.statistics is not None
                    assert col.statistics.has_min_max

    # queries over the compacted table are unchanged
    q = curves.filter(F.col("traj_id") % 20 == 0)
    got = set(
        map(
            tuple,
            range_query_grid(
                spark.read.parquet(appended), q, 15.0, meta
            ).collect(),
        )
    )
    exp = set(map(tuple, range_query_grid(idx, q, 15.0, meta).collect()))
    assert got == exp and len(got) > 0
    curves.unpersist()


def test_checkpoint_resume_skips_completed_stage(spark, tmp_path):
    root = str(tmp_path / "pipe")
    calls = {"n": 0}

    def build(s):
        calls["n"] += 1
        return s.read.parquet(f"{SF_SMALL}/documents.parquet").select(
            "doc_id", "lang"
        )

    p = CheckpointedPipeline(spark, root)
    df1 = p.run_stage("docs", build, params={"sf": "0.001"})
    assert calls["n"] == 1
    df2 = p.run_stage("docs", build, params={"sf": "0.001"})
    assert calls["n"] == 1  # resumed from snapshot
    assert df1.count() == df2.count() == 500

    man = json.load(open(os.path.join(root, "docs", "_manifest.json")))
    assert man["n_rows"] == 500
    assert sum(man["partition_rows"].values()) == 500
    assert man["wall_secs"] >= 0

    # changed params -> rebuild
    p.run_stage("docs", build, params={"sf": "0.001", "v": 2})
    assert calls["n"] == 2


def test_checkpoint_parent_invalidation(spark, tmp_path):
    p = CheckpointedPipeline(spark, str(tmp_path / "pipe2"))

    def build_a(s):
        return s.range(10)

    def build_b(s):
        return s.range(5)

    p.run_stage("a", build_a, params={"v": 1})
    calls = {"n": 0}

    def build_child(s):
        calls["n"] += 1
        return s.range(3)

    p.run_stage("child", build_child, parents=["a"])
    assert calls["n"] == 1
    # same parent key -> skip
    p.run_stage("child", build_child, parents=["a"])
    assert calls["n"] == 1
    # parent rebuilt with new params -> child key changes -> rebuild
    p.run_stage("a", build_a, params={"v": 2})
    p.run_stage("child", build_child, parents=["a"])
    assert calls["n"] == 2


def test_flagship_pipeline_resumes_and_matches_direct(spark, tmp_path):
    """The checkpointed flagship equals the direct plan, and a second run
    resumes from snapshots (no stage rebuilt)."""
    import json
    import os

    from pyspark.sql import functions as F

    from frechetrange_spark.operators.range_query import (
        build_grid_index,
        range_query_grid,
    )
    from frechetrange_spark.plans.flagship import flagship_pipeline
    from frechetrange_spark.sources.trajectories import (
        assemble_curves,
        trajectory_points,
    )

    root = str(tmp_path / "flagship")
    got = set(
        map(
            tuple,
            flagship_pipeline(
                spark, "/root/testdata/sf0.001", root, query_mod=20
            ).collect(),
        )
    )
    curves = assemble_curves(
        trajectory_points(spark, "/root/testdata/sf0.001")
    ).persist()
    idx, meta = build_grid_index(curves, 15.0, corner="min_min")
    exp = set(
        map(
            tuple,
            range_query_grid(
                idx, curves.filter(F.col("traj_id") % 20 == 0), 15.0, meta
            ).collect(),
        )
    )
    assert got == exp

    # resume: capture manifests, re-run, manifests must be byte-identical
    # (content keys matched -> stages skipped, snapshots reused)
    before = {}
    for stage in ("curves", "index", "matches"):
        with open(os.path.join(root, stage, "_manifest.json")) as f:
            before[stage] = json.load(f)
        assert before[stage]["n_rows"] > 0
        assert before[stage]["partition_rows"]  # per-partition lineage
    got2 = set(
        map(
            tuple,
            flagship_pipeline(
                spark, "/root/testdata/sf0.001", root, query_mod=20
            ).collect(),
        )
    )
    assert got2 == got
    for stage in ("curves", "index", "matches"):
        with open(os.path.join(root, stage, "_manifest.json")) as f:
            assert json.load(f) == before[stage]

    # observed funnel metrics: accumulator counts collected during the
    # snapshot write (no extra pass) are in the matches manifest and are
    # internally consistent with the snapshot itself
    m = before["matches"]["metrics"]
    assert set(m) == {"f3_accepted", "refine_input", "matches"}
    assert m["matches"] == before["matches"]["n_rows"] == len(got)
    assert m["f3_accepted"] <= m["matches"]
    # every match is either F3-accepted or came out of the refine kernel
    assert m["matches"] <= m["f3_accepted"] + m["refine_input"]


def test_streamed_window_stats_equal_batch(spark, tmp_path):
    """The streaming twin of windowed_event_stats (complete-mode memory
    sink, availableNow) produces exactly the batch result."""
    import shutil

    from frechetrange_spark.operators.events import (
        start_windowed_stream,
        windowed_event_stats,
    )

    indir = tmp_path / "ev_in"
    indir.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", indir / "part-0.parquet")
    q = start_windowed_stream(
        spark, str(indir), str(tmp_path / "ev_ckpt"), query_name="ev_win_test"
    )
    q.awaitTermination(120)
    got = set(map(tuple, spark.sql("SELECT * FROM ev_win_test").collect()))
    batch = spark.read.parquet(str(indir))
    exp = set(map(tuple, windowed_event_stats(batch).collect()))
    assert got == exp and len(got) > 0


def test_session_window_agrees_with_gap_sessionize(spark):
    """F.session_window and the explicit gap sessionization carve the same
    sessions (same start/end/count/sum multiset)."""
    from frechetrange_spark.operators.events import session_window_stats, sessionize

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    native = set(
        map(
            tuple,
            session_window_stats(ev)
            .select("user_id", "start_ts", "n_events", "value_cents")
            .collect(),
        )
    )
    explicit = set(
        map(
            tuple,
            sessionize(ev)
            .select("user_id", "start_ts", "n_events", "value_cents")
            .collect(),
        )
    )
    assert native == explicit


def _run_session_stream_foreach(
    spark, flat_dir, ckpt_dir, lateness_sec, max_files_per_trigger=1
):
    """Drive the stateful sessionizer with a foreachBatch sink that tags
    every update with its epoch, so 'latest per key' is by arrival order
    (n_events is not monotone per key once late events can merge
    sessions)."""
    from frechetrange_spark.streaming.sessions import (
        EVENTS_SCHEMA,
        sessionize_stateful,
    )

    captured = []

    def sink(df, epoch_id):
        captured.extend((epoch_id, tuple(r)) for r in df.collect())

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", int(max_files_per_trigger))
        .parquet(flat_dir)
    )
    q = (
        sessionize_stateful(stream, lateness_sec=lateness_sec)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    cols = ["user_id", "session_id", "n_events", "start_sec", "end_sec", "value_cents"]
    import pandas as pd

    updates = pd.DataFrame([r for _, r in captured], columns=cols)
    updates["epoch"] = [e for e, _ in captured]
    latest = (
        updates.sort_values("epoch")
        .groupby(["user_id", "session_id"], as_index=False)
        .last()
    )
    # drop tombstones (session ids retracted by a late-event merge)
    return latest[latest["n_events"] > 0][cols]


def _assert_frames_match(latest, batch_df):
    import numpy as np

    batch = batch_df.toPandas()
    batch["start_sec"] = (
        batch["start_ts"].astype("datetime64[ns]").astype("int64") / 1e9
    )
    batch["end_sec"] = (
        batch["end_ts"].astype("datetime64[ns]").astype("int64") / 1e9
    )
    cols = ["user_id", "session_id", "n_events", "start_sec", "end_sec", "value_cents"]
    a = latest[cols].sort_values(["user_id", "session_id"]).reset_index(drop=True)
    b = batch[cols].sort_values(["user_id", "session_id"]).reset_index(drop=True)
    assert len(a) == len(b)
    for c in cols:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            assert np.allclose(av, bv, atol=1e-6), c
        else:
            assert (av == bv).all(), c


def test_stateful_sessionizer_handles_shuffled_stream(spark, tmp_path):
    """Out-of-order replay: events split into 6 files in SHUFFLED (not
    event-time) order, one file per micro-batch. With lateness covering
    the disorder, the latest non-tombstone update per (user_id,
    session_id) equals the batch sessionize result — late events are
    buffered in GroupState, merges retract stale session ids."""
    import numpy as np

    from frechetrange_spark.operators.events import sessionize

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").withColumn(
        "shard", (F.crc32(F.col("event_id").cast("string")) % 6).cast("int")
    )
    in_dir = str(tmp_path / "ev")
    flat = in_dir + "/flat"
    os.makedirs(flat, exist_ok=True)
    # shard pseudo-randomly by event id -> every file spans the whole time
    # range, so successive micro-batches interleave arbitrarily in event
    # time (maximal cross-batch disorder)
    for s in range(6):
        ev.filter(F.col("shard") == s).drop("shard").coalesce(1).write.mode(
            "overwrite"
        ).parquet(in_dir + f"/s{s}")
    import glob
    import shutil

    for i, f in enumerate(sorted(glob.glob(in_dir + "/s*/part-*.parquet"))):
        shutil.copy(f, flat + f"/file{i}.parquet")

    span = ev.selectExpr(
        "cast(max(cast(ts as timestamp)) as double) - "
        "cast(min(cast(ts as timestamp)) as double) as s"
    ).collect()[0]["s"]
    latest = _run_session_stream_foreach(
        spark, flat, str(tmp_path / "ckpt"), lateness_sec=float(span) + 1.0
    )
    _assert_frames_match(latest, sessionize(ev.drop("shard")))


def test_stateful_sessionizer_drops_beyond_lateness(spark, tmp_path):
    """An event arriving later than the lateness bound is DROPPED (the
    watermark contract), not mis-folded: stream time-ordered events, then
    a straggler file whose single event is far older than the frontier —
    the final state equals the batch result WITHOUT the straggler."""
    from frechetrange_spark.operators.events import sessionize

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    one_user = ev.orderBy("user_id").select("user_id").first()["user_id"]
    u = ev.filter(F.col("user_id") == one_user)
    in_dir = str(tmp_path / "ev")
    flat = in_dir + "/flat"
    os.makedirs(flat, exist_ok=True)
    # file0: all of the user's events, in order; file1: a copy of the
    # EARLIEST event re-timestamped 10ks earlier (far below any frontier)
    u.coalesce(1).write.mode("overwrite").parquet(in_dir + "/f0")
    straggler = (
        u.orderBy("ts", "event_id")
        .limit(1)
        .withColumn("ts", F.col("ts") - F.expr("INTERVAL 10000 SECONDS"))
        .withColumn("event_id", F.col("event_id") + F.lit(10_000_000))
    )
    straggler.coalesce(1).write.mode("overwrite").parquet(in_dir + "/f1")
    import glob
    import shutil

    for i, f in enumerate(sorted(glob.glob(in_dir + "/f*/part-*.parquet"))):
        shutil.copy(f, flat + f"/file{i}.parquet")

    latest = _run_session_stream_foreach(
        spark, flat, str(tmp_path / "ckpt"), lateness_sec=60.0
    )
    _assert_frames_match(latest, sessionize(u))


def test_stateful_sessionizer_converges_to_batch(spark, tmp_path):
    """applyInPandasWithState sessionization across TWO time-ordered
    micro-batches: the latest update per (user_id, session_id) equals the
    batch sessionize result — sessions spanning the file boundary are
    carried through GroupState."""
    import numpy as np

    from frechetrange_spark.operators.events import sessionize
    from frechetrange_spark.streaming.sessions import start_session_stream

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    cut = ev.selectExpr(
        "percentile(cast(cast(ts as timestamp) as double), 0.5) p"
    ).collect()[0]["p"]
    in_dir = str(tmp_path / "ev")
    os.makedirs(in_dir, exist_ok=True)
    # two event-time-ordered files -> two micro-batches (sessions cross
    # the boundary for users active around the cut)
    ev.filter(F.col("ts").cast("timestamp").cast("double") <= cut).coalesce(1).write.mode(
        "overwrite"
    ).parquet(in_dir + "/f0")
    ev.filter(F.col("ts").cast("timestamp").cast("double") > cut).coalesce(1).write.mode(
        "overwrite"
    ).parquet(in_dir + "/f1")
    import glob
    import shutil

    flat = in_dir + "/flat"
    os.makedirs(flat, exist_ok=True)
    for i, f in enumerate(
        sorted(glob.glob(in_dir + "/f*/part-*.parquet"))
    ):
        shutil.copy(f, flat + f"/file{i}.parquet")

    q = start_session_stream(
        spark, flat, str(tmp_path / "ckpt"), "sess_updates",
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    assert q.lastProgress is not None

    updates = spark.sql("select * from sess_updates").toPandas()
    # sanity: the two-micro-batch run re-emitted some session at least twice
    assert updates.duplicated(["user_id", "session_id"]).any()
    # latest update per session = the one with the largest n_events
    latest = (
        updates.sort_values("n_events")
        .groupby(["user_id", "session_id"], as_index=False)
        .last()
    )

    batch = sessionize(ev).toPandas()
    batch["start_sec"] = (
        batch["start_ts"].astype("datetime64[ns]").astype("int64") / 1e9
    )
    batch["end_sec"] = (
        batch["end_ts"].astype("datetime64[ns]").astype("int64") / 1e9
    )
    cols = ["user_id", "session_id", "n_events", "start_sec", "end_sec", "value_cents"]
    a = latest[cols].sort_values(["user_id", "session_id"]).reset_index(drop=True)
    b = batch[cols].sort_values(["user_id", "session_id"]).reset_index(drop=True)
    assert len(a) == len(b)
    for c in cols:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            assert np.allclose(av, bv, atol=1e-6), c
        else:
            assert (av == bv).all(), c


def test_streamed_append_runs_no_statistics_collect(spark, tmp_path, monkeypatch):
    """An append computes the home cells of its micro-batch and writes
    them; it collects no per-cell statistics (the salt and payload
    estimate of build_grid_index describe a whole table, and an append
    has nowhere to keep them)."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    in_dir = str(tmp_path / "incoming")
    docs.filter("doc_id % 4 = 0").coalesce(1).write.parquet(in_dir)
    want = docs.filter("doc_id % 4 = 0").count()
    frame = type(docs)
    collect = frame.collect
    calls = []

    def counting(self):
        calls.append(self)
        return collect(self)

    monkeypatch.setattr(frame, "collect", counting)
    index_path = str(tmp_path / "index")
    q = start_index_ingest(
        spark, in_dir, index_path, str(tmp_path / "ckpt"), mesh=15.0
    )
    q.awaitTermination(120)
    assert calls == []
    monkeypatch.undo()
    assert spark.read.parquet(index_path).count() == want
