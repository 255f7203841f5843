"""Persisted grid-index table with per-cell bucket sort (S4/S5 + O1).

The reference sorts every grid bucket with >= 16 curves by the MBR-corner
coordinate of the dimension with the wider value spread inside the cell
(detail/dv/grid.hpp:226-283 ``cell_t::sort``/``choose_sorting_order``) so
queries scan only the active range [corner-eps, corner+eps] (O2,
:578-661). In Spark the same effect comes from layout: the index table is
repartitioned by cell and sorted within partitions by (cell, chosen
border coordinate), so parquet row-group min/max statistics give the
active-range skipping to any pushed range predicate — no explicit binary
search needed (SURVEY §2.5 O2).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from frechetrange_spark.operators.range_query import _CORNERS


def _o1_sorted(index_df: DataFrame, corner: str) -> DataFrame:
    """Cluster by cell and sort within partitions by the per-cell border
    dimension with the wider spread (O1, grid.hpp:226-283) so parquet
    row-group min/max stats give O2's active-range skipping."""
    cx_col, cy_col = _CORNERS[corner]
    spread = index_df.groupBy("cell_x", "cell_y").agg(
        (F.max(cx_col) - F.min(cx_col)).alias("_sx"),
        (F.max(cy_col) - F.min(cy_col)).alias("_sy"),
    )
    sort_val = F.when(F.col("_sx") >= F.col("_sy"), F.col(cx_col)).otherwise(
        F.col(cy_col)
    )
    return (
        index_df.join(F.broadcast(spread), ["cell_x", "cell_y"])
        .withColumn("_sort", sort_val)
        .drop("_sx", "_sy")
        .repartition("cell_x", "cell_y")
        .sortWithinPartitions("cell_x", "cell_y", "_sort")
        .drop("_sort")
    )


def write_index(
    index_df: DataFrame, path: str, meta: dict, pack: bool = False
) -> None:
    """Write the grid index as a cell-clustered, bucket-sorted parquet
    table plus a _meta.json (mesh, corner, salt, payload stats, and the
    table's schema as Spark JSON under ``schema``, which ``read_index``
    uses instead of inferring it).

    ``pack=True`` additionally writes the co-partitioned curve-pack
    store (sources/pack_store: traj_id range-partitioned, id-sorted npy
    blocks + manifest) under ``path/pack`` and records it as
    meta['pack_path'] — the array-attach arm for indexes whose payload
    exceeds the broadcast threshold (range_query_grid attach='pack')."""
    if pack:
        from frechetrange_spark.sources.pack_store import write_pack

        pack_path = os.path.abspath(os.path.join(path, "pack"))
        write_pack(
            index_df, pack_path, payload_bytes=meta.get("payload_bytes")
        )
        meta = {**meta, "pack_path": pack_path}
    table = _o1_sorted(index_df, meta["corner"])
    table.write.mode("overwrite").parquet(os.path.join(path, "data"))
    tmp = os.path.join(path, "_meta.json.tmp")
    with open(tmp, "w") as f:
        # the whole meta dict: mesh + corner plus the data-driven salt
        # (choose_salt) and any future build-time statistics ride along
        json.dump({"salt": None, **meta, "schema": table.schema.jsonValue()}, f)
    os.replace(tmp, os.path.join(path, "_meta.json"))


def read_index(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """The index table and its meta, as ``write_index`` left them. The
    table is read with the schema stored in ``_meta.json``, so the read
    runs no Spark job (schema inference reads a parquet footer in one);
    a ``_meta.json`` from before the schema was stored falls back to
    inference. Spark reads every stored field as nullable, as inference
    does, so the DataFrame's schema is the inferred one. The returned
    meta has no ``schema`` key. Files appended to the data dir must carry
    the stored columns (``start_index_ingest`` writes them in its own
    order; parquet columns resolve by name)."""
    with open(os.path.join(path, "_meta.json")) as f:
        meta = json.load(f)
    schema = meta.pop("schema", None)
    reader = spark.read if schema is None else spark.read.schema(StructType.fromJson(schema))
    return reader.parquet(os.path.join(path, "data")), meta


def compact_index(
    spark: SparkSession, path: str, corner: str | None = None
) -> None:
    """O3 compaction: rewrite an index table so every file is back in the
    O1 per-cell bucket-sorted layout.

    Streaming ingest (streaming/ingest.py) appends micro-batch files with
    the correct cell semantics but WITHOUT the bucket sort, so O2's
    row-group min/max skipping degrades as the appended fraction grows.
    The reference keeps buckets sorted on every post-build insert
    (dv/grid.hpp:399-407 upper_bound insert); in Spark the idiomatic twin
    is a periodic compaction pass — the same trade Delta/Iceberg make for
    sorted tables (OPTIMIZE ... ZORDER). Run it foreachBatch-compatible:
    after N appended epochs, or from a maintenance job.

    ``path`` is either a write_index layout (has ``_meta.json``; the
    corner comes from meta) or a bare parquet dir of index rows (pass
    ``corner``). The rewrite goes to a sibling temp dir first and swaps in
    via two renames, so a reader sees the old or the new layout, never a
    half-written one (there is a sub-ms window between the renames where
    the dir is absent — a table-format pointer swap, e.g. an Iceberg
    snapshot commit, closes even that on a real deployment).

    Crash safety: a re-run recovers from a crash at any point. With the
    data dir absent and a ``._old`` sibling present (a crash BETWEEN the
    renames), ``._old`` is the last complete data dir: it is renamed
    back and the rewrite redone. Stale ``._compact``/``._old`` siblings
    are removed only while the data dir exists (a leftover ``._old`` next
    to a live data dir is a completed swap whose cleanup died — the data
    dir wins; a leftover ``._compact`` is an unfinished rewrite). If the
    second rename fails, the first is rolled back so the index is never
    left without a data directory.
    """
    meta_file = os.path.join(path, "_meta.json")
    if os.path.exists(meta_file):
        with open(meta_file) as f:
            corner = json.load(f)["corner"]
        data_dir = os.path.join(path, "data")
    elif corner is None:
        raise ValueError("bare index dir needs an explicit corner=")
    else:
        data_dir = path
    tmp = data_dir.rstrip("/") + "._compact"
    old = data_dir.rstrip("/") + "._old"
    if not os.path.exists(data_dir) and os.path.exists(old):
        os.rename(old, data_dir)
    if os.path.exists(data_dir):
        for stale in (tmp, old):
            if os.path.exists(stale):
                shutil.rmtree(stale)
    try:
        _o1_sorted(spark.read.parquet(data_dir), corner).write.mode(
            "overwrite"
        ).parquet(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)  # don't leak a partial rewrite
        raise
    os.rename(data_dir, old)
    try:
        os.rename(tmp, data_dir)
    except BaseException:
        os.rename(old, data_dir)  # restore — never leave no data dir
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(old)
