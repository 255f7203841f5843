"""Incremental index maintenance with Structured Streaming.

The reference supports post-build inserts into the grid
(dv/grid.hpp:399-407, sorted upper_bound insert). Spark-first, that is a
streaming append: new documents arrive as files (in production: Kafka /
Iceberg CDC), each micro-batch reconstructs its trajectories, computes the
same derived columns + home cells as the batch build, and appends to the
index table through ``foreachBatch`` (exactly-once per epoch via the
streaming checkpoint). Queries against the index see every completed
batch; the cell-assignment semantics are identical to the batch path, so
batch-built and stream-built indexes are row-identical (tested).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from frechetrange_spark.operators.range_query import home_cells
from frechetrange_spark.sources.trajectories import assemble_curves, points_from_text

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def start_index_ingest(
    spark: SparkSession,
    input_dir: str,
    index_path: str,
    checkpoint_dir: str,
    mesh: float,
    corner: str = "min_min",
):
    """Stream document parquet files from ``input_dir`` and append their
    index rows to ``index_path``. Returns the StreamingQuery (caller
    awaits/ stops). Trigger availableNow: drains everything present, then
    stops — the batch-job-shaped streaming used for backfills.

    A micro-batch gets the batch build's home-cell columns
    (``range_query.home_cells``) and no statistics pass: the salt and
    payload statistics of ``build_grid_index`` describe the WHOLE table,
    not one micro-batch, and an append has no meta to put them in. A
    one-file append runs 3 Spark jobs (8 with the statistics pass)."""

    def process_batch(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        curves = assemble_curves(points_from_text(batch_df))
        home_cells(curves, mesh, corner).write.mode("append").parquet(index_path)

    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(input_dir)
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
