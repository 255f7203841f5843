"""The flagship range-query pipeline as resumable snapshot stages
(SURVEY §7 step 5; north rule: "resumable from checkpoint with
per-partition lineage + metrics").

Stages (each an immutable parquet snapshot + manifest, see checkpoints.py):

1. ``curves``           — trajectory reconstruction + curve assembly
2. ``index``            — Agarwal simplification enrichment + grid home cells
                          (the reference's build_index, S4/S5)
3. ``matches``          — the exact range query (self-join or query subset)

A re-run with identical params resumes from the last completed snapshot;
changing any stage's params (or a parent's) invalidates it and everything
downstream through the content-key chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frechetrange_spark.operators.range_query import _CORNERS, range_query_grid
from frechetrange_spark.operators.simplifications import enrich_with_simplifications
from frechetrange_spark.operators.tiling import cell_coord
from frechetrange_spark.plans.checkpoints import CheckpointedPipeline
from frechetrange_spark.sources.trajectories import assemble_curves, trajectory_points


def flagship_pipeline(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    eps: float = 15.0,
    mesh: float = 15.0,
    query_mod: int | None = None,
    levels: int = 2,
    fractions: tuple[float, ...] = (0.07, 0.6),
    funnel_stats: bool = False,
) -> DataFrame:
    """Run (or resume) the checkpointed flagship; returns the match pairs
    DataFrame backed by the ``matches`` snapshot."""
    pipe = CheckpointedPipeline(spark, root)

    curves = pipe.run_stage(
        "curves",
        lambda s: assemble_curves(trajectory_points(s, sf_dir)),
        params={"sf_dir": sf_dir},
    )

    def build_index(s: SparkSession) -> DataFrame:
        cx, cy = _CORNERS["min_min"]
        enriched = enrich_with_simplifications(
            curves, levels=levels, fractions=fractions
        )
        return enriched.withColumn("cell_x", cell_coord(F.col(cx), mesh)).withColumn(
            "cell_y", cell_coord(F.col(cy), mesh)
        )

    index_df = pipe.run_stage(
        "index",
        build_index,
        params={"mesh": mesh, "corner": "min_min", "levels": levels,
                "fractions": fractions},
        parents=["curves"],
    )

    obs: dict = {}

    def run_query(s: SparkSession) -> DataFrame:
        queries = index_df
        if query_mod is not None:
            queries = index_df.filter(F.col("traj_id") % query_mod == 0)
        return range_query_grid(
            index_df,
            queries,
            eps,
            {"mesh": mesh, "corner": "min_min"},
            funnel_stats=funnel_stats,
            observations=obs,
        )

    def stage_metrics() -> dict:
        # accumulator-backed funnel counts collected during the snapshot
        # write (Observation nodes on single-consumption branches — zero
        # extra passes over any stage)
        return {name: o.get.get("n") for name, o in obs.items()}

    return pipe.run_stage(
        "matches",
        run_query,
        params={"eps": eps, "query_mod": query_mod, "funnel_stats": funnel_stats},
        parents=["index"],
        metrics_fn=stage_metrics,
    )
