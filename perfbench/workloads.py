"""The benchmark's workloads. Each drives the engine only through its
public functions, from one single-threaded client.

A workload is set up several times (``setup``; the last set-up is used),
warmed up untimed (``warmup``), then yields operations (``ops``) that the
runner times one by one. ``Op.run`` is the timed call; ``Op.check``
verifies its output afterwards, untimed. ``finish`` runs untimed end-of-run
work. In the traced run, ``counts`` collects the per-layer counts and
``kernel_pairs`` the refine pairs for the kernel replay. Engine work that
only the traced run does (the kNN count jobs, collecting refine pairs) is
queued by ``Op.run`` and done by ``after_op``, which the runner calls after
the op's timer and span have closed, so traced and untraced ops time the
same engine work.
"""

from __future__ import annotations

import os
from collections import defaultdict
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import inputs
from frechetrange_spark.operators.knn import etd_prune, knn_candidates_grid, knn_frechet
from frechetrange_spark.operators.range_query import (
    build_grid_index,
    clear_pack_cache,
    grid_candidates,
    range_query_grid,
)
from frechetrange_spark.sources.index_table import compact_index, read_index, write_index
from frechetrange_spark.sources.trajectories import assemble_curves, points_from_text
from frechetrange_spark.streaming.ingest import DOCS_SCHEMA, start_index_ingest

EPS, MESH, K = inputs.EPS, inputs.MESH, inputs.K
KERNEL_SAMPLE = 4000  # refine pairs replayed single-process in the traced run


@dataclass
class Op:
    kind: str
    units: int  # what the op adds to throughput: query curves, or 1 per op (interactive)
    run: Callable[[], object]
    check: Callable[[object], list]


class Workload:
    scale = ""
    traced_ops = 1  # ops in a traced run (fixed, so counts repeat); an untraced run does at least these
    block = 1  # an untimed run stops only after a whole block of this many ops
    kinds: tuple = ()  # operation types
    primary = ""  # the operation type whose median is op_p50_s
    throughput_name = ""  # what throughput_per_s stands for on this workload

    def __init__(self, spark, tracer, seed: int, tmp: str):
        self.spark, self.tracer, self.seed, self.tmp = spark, tracer, seed, tmp
        self.docs = inputs.documents(self.scale)
        self.curves_np = checks.curves_from_docs(self.docs)
        self.counts: dict = defaultdict(int)
        self.kernel_pairs: list = []
        self._after: list = []

    def after_op(self, run: bool = True) -> None:
        """Do (or, after a failed op, drop) the traced-only work the last op
        queued. Untimed."""
        todo, self._after = self._after, []
        for fn in todo if run else ():
            fn()

    def _assemble(self, docs, rep: int):
        with self.tracer.span("sources.assemble", f"setup-{rep}"):
            df = self.spark.createDataFrame(docs, schema=DOCS_SCHEMA)
            return assemble_curves(points_from_text(df)).localCheckpoint()

    def _count(self, key: str, obs: dict | None, name: str) -> None:
        if obs is not None:
            self.counts[key] += obs[name].get["n"]

    def _range(self, index_df, queries, meta, symmetric: bool = False):
        """One range_query_grid call: construct, then collect the action."""
        obs = {} if self.tracer.enabled else None
        with self.tracer.span("range_query.construct"):
            out = range_query_grid(index_df, queries, EPS, meta, symmetric=symmetric, observations=obs)
            if symmetric:  # per-query digests keep the collected result small
                t = F.col("traj_id")
                out = out.groupBy("query_id").agg(
                    F.count(F.lit(1)), F.sum(t), F.sum(t * t)
                )
        with self.tracer.span("range_query.action"):
            rows = out.collect()
        for name in ("f3_accepted", "refine_input", "matches"):
            self._count(f"range_query.{name}", obs, name)
        return rows

    def _knn(self, curves, queries):
        with self.tracer.span("knn.construct"):
            out = knn_frechet(curves, queries, k=K, mesh=MESH)
        with self.tracer.span("knn.action"):
            rows = [tuple(r) for r in out.collect()]
        if self.tracer.enabled:
            self._after.append(lambda: self._knn_counts(curves, queries))
        return rows

    def _knn_counts(self, curves, queries) -> None:
        with self.tracer.span("knn.count"):
            cand = knn_candidates_grid(curves, queries, K, MESH).localCheckpoint()
            self.counts["knn.candidates"] += cand.count()
            self.counts["knn.survivors"] += etd_prune(curves, queries, cand, K).count()

    def _queue_refine_pairs(self, index_df, queries, meta, symmetric: bool = False) -> None:
        if self.tracer.enabled:
            self._after.append(lambda: self._refine_pairs(index_df, queries, meta, symmetric))

    def _refine_pairs(self, index_df, queries, meta, symmetric: bool) -> None:
        """Collect the pairs the refine kernel sees."""
        with self.tracer.span("kernels.collect_pairs"):
            cand = grid_candidates(index_df, queries, EPS, meta).filter(~F.col("accept_f3"))
            if symmetric:
                cand = cand.filter(F.col("q_traj_id") <= F.col("traj_id"))
            pdf = cand.select("q_traj_id", "traj_id").toPandas()
        self.kernel_pairs.append(pdf.to_numpy(dtype=np.int64))

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        pass

    def ops(self):
        raise NotImplementedError

    def finish(self) -> list | None:
        """Untimed end-of-run work; returns its check failures, or None
        when there is nothing to check."""
        return None


class SelfJoin(Workload):
    """GIS-Cup batch shape: every sf0.1 curve queries all of them. No
    warm-up: a batch job pays its cold start on every run."""

    scale = "sf0.1"
    kinds = ("selfjoin",)
    primary = "selfjoin"
    throughput_name = "selfjoin_qps"

    def setup(self, rep):
        order = inputs.selfjoin_inputs(self.seed)["order"]
        self.curves = self._assemble(self.docs.iloc[order], rep)
        with self.tracer.span("range_query.build", f"setup-{rep}"):
            self.index, self.meta = build_grid_index(self.curves, MESH, corner="min_min")

    def ops(self):
        n = len(self.docs)
        sample = inputs.check_sample(self.seed, np.arange(n), 8, "selfjoin")
        while True:
            yield Op("selfjoin", n, self._join, lambda rows: self._check(rows, sample))

    def _join(self):
        rows = self._range(self.index, self.curves, self.meta, symmetric=True)
        self._queue_refine_pairs(self.index, self.curves, self.meta, symmetric=True)
        return {int(r[0]): (int(r[1]), int(r[2]), int(r[3])) for r in rows}

    def _check(self, digests, sample):
        total = sum(d[0] for d in digests.values())
        bad = []
        if total != checks.PINNED_SELFJOIN["matches"]:
            bad.append(f"self-join matches {total} != pinned {checks.PINNED_SELFJOIN['matches']}")
        return bad + checks.check_range(digests, sample, sorted(self.curves_np), self.curves_np, EPS)


class Interactive(Workload):
    """Closed-loop client on a persisted sf0.01 index: range batches, kNN
    queries and streaming appends of held-out documents."""

    scale = "sf0.01"
    traced_ops = 8
    block = len(inputs.BLOCK)
    kinds = tuple(dict.fromkeys(inputs.BLOCK))
    primary = "range"
    throughput_name = "interactive_ops_per_s"

    def __init__(self, *a):
        super().__init__(*a)
        self.inp = inputs.interactive_inputs(self.seed)
        self.indexed = set(int(i) for i in self.inp["base"])
        self.inbox = os.path.join(self.tmp, "inbox")
        self.checkpoint = os.path.join(self.tmp, "ingest-checkpoint")
        self.appends = 0

    def setup(self, rep):
        base = self.docs[self.docs["doc_id"].isin(self.inp["base"])]
        curves = self._assemble(base, rep)
        with self.tracer.span("range_query.build", f"setup-{rep}"):
            index_df, meta = build_grid_index(curves, MESH, corner="min_min")
        self.path = os.path.join(self.tmp, f"index-{rep}")
        with self.tracer.span("sources.write_index", f"setup-{rep}"):
            write_index(index_df, self.path, meta)

    def warmup(self):
        for spec in self.inp["warmup"]:
            self._op(spec).run()

    def ops(self):
        for spec in self.inp["ops"]:
            yield self._op(spec)

    def _op(self, spec) -> Op:
        return self._append_op(spec["docs"]) if spec["kind"] == "append" else self._read_op(spec)

    def _index(self):
        return read_index(self.spark, self.path)

    def _queries(self, index_df, ids):
        return index_df.filter(F.col("traj_id").isin([int(i) for i in ids]))

    def _read_op(self, spec) -> Op:
        ids = spec["docs"]
        if spec["kind"] == "knn":
            skip = checks.knn_boundary_queries(ids, sorted(self.indexed), self.curves_np, K)
            ids = [i for i in ids if int(i) not in skip]

            def run_knn():
                index_df, _ = self._index()
                return self._knn(index_df, self._queries(index_df, ids))

            return Op("knn", 1, run_knn, lambda rows: checks.check_knn(
                rows, ids, sorted(self.indexed), self.curves_np, K))

        def run_range():
            index_df, meta = self._index()
            queries = self._queries(index_df, ids)
            rows = self._range(index_df, queries, meta)
            self._queue_refine_pairs(index_df, queries, meta)
            matches = defaultdict(set)
            for q, t in rows:
                matches[int(q)].add(int(t))
            return matches

        return Op("range", 1, run_range, lambda m: checks.check_range(
            m, ids, sorted(self.indexed), self.curves_np, EPS))

    def _append_op(self, ids) -> Op:
        # the documents arrive as a new parquet file before the op starts
        os.makedirs(self.inbox, exist_ok=True)
        docs = self.docs[self.docs["doc_id"].isin(ids)]
        pq.write_table(
            pa.Table.from_pandas(docs, preserve_index=False),
            os.path.join(self.inbox, f"batch-{self.appends:04d}.parquet"),
        )
        self.appends += 1

        def run():
            meta = self._index()[1]
            with self.tracer.span("ingest.append"):
                query = start_index_ingest(
                    self.spark, self.inbox, os.path.join(self.path, "data"),
                    self.checkpoint, mesh=meta["mesh"], corner=meta["corner"],
                )
                query.awaitTermination()
                # the broadcast curve-pack cache is keyed by the scan's plan,
                # which appended files do not change (see perfbench/NOTES.md)
                clear_pack_cache()
            self.indexed.update(int(i) for i in ids)
            self.counts["ingest.curves_appended"] += len(ids)

        return Op("append", 1, run, lambda _: self._check_rows("append"))

    def _check_rows(self, what: str) -> list:
        n = self._index()[0].count()
        return [] if n == len(self.indexed) else [f"{what}: index has {n} rows, want {len(self.indexed)}"]

    def finish(self):
        with self.tracer.span("sources.compact"):
            compact_index(self.spark, self.path)
        return self._check_rows("compaction")


class Knn(Workload):
    """kNN batches over all sf0.1 curves."""

    scale = "sf0.1"
    traced_ops = 3
    kinds = ("knn",)
    primary = "knn"
    throughput_name = "knn_qps"

    def setup(self, rep):
        self.curves = self._assemble(self.docs, rep)

    def _queries(self, ids):
        return self.curves.filter(F.col("traj_id").isin([int(i) for i in ids]))

    def warmup(self):
        knn_frechet(self.curves, self._queries(inputs.knn_inputs(self.seed)["warmup"]), k=K, mesh=MESH).collect()

    def ops(self):
        all_ids = sorted(self.curves_np)
        for b, ids in enumerate(inputs.knn_inputs(self.seed)["batches"]):
            skip = checks.knn_boundary_queries(ids, all_ids, self.curves_np, K)
            ids = np.array([i for i in ids if int(i) not in skip], dtype=np.int64)
            checked = inputs.check_sample(self.seed, ids, inputs.KNN_CHECKED, f"knn.{b}")
            yield Op(
                "knn", len(ids),
                lambda ids=ids: self._knn(self.curves, self._queries(ids)),
                lambda rows, c=checked: checks.check_knn(rows, c, all_ids, self.curves_np, K),
            )


WORKLOADS = {
    "selfjoin-sf0.1": SelfJoin,
    "interactive-sf0.01": Interactive,
    "knn-sf0.1": Knn,
}
