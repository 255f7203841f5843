"""Co-partitioned on-disk curve-pack store: the >broadcast-threshold
attach arm for the refine kernel (SURVEY §2.3 J4 at the 100-TB shape).

Problem: once a curve table's array payload exceeds the broadcast
threshold, the only refine plan used to be ``attach="shuffle"`` — every
candidate pair ships its full ~4 KB array payload through the candidate
join, the repartition shuffle and the JVM->Python Arrow stream, where the
ids-only broadcast arm ships 16 bytes. The reference (an in-memory
single-node engine, e.g. detail/dv/grid.hpp keeps every curve resident)
has no distributed analogue; the scale-safe middle is this store:

- ``write_pack`` materializes the curve arrays ONCE as traj_id
  range-partitioned, id-sorted flat npy blocks (one block per Spark task
  — a distributed write, nothing passes through the driver) plus a tiny
  JSON manifest of [block dir, min_id, max_id].
- the refine kernel (operators/range_query._refine_map with a
  ``("disk", path)`` side spec) resolves each Arrow batch's candidate ids
  to blocks via the manifest, np.load(mmap_mode="r")'s only the touched
  blocks, and gathers just the needed curves into a compact in-memory
  pack — the same (flat, offsets) interface the broadcast arm uses, so
  the funnel and decider kernels are byte-identical across arms.

Per-executor amortization: block mmaps are cached per python worker
process (workers are reused across batches/tasks), and the OS page cache
shares the underlying bytes across workers on the same host — each
executor reads a curve's bytes ~once per query, like the broadcast pack,
instead of once per candidate pair like the shuffle arm. On a real
cluster the store lives on the shared store (HDFS/S3 via a local block
cache); in this sandbox it is a local directory.

Write atomicity under task retries: each attempt writes into its own
``block_<pid>_<attemptId>`` directory and the manifest — assembled on the
driver from the COMMITTED task outputs only — is written last; orphan
attempt dirs are never referenced.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MANIFEST = "_manifest.json"


def pack_columns(df_columns=None, simp_levels: int | None = None):
    """(list_cols, scalar_cols) packed for a curve table: xs/ys plus the
    s{i}_xs/s{i}_ys arrays and s{i}_eps scalars for every simplification
    level stored in ``df_columns``, or for the first ``simp_levels``
    levels (those ``df_columns`` holds, when both are given). The one
    definition of a pack's columns, for the store's blocks and for the
    broadcast and inline packs of operators/range_query."""
    cols, scal = ["xs", "ys"], []
    for i in range(len(df_columns) if simp_levels is None else simp_levels):
        if df_columns is not None and f"s{i}_xs" not in df_columns:
            break
        cols += [f"s{i}_xs", f"s{i}_ys"]
        scal.append(f"s{i}_eps")
    return cols, scal


def _block_writer(cols: list[str], scal: list[str], out_dir: str):
    def fn(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        from frechetrange_spark.kernels.batch import _list_buffers

        tbl = pa.Table.from_batches(list(batches))
        if tbl.num_rows == 0:
            return
        ctx = TaskContext.get()
        name = f"block_{ctx.partitionId():05d}_{ctx.taskAttemptId()}"
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        ids = tbl.column("traj_id").combine_chunks().to_numpy().astype(np.int64)
        np.save(os.path.join(d, "ids.npy"), ids)
        for c in cols:
            flat, off = _list_buffers(tbl.column(c))
            # normalize offsets to start at 0 (combine_chunks can leave a
            # nonzero base) so readers can slice without a base term
            flat = np.ascontiguousarray(
                flat[off[0] : off[-1]], dtype=np.float64
            )
            np.save(os.path.join(d, f"{c}_flat.npy"), flat)
            np.save(os.path.join(d, f"{c}_off.npy"), (off - off[0]))
        for c in scal:
            np.save(
                os.path.join(d, f"{c}.npy"),
                tbl.column(c).combine_chunks().to_numpy().astype(np.float64),
            )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([name]),
                pa.array([int(ids[0])]),
                pa.array([int(ids[-1])]),
                pa.array([int(ids.size)]),
            ],
            ["block", "min_id", "max_id", "n"],
        )

    return fn


def write_pack(
    curves: DataFrame,
    path: str,
    n_blocks: int | None = None,
    target_block_bytes: int = 128 * 1024 * 1024,
    payload_bytes: int | None = None,
) -> dict:
    """Write the curve-pack store for ``curves`` under ``path``; returns
    the manifest dict. Block count defaults to the larger of the cluster
    parallelism and payload/target_block_bytes (~128 MB blocks: big
    enough to amortize open/mmap, small enough that one candidate batch
    never faults a monster file)."""
    spark = curves.sparkSession
    cols, scal = pack_columns(curves.columns)
    if n_blocks is None:
        par = spark.sparkContext.defaultParallelism
        if payload_bytes is None:
            from frechetrange_spark.operators.range_query import (
                _est_broadcast_bytes,
            )

            payload_bytes = _est_broadcast_bytes(curves)
        n_blocks = max(par, -(-payload_bytes // target_block_bytes))
    os.makedirs(path, exist_ok=True)
    rows = (
        curves.select("traj_id", *cols, *scal)
        .repartitionByRange(int(n_blocks), "traj_id")
        .sortWithinPartitions("traj_id")
        .mapInArrow(
            _block_writer(cols, scal, os.path.abspath(path)),
            "block string, min_id long, max_id long, n long",
        )
        .collect()
    )
    blocks = sorted(
        (
            {
                "block": r["block"],
                "min_id": int(r["min_id"]),
                "max_id": int(r["max_id"]),
                "n": int(r["n"]),
            }
            for r in rows
        ),
        key=lambda b: b["min_id"],
    )
    manifest = {"cols": cols, "scal": scal, "blocks": blocks}
    tmp = os.path.join(path, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(path, MANIFEST))
    return manifest


# ---------------------------------------------------------------------------
# reader (runs inside python workers; module state is the per-process cache)
# ---------------------------------------------------------------------------

_MANIFESTS: dict = {}
_BLOCKS: dict = {}
_BLOCK_CACHE_CAP = 64


def _manifest(path: str) -> dict:
    m = _MANIFESTS.get(path)
    if m is None:
        with open(os.path.join(path, MANIFEST)) as f:
            m = json.load(f)
        m["_min_ids"] = np.asarray(
            [b["min_id"] for b in m["blocks"]], dtype=np.int64
        )
        m["_max_ids"] = np.asarray(
            [b["max_id"] for b in m["blocks"]], dtype=np.int64
        )
        _MANIFESTS[path] = m
    return m


def _block(path: str, name: str, cols, scal) -> dict:
    """mmap handles for one block, LRU-cached per worker process."""
    key = (path, name)
    blk = _BLOCKS.pop(key, None)
    if blk is None:
        d = os.path.join(path, name)
        blk = {"ids": np.load(os.path.join(d, "ids.npy"))}
        for c in cols:
            blk[c] = (
                np.load(os.path.join(d, f"{c}_flat.npy"), mmap_mode="r"),
                np.load(os.path.join(d, f"{c}_off.npy")),
            )
        for c in scal:
            blk[c] = np.load(os.path.join(d, f"{c}.npy"), mmap_mode="r")
    _BLOCKS[key] = blk  # LRU refresh
    while len(_BLOCKS) > _BLOCK_CACHE_CAP:
        _BLOCKS.pop(next(iter(_BLOCKS)))
    return blk


def _ragged_gather(flat, off, idx):
    """Compact (flat, offsets) holding rows ``idx`` of a (flat, offsets)
    ragged array — one vectorized fancy-index, no per-row copies."""
    lens = off[idx + 1] - off[idx]
    out_off = np.zeros(idx.size + 1, dtype=np.int64)
    np.cumsum(lens, out=out_off[1:])
    pos = np.repeat(off[idx] - out_off[:-1], lens) + np.arange(
        int(out_off[-1]), dtype=np.int64
    )
    return np.asarray(flat[pos], dtype=np.float64), out_off


def gather_pack(path: str, ids: np.ndarray, simp_levels: int) -> dict:
    """Compact in-memory pack (same shape as range_query._pack_curves)
    holding exactly the curves ``ids`` (sorted unique int64), gathered
    from the mmapped blocks the ids actually touch. Missing ids raise
    KeyError loudly (a silent miss would gather another curve)."""
    m = _manifest(path)
    cols, scal = pack_columns(m["cols"] + m["scal"], simp_levels)
    for c in cols + scal:
        if c not in m["cols"] + m["scal"]:
            raise KeyError(f"pack store at {path} lacks column {c}")
    bidx = np.searchsorted(m["_min_ids"], ids, "right") - 1
    if ids.size and (int(bidx.min()) < 0 or np.any(ids > m["_max_ids"][bidx])):
        raise KeyError("curve-pack store is missing candidate traj_ids")
    parts: list[dict] = []
    for b in np.unique(bidx) if ids.size else []:
        blk = _block(path, m["blocks"][int(b)]["block"], m["cols"], m["scal"])
        sel = ids[bidx == b]
        ridx = np.searchsorted(blk["ids"], sel)
        ridx = np.minimum(ridx, blk["ids"].size - 1)
        if not np.array_equal(blk["ids"][ridx], sel):
            raise KeyError("curve-pack store is missing candidate traj_ids")
        part = {"ids": sel, "cols": {}, "scal": {}}
        for c in cols:
            flat, off = blk[c]
            part["cols"][c] = _ragged_gather(flat, off, ridx)
        for c in scal:
            part["scal"][c] = np.asarray(blk[c][ridx], dtype=np.float64)
        parts.append(part)
    if not parts:
        z = np.empty(0, dtype=np.int64)
        return {
            "ids": z,
            "cols": {c: (np.empty(0), np.zeros(1, dtype=np.int64)) for c in cols},
            "scal": {c: np.empty(0) for c in scal},
        }
    if len(parts) == 1:
        return parts[0]
    out = {"ids": np.concatenate([p["ids"] for p in parts]), "cols": {}, "scal": {}}
    for c in cols:
        flats = [p["cols"][c][0] for p in parts]
        offs = [p["cols"][c][1] for p in parts]
        flat = np.concatenate(flats)
        off = np.zeros(sum(o.size - 1 for o in offs) + 1, dtype=np.int64)
        pos, base = 1, 0
        for o in offs:
            off[pos : pos + o.size - 1] = o[1:] + base
            base += o[-1]
            pos += o.size - 1
        out["cols"][c] = (flat, off)
    for c in scal:
        out["scal"][c] = np.concatenate([p["scal"][c] for p in parts])
    return out
