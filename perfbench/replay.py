"""Single-process replay of the refine kernels (``kernels.batch``) over a
sample of real refine pairs: the pairs the grid join hands to the refine
kernel after the F1/F2/F3 filters.

Two passes over the same pairs and curve buffers:

1. ``decide_pairs_buffers`` with the flags ``range_query_grid`` uses by
   default gives the whole-refine cost per pair and the stage of every
   pair;
2. the same funnel rebuilt from the public stage kernels (``etd_batch``,
   ``greedy_ub_batch`` forward and reversed, ``dfd_leq_batch``,
   ``decide_frechet_batch``) with one timer per stage. Its stage counts
   must equal pass 1's, or the replay reports a mismatch.
"""

from __future__ import annotations

import time

import numpy as np

from checks import flat_buffers
from frechetrange_spark.kernels.batch import (
    STAGE_NAMES,
    decide_frechet_batch,
    decide_pairs_buffers,
    dfd_leq_batch,
    etd_batch,
    greedy_ub_batch,
)

STAGES = ("etd", "greedy", "greedy_rev", "dfd", "decider")
COUNTED = ("etd_accept", "greedy_accept", "greedy_rev_accept", "dfd_accept", "decider_yes", "decider_no")
CHUNK = 4096  # decide_pairs_buffers' default


def _gather(flat: np.ndarray, off: np.ndarray, rows: np.ndarray, width: int) -> np.ndarray:
    """(len(rows), width) matrix: row r is flat[off[r]:off[r+1]], padded by
    repeating its last element."""
    lens = off[rows + 1] - off[rows]
    return flat[off[rows, None] + np.minimum(np.arange(width)[None, :], (lens - 1)[:, None])]


def _staged(buf, qsel, tsel, eps: float):
    """The default refine funnel, stage by stage, with per-stage timers."""
    fx, off, fy, _ = buf
    secs = dict.fromkeys(STAGES, 0.0)
    counts = dict.fromkeys(COUNTED, 0)
    lens_q = off[qsel + 1] - off[qsel]
    lens_t = off[tsel + 1] - off[tsel]
    order = np.argsort(lens_q + lens_t)
    for s in range(0, qsel.size, CHUNK):
        rows = order[s : s + CHUNK]
        wq, wt = int(lens_q[rows].max()), int(lens_t[rows].max())
        p = np.stack([_gather(fx, off, qsel[rows], wq), _gather(fy, off, qsel[rows], wq)], -1)
        t = np.stack([_gather(fx, off, tsel[rows], wt), _gather(fy, off, tsel[rows], wt)], -1)
        t0 = time.perf_counter()
        todo = np.nonzero(~(etd_batch(p, t) <= eps))[0]
        secs["etd"] += time.perf_counter() - t0
        counts["etd_accept"] += rows.size - todo.size
        for name, rev in (("greedy", False), ("greedy_rev", True)):
            if not todo.size:
                break
            t0 = time.perf_counter()
            if rev:
                pr, tr = p[todo, ::-1].copy(), t[todo, ::-1].copy()
                lp = np.full(todo.size, p.shape[1], dtype=np.int64)
                lt = np.full(todo.size, t.shape[1], dtype=np.int64)
            else:
                pr, tr = p[todo], t[todo]
                lp, lt = lens_q[rows][todo], lens_t[rows][todo]
            acc = greedy_ub_batch(pr, tr, lp, lt) <= eps
            secs[name] += time.perf_counter() - t0
            counts[f"{name}_accept"] += int(acc.sum())
            todo = todo[~acc]
        if todo.size:
            t0 = time.perf_counter()
            acc = dfd_leq_batch(p[todo], t[todo], np.full(todo.size, eps * eps))
            secs["dfd"] += time.perf_counter() - t0
            counts["dfd_accept"] += int(acc.sum())
            todo = todo[~acc]
        if todo.size:
            t0 = time.perf_counter()
            yes = decide_frechet_batch(p[todo], t[todo], np.full(todo.size, eps))
            secs["decider"] += time.perf_counter() - t0
            counts["decider_yes"] += int(yes.sum())
            counts["decider_no"] += int((~yes).sum())
    return secs, counts


def replay(pairs: np.ndarray, curves: dict, eps: float) -> dict:
    """``pairs``: (P, 2) int array of (query_id, traj_id). Returns the
    kernels.* per-layer metrics plus ``mismatch`` (stage counts of the two
    passes differ)."""
    ids = np.unique(pairs)
    buf = flat_buffers(curves, ids)
    qsel, tsel = np.searchsorted(ids, pairs[:, 0]), np.searchsorted(ids, pairs[:, 1])
    t0 = time.perf_counter()
    _, codes = decide_pairs_buffers(
        buf, buf, qsel, tsel, eps,
        greedy_accept=True, rev_greedy_accept=True, dfd_accept=True, return_stages=True,
    )
    whole_s = time.perf_counter() - t0
    fused = {STAGE_NAMES[c]: int(n) for c, n in zip(*np.unique(codes, return_counts=True))}
    secs, counts = _staged(buf, qsel, tsel, eps)
    total = sum(secs.values())
    out = {"kernels.refine_us_per_pair": 1e6 * whole_s / max(len(pairs), 1)}
    out.update({f"kernels.pairs.{k}": counts[k] for k in COUNTED})
    out.update({f"kernels.stage_s.{k}": secs[k] for k in STAGES})
    out["kernels.decider_share"] = secs["decider"] / total if total else 0.0
    out["mismatch"] = any(fused.get(k, 0) != counts[k] for k in COUNTED)
    return out
