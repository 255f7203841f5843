#!/usr/bin/env python3
"""Single-threaded replay of the refine kernel over real refine pairs.

The pairs are the ones the grid self-join hands to the refine kernel
(``range_query_grid(..., symmetric=True)`` after the F1/F2/F3 filters,
query_id <= traj_id) on bench.py's data set, eps and mesh (the sf0.1
test data unless ``SPARK_GRAFT_SF_DIR`` or ``--sf-dir`` says otherwise).
They are collected once with Spark into ``--cache`` (a directory under
/tmp; nothing is committed), together with every curve they touch. Later
runs need no Spark.

The replay shuffles the pairs with a fixed seed (the shape the
round-robin repartition hands the kernel), cuts them into calls of
``--batch`` pairs and runs ``decide_pairs_buffers`` with
``range_query_grid``'s default refine flags on each, single-threaded.
The default, 10,000, is one Arrow batch; the refine map merges a
partition's batches into larger calls (``range_query._kernel_calls``),
~45,000 pairs per call on this self-join at ``local[4]``. The kernel's
stage functions are wrapped with timers (``stage_timers``), so the
per-stage figures are those of the real kernel, not of a copy of its
funnel. It prints one JSON line:

- ``whole_us_per_pair``: the kernel's own cost per pair;
- ``stages``: per funnel stage, the pairs it saw, its seconds and
  µs/pair, and its padded-cell efficiency — useful cells / swept cells,
  where a pair's cells are len_p + len_t for the O(N+M) walk stages and
  len_p x len_t for the O(N*M) DP stages. Only for a kernel whose greedy
  stages are flat walks (``kernels.batch.greedy_pairs_buffers``) and whose
  ETD stage is one ``etd_pairs_buffers`` call; an older checkout reports
  its codes and whole cost only.

``--record`` stores the stage code of every pair in the cache;
``--check`` compares this run's codes with the stored ones, counts the
differing pairs per (recorded stage -> new stage) move and exits 1 on
any difference. To compare two versions of the engine, record with one
(``--engine DIR`` points the import at another checkout) and check with
the other:

    python scripts/bench_kernel.py --engine /path/to/old/checkout --record
    python scripts/bench_kernel.py --check
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.append(REPO)

from bench import EPS, MESH, SF_DIR  # noqa: E402  (bench.py's sf0.1 self-join)

SEED = 0  # pair shuffle seed
CPUS = 4  # Spark cores of the one-time collection
# range_query_grid's default refine flags (funnel_stats off)
FLAGS = dict(greedy_accept=True, rev_greedy_accept=True, dfd_accept=True)
STAGES = ("etd", "greedy", "greedy_rev", "dfd", "decider")
DP_STAGES = ("dfd", "decider")


def collect(sf_dir: str, path: str) -> None:
    """Run the grid self-join's candidate stage once and save the refine
    pairs and their curves to ``path`` (.npz)."""
    from pyspark.sql import functions as F

    from frechetrange_spark.operators.range_query import build_grid_index, grid_candidates
    from frechetrange_spark.session import get_spark
    from frechetrange_spark.sources.trajectories import curves as load_curves

    spark = get_spark(master=f"local[{CPUS}]")
    curves = load_curves(spark, sf_dir).localCheckpoint()
    index, meta = build_grid_index(curves, MESH, corner="min_min")
    cand = grid_candidates(index, curves, EPS, meta).filter(~F.col("accept_f3"))
    cand = cand.filter(F.col("q_traj_id") <= F.col("traj_id"))
    pairs = cand.select("q_traj_id", "traj_id").toPandas().to_numpy(dtype=np.int64)
    cpdf = curves.select("traj_id", "xs", "ys").toPandas()
    spark.stop()
    ids = cpdf["traj_id"].to_numpy(dtype=np.int64)
    order = np.argsort(ids)
    xs = [np.asarray(cpdf["xs"].iloc[i], dtype=np.float64) for i in order]
    ys = [np.asarray(cpdf["ys"].iloc[i], dtype=np.float64) for i in order]
    off = np.concatenate([[0], np.cumsum([len(x) for x in xs])]).astype(np.int64)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    np.savez(
        path,
        ids=ids[order],
        off=off,
        fx=np.concatenate(xs),
        fy=np.concatenate(ys),
        pairs=pairs,
    )


def load(path: str):
    """(curve table, qsel, tsel) with the pairs in replay order."""
    z = np.load(path)
    ids, pairs = z["ids"], z["pairs"]
    pairs = pairs[np.random.default_rng(SEED).permutation(len(pairs))]
    buf = (z["fx"], z["off"], z["fy"], z["off"])
    return buf, np.searchsorted(ids, pairs[:, 0]), np.searchsorted(ids, pairs[:, 1])


def stage_timers(kb, stats: dict) -> None:
    """Wrap the stage kernels of the module ``kb`` (kernels.batch) so each
    call adds its seconds, pairs and swept cells into ``stats[stage]``;
    ``decide_pairs_buffers`` looks them up at call time.

    - ETD is timed at its per-call entry ``etd_pairs_buffers``, so its
      seconds include everything the stage does per call; its swept
      cells are counted per padded tile in ``etd_batch``.
    - The two greedy walks are one entry point (``greedy_pairs_buffers``),
      told apart by its ``reverse`` flag; they pad nothing, so they sweep
      exactly the pairs' own vertices.
    - The DP stages run on padded tiles."""

    def wrap(name, account):
        fn = getattr(kb, name)

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            res = fn(*args, **kwargs)
            account(time.perf_counter() - t0, *args, **kwargs)
            return res

        setattr(kb, name, timed)

    def tiles(stage, timed=True):
        def account(secs, p, t, *args, **kwargs):
            b, wp, wt = p.shape[0], p.shape[1], t.shape[1]
            s = stats[stage]
            s["swept"] += b * (wp * wt if stage in DP_STAGES else wp + wt)
            if timed:
                s["secs"] += secs
                s["pairs"] += b

        return account

    def pairs(stage_of, swept=False):
        def account(secs, bq, bt, qsel, tsel, *args, **kwargs):
            s = stats[stage_of(*args, **kwargs)]
            s["secs"] += secs
            s["pairs"] += qsel.size
            if swept:
                s["swept"] += int(kb._lengths(bq, qsel).sum() + kb._lengths(bt, tsel).sum())

        return account

    wrap("etd_pairs_buffers", pairs(lambda: "etd"))
    wrap("etd_batch", tiles("etd", timed=False))
    wrap(
        "greedy_pairs_buffers",
        pairs(lambda reverse=False: "greedy_rev" if reverse else "greedy", swept=True),
    )
    wrap("dfd_leq_batch", tiles("dfd"))
    wrap("decide_frechet_batch", tiles("decider"))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", default=SF_DIR)
    ap.add_argument("--cache", default="/tmp/frechet_kernel_pairs")
    ap.add_argument("--engine", default=REPO, help="checkout whose frechetrange_spark is replayed")
    ap.add_argument("--batch", type=int, default=10_000, help="pairs per kernel call")
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--record", action="store_true", help="store this run's stage codes")
    mode.add_argument(
        "--check", action="store_true", help="compare stage codes with the stored run"
    )
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.engine))

    from frechetrange_spark.kernels import batch as kb

    tag = f"{os.path.basename(os.path.normpath(args.sf_dir))}-eps{EPS:g}-mesh{MESH:g}"
    path = os.path.join(args.cache, f"pairs-{tag}.npz")
    codes_path = os.path.join(args.cache, f"codes-{tag}.npy")
    if not os.path.exists(path):
        collect(args.sf_dir, path)
    buf, qsel, tsel = load(path)
    n = int(qsel.size)

    stats = {s: dict(pairs=0, secs=0.0, swept=0) for s in STAGES}
    # the stage timers need the flat-walk kernel (``greedy_pairs_buffers``);
    # an older checkout is replayed for its codes and whole cost only
    staged = hasattr(kb, "greedy_pairs_buffers")
    if staged:
        stage_timers(kb, stats)
    codes = np.zeros(n, dtype=np.int8)
    t0 = time.perf_counter()
    for s in range(0, n, args.batch):
        b = slice(s, s + args.batch)
        codes[b] = kb.decide_pairs_buffers(
            buf, buf, qsel[b], tsel[b], EPS, return_stages=True, **FLAGS
        )[1]
    whole = time.perf_counter() - t0
    # a kernel whose ETD stage does not go through etd_pairs_buffers
    # (before it was the stage's entry) reports its codes and whole cost only
    staged = staged and stats["etd"]["pairs"] > 0

    # useful cells per stage: the real curve lengths of the pairs that
    # reach it, i.e. that no earlier stage accepted
    off = buf[1]
    lp, lt = off[qsel + 1] - off[qsel], off[tsel + 1] - off[tsel]
    accepts = (
        kb.STAGE_ETD_ACCEPT,
        kb.STAGE_GREEDY_ACCEPT,
        kb.STAGE_GREEDY_REV_ACCEPT,
        kb.STAGE_DFD_ACCEPT,
    )
    stages = {}
    for i, name in enumerate(STAGES if staged else ()):
        reach = ~np.isin(codes, accepts[:i])
        s = stats[name]
        if int(reach.sum()) != s["pairs"]:
            raise RuntimeError(
                f"stage timers saw {s['pairs']} {name} pairs, the codes {int(reach.sum())}"
            )
        cells = lp * lt if name in DP_STAGES else lp + lt
        stages[name] = {
            "pairs": s["pairs"],
            "secs": round(s["secs"], 3),
            "us_per_pair": round(1e6 * s["secs"] / max(s["pairs"], 1), 2),
            "cell_eff": round(int(cells[reach].sum()) / max(s["swept"], 1), 3),
        }
    out = {
        "pairs": n,
        "batch": args.batch,
        "engine": os.path.abspath(args.engine),
        "whole_s": round(whole, 3),
        "whole_us_per_pair": round(1e6 * whole / max(n, 1), 2),
        "codes": {kb.STAGE_NAMES[c]: int(k) for c, k in zip(*np.unique(codes, return_counts=True))},
        "stages": stages,
    }
    if args.record:
        np.save(codes_path, codes)
        out["recorded"] = codes_path
    if args.check:
        ref = np.load(codes_path)
        diff = int((ref != codes).sum()) if ref.shape == codes.shape else -1
        out["check"] = {"against": codes_path, "differing_pairs": diff}
        if diff > 0:
            moved, k = np.unique(np.stack([ref, codes])[:, ref != codes], axis=1, return_counts=True)
            out["check"]["moved"] = {
                f"{kb.STAGE_NAMES[a]}->{kb.STAGE_NAMES[b]}": int(c) for (a, b), c in zip(moved.T, k)
            }
    print(json.dumps(out))
    if args.check and out["check"]["differing_pairs"] != 0:
        sys.exit(1)


if __name__ == "__main__":
    main()
