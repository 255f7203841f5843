"""Fréchet-engine benchmark.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Runs one workload (see workloads.py and NOTES.md) on ``local[nproc]`` from
one single-threaded client, measures it for S seconds of operation time,
checks every output and prints, as its last stdout line, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run executes a fixed number of operations under the span tracer
(spans.py), prints the per-layer metrics and writes every span to
``perfbench/out/``. Earlier stdout lines carry an environment stamp and a
summary under the per-workload metric names.

``--workload all`` runs every workload, untraced and traced, each in its
own process, and prints one table.

Every file the run writes goes under ``.perfbench_tmp/<workload>`` in the
working directory (removed at start and exit) or ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3

WORKLOAD_NAMES = ("selfjoin-sf0.1", "interactive-sf0.01", "knn-sf0.1")

# metric name -> unit, as BENCHMARK.json names them
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    _CONTRACT = json.load(f)
E2E = {m["name"]: m["unit"] for m in _CONTRACT["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _CONTRACT["per_layer"]}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _hwm_mb(pid="self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _calibrate() -> float:
    """Nominal free-space cells per second of a fixed single-process
    decide_frechet_batch batch (median of 3)."""
    import numpy as np

    from frechetrange_spark.kernels.batch import decide_frechet_batch

    rng = np.random.Generator(np.random.PCG64(7))
    p = np.cumsum(rng.normal(size=(256, 64, 2)), axis=1)
    q = p + rng.normal(scale=0.5, size=p.shape)
    eps = np.full(256, 2.0)
    secs = []
    for _ in range(3):
        t0 = time.perf_counter()
        decide_frechet_batch(p, q, eps)
        secs.append(time.perf_counter() - t0)
    return 256 * 64 * 64 / statistics.median(secs)


def _env_stamp() -> dict:
    import numpy
    import pyspark

    git = "unknown"  # a checkout without .git has no commit to report
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            git = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
            ).stdout.strip() or git
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "nproc": _nproc(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "git": git,
        "calib_decide_cells_per_s": _calibrate(),
    }


def _session(tmp: str):
    """Local SparkSession whose scratch space lives under ``tmp``."""
    from frechetrange_spark.session import get_spark

    for d in ("spark", "jvm", "py", "warehouse"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.environ["SPARK_DRIVER_MEMORY"] = "4g"
    n = _nproc()
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'jvm')}",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )


def _stop(spark) -> None:
    """Stop the session, then the JVM (and with it the Python workers),
    and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _tail(xs: list) -> dict:
    """Median plus the highest percentile with at least ten samples beyond
    it (None below 11 samples), with the sample count."""
    xs = sorted(xs)
    n = len(xs)
    out = {"p50": statistics.median(xs) if xs else None, "n": n, "p_hi": None, "all": xs}
    if n >= 11:
        out["p_hi"] = {"pct": 100.0 * (n - 10) / n, "value": xs[n - 11]}
    return out


def _measure(w, tracer, seconds: float, traced: bool):
    """Closed loop. A traced run does exactly ``w.traced_ops`` operations.
    An untraced run does those first, so both time the same first ops, then
    goes on until the summed latency reaches ``seconds``, stopping only at
    the end of a whole block of ``w.block`` ops so a mixed workload keeps
    its mix. Traced-only work and the output checks run between operations,
    outside the timing."""
    lat: dict = {}
    units = attempted = failed = 0
    busy = 0.0
    for i, op in enumerate(w.ops()):
        if i >= w.traced_ops and (traced or (busy >= seconds and i % w.block == 0)):
            break
        attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.span(f"op.{op.kind}", i):
                out = op.run()
        except Exception:
            traceback.print_exc()
            w.after_op(run=False)
            failed += 1
            continue
        dt = time.perf_counter() - t0
        busy += dt
        lat.setdefault(op.kind, []).append(dt)
        units += op.units
        w.after_op()
        problems = op.check(out)
        if problems:
            print(f"op {i} ({op.kind}) failed its check:", *problems[:5], sep="\n  ", file=sys.stderr)
            failed += 1
    return lat, units, busy, attempted, failed


def _layer_metrics(tracer, mark: int, w, replayed: dict) -> dict:
    from spans import duration

    setup, ops = tracer.spans[:mark], tracer.spans[mark:]

    def med(name, f=duration):
        vals = [f(s) for s in setup if s["name"] == name]
        return statistics.median(vals) if vals else 0.0

    def tot(names, f=duration):
        names = (names,) if isinstance(names, str) else names
        return sum(f(s) for s in tracer.spans[mark:] if s["name"] in names)

    def spark(key):
        return lambda s: s["spark"][key]

    c = w.counts
    rq = ("range_query.construct", "range_query.action")
    kn = ("knn.construct", "knn.action")
    cand = c["range_query.f3_accepted"] + c["range_query.refine_input"]
    m = {
        "session.start_s": med("session.start"),
        "session.warm_s": med("session.warm"),
        "sources.assemble_s": med("sources.assemble"),
        "sources.assemble_jobs": med("sources.assemble", spark("jobs")),
        "sources.write_index_s": med("sources.write_index"),
        "sources.compact_s": tot("sources.compact"),
        "range_query.build_s": med("range_query.build"),
        "range_query.build_jobs": med("range_query.build", spark("jobs")),
        "range_query.construct_s": tot(rq[0]),
        "range_query.construct_jobs": tot(rq[0], spark("jobs")),
        "range_query.action_s": tot(rq[1]),
        "range_query.action_jobs": tot(rq[1], spark("jobs")),
        "range_query.candidates": cand,
        "range_query.f3_accepted": c["range_query.f3_accepted"],
        "range_query.refine_input": c["range_query.refine_input"],
        "range_query.matches": c["range_query.matches"],
        "range_query.match_per_candidate": c["range_query.matches"] / cand if cand else 0.0,
        "knn.construct_s": tot(kn[0]),
        "knn.construct_jobs": tot(kn[0], spark("jobs")),
        "knn.action_s": tot(kn[1]),
        "knn.action_jobs": tot(kn[1], spark("jobs")),
        "knn.executor_run_s": tot(kn, spark("executor_run_s")),
        "knn.candidates": c["knn.candidates"],
        "knn.survivors": c["knn.survivors"],
        "knn.survivor_share": c["knn.survivors"] / c["knn.candidates"] if c["knn.candidates"] else 0.0,
        "ingest.append_s": tot("ingest.append"),
        "ingest.jobs": tot("ingest.append", spark("jobs")),
        "ingest.curves_appended": c["ingest.curves_appended"],
    }
    for key in ("stages", "tasks", "executor_run_s", "shuffle_read_mb", "shuffle_write_mb"):
        m[f"range_query.{key}"] = tot(rq, spark(key))
    for name in PER_LAYER:
        if name.startswith("kernels."):
            m[name] = replayed.get(name, 0)
    m["trace.self_s"] = tracer.self_s
    return m


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    import numpy as np

    import inputs
    from frechetrange_spark.session import warm_python_workers
    from replay import replay
    from spans import Tracer
    from workloads import KERNEL_SAMPLE, WORKLOADS

    tmp = os.path.join(os.getcwd(), ".perfbench_tmp", args.workload)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    traced = args.trace == 1
    spark = None
    try:
        stamp = _env_stamp()
        print("# env", json.dumps(stamp), flush=True)
        tracer = Tracer(traced)
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = _session(tmp)
        t1 = time.perf_counter()
        tracer.attach(spark)
        with tracer.span("session.warm"):
            warm_python_workers(spark)
        t2 = time.perf_counter()
        w = WORKLOADS[args.workload](spark, tracer, args.seed, tmp)
        reps = []
        for rep in range(SETUP_REPS):
            r0 = time.perf_counter()
            w.setup(rep)
            reps.append(time.perf_counter() - r0)
        setup_s = (t2 - t0) + statistics.median(reps)
        mark = len(tracer.spans)
        tracer.enabled = False  # warm-up is neither timed nor traced
        w.warmup()
        tracer.enabled = traced
        lat, units, busy, attempted, failed = _measure(w, tracer, args.seconds, traced)
        problems = w.finish()
        if problems is not None:
            attempted += 1
            if problems:
                print(*problems, sep="\n", file=sys.stderr)
                failed += 1
        rss = _hwm_mb()
        jvm_rss = _hwm_mb(spark.sparkContext._gateway.proc.pid)
        throughput = units / busy
        op_p50 = statistics.median(lat[w.primary])
        summary = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "setup_s": setup_s,
            "setup_reps_s": reps,
            "session_start_s": t1 - t0,
            "driver_peak_rss_mb": rss,
            "jvm_peak_rss_mb": jvm_rss,
            "failed_frac": failed / max(attempted, 1),
            "op_p50_s": op_p50,
            **{f"{kind}_p50_s": statistics.median(lat[kind]) for kind in w.kinds if kind in lat},
            **{f"{kind}_latency_s": _tail(lat[kind]) for kind in w.kinds if kind in lat},
        }
        summary[w.throughput_name] = throughput
        print("# summary", json.dumps(summary), flush=True)
        if traced:
            pairs = np.concatenate(w.kernel_pairs) if w.kernel_pairs else np.empty((0, 2), np.int64)
            replayed = {}
            if len(pairs):
                pick = inputs.check_sample(args.seed, np.arange(len(pairs)), KERNEL_SAMPLE, "kernels")
                replayed = replay(pairs[pick], w.curves_np, inputs.EPS)
                if replayed.pop("mismatch"):
                    print("kernel replay: staged counts differ from decide_pairs_buffers", file=sys.stderr)
                    failed += 1
            metrics = _layer_metrics(tracer, mark, w, replayed)
            out_dir = os.path.join(HERE, "out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"), metrics)
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": setup_s,
                "throughput_per_s": throughput,
                "op_p50_s": op_p50,
                "driver_peak_rss_mb": rss,
            }
            units = E2E
        result = {
            "correct": failed == 0 and attempted > 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process."""
    rows = []
    for name in WORKLOAD_NAMES:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                sys.stderr.write(proc.stderr[-4000:])
                print(f"{name} trace={trace}: exit {proc.returncode}")
                return 1
            summary = next(json.loads(x[len("# summary "):]) for x in lines if x.startswith("# summary "))
            rows.append((name, trace, summary, json.loads(lines[-1])))
    for name, trace, summary, result in rows:
        print(f"== {name} trace={trace} correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']}")
        for k, v in summary.items():
            print(f"   {k}: {json.dumps(v)}")
        for k, v in result["metrics"].items():
            print(f"   [{k}] {v['value']} {v['unit']}")
    for name in WORKLOAD_NAMES:
        p = {t: s["op_p50_s"] for n, t, s, _ in rows if n == name}
        print(f"tracing overhead {name}: op_p50 traced - untraced = {p[1] - p[0]:+.4f} s")
    return 0 if all(r["correct"] for *_, r in rows) else 1


def main(argv=None) -> int:
    args = _parse(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
