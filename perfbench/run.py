"""Fixed-work benchmark for the dfsql surface.

    python3 perfbench/run.py --workload interactive_pandas --seed 1 \
        --seconds 25 --trace 0

Run from the root of a checkout.  Each run is one fresh Python process
with one fresh Spark JVM: set-up (session start, seeded inputs,
registration, a fixed untimed warm-up covering every op shape), then a
timed window of a fixed, seeded op sequence in a closed loop with one
client, then independent output checks.  ``--seconds`` fixes the op
count (never a deadline), so every run of a commit does the same work.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics, or with ``--trace 1``
the per-layer metrics).  The line before it records the run's
environment.  Per-op records and spans go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procstat  # noqa: E402

WORKLOADS = ("interactive_pandas", "catalog_session")
DEFAULT_SEED = 1
# one task thread per core, up to 4
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"


def _workload(name: str, spark, rng, workdir: str):
    if name == "interactive_pandas":
        from wl_interactive import InteractivePandas as cls
    else:
        from wl_catalog import CatalogSession as cls
    return cls(spark, rng, workdir)


def _environment(workdir: str) -> None:
    """Deployment settings for the Spark JVM: core count within nproc,
    a fixed heap sized to a small box, and scratch space inside
    ``workdir`` (no JVM perf-data file in /tmp)."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms{DRIVER_MEM} "
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}' pyspark-shell"
    )


def _run_ops(ops, tracer=None):
    """Run ``ops`` back to back; returns (results, errors, seconds)."""
    results, errors, walls = [], [], []
    for i, op in enumerate(ops):
        if tracer:
            tracer.begin_op(i, op.shape)
        t0 = time.perf_counter()
        try:
            results.append(op.run())
            errors.append(None)
        except Exception as exc:  # a failed op is counted, not fatal
            results.append(None)
            errors.append(f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}")
        walls.append(time.perf_counter() - t0)
        if tracer:
            tracer.end_op(i, op.shape, walls[-1], results[-1])
    return results, errors, walls


def _check(ops, results, errors) -> list[str]:
    failures = []
    for i, (op, res, err) in enumerate(zip(ops, results, errors)):
        if err is None:
            try:
                err = op.check(res)
            except Exception as exc:  # the check itself broke: count it
                err = f"check raised {type(exc).__name__}: {exc}"
        if err is not None:
            failures.append(f"op {i} {op.shape}: {err}")
    return failures


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = procstat.descendants(os.getpid())[1:]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dfsql_spark", "__init__.py")):
        print(f"no dfsql_spark package under {ROOT}", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench_out")
    workdir = os.path.join(out_dir, f"run-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    _environment(workdir)
    sys.path.insert(0, ROOT)
    from dfsql_spark import get_spark

    ticks0 = procstat.cpu_ticks()
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_start_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        env, metrics, tracer = _measure(args, spark, workdir)
        if args.trace:
            metrics["session.start_s"] = (session_start_s, "s")
        env["steal_pct"] = procstat.steal_pct(ticks0, procstat.cpu_ticks())
        env["load1"] = os.getloadavg()[0]
        record = os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        )
        with open(record, "w") as f:
            json.dump({"env": env, **(tracer.dump() if tracer else {})}, f)
    finally:
        _stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    failed = len(env["failures"])
    env["failures"] = env["failures"][:20]
    print(json.dumps({"env": env}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": env["attempted"],
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def _measure(args, spark, workdir: str):
    """Set up the workload, run the timed window, check every output."""
    import numpy as np

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        tracer.install()
    wl = _workload(args.workload, spark, np.random.default_rng(args.seed), workdir)
    try:
        warm = wl.warmup_ops()
        warm_res, warm_err, _ = _run_ops(warm)
        timed = wl.timed_ops(args.seconds)
        gc.collect()
        # peak RSS counts from here: not the inputs' generation
        pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
        procstat.reset_peak_rss(pids)
        setup_s = procstat.process_age_s()
        cpu0 = procstat.tree_cpu_s()
        w0 = time.perf_counter()
        res, err, walls = _run_ops(timed, tracer)
        window_s = time.perf_counter() - w0
        cpu_s = procstat.tree_cpu_s() - cpu0
        rss = procstat.peak_rss_mb(pids)
        failures = _check(warm, warm_res, warm_err) + _check(timed, res, err)
    finally:
        wl.close()
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "spark_graft": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
        "warmup_ops": len(warm),
        "timed_ops": len(timed),
        "attempted": len(warm) + len(timed),
        "ops_failed_ratio": len(failures) / (len(warm) + len(timed)),
        "failures": failures,
        "window_s": window_s,
        "window_cpu_s": cpu_s,
        "op_wall_ms": [[op.shape, w * 1e3] for op, w in zip(timed, walls)],
        # wall-clock figures are recorded, not gated: CPU steal on a
        # shared host moves them by more than any bound would allow
        "latency_p50_ms": statistics.median(walls) * 1e3,
        "latency_p90_ms": statistics.quantiles(walls, n=10, method="inclusive")[8] * 1e3,
        "ops_per_s": len(timed) / window_s,
    }
    if tracer:
        from wl_catalog import OPERATORS

        metrics = {k: (v, _layer_unit(k)) for k, v in tracer.layer_metrics(OPERATORS).items()}
        metrics["cache.pinned_at_end"] = (tracer.pinned_at_end(), "count")
        metrics["trace.ops_per_s"] = (env["ops_per_s"], "1/s")
        env["shape_counts"] = tracer.shape_counts()
        env["counts_match_baseline"] = _compare_baseline(args, env["shape_counts"])
        return env, metrics, tracer
    metrics = {
        "setup_s": (setup_s, "s"),
        # steal time is not charged to a process
        "cpu_ms_per_op": (cpu_s * 1e3 / len(timed), "ms"),
        "peak_rss_mb": (rss, "MB"),
    }
    return env, metrics, None


def _layer_unit(name: str) -> str:
    if "_ms" in name:
        return "ms"
    if "bytes" in name:
        return "B"
    if name == "cache.hit_ratio":
        return "ratio"
    return "count"


def _compare_baseline(args, counts) -> "bool | None":
    """Exact jobs/stages/tasks per shape against the recorded baseline
    (default seed and --seconds only)."""
    path = os.path.join(HERE, "baseline_counts.json")
    if args.seed != DEFAULT_SEED or not os.path.exists(path):
        return None
    with open(path) as f:
        base = json.load(f).get(args.workload)
    if base is None or base.get("seconds") != args.seconds:
        return None
    return base["shape_counts"] == counts


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
