#!/usr/bin/env python3
"""Split a benchmark run's window CPU by thread kind.

    python3 scripts/cpu_by_thread.py --workload interactive_pandas \
        --seed 1 --seconds 25 --trace 0

Runs ``perfbench/run.py`` in this process with the same arguments,
without editing it.  At the two reads of window CPU
(``procstat.tree_cpu_s``) it also snapshots the CPU of every thread in
the process tree and Spark's Janino compile count
(``CodegenMetrics``).  After run.py's own output it prints one JSON
line: the window's CPU seconds per thread kind, and the compiles in the
window.

Thread kinds: the JVM's C1 and C2 JIT compiler threads, executor task
threads, py4j gateway threads (the JVM side of every driver call from
Python: parsing, analysis, planning), GC threads, other JVM threads,
JVM threads that exited inside the window, Python workers (children of
the JVM), and the Python driver process.

The JVM is started with ``-XX:-UseDynamicNumberOfCompilerThreads``, so
compiler threads live for the whole run and their CPU is not lost when
an idle one exits.  Compare runs of this script with each other, not
with plain run.py runs.

``--jit-log`` (not passed on to run.py) also starts the JVM with
``-XX:+UnlockDiagnosticVMOptions -XX:+LogCompilation``, the log under
run.py's output dir (``.perfbench_out/``; about 200 MB for
catalog_session; HotSpot keeps each compiler thread's part in the temp
dir until the JVM exits).  After the JVM exits, one more JSON line
gives the JIT compile seconds of the tasks that started inside the
window, for C1 and C2: in total, by package (first five name parts)
and for the top methods.  The log is deleted after parsing.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import procstat  # noqa: E402
import run  # noqa: E402

_HZ = os.sysconf("SC_CLK_TCK")
_JIT_FLAG = "-XX:-UseDynamicNumberOfCompilerThreads"
_JIT_LOG_FLAGS = "-XX:+UnlockDiagnosticVMOptions -XX:+LogCompilation -XX:LogFile={}"
_TOP = 15
# (thread-name prefix, kind); Linux truncates names to 15 characters
_JVM_THREADS = (
    ("C2 CompilerThre", "jvm_c2_compiler"),
    ("C1 CompilerThre", "jvm_c1_compiler"),
    ("Executor task l", "jvm_executor_tasks"),
    ("Thread-", "jvm_py4j"),
    ("GC Thread", "jvm_gc"),
    ("G1 ", "jvm_gc"),
)


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(name, fields after the name) of a /proc stat file."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()


def _cpu_s(fields: list[str], reaped_children: bool = False) -> float:
    """utime+stime, or with ``reaped_children`` cutime+cstime."""
    first = 13 if reaped_children else 11
    return (int(fields[first]) + int(fields[first + 1])) / _HZ


def _jvm_kind(name: str) -> str:
    for prefix, kind in _JVM_THREADS:
        if name.startswith(prefix):
            return kind
    return "jvm_other"


def _snapshot() -> dict:
    """CPU seconds of the Python driver, of the Python workers, of the
    JVM, and of each live JVM thread (by thread id); and the compiles."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    jvm_pid, me = sc._gateway.proc.pid, os.getpid()
    snap = {"python_driver": 0.0, "python_workers": 0.0, "jvm": 0.0, "threads": {}}
    for pid in procstat.descendants(me):
        stat = _stat(f"/proc/{pid}/stat")
        if stat is None:
            continue
        if pid == me:
            snap["python_driver"] += _cpu_s(stat[1])
        elif pid == jvm_pid:
            snap["jvm"] += _cpu_s(stat[1])
            # Python workers the JVM has already reaped
            snap["python_workers"] += _cpu_s(stat[1], reaped_children=True)
            for tid in os.listdir(f"/proc/{pid}/task"):
                thread = _stat(f"/proc/{pid}/task/{tid}/stat")
                if thread is not None:
                    snap["threads"][tid] = (_jvm_kind(thread[0]), _cpu_s(thread[1]))
        else:
            snap["python_workers"] += _cpu_s(stat[1]) + _cpu_s(stat[1], reaped_children=True)
    compiles = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    snap["compiles"] = compiles.METRIC_COMPILATION_TIME().getCount()
    # seconds since JVM start, the clock of LogCompilation's stamps
    runtime = sc._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    snap["jvm_uptime_s"] = runtime.getUptime() / 1000.0
    return snap


_ATTR = re.compile(r"(\w+)='([^']*)'")


def _jit_window(log_path: str, start_s: float, end_s: float) -> dict:
    """C1 and C2 compile seconds of the tasks in a LogCompilation log
    that started between ``start_s`` and ``end_s`` (JVM uptime): total,
    by package and by method."""
    total: dict[str, float] = defaultdict(float)
    by_package: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    by_method: dict[tuple[str, str], float] = defaultdict(float)
    tasks: dict[str, int] = defaultdict(int)
    kind, task = None, None
    with open(log_path, errors="replace") as f:
        for line in f:
            if line.startswith("<start_compile_thread "):
                name = dict(_ATTR.findall(line)).get("name", "")
                kind = "c2" if name.startswith("C2") else "c1" if name.startswith("C1") else None
            elif line.startswith("<task "):
                attrs = dict(_ATTR.findall(line))
                task = (attrs.get("method", "?"), float(attrs.get("stamp", -1)))
            elif line.startswith("<task_done ") and task is not None and kind is not None:
                method, started = task
                task = None
                if not start_s <= started <= end_s:
                    continue
                seconds = float(dict(_ATTR.findall(line)).get("stamp", started)) - started
                # a lambda's hidden class ends in "/0x<address>"
                owner = method.split(" ")[0].split("/0x")[0].replace("/", ".")
                package = ".".join(owner.split(".")[:-1][:5]) or "(default)"
                total[kind] += seconds
                tasks[kind] += 1
                by_package[kind][package] += seconds
                by_method[(kind, method)] += seconds

    def top(items):
        return [[k, round(v, 2)] for k, v in sorted(items, key=lambda kv: -kv[1])[:_TOP]]

    return {
        "jit_window_s": {k: round(v, 2) for k, v in sorted(total.items())},
        "jit_window_tasks": dict(sorted(tasks.items())),
        "jit_s_by_package": {k: top(v.items()) for k, v in sorted(by_package.items())},
        "jit_top_methods": [
            [kind, method, s] for (kind, method), s in top(by_method.items())
        ],
    }


def _window(start: dict, end: dict) -> dict:
    """Per-kind CPU seconds between two snapshots.  A JVM thread that
    exits inside the window counts as ``jvm_exited_threads``."""
    cpu: dict[str, float] = defaultdict(float)
    for tid, (kind, end_s) in end["threads"].items():
        cpu[kind] += end_s - start["threads"].get(tid, (kind, 0.0))[1]
    cpu["jvm_exited_threads"] = end["jvm"] - start["jvm"] - sum(cpu.values())
    for kind in ("python_workers", "python_driver"):
        cpu[kind] = end[kind] - start[kind]
    return {kind: round(s, 2) for kind, s in sorted(cpu.items())}


def main(argv: list[str]) -> int:
    jit_log = "--jit-log" in argv
    argv = [a for a in argv if a != "--jit-log"]
    log_path = None
    edges: list[dict] = []
    tree_cpu_s = procstat.tree_cpu_s

    def window_edge(*args):
        # the snapshot's own cost stays outside the window
        if not edges:
            edges.append(_snapshot())
            value = tree_cpu_s(*args)
        else:
            value = tree_cpu_s(*args)
            edges.append(_snapshot())
        edges[-1]["tree_cpu_s"] = value
        return value

    environment = run._environment

    def with_jit_flag(workdir: str) -> None:
        nonlocal log_path
        environment(workdir)
        args = os.environ["PYSPARK_SUBMIT_ARGS"]
        if "-XX:-UsePerfData" not in args:
            raise RuntimeError("run.py's JVM options changed; update cpu_by_thread.py")
        flags = _JIT_FLAG
        if jit_log:
            # run.py deletes ``workdir`` when the run ends; its parent stays
            log_path = os.path.join(os.path.dirname(workdir), f"jit-{os.getpid()}.log")
            flags += " " + _JIT_LOG_FLAGS.format(log_path)
        os.environ["PYSPARK_SUBMIT_ARGS"] = args.replace(
            "-XX:-UsePerfData", f"-XX:-UsePerfData {flags}"
        )

    procstat.tree_cpu_s = window_edge
    run._environment = with_jit_flag
    status = run.main(argv)
    if len(edges) != 2:
        print(f"expected 2 window-edge CPU reads, saw {len(edges)}", file=sys.stderr)
        return 1
    start, end = edges
    print(
        json.dumps(
            {
                "window_cpu_s": round(end["tree_cpu_s"] - start["tree_cpu_s"], 2),
                "window_compiles": end["compiles"] - start["compiles"],
                "cpu_s_by_thread": _window(start, end),
            }
        )
    )
    if log_path is not None:
        # run.py has stopped the JVM, which merged its compiler threads' logs
        try:
            print(json.dumps(_jit_window(log_path, start["jvm_uptime_s"], end["jvm_uptime_s"])))
        finally:
            if os.path.exists(log_path):
                os.remove(log_path)
    return status


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
