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
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import procstat  # noqa: E402
import run  # noqa: E402

_HZ = os.sysconf("SC_CLK_TCK")
_JIT_FLAG = "-XX:-UseDynamicNumberOfCompilerThreads"
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
    return snap


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
        environment(workdir)
        args = os.environ["PYSPARK_SUBMIT_ARGS"]
        if "-XX:-UsePerfData" not in args:
            raise RuntimeError("run.py's JVM options changed; update cpu_by_thread.py")
        os.environ["PYSPARK_SUBMIT_ARGS"] = args.replace(
            "-XX:-UsePerfData", f"-XX:-UsePerfData {_JIT_FLAG}"
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
    return status


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
