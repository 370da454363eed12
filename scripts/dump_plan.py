#!/usr/bin/env python3
"""Dump .explain("formatted") for one or more contract/bench queries to
plans/<dir>/<name>_<tag>.txt.  Usage::

    python scripts/dump_plan.py lsh before d03_dedup_minhash_lsh s05_bm25 ...
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from dfsql_spark.session import get_spark  # noqa: E402


def main() -> None:
    plans_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        plans_dir,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="dump_plan")
    spark.sparkContext.setLogLevel("ERROR")
    qs = {**entry.queries(), **entry.bench_extras()}
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
