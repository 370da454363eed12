#!/usr/bin/env python3
"""Isolate the exact-DECIMAL money-sum cost on the q06 aggregate shape:
time the three candidate sum spellings on lineitem, confirm map-side
partial aggregation for the decimal path, and print one JSON line per
sf_dir.

Spellings measured (the q06 money columns only — the rest of the
aggregate is identical across variants):

* ``double``      — SUM(double) + ROUND(.., 2/4): the fast form q06
                    once used.  Order-dependent; ROUND on a
                    .005 boundary can flip cross-engine.
* ``decimal``     — SUM(CAST(x AS DECIMAL(18,2)/(18,4))): what q06
                    runs.  Exact, order-independent; Spark widens
                    the accumulator to decimal(28,2)/(28,4), overflow
                    at ~1e26 — safe for any conceivable money total.
* ``scaled_bigint`` — SUM(CAST(ROUND(x*100) AS BIGINT))/100: measured
                    REFERENCE ONLY; rejected because the
                    accumulator ceiling is 9.2e18 scaled units — a
                    100 TB global money sum overflows it silently in
                    non-ANSI mode.

Why the decimal path cannot reach double speed (the structural floor):
the SUM accumulator type is decimal(p+10, s); for any input precision
> 8 that exceeds 18 digits, so the aggregation buffer leaves the
Long-backed UnsafeRow fast path and accumulates through Int128/
BigDecimal adds.  Dropping input precision to <= 8 would keep the
accumulator Long-backed (decimal(18,s)) but reintroduces EXACTLY the
scaled-bigint ceiling (~1e16) — i.e., every fast spelling has the same
overflow trap, and the observed decimal overhead is irreducible
sum-widening cost, not a missing optimization.

Usage::

    python scripts/microbench_decimal_sum.py [sf_dir ...] [--reps N]
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from dfsql_spark.session import get_spark  # noqa: E402


def variants(li):
    base = [
        F.sum("l_quantity").alias("sum_qty"),
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count(F.lit(1)).alias("count_order"),
    ]
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return {
        "double": li.groupBy("l_returnflag", "l_linestatus").agg(
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 4).alias("sum_disc_price"),
            *base,
        ),
        "decimal": li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_base_price"),
            F.sum(disc.cast("decimal(18,4)")).cast("double").alias("sum_disc_price"),
            *base,
        ),
        "scaled_bigint": li.groupBy("l_returnflag", "l_linestatus").agg(
            (
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")) / 100
            ).alias("sum_base_price"),
            (F.sum(F.round(disc * 10000).cast("bigint")) / 10000).alias(
                "sum_disc_price"
            ),
            *base,
        ),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dirs", nargs="*", default=None)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    sf_dirs = args.sf_dirs or ["/root/testdata/sf0.1"]

    if os.path.isdir("/dev/shm"):
        os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/dfsql-spark-local")
    spark = get_spark(app_name="microbench-decimal-sum")
    spark.sparkContext.setLogLevel("ERROR")

    for sf_dir in sf_dirs:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        vs = variants(li)

        # plan audit: the decimal path must still partial-aggregate
        # map-side (two HashAggregates around one Exchange) — if the
        # partial were missing, the overhead would be a shuffle-volume
        # problem, not an accumulator-arithmetic floor.
        plan = vs["decimal"]._jdf.queryExecution().executedPlan().toString()
        n_hashagg = plan.count("HashAggregate")
        assert n_hashagg >= 2, f"no partial aggregation in decimal plan:\n{plan}"
        partial_first = plan.index("partial_sum") if "partial_sum" in plan else -1
        assert partial_first >= 0, f"no partial_sum in decimal plan:\n{plan}"

        results = {}
        for name, df in vs.items():
            df.write.format("noop").mode("overwrite").save()  # warm
            ts = []
            for _ in range(args.reps):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                ts.append(time.perf_counter() - t0)
            results[name] = {
                "median": round(statistics.median(ts), 3),
                "min": round(min(ts), 3),
            }
        dec, dbl = results["decimal"], results["double"]
        print(
            json.dumps(
                {
                    "bench": "decimal_money_sum_q06_shape",
                    "sf_dir": sf_dir,
                    "reps": args.reps,
                    "results": results,
                    "decimal_over_double_median": round(
                        dec["median"] / dbl["median"], 2
                    ),
                    "decimal_over_double_min": round(dec["min"] / dbl["min"], 2),
                    "partial_agg_map_side": True,
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
