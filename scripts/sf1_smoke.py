#!/usr/bin/env python3
"""One-pass sf1 smoke of the headline suite: run every headline query
once at a 10× scale factor, printing each timing AS IT COMPLETES (a
crash loses nothing), to catch adaptive gates mis-sized by 10× (d02
dense/prefix switch, d05 LSH threshold, ANN candidate volumes, MG
capacity validation).

Deliberately on-disk shuffle scratch: tmpfs pages are RAM, and the
first sf1 attempt OOM-killed the JVM after piling 88 GB of shuffle
files into /dev/shm (bench.py guards against it too).

Usage::

    python scripts/sf1_smoke.py [sf_dir] [--warm-dir D] [--only a,b]
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# on-disk scratch, explicitly (see module docstring)
os.environ.pop("SPARK_GRAFT_LOCAL_DIR", None)

import __spark_entry__ as em  # noqa: E402
from bench import HEADLINE  # noqa: E402
from dfsql_spark.session import get_spark  # noqa: E402


def _scale_extras():
    """Heavy library operators that are NOT in bench.py's HEADLINE get
    sf1 rows here, so
    a gate mis-sized by 10x is caught the way d02's was — the minhash
    mode of the overlap matrix (banded LSH volume), the Zipf report
    (vocabulary-sized stats agg), and the shard export (hash-
    partitioned write + manifest read-back), each timed end to end."""
    import shutil
    import tempfile

    from dfsql_spark.operators.dedup import source_overlap_matrix
    from dfsql_spark.operators.text import zipf_report
    from dfsql_spark.sources.writers import write_training_shards

    def read(spark, sf_dir, name):
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")

    def zipf(spark, sf_dir):
        return zipf_report(read(spark, sf_dir, "documents"))

    def overlap_minhash(spark, sf_dir):
        return source_overlap_matrix(
            read(spark, sf_dir, "documents"), mode="minhash"
        )

    def shard_export(spark, sf_dir):
        out = tempfile.mkdtemp(prefix="sf1-smoke-shards-")
        try:
            # the write (the thing being timed) happens inside; the
            # returned manifest is footer-level
            return write_training_shards(
                read(spark, sf_dir, "documents"), out, n_shards=64
            ).localCheckpoint()
        finally:
            shutil.rmtree(out, ignore_errors=True)

    return {
        "x_zipf_report": zipf,
        "x_source_overlap_minhash": overlap_minhash,
        "x_write_training_shards": shard_export,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default=".benchdata/sf1")
    ap.add_argument("--warm-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated name filter (substring match)",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="sf1-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    extras = _scale_extras()
    qs = {**em.queries(), **em.bench_extras(), **extras,
          "w02_url_host": em.w02_url_host}

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    timings: dict = {}
    failures: dict = {}
    from dfsql_spark.operators.dedup import LAST_NGRAM_STRATEGY

    # entries not in bench.py's HEADLINE that still deserve a 10x row
    # (b_crawl_frontend proxies n01 only partially; d06 and d16 run
    # connected components and dedup_report over the exact-Jaccard
    # pair graph; x08 is b_distribution_drift's contract shape)
    contract_adds = [
        "n01_html_to_text",
        "c01_code_filters",
        "t26_tfidf_top_terms",
        "x06_column_profile",
        "s07_ann_recall",
        "d06_dedup_connected",
        "d16_dedup_report",
        "t27_grouped_split",
        "w02_url_host",
        "x07_group_keep_report",
        "x08_distribution_drift",
    ]
    names = list(HEADLINE) + contract_adds + list(extras)
    if args.only:
        keys = [k.strip() for k in args.only.split(",") if k.strip()]
        names = [n for n in names if any(k in n for k in keys)]
    for name in names:
        try:
            run(qs[name](spark, args.warm_dir))  # warm: codegen + workers
            t0 = time.perf_counter()
            run(qs[name](spark, args.sf_dir))
            dt = round(time.perf_counter() - t0, 3)
            timings[name] = dt
            extra = ""
            if name == "d02_dedup_ngram_jaccard":
                extra = f" strategy={LAST_NGRAM_STRATEGY.get('strategy')}"
            print(f"{name}: {dt}s{extra}", flush=True)
        except Exception as exc:
            failures[name] = f"{type(exc).__name__}: {exc}"
            print(f"{name}: FAILED {failures[name]}", flush=True)
        em.release_caches()

    print(
        json.dumps(
            {
                "bench": "sf1_smoke_single_pass",
                "sf_dir": args.sf_dir,
                "total": round(sum(timings.values()), 3),
                "queries": timings,
                "failures": failures,
                "local_dir": "spark-default-disk",
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
