#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric", "value", "unit": "sec", "queries", "sf"}.

Each query is forced to full materialization with the noop sink (no
collect-to-driver cost, no count()-induced projection pruning), after a
small warmup to absorb JVM/codegen startup.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# the representative mix: scan-heavy agg, multi-join, window, dedup
# (exact + sketch), similarity, text, sessionization, streaming-batch,
# and the shuffle-bearing operators: decontamination gram join (d07),
# vocabulary agg (t07), applyInPandas sequence packing (t09), salted
# skew join (sk02), C4 filters (t12), mix rebalance (t13), winnowing,
# PQ ANN (s04), media dedup, dedup survivors (cheap here because it
# reuses d02's shared shingle persist), line dedup (d11), and BM25
# retrieval (s05).  p01 (the end-to-end curation capstone: C4 filters
# + repetition + dedup survivors + PII scrub in ONE plan) gives the
# composed pipeline a trend, not just its parts.  d08's CONTRACT entry
# is deliberately NOT benched (its wall is ~95% the all-pairs exact
# ground truth, a toy-scale grading device); b_d08_semantic_dedup_op
# is a bench-only run of the operator alone, so the operator has a
# trend without timing the harness.
HEADLINE = [
    "q06_groupby_agg",
    "q22_flagship_revenue",
    "q12_join_left",
    "q27_window_topk",
    "d01_dedup_exact",
    "d02_dedup_ngram_jaccard",
    "d03_dedup_minhash_lsh",
    "d07_decontaminate",
    # bench extra running d09_dedup_survivors
    "b_dedup_survivors",
    "d11_line_dedup",
    "s01_sim_topk",
    "s04_sim_pq",
    "s05_bm25",
    "sk02_salted_join",
    "t01_text_stats",
    "t04_fingerprint",
    "t07_vocab_topk",
    "t09_pack_sequences",
    "t12_c4_filters",
    "t13_mix_rebalance",
    # bench extra running t14_winnow_fingerprints
    "b_winnow_fingerprints",
    # bench extra running m03_media_dedup
    "b_media_dedup",
    "p01_curation_pipeline",
    "e01_windowed_counts",
    "e02_sessionize",
    # entries with a meaningful perf trend: hashed embeddings (two
    # combined shuffles), LM scoring
    # (broadcast model + exploded bigram map), BPE pair counts
    # (pair-vocabulary shuffle), quality checks (single-scan suite).
    # d12/d14 are deliberately NOT benched: at bench sf their wall is
    # dominated by the shared exact-pair ground truth and fixed
    # CC/sketch overhead (the toy-scale grading device), which would
    # bench the harness, not the operator — same reasoning as d08.
    "t17_hashed_embeddings",
    # bench extra running t19_lm_score
    "b_lm_score",
    "t22_bpe_pair_counts",
    "x05_quality_checks",
    # bench-only variants (em.bench_extras(), not contract queries):
    # the semantic-dedup OPERATOR without d08's exact ground-truth
    # grading device (the contract entry stays correctness-only),
    # plus library operators (salted per-key cap, Misra-Gries heavy
    # hitters, BPE encode over a memoized merge
    # list) so their perf has a trend despite the saturated contract.
    "b_d08_semantic_dedup_op",
    "b_cap_per_key",
    "b_heavy_hitters",
    "b_bpe_encode",
    "b_substring_dedup",
    "b_crawl_frontend",
    "b_dsir",
    # the rollup family: the GROUPING-SETS one-scan rollup and the
    # single-pass funnel (the old join chain paid O(K²) scans)
    "b_time_rollup",
    "b_event_funnel",
    "b_cluster_sample",
    "b_upsample_mix",
    "b_token_budget",
    # library operators: keyword extraction (corpus-sized (doc,term)
    # shuffle), the one-agg HLL column profile over the largest table,
    # and the exact source-overlap matrix (distinct + hash self-join)
    "b_tfidf_terms",
    "b_column_profile",
    "b_source_overlap",
    # the MinHash-LSH operator without d03's exact-ground-truth
    # grading device (the b_d08 pattern)
    "b_minhash_op",
    # PSI distribution drift between snapshots (two-side histogram
    # construction over the corpus)
    "b_distribution_drift",
    # the coverage-curve histogram walk and the packing waste card
    # (its wall includes replaying t09's applyInPandas packing — the
    # report itself is a thin (shard, seq) agg + one-row rollup).
    # x08's operator trend continues as b_distribution_drift (same
    # plan; the contract entry differs only in the mutation inputs).
    "t28_vocab_coverage",
    "t29_packing_report",
    # the iterative link-graph ranking (5 fixed rounds over a
    # corpus-sized edge list) and the content-id assign +
    # collision/fragmentation audit
    "b_pagerank",
    "b_stable_ids",
    "b_robots",
    # entries with a corpus-scale perf trend: the md5 id-assign +
    # collision audit (x09), the link-graph data card (one edge-dedup
    # shuffle + reversed-edge semi-join), and
    # the window-function SQL path (one Window exchange shared by
    # three window specs).  w04 (toy-graph pagerank arithmetic) and
    # w05 (fixture-sized WET parse) are correctness devices — their
    # scale trends are b_pagerank and the WET throughput probes.
    "x09_stable_ids",
    "w03_link_graph_report",
    "q32_window_sql",
]


def main() -> None:
    # SOLE-JSON-LINE CONTRACT: stdout is parsed as one JSON line, but
    # the JVM writes its own startup noise ("WARNING: Using incubator
    # modules", log4j bootstrap) to FD 1 before log levels apply —
    # Python-level sys.stdout games can't intercept that.  Re-point
    # FD 1 at stderr for the whole run and keep a private dup of the
    # real stdout for the final JSON, so the gate line is the ONLY
    # byte stream on stdout.
    json_fd = os.dup(1)
    os.dup2(2, 1)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    import __spark_entry__ as em
    from dfsql_spark.session import get_spark

    # bench-harness opt-in: bench-SF shuffle volumes are MBs, and
    # tmpfs beats the (virtualized) disk ~15× on small block files —
    # without this, intermittent disk stalls dominated the medians;
    # deliberately NOT a library default (see dfsql_spark/session.py).
    # CAPACITY GUARD: tmpfs pages are RAM — the first sf1 run piled
    # 88 GB of shuffle scratch into /dev/shm and the kernel
    # OOM-killed the JVM mid-suite.  Gate the opt-in on
    # the SOURCE dataset size (shuffle volume scales with it): past
    # ~64 MB of parquet the suite belongs on disk.
    def _dataset_mb(d: str) -> float:
        # *.parquet entries can be single files (testdata) or
        # Spark-written directories (make_scale_data output) — walk both
        try:
            total = 0
            for f in os.listdir(d):
                if not f.endswith(".parquet"):
                    continue
                p = os.path.join(d, f)
                if os.path.isdir(p):
                    for root, _, files in os.walk(p):
                        total += sum(
                            os.path.getsize(os.path.join(root, x)) for x in files
                        )
                else:
                    total += os.path.getsize(p)
            return total / 1e6
        except OSError:
            return float("inf")

    if os.path.isdir("/dev/shm") and _dataset_mb(sf_dir) <= 64:
        os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/dfsql-spark-local")
    spark = get_spark(app_name="dfsql-spark-bench")
    qs = {**em.queries(), **em.bench_extras()}

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    # Warm each query once at the smoke scale factor so the timed runs
    # measure steady-state execution, not first-use JIT: whole-stage
    # codegen compiles each operator pipeline on first execution
    # (~3-4 s for wide projections) and Python UDF workers fork
    # lazily — both one-time session costs that a long-lived cluster
    # amortizes away.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in HEADLINE:
        try:
            run(qs[name](spark, warm_dir))
        except Exception as exc:  # timed run below will surface real failures,
            # but an unwarmed query shows up only as an inflated number —
            # make the warmup failure visible so that's diagnosable.
            print(
                f"bench warmup failed for {name}: {type(exc).__name__}: {exc}",
                file=sys.stderr,
            )

    # Median of 3 INTERLEAVED suite passes: single-shot timings showed
    # ±3-4x swings on untouched code, too noisy to gate on.
    # release_caches() between passes drops the entry module's shared
    # persists (shingle sets, exact-pair ground truth) so every pass
    # pays the same cold cost — within a pass the d02->d09 persist
    # reuse is preserved.
    REPS = 3

    def read_cpu_stat():
        try:
            with open("/proc/stat") as f:
                parts = f.readline().split()[1:]
            return list(map(int, parts))
        except Exception:
            return None

    cpu0 = read_cpu_stat()
    per_rep: dict[str, list[float]] = {name: [] for name in HEADLINE}
    d02_strategies: list = []
    from dfsql_spark.operators.dedup import LAST_NGRAM_STRATEGY

    for _ in range(REPS):
        em.release_caches()
        for name in HEADLINE:
            t0 = time.perf_counter()
            run(qs[name](spark, sf_dir))
            per_rep[name].append(time.perf_counter() - t0)
            if name == "d02_dedup_ngram_jaccard":
                d02_strategies.append(
                    LAST_NGRAM_STRATEGY.get("strategy", "unknown")
                )

    def median3(xs: list[float]) -> float:
        return sorted(xs)[len(xs) // 2]

    medians = {n: round(median3(ts), 3) for n, ts in per_rep.items()}
    median_total = round(sum(medians.values()), 3)
    # HEADLINE AGGREGATE = MIN: the per-query minimum over the
    # interleaved passes is the number a one-sided host stall cannot
    # inflate (steal-time "regressions" on unchanged plans were seen).
    # "value" and "queries" ARE the mins; medians stay as secondary
    # fields for spread diagnosis.
    timings = {n: round(min(ts), 3) for n, ts in per_rep.items()}
    total = round(sum(timings.values()), 3)
    # environment self-diagnosis (medians have been host-stall
    # artifacts — spreads to 28s on unchanged plans): CPU-steal
    # fraction over the run and the per-query MIN, which one-sided
    # stalls cannot inflate.  A reader should trust
    # "mins" over "queries" whenever steal_pct is high or spreads are
    # multi-second on map-only queries.
    cpu1 = read_cpu_stat()
    steal_pct = None
    if cpu0 and cpu1 and len(cpu0) >= 8 and len(cpu1) >= 8:
        d = [b - a for a, b in zip(cpu0, cpu1)]
        tot_ticks = sum(d)
        steal_pct = round(100.0 * d[7] / tot_ticks, 2) if tot_ticks else None
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = None
    # min-vs-median divergence: min is the stall-proof statistic but
    # the most optimistic one — a change that adds
    # variance or cache pressure shows in medians first.  Surface the
    # gap explicitly so a widening spread is itself an alert, and give
    # trend readers both aggregates in one field.
    divergence = {
        n: round(medians[n] - timings[n], 3)
        for n in HEADLINE
        if medians[n] - timings[n] > max(0.15, 0.25 * timings[n])
    }
    env = {
        # local_dir records WHERE shuffle scratch lived: small-block
        # shuffle I/O on tmpfs is ~15x faster than on the virtualized
        # disk, independent of any plan change.
        "steal_pct": steal_pct,
        "load1_end": load1,
        "local_dir": os.environ.get("SPARK_GRAFT_LOCAL_DIR", "spark-default"),
        # core-width self-certification: the RESOLVED master string and
        # the JVM's own parallelism, so a scaling-run reader can verify
        # $SPARK_GRAFT_CPUS was honored from the output alone instead of
        # auditing the session wiring.
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }
    full_payload = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "reps": REPS,
        "aggregate": "min",
        "d02_strategy": (
            d02_strategies[0]
            if len(set(d02_strategies)) == 1
            else d02_strategies
        ),
        "spread": {
            n: round(max(ts) - min(ts), 3) for n, ts in per_rep.items()
        },
        "medians": medians,
        "median_total": median_total,
        # identical to "queries"
        "mins": timings,
        "min_total": total,
        # queries whose median exceeds their min by >0.15s AND
        # >25% — the variance alert the min aggregate alone
        # would mask (empty = tight spreads everywhere)
        "min_median_divergence": divergence,
        "env": env,
    }
    # FULL payload goes to a sidecar file under the ignored
    # .benchmarks/: a stdout reader that keeps only the LAST 2000
    # chars would head-truncate a ~3.4 KB line, so it would never
    # parse.  The sidecar keeps every diagnostic map.
    sidecar_rel = os.path.join(".benchmarks", "bench_full_latest.json")
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), sidecar_rel
    )
    os.makedirs(os.path.dirname(sidecar), exist_ok=True)
    with open(sidecar, "w") as f:
        json.dump(full_payload, f, indent=1)
        f.write("\n")
    # the one write to the REAL stdout (see the dup2 at the top of
    # main) — a COMPACT line (<1.5 KB: headline min aggregate, the
    # full 3-dp per-query min map, median total, divergence count,
    # env) so a 2000-char tail capture holds the whole JSON object.
    # SIZE GUARD: if the line ever approaches that 2000-char tail
    # capture, degrade deterministically — 2-dp timings first, then
    # drop the map entirely (it lives in the sidecar either way) —
    # rather than head-truncate and reintroduce
    # the never-parses failure this line exists to fix.
    def gate_line(qmap) -> str:
        return json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": qmap,
                "sf": sf,
                "reps": REPS,
                "aggregate": "min",
                "median_total": median_total,
                "divergence_n": len(divergence),
                "env": env,
                "full": sidecar_rel,
            },
            separators=(",", ":"),
        )

    payload = gate_line(timings)
    if len(payload) > 1800:
        payload = gate_line({n: round(t, 2) for n, t in timings.items()})
    if len(payload) > 1800:
        payload = gate_line({})
    with os.fdopen(json_fd, "w") as out:
        out.write(payload + "\n")


if __name__ == "__main__":
    main()
