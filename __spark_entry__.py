"""The dfsql_spark contract queries and their DuckDB oracles.

``queries()`` maps 100 operators from SURVEY.md §2, in name order, to
(spark, sf_dir) -> DataFrame callables; ``oracle_sql()`` supplies the
DuckDB-equivalent SQL each one is checked against
(``tests/test_entry_oracle.py``).  ``bench_extras()`` holds the
timing-only callables ``bench.py`` runs next to them.

Implementation notes
--------------------
* Spark sides are written with the DataFrame API (Catalyst plans them;
  dimension tables get explicit ``broadcast()`` hints — at 100 TB the
  fact tables shuffle on join keys, dims never should).
* Queries that exercise the dfsql *dialect* layer (regex-LIKE, ``^`` as
  power — SURVEY.md §2.8) go through ``dfsql_spark.dialect.rewrite`` +
  ``spark.sql`` so the custom code path is what's being checked.
* Every computed column is aliased identically on both sides; float
  aggregates are rounded on both sides so the value-hash is stable.
* Timestamps are formatted to strings on both sides (Spark NTZ vs
  DuckDB naive timestamps stringify differently otherwise).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _register(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        _t(spark, sf_dir, n).createOrReplaceTempView(n)


def _dialect_sql(spark: SparkSession, sf_dir: str, tables: list[str], sql: str) -> DataFrame:
    """Run SQL through the engine's dfsql-dialect rewriter."""
    from dfsql_spark.dialect import rewrite

    _register(spark, sf_dir, *tables)
    return spark.sql(rewrite(sql))


# ---------------------------------------------------------------------------
# §2.2 projection / filter / expressions
# ---------------------------------------------------------------------------

def q01_projection(spark, sf):
    """P1/P2/P5: projection with expressions + aliases (SURVEY §2.2;
    reference base_data_source.py:250-288)."""
    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("disc_price"),
        F.upper("l_returnflag").alias("rf"),
    )


def q02_filter(spark, sf):
    """P4: WHERE with AND/comparison predicates (pushed to the scan)."""
    o = _t(spark, sf, "orders")
    return (
        o.filter((F.col("o_totalprice") > 100000) & (F.col("o_orderstatus") == "O"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").alias("price"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate"),
        )
    )


def q03_cast(spark, sf):
    """P7: CAST with pandas dtype-name mapping (reference
    base_data_source.py:30-33) — int64/string casts."""
    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").alias("qty_int"),
        F.col("l_orderkey").cast("string").alias("okey_str"),
    )


def q19_like_regex(spark, sf):
    """F19: dfsql LIKE = anchored Python regex, via the dialect layer
    (reference functions.py:278-288)."""
    return _dialect_sql(
        spark, sf, ["part"],
        "SELECT p_partkey, p_name FROM part WHERE p_name LIKE '.*widget.*'",
    )


def q20_string_funcs(spark, sf):
    """F16-F18: lower/upper/|| concat (reference functions.py:253-275)."""
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.lower("p_brand").alias("lbrand"),
        F.concat(F.col("p_brand"), F.lit("-"), F.col("p_type")).alias("tag"),
        F.length("p_name").alias("name_len"),
    )


def q21_power(spark, sf):
    """F15: ``^`` is power, not XOR, via the dialect layer (reference
    functions.py:244-248)."""
    return _dialect_sql(
        spark, sf, ["lineitem"],
        "SELECT l_orderkey, l_linenumber, ROUND(l_discount ^ 2, 4) AS disc_sq, "
        "ROUND(2 ^ 0.5, 6) AS root2 FROM lineitem",
    )


# ---------------------------------------------------------------------------
# §2.5 sort / limit / distinct / set ops
# ---------------------------------------------------------------------------

def q04_distinct(spark, sf):
    """O4: SELECT DISTINCT (reference base_data_source.py:430-431)."""
    li = _t(spark, sf, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


def q05_orderby_limit_offset(spark, sf):
    """O1-O3: multi-key ORDER BY + LIMIT + OFFSET, standard clause
    order (divergence from reference OFFSET quirk documented in
    SURVEY §2.8.2).  Unique tie-break key keeps the row set
    deterministic."""
    o = _t(spark, sf, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", F.col("o_totalprice").alias("price"))
        .offset(5)
        .limit(20)
    )


def q24_union(spark, sf):
    """Set-op uplift (reference lacks UNION — SURVEY §2.5): distinct
    union of customer and supplier nation keys."""
    c = _t(spark, sf, "customer").select(F.col("c_nationkey").alias("nk"))
    s = _t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.union(s).distinct()


def q25_except_intersect(spark, sf):
    """Set-op uplift: EXCEPT and INTERSECT legs that each genuinely
    remove keys.  Suppliers are restricted to nations < 13, so the
    EXCEPT leg keeps only customer nations >= 13 and the INTERSECT leg
    only nations < 13 — neither equals the trivial DISTINCT (25 rows),
    and both engines must implement real set-difference/intersection
    semantics to match."""
    c = _t(spark, sf, "customer").select(F.col("c_nationkey").alias("nk"))
    s = (
        _t(spark, sf, "supplier")
        .filter(F.col("s_nationkey") < 13)
        .select(F.col("s_nationkey").alias("nk"))
    )
    exc = c.subtract(s).select(F.lit("except").alias("leg"), "nk")
    itc = c.intersect(s).select(F.lit("intersect").alias("leg"), "nk")
    return exc.unionAll(itc)


# ---------------------------------------------------------------------------
# §2.4 aggregation
# ---------------------------------------------------------------------------

# Money sums run in DECIMAL (here and in q22), the sk02 pattern: 2-dp
# sources sum exactly in decimal(18,2) (a double sum is order-dependent
# and ROUND(double) can flip on .005 boundaries cross-engine); a 2-dp ×
# 2-dp product is an exact 4-dp value, so the per-row double product
# casts losslessly to decimal(18,4) on both engines and the decimal sum
# is order-independent. Measured cost of exactness (sf0.1, 3 reps): the
# decimal aggregate runs ~2× the double+ROUND form (0.9-1.0 s vs
# 0.4-0.55 s on the q06 shape).  A scaled-BIGINT sum (ROUND(x*100) cast
# bigint, sum, divide once) measured at double speed and value-identical
# at test sf, but was REJECTED: its ceiling is 9.2e18 scaled units — a
# 100 TB global money sum overflows it, silently in non-ANSI mode —
# while Spark widens decimal(18,2) sums to decimal(28,2) (overflow at
# 1e26). Exact and overflow-safe beats fast-but-truncating on money
# columns. Measured with scripts/microbench_decimal_sum.py (isolated q06
# shape, 5 reps): decimal/double = 2.54× median at sf0.1 and 2.69× at
# sf1 — CONSTANT per-row cost across a 10× scale-up, with partial
# aggregation confirmed map-side (two HashAggregates, partial_sum before
# the exchange).  The floor is STRUCTURAL: Spark's SUM accumulator is
# decimal(p+10, s), so any input precision > 8 leaves the Long-backed
# UnsafeRow fast path and accumulates via Int128/BigDecimal adds; every
# spelling that stays Long-backed (input precision <= 8, or scaled
# bigint) has the same ~1e16 accumulator ceiling that was already
# rejected.  The overhead is irreducible sum-widening cost, not a
# missing optimization — q06 keeps the exact-DECIMAL form.

def q06_groupby_agg(spark, sf):
    """A1/A4-A8: hash aggregate with the full builtin aggregate set
    (TPC-H Q1 shape; reference functions.py:306-333).  Partial (map-
    side) aggregation + 2-phase exchange come from Catalyst.  Money
    sums run in DECIMAL (exact, order-independent — the sk02 pattern);
    sum_qty stays double: quantities are small integers, whose double
    sum is exact at any order.

    Perf floor: the ~2.4x wall over the double-sum form is entirely the
    exact-DECIMAL money sums. ``scripts/microbench_decimal_sum.py``
    measured the decimal/double ratio at 2.54x (sf0.1) and 2.69x (sf1) —
    CONSTANT per-row cost, map-side partial aggregation confirmed in
    both plans, so the gap is the irreducible price of order-independent
    exact sums (Decimal128 adds vs vectorized double adds), not a plan
    defect. Kept deliberately: a 100 TB money sum that changes value
    with partitioning order is wrong, not fast."""
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q07_groupby_expr(spark, sf):
    """A2: GROUP BY expression (reference base_data_source.py:532-536).
    bucket_total sums in decimal(18,2) — the sk02 exact-sum pattern."""
    o = _t(spark, sf, "orders")
    return (
        o.groupBy(F.floor(F.col("o_totalprice") / 50000).alias("price_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("bucket_total"),
        )
    )


def q08_implicit_agg(spark, sf):
    """A3: implicit global aggregation — no GROUP BY, all targets are
    aggregates (reference base_data_source.py:402-415).  Money sums in
    decimal(18,2) (sk02 pattern); avg_disc divides the exact total by
    the count — one deterministic double division."""
    li = _t(spark, sf, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
        (
            F.sum(F.col("l_discount").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_disc"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("first_ship"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("last_ship"),
    )


def q09_count_distinct(spark, sf):
    """A7: COUNT(DISTINCT col) (reference functions.py:321-323)."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count("l_orderkey").alias("n_items"),
    )


def q10_having_alias(spark, sf):
    """A9: HAVING filters the projected aggregate output, so it sees
    select aliases (reference base_data_source.py:424-428, preserved
    quirk SURVEY §2.8.3)."""
    c = _t(spark, sf, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            # sk02 DECIMAL pattern: 2-dp source values sum exactly in
            # decimal(18,2) (a double sum is order-dependent and
            # ROUND(double) can flip on .005 boundaries cross-engine);
            # the exact total fits a double mantissa, so the final
            # cast + division are deterministic on both engines.
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_bal"),
        )
        .filter(F.col("n_cust") > 20)
    )


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------

def q11_join_inner(spark, sf):
    """J1: inner equi-join (reference base_data_source.py:463-507).
    customer is sf-scaled (TPC-H 150k×sf rows), so it is NOT pinned as a
    broadcast: at 100 TB that hint would blow the executors — the same
    defect class as a broadcast hint on q22's customer. Both sides
    shuffle on custkey; AQE locally converts to broadcast when the
    runtime size is actually small (it is at test sf)."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .select("o_orderkey", "c_name", F.col("o_totalprice").alias("price"))
    )


def q12_join_left(spark, sf):
    """J1: LEFT join keeping customers with zero orders."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def q13_join_right(spark, sf):
    """J1: RIGHT join — every nation appears even with no customers."""
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey, "right")
        .groupBy("n_nationkey", "n_name")
        .agg(F.count("c_custkey").alias("n_cust"))
    )


def q14_join_full(spark, sf):
    """J1: FULL OUTER join of per-customer order aggregates vs the
    customer dimension."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    agg = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        # sk02 DECIMAL pattern (exact order-independent sum)
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("spend"),
    )
    return (
        agg.join(c, agg.o_custkey == c.c_custkey, "full")
        .select(
            F.coalesce(c.c_custkey, agg.o_custkey).alias("custkey"),
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            F.col("c_acctbal").alias("acctbal"),
        )
    )


def q15_self_join(spark, sf):
    """J3: self-join via aliases (reference test
    test_file_data_source.py:514-525) — same-nation customer pairs."""
    c = _t(spark, sf, "customer")
    c1 = c.alias("c1")
    c2 = c.alias("c2")
    return (
        c1.join(
            c2,
            (F.col("c1.c_nationkey") == F.col("c2.c_nationkey"))
            & (F.col("c1.c_custkey") < F.col("c2.c_custkey")),
        )
        .groupBy(F.col("c1.c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# subqueries (§2.2 P5 / §2.6 F9)
# ---------------------------------------------------------------------------

def q16_in_subquery(spark, sf):
    """F9: IN (subquery) → left-semi join, the distributed-native plan
    (reference functions.py:147-157; tests :631-642).  ``rich`` is a
    filtered slice of the sf-scaled customer table — its size is
    data-dependent, so no pinned broadcast hint (q22/q11 defect
    class); AQE converts the shuffled semi-join to broadcast at
    runtime when the filtered side is genuinely small."""
    o = _t(spark, sf, "orders")
    rich = _t(spark, sf, "customer").filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return (
        o.join(rich, o.o_custkey == rich.c_custkey, "left_semi")
        .select("o_orderkey", "o_custkey")
    )


def q17_scalar_subquery(spark, sf):
    """Scalar subquery: orders above the global average price.  The
    1-row aggregate is broadcast — no driver-side collect."""
    o = _t(spark, sf, "orders")
    avg_df = o.agg(F.avg("o_totalprice").alias("avg_price"))
    return (
        o.crossJoin(broadcast(avg_df))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", F.col("o_totalprice").alias("price"))
    )


def q18_from_subquery(spark, sf):
    """FROM (subquery): derived table of per-customer order counts."""
    o = _t(spark, sf, "orders")
    sub = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        # sk02 DECIMAL pattern (exact order-independent sum)
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_price"),
    )
    return sub.filter(F.col("n") >= 3)


def q26_anti_join(spark, sf):
    """Capability uplift (reference lacks NOT IN/anti — SURVEY §2.3):
    customers with no orders, as a left-anti join."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


# ---------------------------------------------------------------------------
# uplift: CASE / window functions (SURVEY §2.6 "NOT implemented" set)
# ---------------------------------------------------------------------------

def q23_case_when(spark, sf):
    """CASE WHEN bucketing (uplift beyond reference scalar surface)."""
    o = _t(spark, sf, "orders")
    label = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
    )
    return (
        o.select(label.alias("size_class"))
        .groupBy("size_class")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q27_window_topk(spark, sf):
    """Window-function uplift: top-3 customers per nation by balance
    (deterministic tie-break on custkey)."""
    c = _t(spark, sf, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("c_nationkey", "c_custkey", F.col("c_acctbal").alias("acctbal"), "rk")
    )


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def q22_flagship_revenue(spark, sf):
    """Flagship: revenue by nation (reference testdrive.ipynb cell 19
    pattern recast on testdata).  lineitem⨝orders shuffles on orderkey,
    then shuffles on custkey to meet customer — customer is sf-scaled
    (TPC-H 150k×sf rows), so it is NOT broadcast: at 100 TB it would
    blow the driver/executors, and AQE can still locally convert the
    join if a filtered side turns out small.  nation (25 rows, fixed
    size at every sf) is the only explicit broadcast — the plan that
    survives 100 TB."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        # revenue sums the exact 4-dp per-row product in decimal(18,4)
        # (order-independent — the sk02 pattern), so the ORDER BY over
        # revenue is deterministic cross-engine
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# training-data pipeline operators (north star; SURVEY §7 phase E)
# ---------------------------------------------------------------------------

def d01_dedup_exact(spark, sf):
    """Exact dedup: min-id survivor per normalized text + copy count
    (hash_key=False keeps it SQL-expressible for the oracle; the
    hash-key variant is the 100 TB default — see operators/dedup.py)."""
    from dfsql_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf, "documents")
    return exact_dedup(docs, hash_key=False)


def q28_rollup(spark, sf):
    """ROLLUP subtotals over (returnflag, linestatus) — beyond the
    reference's flat GROUP BY (SURVEY §2.4 'NOT implemented'); free in
    Spark via DataFrame.rollup, one hash-agg pass."""
    li = _t(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


def e07_interval_join(spark, sf):
    """Batch twin of the watermarked stream-stream interval join:
    clicks x same-user views within a 10-minute lookback."""
    from dfsql_spark.streaming.events import interval_join_batch, read_events_batch

    return interval_join_batch(read_events_batch(spark, sf))


def e08_stream_interval_join(spark, sf):
    """The REAL stream-stream join: both sides watermarked, event-time
    bounded condition so state expires.

    Not a contract query: it yields the same rows as its batch twin
    e07, an equivalence pinned by
    ``test_stream_interval_join_equals_batch``."""
    import uuid

    from dfsql_spark.streaming.events import read_events_stream, run_to_memory, stream_interval_join

    name = f"ij_{uuid.uuid4().hex[:8]}"
    return run_to_memory(
        stream_interval_join(read_events_stream(spark, sf)), spark, name,
        output_mode="append",
    )


def e06_stream_dedupe(spark, sf):
    """Streaming dedup via dropDuplicatesWithinWatermark on event_id,
    state bounded by the watermark horizon — and the input PROVABLY
    contains duplicates: the stream is unioned with a full replay of
    itself (modeling an at-least-once source), so every event_id
    arrives twice and the operator must drop half the rows to match
    the oracle (batch DISTINCT over the single-copy table)."""
    import uuid

    from dfsql_spark.streaming.events import dedupe_stream, read_events_stream, run_to_memory

    original = read_events_stream(spark, sf)
    replay = read_events_stream(spark, sf)
    name = f"dd_{uuid.uuid4().hex[:8]}"
    out = run_to_memory(
        dedupe_stream(original.union(replay)), spark, name,
        output_mode="append",
    )
    return out.select("event_id", "user_id", "event_type")


def q30_grouping_sets(spark, sf):
    """GROUPING SETS — the generalized form of cube/rollup the
    reference cannot express; one pass, Catalyst expands the sets."""
    _register(spark, sf, "orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(o_totalprice), 2) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        """
    )


def q31_pivot(spark, sf):
    """PIVOT: monthly revenue spread across order-status columns via
    ``groupBy().pivot()`` with an EXPLICIT value list — without it
    Spark runs an eager distinct-collect over the pivot column to
    discover values, an extra corpus pass (and a driver round-trip)
    that a fixed status domain doesn't need.  One shuffle, identical
    to the plain groupBy; the pivot is pure projection shape.  Oracle:
    conditional aggregation (SUM ... FILTER), the portable spelling.
    Sums run in decimal(18,2) (exact for 2-dp sources, order-
    independent) and cast back to double — the sk02 pattern."""
    orders = _t(spark, sf, "orders")
    piv = (
        orders.withColumn(
            "month", F.date_format("o_orderdate", "yyyy-MM")
        )
        .groupBy("month")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"))
    )
    return piv.select(
        "month",
        F.col("O").alias("rev_open"),
        F.col("F").alias("rev_filled"),
        F.col("P").alias("rev_partial"),
    )


def q29_exists_correlated(spark, sf):
    """Correlated EXISTS subquery — unsupported in the reference
    (only uncorrelated subqueries, SURVEY §2.3); Catalyst decorrelates
    it into a left-semi join."""
    _register(spark, sf, "customer", "orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000
        )
        """
    )


def sk01_salted_agg(spark, sf):
    """Salted two-phase aggregation (skew mitigation) — result is
    bit-identical to the plain groupBy the oracle runs; only the
    shuffle shape differs (hot keys spread over 16 salt buckets)."""
    from dfsql_spark.operators.skew import salted_groupby_agg

    li = _t(spark, sf, "lineitem")
    return salted_groupby_agg(
        li,
        "l_returnflag",
        {
            "sum_qty": ("l_quantity", "sum"),
            "n_rows": ("*", "count"),
            "avg_price": ("l_extendedprice", "avg"),
            "max_disc": ("l_discount", "max"),
        },
        num_salts=16,
    )


def sk02_salted_join(spark, sf):
    """Skew-safe salted equi-join (orders ⋈ customer on custkey): big
    side salted into 8 buckets, small side replicated per salt, joined
    on (key, salt) with sort-merge pinned — the manual skew-join for
    when the dim side outgrows broadcast.  Result multiset is identical
    to the plain join, so the oracle runs the plain join; the
    aggregation keeps the graded result segment-sized."""
    from dfsql_spark.operators.skew import salted_skew_join

    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    j = salted_skew_join(orders, cust, on="o_custkey", num_salts=8, pin_sort_merge=True)
    # Sum in DECIMAL, not double: a double sum is order-dependent and
    # ROUND(double, 2) can land on opposite sides of a .005 boundary on
    # different engines.  o_totalprice values are 2-dp, so decimal(18,2)
    # is exact; the exact total fits a double mantissa at bench sf, so
    # the final cast is deterministic on both engines.
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


def a01_asof_join(spark, sf):
    """Backward as-of join (union + last-non-null window: ONE shuffle,
    no range blowup): each click gets its user's most recent prior
    view.  Oracle is DuckDB's native ASOF LEFT JOIN."""
    from dfsql_spark.operators.joins import asof_join
    from dfsql_spark.streaming.events import read_events_batch

    ev = read_events_batch(spark, sf)
    clicks = ev.filter("event_type = 'click'").select(
        "event_id", "user_id", F.col("event_time").alias("ts")
    )
    views = ev.filter("event_type = 'view'").select(
        "user_id", F.col("event_time").alias("ts"), "value"
    )
    return asof_join(clicks, views, on="user_id", right_cols=["value"]).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("click_us"),
        F.unix_micros("ts_right").alias("view_us"),
        F.col("value_right").alias("view_value"),
    )


def a02_range_join(spark, sf):
    """Interval range join via coarse time-bin equi-join + exact
    filter (no broadcast-nested-loop): same-user event pairs within a
    5-minute window."""
    from dfsql_spark.operators.joins import range_join
    from dfsql_spark.streaming.events import read_events_batch

    ev = read_events_batch(spark, sf)
    pts = ev.select(
        "user_id", F.col("event_id").alias("eid_a"), F.col("event_time").alias("pts")
    )
    iv = ev.select(
        F.col("user_id").alias("u2"),
        F.col("event_id").alias("eid_b"),
        F.col("event_time").alias("start_ts"),
        (F.col("event_time") + F.expr("INTERVAL 5 MINUTES")).alias("end_ts"),
    )
    return range_join(
        pts, iv, "pts", "start_ts", "end_ts", bin_seconds=300,
        extra_cond=(F.col("user_id") == F.col("u2")) & (F.col("eid_a") != F.col("eid_b")),
    ).select("eid_a", "eid_b")


def x01_approx_distinct_pruned(spark, sf):
    """Sketch-based distinct counting over a runtime-filter-prunable
    semi join: lineitem rows for urgent orders, per-returnflag exact
    and HLL-approximate supplier counts.

    approx_count_distinct (HyperLogLog++) is THE distinct-count at
    100 TB — fixed-size sketch, map-side partial merge, no
    shuffle-every-value like exact COUNT(DISTINCT).  Its value isn't
    portable across engines, so the oracle checks the stable property:
    the estimate lands within 3 sigma (15% at rsd=0.05) of the exact
    count — rsd is one standard deviation, not a bound, so the graded
    band uses 3σ to keep the check deterministic-in-practice
    (measured 2.6-3% on this corpus at sf0.01-0.1).  The semi join is
    :func:`bloom_semi_join` — at 100 TB, Spark injects a runtime bloom
    filter into the fact scan (plan asserted in tests/test_plan_audit.py).
    """
    from dfsql_spark.operators.joins import bloom_semi_join

    li = _t(spark, sf, "lineitem")
    urgent = _t(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    pruned = bloom_semi_join(li, urgent, "l_orderkey", "o_orderkey")
    return (
        pruned.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("exact_suppliers"),
            F.approx_count_distinct("l_suppkey", rsd=0.05).alias("_approx"),
        )
        .select(
            "l_returnflag",
            "exact_suppliers",
            (
                F.abs(F.col("_approx") - F.col("exact_suppliers"))
                <= 0.15 * F.col("exact_suppliers")
            ).alias("approx_within_3sigma"),
        )
    )


def x03_hll_sketch_rollup(spark, sf):
    """MERGEABLE sketch state — the incremental-analytics pattern at
    100 TB: per-day HLL sketches of distinct users (what a pipeline
    materializes as a tiny sketch table), then a union-merge across
    days answers "distinct users overall" WITHOUT rescanning the
    event log; any date-range rollup is a merge of the same partials.
    Spark: hll_sketch_agg per day -> hll_union_agg -> estimate
    (Apache DataSketches HLL, fixed-size mergeable state).  The sketch
    binary isn't portable SQL, so the graded claim is the stable
    property: exact distinct count (DuckDB recomputes) + the merged
    estimate landing within 5% (measured exact-equal at sf0.01-0.1:
    150/1500 users are far below the lgK=12 sketch's dense regime)."""
    ev = _t(spark, sf, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    merged = daily.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("_est")
    )
    exact = ev.agg(F.countDistinct("user_id").alias("n_exact_users"))
    return exact.crossJoin(merged).select(
        "n_exact_users",
        (
            F.abs(F.col("_est") - F.col("n_exact_users"))
            <= 0.05 * F.col("n_exact_users")
        ).alias("merged_est_within_5pct"),
    )


_SHINGLE_CACHE: dict[str, DataFrame] = {}


def _doc_shingles(spark, sf):
    """One 5-gram shingling pass per sf_dir, shared by d02 and d03.

    The standard near-dup stack runs exact Jaccard AND MinHash LSH over
    the same corpus; the shingling scan is their dominant shared cost,
    so a pipeline materializes the shingle sets once and feeds both
    (``sets=``).  persist (not localCheckpoint): keeps lineage for
    recompute, and the entry survives across the two queries.
    """
    if sf not in _SHINGLE_CACHE:
        from dfsql_spark.operators.dedup import _persist, shingle_sets

        _SHINGLE_CACHE[sf] = _persist(
            shingle_sets(_t(spark, sf, "documents"), k=5)
        )
    return _SHINGLE_CACHE[sf]


_EXACT_PAIRS_CACHE: dict[str, DataFrame] = {}


def _exact_jaccard_pairs(spark, sf):
    """One exact 5-gram-Jaccard pass (threshold 0.6) per sf_dir, shared
    by d02/d03/d04.  The ≥ 0.7 and ≥ 0.8 ground-truth sets the property
    oracles need are subsets of the ≥ 0.6 result — the per-pair
    ``jaccard`` value is threshold-independent, so a filter over this
    output is bit-identical to a direct run at the higher threshold —
    and sharing it means ONE prefix-filter join feeds all three queries
    instead of three."""
    if sf not in _EXACT_PAIRS_CACHE:
        from dfsql_spark.operators.dedup import _persist, ngram_jaccard_pairs

        docs = _t(spark, sf, "documents")
        _EXACT_PAIRS_CACHE[sf] = _persist(
            ngram_jaccard_pairs(
                docs, k=5, threshold=0.6, sets=_doc_shingles(spark, sf)
            )
        )
    return _EXACT_PAIRS_CACHE[sf]


def d02_dedup_ngram_jaccard(spark, sf):
    """Exact 5-gram Jaccard near-dup pairs ≥ 0.6 via shingle
    inverted-index self-join.  Jaccard = int/int division → bit-exact
    across engines."""
    return _exact_jaccard_pairs(spark, sf)


def d03_dedup_minhash_lsh(spark, sf):
    """MinHash(64) + 16-band LSH candidate pairs (est_jaccard ≥ 0.5),
    graded as a PROPERTY: hash permutations aren't portable SQL, so
    instead of the raw pairs the query emits the cross-engine-stable
    claim — the count of exact 5-gram-Jaccard ≥ 0.7 pairs (the ground
    truth, which DuckDB recomputes independently) plus a boolean that
    MinHash-LSH recovered ≥ 90% of them (measured 100% at sf0.01;
    the same floor is pinned by tests/test_operators.py).  Both the
    sketch and the ground truth share one shingling pass."""
    from dfsql_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf, "documents")
    sets = _doc_shingles(spark, sf)
    exact = (
        _exact_jaccard_pairs(spark, sf)
        .filter(F.col("jaccard") >= 0.7)
        .select("id_a", "id_b")
    )
    approx = minhash_lsh_pairs(docs, verify_threshold=0.5, sets=sets).select(
        "id_a", "id_b"
    )
    hit = exact.join(approx, ["id_a", "id_b"], "left_semi")
    return (
        exact.agg(F.count("*").alias("n_exact_pairs"))
        .crossJoin(hit.agg(F.count("*").alias("_n_hit")))
        .select(
            "n_exact_pairs",
            (F.col("_n_hit") >= 0.9 * F.col("n_exact_pairs")).alias(
                "recall_ge_090"
            ),
        )
    )


def d04_dedup_simhash(spark, sf):
    """SimHash + 16-bit-chunk blocking, hamming ≤ 3, graded as a
    PROPERTY (xxhash64 isn't portable to the oracle): the count of
    exact 5-gram-Jaccard ≥ 0.8 pairs (DuckDB recomputes it) plus a
    boolean that SimHash blocking recovered ≥ 50% of them (measured
    60% at sf0.01 — SimHash at hamming ≤ 3 is a high-precision /
    moderate-recall filter by design; the floor matches the pytest
    pin)."""
    from dfsql_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf, "documents")
    exact = (
        _exact_jaccard_pairs(spark, sf)
        .filter(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b")
    )
    sh = simhash_pairs(docs, max_hamming=3).select("id_a", "id_b")
    hit = exact.join(sh, ["id_a", "id_b"], "left_semi")
    return (
        exact.agg(F.count("*").alias("n_exact_pairs"))
        .crossJoin(hit.agg(F.count("*").alias("_n_hit")))
        .select(
            "n_exact_pairs",
            (F.col("_n_hit") >= 0.5 * F.col("n_exact_pairs")).alias(
                "recall_ge_050"
            ),
        )
    )


def d05_embedding_neardup(spark, sf):
    """Embedding near-dup pairs: cosine ≥ 0.3 with the auto strategy
    gate — exact O(n²) below ``lsh_min_docs`` (the oracle-checkable
    regime; sf0.01 lands here), LSH-bucketed equi-join above it (the
    100 TB shape; plan asserted in tests/test_plan_audit.py).  Output
    is ids only — pair membership is ulp-robust, raw cosine isn't."""
    from dfsql_spark.operators.similarity import embedding_neardup_pairs

    emb = _t(spark, sf, "embeddings")
    return embedding_neardup_pairs(emb, threshold=0.3).select("id_a", "id_b")


def s01_sim_topk(spark, sf):
    """Brute-force cosine top-5 for the first 5 vectors as queries
    (rank output only; scores differ in the last ulp across engines)."""
    from dfsql_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, qs, k=5).select("query_id", "neighbor_id", "rank")



def t01_text_stats(spark, sf):
    """Structural text statistics (all int-derived → bit-exact)."""
    from dfsql_spark.operators.text import text_stats

    docs = _t(spark, sf, "documents")
    return text_stats(docs)


def t02_quality_score(spark, sf):
    """Heuristic quality score (Gopher/C4-style structural filter)."""
    from dfsql_spark.operators.text import quality_score

    docs = _t(spark, sf, "documents")
    return quality_score(docs)


def t03_lang_id(spark, sf):
    """Stopword-vote language heuristic with deterministic tie-break."""
    from dfsql_spark.operators.text import lang_id

    docs = _t(spark, sf, "documents")
    return lang_id(docs)


def t04_fingerprint(spark, sf):
    """31-bit polynomial rolling hash over normalized text (portable
    integer arithmetic → exact oracle)."""
    from dfsql_spark.operators.text import fingerprint

    docs = _t(spark, sf, "documents")
    return fingerprint(docs)


def t05_token_count(spark, sf):
    """Whitespace + BPE-ish-regex token counting (LLM budget proxy)."""
    from dfsql_spark.operators.text import token_counts

    docs = _t(spark, sf, "documents")
    return token_counts(docs)


def t06_deterministic_split(spark, sf):
    """Content-addressed train/val/test split: bucket = first 8 hex
    chars of md5(text) mod 10000, thresholds at 90/95%.  Stable across
    dataset versions and engines (MD5 is MD5 everywhere); pure map, no
    shuffle.  Value-checked: DuckDB recomputes every assignment."""
    from dfsql_spark.operators.text import deterministic_split

    docs = _t(spark, sf, "documents")
    return deterministic_split(docs)


def t07_vocab_topk(spark, sf):
    """Corpus vocabulary head: top-50 lowercased whitespace tokens by
    frequency, count-desc / token-asc tie-break.  One explode + one
    map-side-combined hash aggregate; shuffle is vocabulary-sized."""
    from dfsql_spark.operators.text import vocab_topk

    docs = _t(spark, sf, "documents")
    return vocab_topk(docs, k=50).select(
        "token", F.col("n").cast("long").alias("n")
    )


def t08_pii_scrub(spark, sf):
    """PII redaction over text with planted PII (the synthetic corpus
    contains none, so each doc gets a deterministic doc_id-derived
    email + phone appended before scrubbing — exercising real
    replacement, not a passthrough).  Chained regexp_replace +
    regexp_count, all codegen'd maps; patterns restricted to the
    Java/RE2-portable subset so DuckDB reproduces every byte."""
    from dfsql_spark.operators.text import pii_scrub

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-123-4567"),
        ).alias("text"),
    )
    return pii_scrub(docs).select(
        "doc_id", "clean_text", "n_email", "n_phone", "n_ssn"
    )


def t09_pack_sequences(spark, sf):
    """Greedy token-budget sequence packing per source shard
    (applyInPandas — one shuffle on the shard key, sequential greedy
    fill inside each shard, the shape production packers use).  Oracle:
    the same greedy recurrence as a DuckDB recursive CTE."""
    from dfsql_spark.operators.text import pack_sequences

    docs = _t(spark, sf, "documents")
    return pack_sequences(docs, budget=512)


def d07_decontaminate(spark, sf):
    """Benchmark decontamination: corpus docs (source != src0) sharing
    a 13-token run with the eval set (source == src0) — the canonical
    n-gram collision method for benchmark-leakage detection.  The
    planted cross-source near-dups are exactly what it should flag;
    DuckDB recomputes every collision from the same gram definition."""
    from dfsql_spark.operators.dedup import ngram_decontaminate

    docs = _t(spark, sf, "documents")
    corpus = docs.filter(F.col("source") != "src0")
    eval_set = docs.filter(F.col("source") == "src0")
    return ngram_decontaminate(corpus, eval_set, n=13)


def d08_semantic_dedup(spark, sf):
    """SemDeDup-style semantic dedup over the embeddings table, graded
    as a PROPERTY (KMeans cell assignments aren't portable SQL): the
    count of exact cosine ≥ 0.4 pairs (DuckDB recomputes it from the
    raw vectors) plus a boolean that the within-cluster pass recovered
    ≥ 50% of them (measured 0.63 at sf0.01 / 0.59 at sf0.001 with
    n_clusters=4; the same floor is pinned in tests/test_operators.py).
    Low cluster count is the toy-scale setting — production scales
    n_clusters with the corpus so cells stay ~10⁴ vectors.

    An sf0.1 oracle sweep found single-probe recall at sf0.1 is 0.491
    — boundary splits just undercut the 0.5 floor at 10× the checked
    corpus — so the operator has IVF-style multi-probe assignment and
    this query runs ``n_probe=2`` (recall 0.966 at sf0.01 / 0.948 at
    sf0.1, zero spurious pairs — probing only ADDS candidates and the
    in-cell compare is exact, so the property's oracle SQL is
    unchanged)."""
    from dfsql_spark.operators.similarity import (
        embedding_neardup_pairs,
        semantic_dedup_pairs,
    )

    emb = _t(spark, sf, "embeddings")
    exact = embedding_neardup_pairs(emb, threshold=0.4, use_lsh=False).select(
        "id_a", "id_b"
    )
    found = semantic_dedup_pairs(
        emb, threshold=0.4, n_clusters=4, n_probe=2
    ).select("id_a", "id_b")
    hit = exact.join(found, ["id_a", "id_b"], "left_semi")
    return (
        exact.agg(F.count("*").alias("n_exact_pairs"))
        .crossJoin(hit.agg(F.count("*").alias("_n_hit")))
        .select(
            "n_exact_pairs",
            (F.col("_n_hit") >= 0.5 * F.col("n_exact_pairs")).alias(
                "recall_ge_050"
            ),
        )
    )


# ---------------------------------------------------------------------------
# crawl front-end, TF-IDF, column profile, threshold tuning
# ---------------------------------------------------------------------------

def n01_html_to_text(spark, sf):
    """HTML → text extraction (operators/web.py:238) — the crawl-
    frontend entry stage. ``documents.text`` is plain prose, so both
    engines first wrap each doc in an IDENTICAL deterministic HTML
    envelope (title with an entity, a <style> inside <head>, a <script>
    with a stray '<', block tags, trailing entities) built from the same
    concat — the graded value is the full extraction chain: drop
    script/style/head blocks WITH contents, closing block tags →
    newlines, tag strip, one-level entity decode (&amp; last),
    whitespace canon, plus the title pulled from the RAW html (its
    <head> home is dropped from the text).  Pure codegen projection —
    zero shuffle, zero Python at any scale (plan-pinned in
    tests/test_plan_audit.py)."""
    from dfsql_spark.operators.web import html_to_text

    docs = _t(spark, sf, "documents")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        did,
        F.lit(
            " &amp; friends</title><style>p{color:red}</style></head>"
            "<body><script>var x = 1 < 2;</script><h1>Doc "
        ),
        did,
        F.lit("</h1><p>"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" &lt;eof&gt;</p></body></html>"),
    )
    wrapped = docs.select("doc_id", html.alias("html"))
    return html_to_text(wrapped).select("doc_id", "title", "text")


def c01_code_filters(spark, sf):
    """Code-corpus curation (operators/code.py:86,99): The Stack
    structural signals + SPDX-first license detection in ONE fused
    projection.  Both engines derive an identical synthetic source file
    per document (doc_id%7 residue injects an SPDX tag, an MIT header
    phrase, an autogen marker, and a 1200-char minified line, so every
    rule fires somewhere in the corpus and license stays NULL for the
    rest — unknown is flagged, never guessed).  All ratios are integer
    quotients → bit-exact; zero shuffle, zero Python (map-only
    plan-pinned)."""
    from dfsql_spark.operators.code import (
        code_quality_signals,
        detect_license_expr,
    )

    docs = _t(spark, sf, "documents")
    nl = F.lit("\n")
    txt = F.coalesce(F.col("text"), F.lit(""))
    r = F.col("doc_id") % 7
    content = (
        F.when(
            r == 0,
            F.concat(
                F.lit(
                    "# SPDX-License-Identifier: Apache-2.0 WITH"
                    " LLVM-exception"
                ),
                nl,
                txt,
            ),
        )
        .when(
            r == 1,
            F.concat(
                F.lit(
                    "/* Permission is hereby granted, free of charge */"
                ),
                nl,
                txt,
            ),
        )
        .when(
            r == 2,
            F.concat(
                F.lit("// Generated by protoc-gen. DO NOT EDIT!"), nl, txt
            ),
        )
        .when(r == 3, F.concat(txt, nl, F.repeat(F.lit("x"), 1200)))
        .otherwise(F.concat(txt, nl, F.lit("return 0;")))
    )
    base = docs.select("doc_id", content.alias("content"))
    return (
        code_quality_signals(base, append=True)
        .withColumn("license", detect_license_expr())
        .drop("content")
    )


def t26_tfidf_top_terms(spark, sf):
    """TF-IDF keyword extraction (operators/text.py:2746), promoted to
    the contract in round 12: sklearn smooth-idf over the shared
    whitespace tokenizer, top-3 terms per doc with min_df/max_df_frac
    boilerplate cutoffs and the deterministic (score desc, term asc)
    tie-break.  ONE corpus-sized (doc, term) count shuffle, pinned and
    reused by the document-frequency aggregate and the join probe (3
    scans unpinned → 1, plan-verified); N rides a broadcast 1-row agg.
    The float score is rounded to 6 dp on BOTH sides (the t19/t25
    convention — ln() may differ in the last ulp across engines);
    ranking happens on the raw score, where mathematical ties are
    identical expressions on each engine and the term tie-break
    settles them identically."""
    from dfsql_spark.operators.text import tfidf_top_terms

    docs = _t(spark, sf, "documents")
    return tfidf_top_terms(
        docs, top_k=3, min_df=2, max_df_frac=0.9
    ).withColumn("score", F.round("score", 6))


def x06_column_profile(spark, sf):
    """Schema-wide column profile (operators/checks.py:378): the
    ingestion-time data card over lineitem — ONE groupless
    map-side-combined aggregation for all 11 columns (n_rows, nulls,
    NDV, min/max for numerics, strings and timestamps; complex types
    counts-only).  Graded in ``ndv="exact"`` audit mode so every value
    is deterministic (the 100 TB default is HLL — fixed-size state —
    property-pinned in tests).

    The mean is NOT checked as ``round(avg(double), 6)`` — lineitem's
    2-dp decimal-valued columns have true means that land EXACTLY on the
    6-dp half-way boundary at sf0.01 (avg(l_discount) = 0.0499185,
    avg(l_tax) = 0.0399315), so the last rounded digit flips with the
    order of an IEEE double summation and no rounding rule both engines
    share can pin it.  Instead the profile is graded on ``sum_num`` —
    ``sum(CAST(col AS DECIMAL(27,2)))`` cast to double, an EXACT
    order-independent decimal both engines reproduce bit-for-bit (the
    q06 exact-DECIMAL money-sum precedent) — plus the exact
    ``n_rows``/``n_null``, from which mean derives; the operator's
    production double ``avg`` stays in the library but out of the graded
    projection."""
    from dfsql_spark.operators.checks import column_profile

    li = _t(spark, sf, "lineitem")
    return column_profile(li, ndv="exact", sum_scale=2).drop("mean")


def s07_ann_recall(spark, sf):
    """ANN recall@k evaluation (operators/similarity.py:1233,1313), the
    tune-before-trust step for the LSH/IVF/PQ stack.  Truth = exact
    cosine top-5 (the s01 path); approx = exact top-5 over 1-bit
    SIGN-QUANTIZED embeddings (the 32× binary-quantization compression
    baseline) — chosen because BOTH sides are SQL-replayable: quantized
    cosines are exact rationals (±1 components, norm √64 = 8), so every
    recall number is a deterministic integer fraction and the evaluator
    is graded on FULL values, not a band property.  Both top-k inputs
    are O(queries×k); the evaluator is one full-outer join of two tiny
    tables — the corpus is never touched by it.  macro_recall (an avg of
    doubles — order-dependent) is rounded to 6 dp on both sides;
    micro/min/frac_perfect are exact."""
    from dfsql_spark.operators.similarity import (
        ann_recall_summary,
        cosine_topk,
    )

    emb = _t(spark, sf, "embeddings")
    sign = F.transform(
        "embedding",
        lambda x: F.when(x >= 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
    )
    truth_q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    qcorpus = emb.select("vec_id", sign.alias("embedding"))
    approx_q = qcorpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = cosine_topk(emb, truth_q, k=5)
    approx = cosine_topk(qcorpus, approx_q, k=5)
    return ann_recall_summary(truth, approx, k=5).withColumn(
        "macro_recall", F.round("macro_recall", 6)
    )


# ---------------------------------------------------------------------------
# bench-only callables
# ---------------------------------------------------------------------------

def bench_d08_semantic_dedup_op(spark, sf):
    """BENCH-ONLY variant of d08: times the semantic-dedup OPERATOR
    alone — KMeans centroids, multi-probe cell assignment, sort-merge
    cell join, in-cell exact cosine — without the contract entry's
    all-pairs exact ground truth, which is a toy-scale grading device
    that dominates ~95% of d08's wall and would bench the harness, not
    the operator.  Runs the operator's PRODUCTION shape (default
    ``n_clusters=32`` — cells sized so the Σ|cell|² candidate volume
    stays linear-ish), NOT the contract entry's toy ``n_clusters=4``:
    that setting exists to make recall gradeable against an all-pairs
    ground truth, and at bench sf its ~1.2k-vector cells make the
    quadratic in-cell compare dominate (measured 34 s vs 1-2 s at sf0.1)
    — benching it would time the grading configuration, not the
    operator.  Not a contract query: no oracle, never graded, only
    bench.py runs it (via ``bench_extras()``)."""
    from dfsql_spark.operators.similarity import semantic_dedup_pairs

    emb = _t(spark, sf, "embeddings")
    return semantic_dedup_pairs(emb, threshold=0.4, n_probe=2)


def bench_crawl_frontend(spark, sf):
    """BENCH-ONLY: the composed crawl front-end (library operators) in
    the FUSED form — script gate + Gopher rules + blocklist chained with
    ``append=True`` so all three gates compute in ONE scan with zero
    joins (plan-asserted zero exchanges; the joined-reports form pays 4
    doc_id shuffles — warmed sf0.1 medians 5.0 s joined vs 4.1-4.7 s
    fused, the residual cost being the duplicate-fraction aggregation
    both forms share); then the C4 line clean joined with the
    duplicate-fraction signals, whose per-doc aggregation is the only
    required shuffle.

    GATE-PASS ACCOUNTING: feeding ``kept`` to BOTH join branches
    evaluated the regex-heavy gate projection three times — once under
    the line clean, once under the dup-fraction aggregation, and once
    more under ``duplicate_text_fractions``'s internal id roster
    (Catalyst cannot share subtrees across join branches).  The
    dup-fraction signals are per-document, so computing them over the
    UNGATED corpus and letting the inner join restrict to the kept ids
    is row- and value-identical (verified: sorted collect of both forms
    equal at sf0.1) while running the gates ONCE — the aggregation
    branch now explodes 8-byte line/para hashes off a bare scan instead
    of re-running ~12 full-text regex passes per doc, and the roster is
    a doc_id-only pruned column scan.  Measured (same-box interleaved
    reps, sf0.1): 8.1-11.3 s → 3.5-4.4 s. At 100 TB the trade reads:
    dup-fraction aggregation over the full corpus (hash-proxy shuffle,
    cheap) vs two extra full-corpus regex gate passes (expensive) —
    right whenever the gates keep a nontrivial fraction, as crawl
    front-ends do."""
    from pyspark.sql import functions as F

    from dfsql_spark.operators.text import (
        blocklist_filter,
        c4_line_clean,
        duplicate_text_fractions,
        gopher_filters,
        script_fractions,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    flagged = script_fractions(
        gopher_filters(
            blocklist_filter(docs, ["zzzz_never_in_corpus"], append=True),
            min_words=10,
            min_stopword_hits=0,
            append=True,
        ),
        append=True,
    )
    kept = flagged.filter(
        (F.col("script") == "latin")
        & F.col("keep_gopher")
        & F.col("keep_blocklist")
    )
    return c4_line_clean(kept).join(duplicate_text_fractions(docs), "doc_id")


def bench_dsir(spark, sf):
    """BENCH-ONLY: DSIR importance log-weights (library operator) —
    times both corpus gram passes (model + scoring), the bucket-bounded
    weight broadcast, and the per-doc sum.  Target = every 7th document,
    the in-corpus slice pattern."""
    from pyspark.sql import functions as F

    from dfsql_spark.operators.text import dsir_log_weights

    docs = _t(spark, sf, "documents")
    target = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    return dsir_log_weights(docs, target, buckets=4096)


def bench_cap_per_key(spark, sf):
    """BENCH-ONLY: the salted two-phase per-source cap (library
    operator) — times both window passes at a binding cap."""
    from dfsql_spark.operators.text import cap_per_key

    return cap_per_key(_t(spark, sf, "documents"), "source", cap=10)


def bench_heavy_hitters(spark, sf):
    """BENCH-ONLY: Misra-Gries trigram heavy hitters (library operator)
    — times the two corpus scans + candidate recount.  The threshold
    SCALES with the corpus (an sf1 smoke: a fixed threshold_count=20
    fell below the MG guarantee bound total/k ≈ 80 at sf1's 2.6M
    trigrams and the operator correctly refused): this corpus runs ~52
    grams/doc, so the bound is ~docs/630 and ``max(20, docs/250)``
    clears it with ≥2.5× margin at every sf — the metadata-only doc
    count is the same cheap gate d02/d05 use."""
    from dfsql_spark.operators.text import heavy_hitter_ngrams

    docs = _t(spark, sf, "documents")
    thr = max(20, -(-docs.count() // 250))
    return heavy_hitter_ngrams(
        docs, threshold_count=thr, n=3, k_capacity=32_768
    )


_BENCH_BPE_MERGES: list | None = None


def bench_bpe_encode(spark, sf):
    """BENCH-ONLY: BPE application (library operator) — the merge list
    is trained ONCE per process on sf0.001 and memoized, so the timed
    run measures the distributed Arrow encode pass (the 100 TB-repeated
    step), not the driver-side training loop (run once per tokenizer,
    amortized away)."""
    from dfsql_spark.operators.text import bpe_encode, train_bpe

    global _BENCH_BPE_MERGES
    if _BENCH_BPE_MERGES is None:
        _BENCH_BPE_MERGES = train_bpe(
            _t(spark, "/root/testdata/sf0.001", "documents"), num_merges=100
        )
    return bpe_encode(_t(spark, sf, "documents"), merges=_BENCH_BPE_MERGES)


def bench_substring_spans(spark, sf):
    """BENCH-ONLY: the exact-substring dedup pipeline (library
    operators) — span detection on 8-byte hashed gram keys (the scale
    path) feeding span removal, timed end to end."""
    from dfsql_spark.operators.dedup import (
        remove_shared_spans,
        shared_substring_spans,
    )

    docs = _t(spark, sf, "documents")
    spans = shared_substring_spans(docs, min_tokens=8, hash_grams=True)
    return remove_shared_spans(docs, spans)


def bench_time_rollup(spark, sf):
    """BENCH-ONLY: 4-grain × event_type continuous-aggregate rollup
    (library operator) — times the GROUPING SETS one-scan plan; the
    measured claim is N grains ≈ the price of one pass (one scan + one
    Expand + one aggregation exchange), vs N separate GROUP BYs paying N
    scans."""
    from dfsql_spark.operators.rollup import time_rollup

    return time_rollup(
        _t(spark, sf, "events"),
        grains=("hour", "day", "week", "month"),
        group_cols=("event_type",),
    )


def bench_event_funnel(spark, sf):
    """BENCH-ONLY: 3-step ordered funnel with a window bound — times the
    single-pass rewrite (one events scan, one user-keyed array
    aggregate, one global count; the old funnel-by-join chain paid O(K²)
    scans)."""
    from dfsql_spark.operators.rollup import event_funnel

    return event_funnel(
        _t(spark, sf, "events"),
        ["signup", "view", "purchase"],
        within="30 days",
    )


def bench_cluster_sample(spark, sf):
    """BENCH-ONLY: topic-balanced sampling (library operator) — times
    KMeans fit + assignment map + the n_clusters-row rate derivation +
    broadcast-join keep filter."""
    from dfsql_spark.operators.similarity import cluster_balanced_sample

    return cluster_balanced_sample(
        _t(spark, sf, "embeddings"), alpha=0.3, n_clusters=32
    )


def bench_upsample_mix(spark, sf):
    """BENCH-ONLY: repeat-factor trainer mix (library operator) — times
    the bounded factor derivation + the broadcast-join + explode fan-out
    at a mix that genuinely repeats one stratum (src0 lands at f≈1.8
    epochs at every sf: shares and per-source volumes both scale)."""
    from dfsql_spark.operators.text import upsample_mix

    docs = _t(spark, sf, "documents").select("doc_id", "source", "text")
    return upsample_mix(docs, {"src0": 0.6, "src1": 0.2, "src2": 0.2})


def bench_token_budget(spark, sf):
    """BENCH-ONLY: histogram-threshold token-budget selection (library
    operator) — times the two bounded driver aggregates + the
    broadcast-rule output scan.  budget=100k binds at sf0.1 (~275k
    corpus tokens); at the sf0.001 warmup it keeps everything, which
    exercises the same plan."""
    from dfsql_spark.operators.text import select_token_budget

    docs = _t(spark, sf, "documents").select("doc_id", "n_chars", "text")
    return select_token_budget(
        docs, 100_000, priority_col="n_chars", bins=200
    )


def bench_minhash_op(spark, sf):
    """BENCH-ONLY variant of d03 (the b_d08 pattern): times the
    MinHash-LSH OPERATOR alone — Arrow shingling + signature maps,
    banded equi-join, verify filter — without d03's all-pairs exact
    ground truth, a toy-scale grading device whose wall dominates the
    contract entry at every smoke scale (~3.6 s of d03's sf0.1 wall and
    ~350 s at sf1 are the ground truth, not the operator)."""
    from dfsql_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf, "documents"), verify_threshold=0.5
    )


def bench_tfidf_terms(spark, sf):
    """BENCH-ONLY: TF-IDF keyword extraction (library operator) — times
    the corpus-sized (doc, term) count shuffle, the vocabulary-sized
    document-frequency aggregate + join-back, and the per-doc top-k
    window."""
    from dfsql_spark.operators.text import tfidf_top_terms

    return tfidf_top_terms(
        _t(spark, sf, "documents"), top_k=5, min_df=2, max_df_frac=0.5
    )


def bench_column_profile(spark, sf):
    """BENCH-ONLY: schema-wide column profile of the largest table
    (library operator) — times the single map-side-combined groupless
    aggregate with HLL NDV state in its 100 TB default (approx) mode."""
    from dfsql_spark.operators.checks import column_profile

    return column_profile(_t(spark, sf, "lineitem"), ndv="approx")


def bench_source_overlap(spark, sf):
    """BENCH-ONLY: cross-source contamination matrix (library operator),
    exact mode — times the scan → distinct (source, hash128) → hash
    self-join → #sources² aggregate pipeline over the per-language
    document corpus."""
    from dfsql_spark.operators.dedup import source_overlap_matrix

    return source_overlap_matrix(
        _t(spark, sf, "documents"), source_col="lang"
    )


def bench_extras() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Bench-only callables, OUTSIDE the driver contract: bench.py
    merges these with :func:`queries` for timing; they have no oracle
    and must never appear in ``queries()``/``oracle_sql()``."""
    return {
        "b_d08_semantic_dedup_op": bench_d08_semantic_dedup_op,
        "b_cap_per_key": bench_cap_per_key,
        "b_heavy_hitters": bench_heavy_hitters,
        "b_bpe_encode": bench_bpe_encode,
        "b_substring_dedup": bench_substring_spans,
        "b_crawl_frontend": bench_crawl_frontend,
        "b_dsir": bench_dsir,
        "b_time_rollup": bench_time_rollup,
        "b_event_funnel": bench_event_funnel,
        "b_cluster_sample": bench_cluster_sample,
        "b_upsample_mix": bench_upsample_mix,
        "b_token_budget": bench_token_budget,
        "b_minhash_op": bench_minhash_op,
        "b_tfidf_terms": bench_tfidf_terms,
        "b_lm_score": bench_lm_score,
        "b_winnow_fingerprints": bench_winnow_fingerprints,
        "b_distribution_drift": bench_distribution_drift,
        "b_pagerank": bench_pagerank,
        "b_stable_ids": bench_stable_ids,
        "b_robots": bench_robots,
        # round-15 contract retirees keeping their perf trends (the
        # b_lm_score / b_winnow_fingerprints pattern): same callables,
        # same plans, bench-only names
        "b_dedup_survivors": d09_dedup_survivors,
        "b_media_dedup": m03_media_dedup,
        "b_column_profile": bench_column_profile,
        "b_source_overlap": bench_source_overlap,
    }


def t11_repetition(spark, sf):
    """Gopher-style within-doc repetition: duplicate word-bigram
    fraction (1 - distinct/total).  Pure map; integer-quotient values
    are bit-identical across engines."""
    from dfsql_spark.operators.text import repetition_ratio

    docs = _t(spark, sf, "documents")
    return repetition_ratio(docs)


def t12_c4_filters(spark, sf):
    """C4-style document filter signals: word count, terminal-punct
    line ratio, mean word length, code/boilerplate markers, combined
    keep decision.  Pure codegen'd map — zero shuffle at any scale;
    every ratio is an integer quotient, bit-identical across engines."""
    from dfsql_spark.operators.text import c4_filters

    docs = _t(spark, sf, "documents")
    return c4_filters(docs)


def t27_grouped_split(spark, sf):
    """Leakage-safe GROUP-cohesive train/val/test split
    (operators/text.py:363): every document of a source lands in the
    SAME split (the sklearn GroupShuffleSplit contract,
    content-addressed via the salted md5 bucket of the GROUP value), so
    near-duplicate and shared-template documents from one origin can't
    straddle train and test the way t06's per-document assignment
    allows.  NULL groups get a NULL split (flag, don't guess).  Pure
    per-row map — one hash + one comparison chain, zero shuffle at any
    scale (plan-pinned).  DuckDB recomputes every assignment from the
    same md5 contract."""
    from dfsql_spark.operators.text import grouped_split

    docs = _t(spark, sf, "documents")
    return grouped_split(docs, "source")


def t10_stratified_sample(spark, sf):
    """Dataset mixing: per-source deterministic sampling (src0 kept
    fully, src1 at 50%, everything else at 20%), content-addressed via
    a salted md5 bucket so the sample is stable across runs, engines,
    and dataset versions.  Pure map; DuckDB recomputes every keep
    decision."""
    from dfsql_spark.operators.text import stratified_sample

    docs = _t(spark, sf, "documents")
    return stratified_sample(
        docs, rates={"src0": 1.0, "src1": 0.5}, default_rate=0.2
    ).select("doc_id", "source")


def t13_mix_rebalance(spark, sf):
    """Data mixing with DERIVED rates: rebalance the corpus to a
    target source mix (50/30/20 over src0/src1/src2, everything else
    dropped) without up-sampling — the largest achievable total is
    found from the per-source counts, then each source is down-sampled
    to its share via the content-addressed md5 bucket.  One tiny count
    aggregate + broadcast rate join; the corpus scan happens once and
    the keep filter pipelines into it.  DuckDB re-derives every rate
    and keep decision from the same arithmetic."""
    from dfsql_spark.operators.text import rebalance_mix

    docs = _t(spark, sf, "documents")
    return rebalance_mix(
        docs, target={"src0": 0.5, "src1": 0.3, "src2": 0.2}
    ).select("doc_id", "source")


def t14_winnow_fingerprints(spark, sf):
    """MOSS-style winnowing fingerprints (k=8 char-gram polynomial
    hashes, window w=4, keep each window's min): position-robust
    partial-overlap fingerprints with guaranteed detection of any
    shared substring of length >= k+w-1 and density ~2/(w+1).  Pure
    Arrow-batched map + explode, zero shuffle; every selected hash is
    plain int64 arithmetic mod 2^31-1, recomputed exactly by DuckDB."""
    from dfsql_spark.operators.text import winnow_fingerprints

    docs = _t(spark, sf, "documents")
    return winnow_fingerprints(docs, k=8, w=4)


def t15_unigram_familiarity(spark, sf):
    """Corpus-statistics quality signal: per-doc token count, OOV
    count vs the top-1000 corpus vocabulary, and summed corpus
    frequency of the doc's tokens — the integer-exact stand-in for a
    unigram-LM logprob filter (no float accumulation, bit-identical
    across engines).  Vocabulary shuffle is vocabulary-sized; head
    table broadcast; per-doc agg combines map-side."""
    from dfsql_spark.operators.text import unigram_familiarity

    docs = _t(spark, sf, "documents")
    return unigram_familiarity(docs, vocab_size=1000)


def t16_chunk_documents(spark, sf):
    """Context-window chunking: fixed 400-char chunks with 80-char
    overlap, full provenance (doc_id, chunk_idx, chunk_start), last
    chunk short, full coverage guaranteed.  explode(sequence)+substring
    — all codegen, zero shuffle; DuckDB recomputes every boundary from
    the same integer arithmetic."""
    from dfsql_spark.operators.text import chunk_documents

    docs = _t(spark, sf, "documents")
    return chunk_documents(docs, max_chars=400, overlap=80)


def x04_snapshot_diff(spark, sf):
    """Corpus snapshot diff (CDC-style churn report): per-source
    counts of added / removed / changed / unchanged documents between
    snapshot N (the corpus) and a deterministically mutated snapshot
    N+1 (docs with id % 97 == 0 dropped, text of id % 31 == 0
    suffixed, ids < 20 replayed as new ids).  Each side reduces
    map-side to (key, md5-of-content) so the full-outer join shuffles
    ~24 bytes/row regardless of document size; bucketed snapshots
    would skip the shuffle entirely.  DuckDB mirrors the mutation and
    classifies by direct column comparison — equivalent to the hash
    comparison barring an md5 collision."""
    from dfsql_spark.operators.versioning import snapshot_diff_summary

    docs = _t(spark, sf, "documents")
    kept = docs.filter(F.col("doc_id") % 97 != 0)
    mutated = kept.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 31 == 0,
            F.concat(F.col("text"), F.lit(" v2")),
        ).otherwise(F.col("text")),
    )
    added = docs.filter(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    new = mutated.unionByName(added)
    return snapshot_diff_summary(docs, new, by="source")



def s03_sim_ivf(spark, sf):
    """IVF-Flat approximate top-5 (KMeans coarse quantizer, n_probe
    nearest cells, exact cosine rerank), graded as a per-query
    PROPERTY (cell assignments are iteration-order dependent): the
    exact rank-2 neighbor per query (DuckDB brute-force recomputes it)
    and a boolean that IVF recall@5 vs brute force is ≥ 0.6 (measured
    min 0.8 at sf0.01 with n_probe=8 of n_cells=16)."""
    from dfsql_spark.operators.similarity import cosine_topk, ivf_topk

    emb = _t(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, qs, k=5).select("query_id", "neighbor_id", "rank")
    approx = ivf_topk(emb, qs, k=5, n_cells=16, n_probe=8).select(
        "query_id", "neighbor_id"
    )
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("_n_hit"))
    )
    return (
        exact.filter(F.col("rank") == 2)
        .select("query_id", F.col("neighbor_id").alias("exact_top2"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "exact_top2",
            (F.coalesce(F.col("_n_hit"), F.lit(0)) >= 3).alias("recall_ge_060"),
        )
    )


def s04_sim_pq(spark, sf):
    """Product-quantization ANN (PQ/ADC + exact rerank): vectors
    compress 32x (64 floats -> 8 one-byte codes), search scans codes
    via per-query look-up tables, and only |q|*k*rerank candidates
    touch raw vectors again.  Graded as a per-query PROPERTY (codebook
    k-means is seed-dependent, not portable SQL): the exact rank-2
    neighbor per query (DuckDB brute-force recomputes it) and a
    boolean that PQ recall@5 vs brute force is >= 0.6 (measured min
    0.8 at sf0.001/0.01/0.1 with m=8, n_codes=128, rerank_factor=16)."""
    from dfsql_spark.operators.similarity import cosine_topk, pq_topk

    emb = _t(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, qs, k=5).select("query_id", "neighbor_id", "rank")
    approx = pq_topk(
        emb, qs, k=5, m=8, n_codes=128, rerank_factor=16,
        train_fraction=1.0,  # corpus < train_size at every test SF —
        # identical sample, skips the corpus count job
    ).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("_n_hit"))
    )
    return (
        exact.filter(F.col("rank") == 2)
        .select("query_id", F.col("neighbor_id").alias("exact_top2"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "exact_top2",
            (F.coalesce(F.col("_n_hit"), F.lit(0)) >= 3).alias("recall_ge_060"),
        )
    )


def s05_bm25(spark, sf):
    """BM25 lexical top-5 for three fixed keyword queries — the
    retrieval stack's lexical half, next to the embedding ANN entries.
    One corpus-token shuffle builds the postings list; everything
    query-side is broadcast onto the collision-sized subset, and df is
    aggregated only over query terms, never the whole vocabulary.
    quantize=6 makes the score an order-independent integer sum (of
    per-term contributions with 6-decimal-rounded idf), so DuckDB
    reproduces every score bit-for-bit from the same formula."""
    from dfsql_spark.operators.text import bm25_topk

    docs = _t(spark, sf, "documents")
    qs = spark.createDataFrame(
        [
            (1, "spark join table"),
            (2, "fast query scan"),
            (3, "window stream data"),
        ],
        "query_id long, text string",
    )
    return bm25_topk(docs, qs, k=5, quantize=6)


def m01_media_stats(spark, sf):
    """Multimodal metadata aggregate over the binary payload table —
    payload column never scanned (column pruning)."""
    from dfsql_spark.operators.multimodal import attach_fake_media, media_stats

    docs = _t(spark, sf, "documents")
    return media_stats(attach_fake_media(docs))


def m02_media_decode(spark, sf):
    """Arrow-batched mapInPandas decode/feature plumbing (stub decoder;
    rows-only — the Spark-side schema/batch shape is what's tested)."""
    from dfsql_spark.operators.multimodal import attach_fake_media, decode_and_featurize

    docs = _t(spark, sf, "documents")
    return decode_and_featurize(attach_fake_media(docs)).select(
        "doc_id", "mime", "n_bytes", "width", "height"
    )


def m03_media_dedup(spark, sf):
    """[Not a contract query — exact content-hash dedup, the d01 shape;
    still timed as bench extra b_media_dedup and pytest-pinned.]
    Content-hash media dedup.  The corpus has no exact duplicates, so
    the input unions a deterministic replay of the first 50 docs (ids
    offset by 100000) — those groups must come back with n_copies=2 and
    the original id as survivor.  The payload bytes never shuffle
    (hashed map-side); DuckDB recomputes every SHA-256 from the same
    UTF-8 payload definition."""
    from dfsql_spark.operators.multimodal import attach_fake_media, media_dedup

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    replay = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return media_dedup(attach_fake_media(docs.unionAll(replay)))


def m04_media_sim(spark, sf):
    """[Not a contract query — cosine top-k over m02's decoded features,
    the s01 shape; pytest pins stay.]  The full multimodal pipeline
    composed end-to-end: binary payloads -> Arrow-batched
    decode/featurize (stub: SHA-256-derived 8-dim features, the
    deterministic stand-in for a real encoder) -> exact cosine top-5
    over the feature column.  Demonstrates that the media plumbing FEEDS
    the similarity stack — the composition a video/image dedup or
    retrieval pipeline runs at 100 TB, with the payload scanned once,
    features thin (32 B/row), and the ANN merge shape of s01.
    Value-checked exactly: DuckDB recomputes every feature from the same
    sha256 bytes and re-ranks (rank + neighbor output only; raw cosines
    differ in last-ulp summation order). 6dp-quantized random-ish
    features make cross-engine rank ties possible only for bit-identical
    payloads, where both engines fall back to the same id-ascending
    tie-break."""
    from dfsql_spark.operators.multimodal import (
        attach_fake_media,
        decode_and_featurize,
    )
    from dfsql_spark.operators.similarity import cosine_topk

    docs = _t(spark, sf, "documents")
    feats = decode_and_featurize(attach_fake_media(docs)).select(
        "doc_id", "features"
    )
    qs = feats.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "features"
    )
    return cosine_topk(
        feats, qs, k=5, id_col="doc_id", vec_col="features"
    ).select("query_id", "neighbor_id", "rank")


def f01_custom_agg_sql(spark, sf):
    """Custom aggregate through the FULL dfsql surface — DataSource
    catalog, dialect rewrite, and the scoped UDF rename — not the bare
    DataFrame API: ``register_function("span", ...)`` (the reference's
    Series→scalar contract, backed by an Arrow grouped-agg pandas UDF)
    then a SQL GROUP BY that calls it.  span = max − min: exact double
    subtraction, no summation order, so values are bit-identical to
    the oracle's MAX−MIN.

    ``cache=False``: the default cache-on-access would pin the full
    lineitem relation in the session-wide cache manager, and Spark's
    cache substitution is plan-global — every LATER lineitem scan in
    the same session (other contract queries, the plan-audit suite)
    would silently resolve to the unpruned InMemoryRelation and lose
    column pruning.  A shared-session contract query must not leave
    that footprint."""
    from dfsql_spark import DataSource

    ds = DataSource(spark=spark, cache=False)
    ds.add_table("li_f01", _t(spark, sf, "lineitem"))
    ds.register_function("span", lambda s: s.max() - s.min(), is_aggregate=True)
    return ds.query_df(
        "SELECT l_returnflag, span(l_extendedprice) AS price_span "
        "FROM li_f01 GROUP BY l_returnflag"
    )


def f02_custom_scalar_sql(spark, sf):
    """Custom SCALAR function through the same full SQL surface as
    f01: ``register_function("clip1k", ...)`` (Series→Series,
    Arrow-batched pandas UDF — the reference's whole-column contract,
    dfsql/functions.py:16-31) called per-row inside a projection.
    clip = min(x, 1000): exact double comparison, no arithmetic, so
    values are bit-identical to the oracle's LEAST.  ``cache=False``
    for the same session-cache-footprint reason as f01."""
    from dfsql_spark import DataSource

    ds = DataSource(spark=spark, cache=False)
    ds.add_table("li_f02", _t(spark, sf, "lineitem"))
    ds.register_function("clip1k", lambda s: s.clip(upper=1000.0))
    return ds.query_df(
        "SELECT l_orderkey, l_linenumber, "
        "clip1k(l_extendedprice) AS capped FROM li_f02"
    )


# ---------------------------------------------------------------------------
# events / streaming (SURVEY §7 phase E; reference has none — §2.7)
# ---------------------------------------------------------------------------

def d06_dedup_connected(spark, sf):
    """Duplicate-cluster resolution: connected components over the
    exact-Jaccard pair graph (iterative min-label propagation with
    lineage truncation per round).  Greedy pair-drops over-delete on
    chains a~b~c; components keep exactly one survivor per cluster.
    Oracle: DuckDB recursive-CTE transitive closure.

    Consumes the shared ``_exact_jaccard_pairs`` persist (same corpus,
    same k/threshold as d02), so the whole d-block runs ONE shingling +
    prefix-join pass instead of two."""
    from dfsql_spark.operators.dedup import connected_components

    return connected_components(_exact_jaccard_pairs(spark, sf))


def d16_dedup_report(spark, sf):
    """The one-row dedup data card (operators/dedup.py:1186) — how much
    duplication the pair producer found, how it clusters, and what the
    min-id survivor policy removes (``n_removed = n_dup_docs −
    n_clusters``), all as exact integers / int-ratio doubles over the
    full corpus.  Composed over the shared exact-Jaccard pair relation
    (same corpus, same k/threshold as d02/d06/d09 — the whole d-block
    still runs ONE shingling pass), so the report grades the same graph
    the other dedup entries grade.  Scale shape: the pair plan is
    materialized once and feeds both the undirected distinct and the
    connected components; everything downstream is histogram-sized.
    Oracle: DuckDB recomputes the pair relation (the d06 CTE) and the
    same aggregates over a recursive-CTE transitive closure."""
    from dfsql_spark.operators.dedup import dedup_report

    docs = _t(spark, sf, "documents")
    return dedup_report(docs, _exact_jaccard_pairs(spark, sf))


def d09_dedup_survivors(spark, sf):
    """[Not a contract query — its survivor shape is checked via d06
    (component labels) + d16 (survivor accounting) on the SAME pair
    graph; still timed as bench extra b_dedup_survivors and
    pytest-pinned.]  The deduplicated corpus itself — the artifact a
    pipeline actually ships: connected components over the exact-Jaccard
    pair graph, keep the min-id doc per cluster, anti-join the losers
    out. Chains a~b~c keep exactly one survivor (greedy pair-drops
    over-delete).  Consumes the shared ``_exact_jaccard_pairs`` persist,
    so the whole d-block still runs ONE shingling pass; the anti-join's
    build side is the loser set (dup pairs only — tiny relative to the
    corpus at any scale). Oracle: recursive-CTE transitive closure + NOT
    IN."""
    from dfsql_spark.operators.dedup import dedup_by_components

    docs = _t(spark, sf, "documents")
    return dedup_by_components(
        docs, _exact_jaccard_pairs(spark, sf)
    ).select("doc_id", "source")


def d10_winnow_overlap(spark, sf):
    """Partial-overlap / containment candidate pairs: docs sharing
    >= 5 winnowing fingerprints.  Catches quotation and boilerplate
    reuse that whole-doc Jaccard misses (a paragraph inside a larger
    doc barely moves Jaccard but keeps its winnowed fingerprints).
    Fingerprint equi-join, merge-hinted, map-side-combined pair
    counts — never all-pairs.  DuckDB recomputes every fingerprint
    and the same join."""
    from dfsql_spark.operators.dedup import winnow_overlap_pairs

    docs = _t(spark, sf, "documents")
    # k=16/w=8 — the guarantee window is k+w-1 = 23 chars, i.e.
    # quotation-scale substrings; at k=8 every doc shares common-word
    # 8-grams and the pair set degenerates to ~all-pairs (measured 88k
    # pairs over 500 docs vs 47 here)
    return winnow_overlap_pairs(docs, min_shared=5, k=16, w=8)


def d11_line_dedup(spark, sf):
    """Corpus-wide duplicated-line removal (the C4 / RefinedWeb
    boilerplate-line step): every distinct line keeps only its
    globally first occurrence by (doc_id, position).  The corpus text
    carries no newlines, so the query first regroups each document's
    tokens into 8-token lines — the corpus's exact-duplicate and
    near-duplicate documents then share real duplicate lines, making
    the dedup non-trivial (at sf0.01, 175 of 3609 lines are
    deleted).  Two line-volume shuffles, no winner-back join
    (the keeper of each line IS the groupBy output row); DuckDB
    mirrors the synthesis and the first-occurrence window exactly.

    The 8-token regrouping is ONE codegen'd ``regexp_replace``
    (insert a newline after every 8th token): the corpus text is
    strictly single-space separated (asserted by
    tests/test_operators.py), so this is byte-identical to the
    tokenize/slice/rejoin formulation but stays inside whole-stage
    codegen — the nested higher-order-function form evaluated
    interpreted and cost ~1 s per corpus scan at sf0.1, and the
    dedup plan scans the corpus twice."""
    from dfsql_spark.operators.dedup import remove_duplicate_lines

    docs = _t(spark, sf, "documents")
    ml = F.regexp_replace(F.trim(F.col("text")), r"((?:\S+ ){7}\S+) ", "$1\n")
    deduped = remove_duplicate_lines(
        docs.select("doc_id", ml.alias("text")), min_line_chars=1
    )
    return deduped.select(
        "doc_id",
        "text",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_kept").cast("long").alias("n_kept"),
    )


def p01_curation_pipeline(spark, sf):
    """CAPSTONE: the end-to-end corpus curation run, composed from the
    graded operators — keep docs that pass the C4 heuristic filter
    (t12), have repetition <= 0.2 (t11), and survive near-dup cluster
    resolution (d09); emit their PII-scrubbed text (t08 patterns on
    the raw text).  Output IS the curated corpus (doc_id, clean_text).

    Composition shape: the three per-row signal operators chain in their
    ``append=True`` mode, so Catalyst collapses them into ONE projection
    over ONE corpus scan — the plan the docstring always promised at
    production scale (pre-fusion this was 3 scans + 2 doc_id joins;
    values identical, oracle unchanged).  Only the duplicate-survivor
    join is inherently a join (the dedup side rides the d-block's shared
    persist).  DuckDB recomputes every filter, the recursive closure,
    and the scrub."""
    from dfsql_spark.operators.dedup import dedup_by_components
    from dfsql_spark.operators.text import (
        c4_filters,
        pii_scrub,
        repetition_ratio,
    )

    docs = _t(spark, sf, "documents")
    fused = repetition_ratio(
        c4_filters(pii_scrub(docs, append=True), append=True), append=True
    )
    survivors = dedup_by_components(
        docs, _exact_jaccard_pairs(spark, sf)
    ).select("doc_id")
    return (
        fused.filter(F.col("keep_doc") & (F.col("rep_ratio") <= 0.2))
        .select("doc_id", "clean_text")
        .join(survivors, "doc_id")
    )


def e01_windowed_counts(spark, sf):
    """Tumbling 1-hour window counts + value sums per event_type
    (batch twin of the streaming aggregation)."""
    from dfsql_spark.streaming.events import read_events_batch, windowed_counts

    return windowed_counts(read_events_batch(spark, sf))


def e02_sessionize(spark, sf):
    """Gap-based sessionization (30 min), gaps-and-islands form —
    SQL-expressible twin of session_window (tests assert they agree)."""
    from dfsql_spark.streaming.events import read_events_batch, sessionize_batch

    return sessionize_batch(read_events_batch(spark, sf))


def e03_json_props(spark, sf):
    """[Not a contract query — batch JSON-path projection, the q01
    shape over the same events JSON the streaming entries check;
    pytest pins stay.]  JSON property extraction from the props column
    + aggregate (uplift: reference has no JSON functions — SURVEY §2.6)."""
    from dfsql_spark.streaming.events import read_events_batch

    ev = read_events_batch(spark, sf)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k") > 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_high"),
            F.sum("k").alias("k_sum"),
        )
    )


def e04_stream_windowed_counts(spark, sf):
    """The REAL Structured Streaming path: file-source readStream →
    watermark → tumbling window → availableNow to memory sink.

    Not a contract query: it yields the same output batch as e01
    (stream == batch on finite input), an equivalence pinned by
    ``test_stream_windowed_equals_batch``."""
    import uuid

    from dfsql_spark.streaming.events import read_events_stream, run_to_memory, windowed_counts

    name = f"wc_{uuid.uuid4().hex[:8]}"
    return run_to_memory(
        windowed_counts(read_events_stream(spark, sf)), spark, name
    )


def e05_stream_stateful(spark, sf):
    """Custom stateful operator (applyInPandasWithState): per-user
    running totals.  Update-mode output on finite input = final totals
    per user.

    Not a contract query: it yields the same result as e02's family
    (batch totals), a stream==batch equivalence pinned by
    ``test_stateful_running_totals_equal_batch_agg``."""
    import uuid

    from dfsql_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        running_totals_stateful,
    )

    name = f"rt_{uuid.uuid4().hex[:8]}"
    out = run_to_memory(
        running_totals_stateful(read_events_stream(spark, sf)),
        spark,
        name,
        output_mode="update",
    )
    # update-mode emits one row per user per micro-batch; the final
    # state per user is the max-n row (running totals are monotone)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


def e09_stream_upsert_sink(spark, sf):
    """End-to-end streaming WRITE path: stream → stateful running
    totals (update mode) → foreachBatch → idempotent keyed-upsert
    parquet sink → read the table's final state back.  Last-writer-wins
    per user_id means the final table equals the batch aggregate —
    SQL-expressible oracle (same as e05's)."""
    import tempfile

    from dfsql_spark.streaming.events import (
        read_events_stream,
        running_totals_stateful,
    )
    from dfsql_spark.streaming.sinks import KeyedParquetSink, run_foreach_batch

    sink = KeyedParquetSink(
        tempfile.mkdtemp(prefix="dfsql_e09_sink_"),
        key_cols=["user_id"],
        order_col="n_events",  # running totals are monotone per user
    )
    run_foreach_batch(
        running_totals_stateful(read_events_stream(spark, sf)),
        sink.process_batch,
        output_mode="update",
    )
    return sink.read(spark).select("user_id", "n_events", "total_value")


# ---------------------------------------------------------------------------
# incremental dedup, semantic decontamination, MMR, embeddings, shuffles
# ---------------------------------------------------------------------------

def d12_incremental_dedup(spark, sf):
    """Incremental MinHash dedup of a delta batch against an accepted
    snapshot (operators/dedup.py:1037) — base = even doc_ids, delta =
    odd.  Graded as a PROPERTY like d03 (hash permutations aren't
    portable SQL): DuckDB independently recomputes (a) the delta size
    and (b) the number of delta docs with an exact 5-gram-Jaccard
    ≥ 0.7 neighbor in the base snapshot; the engine-side claim — every
    one of those contaminated delta docs was rejected (measured 100%
    at sf0.001 AND sf0.01; verify_threshold 0.5 ≪ 0.7 makes the
    verified-pair graph a superset of the ground-truth graph) — is
    pinned TRUE.  Measured sf0.01 → sf0.1 (10× docs, local[32]): wall
    FLAT (~18 s both) — at toy scale the cost is fixed overhead (two
    Arrow sketch stages, CC iterations, the shared exact ground
    truth), exactly what a 1000-executor run amortizes away; the only
    corpus-volume stage is the 24-byte band join."""
    from dfsql_spark.operators.dedup import incremental_minhash_dedup

    docs = _t(spark, sf, "documents")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    survivors = incremental_minhash_dedup(new, base, verify_threshold=0.5)
    exact = _exact_jaccard_pairs(spark, sf).filter(F.col("jaccard") >= 0.7)
    contaminated = (
        exact.filter((F.col("id_a") % 2) != (F.col("id_b") % 2))
        .select(
            F.when(F.col("id_a") % 2 == 1, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("doc_id")
        )
        .distinct()
    )
    surv_ids = survivors.select("doc_id")
    dropped = contaminated.join(surv_ids, "doc_id", "left_anti")
    return (
        new.agg(F.count("*").alias("n_new"))
        .crossJoin(contaminated.agg(F.count("*").alias("n_contaminated")))
        .crossJoin(dropped.agg(F.count("*").alias("_n_dropped")))
        .select(
            "n_new",
            "n_contaminated",
            (F.col("_n_dropped") >= F.col("n_contaminated")).alias(
                "all_contaminated_dropped"
            ),
        )
    )


def d13_semantic_decontaminate(spark, sf):
    """Embedding-space decontamination (operators/similarity.py:773):
    corpus rows whose cosine to ANY eval vector (vec_id < 20) clears
    0.3 are flagged with the nearest eval id.  The eval matrix is a
    driver broadcast — ONE corpus scan, zero shuffles (plan-audited).
    max_sim rounds to 6 dp on both engines (float dot-product ulp)."""
    from dfsql_spark.operators.similarity import semantic_decontaminate

    emb = _t(spark, sf, "embeddings")
    ev = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 20)
    return semantic_decontaminate(corpus, ev, threshold=0.3).select(
        "vec_id",
        "nearest_eval_id",
        F.round("max_sim", 6).alias("max_sim"),
    )


def d14_dedup_keep_best(spark, sf):
    """Quality-aware survivor selection (operators/dedup.py:989): keep
    the highest-quality_score member of each near-dup cluster (5-gram
    Jaccard ≥ 0.6 pairs, connected components), not the arbitrary
    min-id one.  DuckDB recomputes the whole thing independently:
    pair graph → recursive-CTE transitive closure → per-cluster argmax
    (score DESC, id ASC) — quality is a quotient of integer counts, so
    the argmax is bit-exact cross-engine.  Measured sf0.01 → sf0.1
    (10× docs): 3.7 → 4.5 s — the PPJoin prefix pair join absorbs the
    10×; the winner window runs over cluster members only, never the
    corpus."""
    from dfsql_spark.operators.dedup import dedup_keep_best, ngram_jaccard_pairs
    from dfsql_spark.operators.text import quality_score

    docs = _t(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(docs, k=5, threshold=0.6)
    scored = docs.join(
        quality_score(docs).selectExpr("doc_id", "quality AS score"), "doc_id"
    )
    return dedup_keep_best(scored, pairs, "score").select("doc_id", "source")



def s06_mmr_rerank(spark, sf):
    """Maximal-marginal-relevance diversification of a cosine-top-k
    shortlist (operators/similarity.py:675): greedy pick maximizing
    lam*relevance − (1−lam)*max-sim-to-selected.  DuckDB replays the
    same greedy selection as 5 chained argmax CTEs over the identical
    shortlist (ranks only — scores differ in the last ulp)."""
    from dfsql_spark.operators.similarity import cosine_topk, mmr_rerank

    emb = _t(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    short = cosine_topk(emb, qs, k=8)
    return mmr_rerank(short, emb, k=5, lam=0.7).select(
        "query_id", "mmr_rank", "neighbor_id"
    )


def t17_hashed_embeddings(spark, sf):
    """Feature-hashing embeddings (operators/text.py:983): each token
    adds ±1 to one of 16 md5-addressed buckets.  Graded as the exploded
    NONZERO (doc_id, bucket, val) triplets — flat exact integers-in-
    doubles, so the oracle is bit-for-bit (md5 both halves: bucket =
    first 8 hex chars mod dim, sign = 9th hex char).  Measured
    sf0.01 → sf0.1 (10× docs): 2.0 → 1.2 s — fixed overhead dominates;
    shuffle volume is min(n_tokens, dim) 16-byte rows per doc."""
    from dfsql_spark.operators.text import hashed_embeddings

    docs = _t(spark, sf, "documents")
    emb = hashed_embeddings(docs, dim=16, normalize=False)
    return (
        emb.select("doc_id", F.posexplode("embedding").alias("bucket", "val"))
        .filter(F.col("val") != 0.0)
        .select("doc_id", F.col("bucket").cast("int").alias("bucket"), "val")
    )


def t18_weighted_sample(spark, sf):
    """Deterministic importance sampling (operators/text.py:1056):
    keep probability min(1, weight*scale), content-addressed via
    md5('wsample:' || text) — the fate of a row survives re-runs and
    repartitioning, no RNG state.  The oracle replays the identical
    md5-bucket filter."""
    from dfsql_spark.operators.text import weighted_sample

    docs = _t(spark, sf, "documents").withColumn(
        "wt", (F.col("doc_id") % 10).cast("double")
    )
    return weighted_sample(docs, "wt", scale=0.08).select(
        "doc_id", "source", "wt"
    )


def bench_distribution_drift(spark, sf):
    """BENCH-ONLY: PSI distribution drift
    (operators/versioning.py:distribution_drift) between the corpus and
    its x04-style deterministic mutation — numeric n_chars bins +
    categorical source/lang pooling.  Times the full two-side histogram
    construction: one broadcast edges agg, two TakeOrdered head jobs,
    one generate -> map-side-combined count per side."""
    from dfsql_spark.operators.versioning import distribution_drift

    docs = _t(spark, sf, "documents")
    new = docs.filter(F.col("doc_id") % 97 != 0).withColumn(
        "n_chars",
        F.when(F.col("doc_id") % 3 == 0, F.col("n_chars") * 2).otherwise(
            F.col("n_chars")
        ),
    )
    return distribution_drift(
        docs, new, numeric_cols=["n_chars"],
        categorical_cols=["source", "lang"],
    )


def bench_pagerank(spark, sf):
    """BENCH-ONLY: PageRank (operators/web.py:pagerank) over a
    deterministic corpus-derived edge list — each document contributes
    one edge between two of 1000 pseudo-hosts hashed from its id, so the
    edge relation is corpus-sized while the rank table stays host-sized.
    Times 5 fixed rounds: per round one ranks-side shuffle join against
    the once-partitioned weights plus one dst-keyed aggregation."""
    from dfsql_spark.operators.web import pagerank

    docs = _t(spark, sf, "documents")
    edges = docs.select(
        F.pmod(F.xxhash64("doc_id"), F.lit(1000))
        .cast("string").alias("src"),
        F.pmod(F.xxhash64(F.col("doc_id") * 31 + 7), F.lit(1000))
        .cast("string").alias("dst"),
    )
    return pagerank(edges, max_iter=5)


def bench_stable_ids(spark, sf):
    """BENCH-ONLY: content-derived id assignment
    (operators/versioning.py:assign_stable_ids, xxhash64 production
    path) immediately audited by id_collision_report — times the codegen
    canonical-encoding map plus the audit's map-side-combined (id,
    fingerprint) pair collapse and the two pair-relation aggregates."""
    from dfsql_spark.operators.versioning import (
        assign_stable_ids,
        id_collision_report,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text", "source")
    withids = assign_stable_ids(docs, cols=["text", "source"])
    return id_collision_report(
        withids, cols=["text", "source"], id_col="stable_id"
    )


def bench_robots(spark, sf):
    """BENCH-ONLY: RFC 9309 robots compliance filter
    (operators/web.py:parse_robots + robots_filter) over synthetic
    per-doc urls spread across 7 hosts, 5 of which carry rule sets
    (disallow-prefix, wildcard-$, total-disallow, tie, no-op).  Times
    the mapInPandas policy parse (tiny), the broadcast host join, and
    the in-row HOF longest-match decision over the corpus."""
    from dfsql_spark.operators.web import parse_robots, robots_filter

    docs = _t(spark, sf, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://h"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".com/"),
            F.element_at(
                F.array(F.lit("a"), F.lit("private"), F.lit("private/ok"),
                        F.lit("docs"), F.lit("x.pdf")),
                (F.col("doc_id") % 5 + 1).cast("int"),
            ),
        ).alias("url"),
    )
    bodies = spark.createDataFrame(
        [
            ("h0.com", "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"),
            ("h1.com", "User-agent: *\nDisallow: /*.pdf$\n"),
            ("h2.com", "User-agent: *\nDisallow: /\n"),
            ("h3.com", "User-agent: *\nAllow: /p\nDisallow: /p\n"),
            ("h4.com", "User-agent: *\nDisallow:\n"),
        ],
        "host string, robots_txt string",
    )
    return robots_filter(urls, parse_robots(bodies))


def bench_winnow_fingerprints(spark, sf):
    """BENCH-ONLY (not a contract query: a shape-duplicate of the
    winnowing relation d10_winnow_overlap checks through its fingerprint
    join; the operator keeps its exact DuckDB mirror AND its
    independent-Python fuzz in tests/test_operators.py and keeps its
    perf trend here under the name ``b_winnow_fingerprints``). Winnowing
    fingerprints (SIGMOD'03): k-gram rolling hashes, window-min
    selection, per-doc distinct — pure map + explode, zero shuffle
    (plan-pinned)."""
    return t14_winnow_fingerprints(spark, sf)


def bench_lm_score(spark, sf):
    """BENCH-ONLY (not a contract query: a shape-duplicate of
    t25_dsir_weights' n-gram-LM doc scoring; the operator keeps its
    exact DuckDB mirror in tests/test_operators.py and keeps its perf
    trend here under the name ``b_lm_score``).  Stupid-backoff bigram
    LM scoring (operators/text.py:1125): train on the curated slice
    (source src0/src1), score every doc by avg per-bigram
    log10-prob.  Model tables broadcast (train-sized); corpus side is
    one exploded-bigram map."""
    from dfsql_spark.operators.text import lm_score

    docs = _t(spark, sf, "documents")
    train = docs.filter(F.col("source").isin("src0", "src1"))
    return lm_score(docs, train)


def t20_epoch_shuffle(spark, sf):
    """Deterministic per-epoch shuffle order (operators/text.py:1250):
    order key md5('epoch:1:' || doc_id) — reproducible permutation,
    no RNG state; DuckDB reproduces every key bit-for-bit.  (The
    oracle comparison is order-insensitive; the KEY COLUMN is the
    checked determinism contract, pytest pins the realized order.)"""
    from dfsql_spark.operators.text import epoch_shuffle

    docs = _t(spark, sf, "documents").select("doc_id", "source")
    return epoch_shuffle(docs, epoch=1)



def t22_bpe_pair_counts(spark, sf):
    """One BPE tokenizer-training merge round (operators/text.py:1341):
    corpus-wide adjacent char-pair counts, top-50 by (count desc, pair
    asc).  Pair-vocabulary-sized shuffle after map-side combine.
    Measured sf0.01 → sf0.1 (10× docs): 0.40 → 0.79 s — 2.0× for 10×
    data, the partial agg absorbing the rest."""
    from dfsql_spark.operators.text import bpe_pair_counts

    docs = _t(spark, sf, "documents")
    return bpe_pair_counts(docs, top_k=50)


def t23_char_entropy(spark, sf):
    """Per-doc Shannon character entropy (operators/text.py:1424) —
    the keyboard-mash / binary-junk detector.  Codepoint-ordered float
    sum, rounded 6 dp; DuckDB's unnest-chars mirror agrees exactly at
    that precision.  Measured sf0.01 → sf0.1 (10× docs): 0.30 → 0.48 s
    — Arrow-batched per-row map, zero shuffle at any scale."""
    from dfsql_spark.operators.text import char_entropy

    docs = _t(spark, sf, "documents")
    return char_entropy(docs)


def t24_gopher_filters(spark, sf):
    """Gopher document-quality rule set (operators/text.py:1978; Rae et
    al. 2021 Table A1).  The checked projection is integer/boolean only
    (doc_id, word count, stopword hits, the combined keep decision) —
    ``keep_doc`` folds every float signal through its threshold, so the
    whole rule chain is value-graded without hashing raw float
    quotients.  min_stopword_hits=1 because the synthetic corpus's
    vocabulary carries only 'the' from the 8-word stop set — at 1 the
    corpus exercises BOTH outcomes. Zero-shuffle codegen map
    (plan-pinned by
    ``test_gopher_filters_is_zero_shuffle_python_free``)."""
    from dfsql_spark.operators.text import gopher_filters

    docs = _t(spark, sf, "documents")
    return gopher_filters(docs, min_stopword_hits=1).select(
        "doc_id", "n_words", "stopword_hits", "keep_doc"
    )


def t25_dsir_weights(spark, sf):
    """DSIR importance log-weights (operators/text.py:2204; Xie et al.
    NeurIPS 2023).  Target = every 7th document (the in-corpus slice
    pattern bench_dsir uses); quantize=6 makes every per-doc weight an
    exact scaled-integer sum (order-independent, hash-safe — the bm25
    trick), divided once at the end.  Scale shape: bucket models are ≤
    ``buckets`` rows, weight table broadcasts (bounded-side
    allowlisted), one per-doc sum; grams come from the shared Arrow
    word-n-gram UDF (same as d07/d15, Python-allowlisted)."""
    from dfsql_spark.operators.text import dsir_log_weights

    docs = _t(spark, sf, "documents")
    target = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    return dsir_log_weights(docs, target, buckets=4096, quantize=6)


def w01_url_dedup(spark, sf):
    """Crawl URL dedup (operators/web.py:132).  The documents table has
    no URL column, so each doc gets a deterministic messy URL (four
    spelling variants per page id: WWW + default port + tracking params
    + trailing slash / clean https / userinfo + :80 + fragment /
    scheme-less + trailing slash); variants 0-1 and 2-3 of each page
    canonicalize together, so the operator must collapse exactly 2:1
    with min-id survivors.  The oracle constructs the KNOWN canonical
    forms directly and aggregates — the rule-by-rule canonicalization
    parity vs DuckDB is separately pinned on 400 messy URLs by
    ``test_canonicalize_url_matches_duckdb_mirror``.  Shuffle ships only
    (canonical_url, id) — the zero-content first stage of a curation
    pipeline."""
    from dfsql_spark.operators.web import url_dedup

    docs = _t(spark, sf, "documents")
    gid = F.floor(F.col("doc_id") / 4).cast("bigint")
    host = F.concat(F.lit("site"), (gid % 25).cast("string"))
    v = F.col("doc_id") % 4
    url = (
        F.when(
            v == 0,
            F.concat(
                F.lit("https://WWW."), host, F.lit(".EXAMPLE.com:443/page/"),
                gid.cast("string"), F.lit("/?utm_source=feed&b=2&a=1"),
            ),
        )
        .when(
            v == 1,
            F.concat(
                F.lit("https://"), host, F.lit(".example.com/page/"),
                gid.cast("string"), F.lit("?a=1&b=2"),
            ),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("HTTP://user:pw@"), host, F.lit(".Example.COM:80/item/"),
                gid.cast("string"), F.lit("#x"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("www."), host, F.lit(".example.com/item/"),
                gid.cast("string"), F.lit("/"),
            )
        )
    )
    return url_dedup(docs.withColumn("url", url))


def w02_url_host(spark, sf):
    """[Not a contract query — host extraction is a sub-expression of
    w01's checked normalization (same exported URL_PARSE_RE);
    zero-exchange plan pin stays in test_plan_audit.]  Normalized-host
    extraction (operators/web.py:91): THE group key the domain-level
    curation operators share (grouped_split's leakage-safe splits,
    group_keep_report's domain blocklisting, cap_per_key's per-domain
    caps).  The documents table has no URL column, so each doc gets a
    deterministic messy URL exercising every rule on real data: WWW +
    uppercase scheme/host + default :80 / userinfo + :443 / scheme-less
    / non-default port kept / authority-less → NULL.  Pure codegen —
    the parse embeds in the select, zero shuffle.  DuckDB re-runs the
    IDENTICAL regex chain from the same exported URL_PARSE_RE
    constant."""
    from dfsql_spark.operators.web import url_host_expr

    docs = _t(spark, sf, "documents")
    host = F.concat(F.lit("site"), (F.col("doc_id") % 25).cast("string"))
    v = F.col("doc_id") % 5
    url = (
        F.when(
            v == 0,
            F.concat(
                F.lit("HTTP://WWW."), host, F.lit(".Example.COM:80/p/"),
                F.col("doc_id").cast("string"),
            ),
        )
        .when(
            v == 1,
            F.concat(
                F.lit("https://user:pw@www."), host,
                F.lit(".example.org:443/q"),
            ),
        )
        .when(
            v == 2,
            F.concat(host, F.lit(".example.net/r")),
        )
        .when(
            v == 3,
            F.concat(F.lit("http://"), host, F.lit(".example.com:8080/s")),
        )
        .otherwise(F.lit("/relative/only"))
    )
    return docs.withColumn("url", url).select(
        "doc_id", url_host_expr("url").alias("host")
    )


def x07_group_keep_report(spark, sf):
    """Per-domain keep-rate table with Wilson score intervals
    (operators/checks.py:370): the domain-level filtering decision (cut
    WHOLE groups whose keep-rate upper bound is below threshold) instead
    of per-document filtering on overwhelmingly-junk sources.  The keep
    flag is derived on real data (n_chars > 200) with a planted NULL
    stripe (doc_id % 11 == 0) so the NULL-flag accounting — counted,
    excluded from the rate — is value-graded, not just unit-tested.  ONE
    map-side-combined groupBy carrying three counts; the Wilson algebra
    runs on the #groups-sized table (plan-pinned single agg). Rates
    rounded to 6 dp on both sides (the x06 cross-engine float contract);
    DuckDB recomputes the closed form from the same z."""
    from dfsql_spark.operators.checks import group_keep_report

    docs = _t(spark, sf, "documents")
    keep = F.when(
        F.col("doc_id") % 11 == 0, F.lit(None).cast("boolean")
    ).otherwise(F.col("n_chars") > 200)
    rep = group_keep_report(docs.withColumn("keep", keep), "keep", "lang")
    return rep.select(
        "lang",
        "n_docs",
        "n_kept",
        "n_flag_null",
        F.round("keep_rate", 6).alias("keep_rate"),
        F.round("ci_low", 6).alias("ci_low"),
        F.round("ci_high", 6).alias("ci_high"),
    )


def x05_quality_checks(spark, sf):
    """Declarative data-quality suite (operators/checks.py:104): six
    deequ-style checks over lineitem compiled into ONE groupless
    aggregation + codegen'd stack unpivot — N checks, one scan, one
    job (plan-audited).  Includes a deliberately failing check
    (l_orderkey is not unique in lineitem) so both outcomes are
    value-graded.  Measured sf0.01 → sf0.1 (10× rows): 0.52 → 0.86 s —
    sublinear; the one non-fixed-size state is unique()'s exact
    count(DISTINCT)."""
    from dfsql_spark.operators.checks import (
        in_range,
        matches_regex,
        not_null,
        row_count_at_least,
        run_checks,
        unique,
        values_in,
    )

    li = _t(spark, sf, "lineitem")
    return run_checks(
        li,
        [
            row_count_at_least(1000),
            not_null("l_orderkey"),
            unique("l_orderkey"),
            in_range("l_discount", 0.0, 0.1),
            values_in("l_returnflag", ["A", "N", "R"]),
            matches_regex("l_returnflag", "^[ANR]$", min_frac=1.0),
        ],
    )


def x08_distribution_drift(spark, sf):
    """PSI distribution drift between snapshots
    (operators/versioning.py:208): the third monitoring leg next to
    snapshot_diff (row churn) and schema_drift_report (schema/moment
    drift).  new = the x04-style deterministic mutation (docs with id %
    97 dropped, n_chars doubled on id % 3, source re-mixed to srcX on id
    % 5) so both a numeric shape shift and a categorical head shift are
    value-graded.  Bucket edges come from OLD (bins=10 equal-width for
    n_chars, top-3 source heads), NULL its own bucket, epsilon-floored
    PSI rounded 6 dp (the x06 float contract).  ONE head-collection job
    + one generate → map-side-combined (column, bucket) count per side —
    the corpus never shuffles. DuckDB reconstructs the full pipeline
    (edges, heads, 'v:'-prefixed collision-proof labels, epsilon floor)
    from scratch."""
    from dfsql_spark.operators.versioning import distribution_drift

    docs = _t(spark, sf, "documents")
    new = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .withColumn(
            "n_chars",
            F.when(
                F.col("doc_id") % 3 == 0, F.col("n_chars") * 2
            ).otherwise(F.col("n_chars")),
        )
        .withColumn(
            "source",
            F.when(F.col("doc_id") % 5 == 0, F.lit("srcX")).otherwise(
                F.col("source")
            ),
        )
    )
    return distribution_drift(
        docs,
        new,
        numeric_cols=["n_chars"],
        categorical_cols=["source"],
        bins=10,
        top_k=3,
    )


def t28_vocab_coverage(spark, sf):
    """Vocabulary coverage curve (operators/text.py:3177): the
    tokenizer-sizing number ("N types cover 95% of token mass").
    Deliberately NO global sort and NO vocabulary-sized window: the
    corpus-sized work is ONE (token, count) map-side-combined aggregate;
    the cumulative walk runs over the per-count-value histogram
    (~O(√tokens) rows on Zipfian text) and the threshold arithmetic is
    exact int/int, so covered_frac is bit-identical cross-engine.
    DuckDB mirrors tokenizer, histogram, and ceil arithmetic from
    scratch."""
    from dfsql_spark.operators.text import vocab_coverage

    docs = _t(spark, sf, "documents")
    return vocab_coverage(docs)


def t29_packing_report(spark, sf):
    """Packing-efficiency card (operators/text.py:741) over a real
    t09-style pack_sequences run: the number that decides whether the
    packing budget is costing attention FLOPs (every unfilled slot is
    padding).  Fill ratios are k/512 — exact dyadic doubles, so sums and
    min/max are bit-identical cross-engine; mean_fill/waste_frac are
    rounded 6 dp on both sides (the x06 float contract) to stay
    independent of either engine's avg() accumulation order.  One
    doc-grain (shard, seq) exchange + a one-row rollup on top of the
    packer's shard shuffle.  DuckDB replays the greedy packing
    recurrence (the t09 recursive CTE) and re-aggregates the report from
    scratch."""
    from dfsql_spark.operators.text import pack_sequences, packing_report

    docs = _t(spark, sf, "documents")
    rep = packing_report(pack_sequences(docs, budget=512), budget=512)
    return rep.select(
        "n_sequences",
        "n_docs",
        "total_tokens",
        "budget",
        F.round("mean_fill", 6).alias("mean_fill"),
        "min_fill",
        "max_fill",
        F.round("waste_frac", 6).alias("waste_frac"),
    )


def q32_window_sql(spark, sf):
    """Window functions through the FULL dfsql SQL surface — DataSource
    catalog + dialect rewrite, not the bare DataFrame API (the f01/f02
    pattern): ROW_NUMBER over a TOTAL order (price desc, key tiebreak),
    RANK with ties, and a running frame sum: the window surface's
    SQL-path entry, next to the dialect fuzz against DuckDB.
    Determinism: row_number/ rank are integers over deterministic
    orders; the frame sum runs in DECIMAL(18,2) — exact, and accumulated
    in the frame's ORDER BY order on both engines — with ONE cast to
    double at the end. Scale shape: one hash partition by o_custkey,
    in-partition sort, all three windows share it (single Window
    exchange in the plan). ``cache=False`` for the f01
    session-cache-footprint reason."""
    from dfsql_spark import DataSource

    ds = DataSource(spark=spark, cache=False)
    ds.add_table("ord_q32", _t(spark, sf, "orders"))
    return ds.query_df(_Q32_SQL.format(table="ord_q32"))


# rn/prio_rank carry an explicit BIGINT cast INSIDE the shared text:
# Spark's row_number/rank return INT while DuckDB's return BIGINT, and a
# schema check compares dtypes (the q27 precedent casts on the oracle
# side; here one cast serves both since the SQL is shared verbatim)
_Q32_SQL = (
    "SELECT o_custkey, o_orderkey, "
    "CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey"
    " ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn, "
    "CAST(RANK() OVER (PARTITION BY o_custkey"
    " ORDER BY o_orderpriority) AS BIGINT) AS prio_rank, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER ("
    "PARTITION BY o_custkey ORDER BY o_orderkey"
    " ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)"
    " AS run_price "
    "FROM {table}"
)


def x09_stable_ids(spark, sf):
    """Content-derived stable ids + the two-direction id audit in one
    graded pass (operators/versioning.py:assign_stable_ids,
    id_collision_report): ids are deliberately assigned from the
    low-cardinality ``source`` column alone, so every source's id covers
    many distinct (doc_id, text) contents and the audit must report each
    id as a collision with exact peer/row counts — grading BOTH the id
    derivation (md5 over the length-prefixed injective canonical
    encoding; the interchange algo DuckDB reproduces bit-for-bit) and
    the audit's pair-collapse aggregation on real corpus data. Zero
    float risk: every output value is a hash string or an exact count.
    Scale shape: id assignment is pure codegen map; the audit shuffles
    only the (id, 16-byte fingerprint) pair projection."""
    from dfsql_spark.operators.versioning import (
        assign_stable_ids,
        id_collision_report,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text", "source")
    ids = assign_stable_ids(docs, cols=["source"], algo="md5")
    return id_collision_report(
        ids, cols=["doc_id", "text"], id_col="stable_id"
    )


def w03_link_graph_report(spark, sf):
    """Link-graph structural data card (operators/web.py:
    link_graph_report — the sanity gate BEFORE spending cluster
    rounds on pagerank):
    n_nodes / n_edges / self-loops / dangling / max out-degree /
    reciprocity over a deterministic corpus-derived graph — each
    document contributes one edge between md5-bucketed pseudo-hosts
    (md5, not xxhash, so DuckDB rebuilds the identical graph).  Every
    value is an exact count except reciprocity, ONE IEEE division of
    two exact longs — bit-identical across engines.  Scale shape:
    one edge-dedup shuffle, then edge-relation-sized aggregates and
    one reversed-edge semi-join; nothing corpus-wide broadcasts."""
    from dfsql_spark.operators.web import link_graph_report

    docs = _t(spark, sf, "documents")

    def bucket(salt: str) -> "F.Column":
        return F.substring(
            F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))),
            1,
            2,
        )

    edges = docs.select(
        bucket("lgs:").alias("src"), bucket("lgd:").alias("dst")
    )
    return link_graph_report(edges)


# w04's exact-replayable graph: chain 0->1->...->39 plus chords i ->
# (i+7) % 39 from even i.  Every in-degree is <= 2 and node 39 is the
# ONLY dangling node, so every per-round aggregate the operator computes
# is a sum of at most TWO doubles (IEEE addition is commutative ->
# order-independent) or a single-row sum — which makes 5 iterated rounds
# of damping arithmetic BIT-IDENTICAL between Spark and the oracle's
# unrolled CTE replay (verified byte-for-byte in tests).  The x06 lesson
# (a rounded mean on a 6-dp half-way boundary flips with summation
# order) applied to iterated doubles: grade pagerank on a graph where
# summation order provably cannot matter, not on rounded ranks near
# unknown boundaries.
def _w04_edges() -> "list[tuple[str, str]]":
    chain = [(str(i), str(i + 1)) for i in range(39)]
    chords = [(str(i), str((i + 7) % 39)) for i in range(0, 39, 2)]
    return chain + chords


def w04_pagerank(spark, sf):
    """PageRank (operators/web.py:pagerank) on an exact-replayable
    graph: 5 fixed random-surfer rounds — damping 0.85, dangling-mass
    redistribution, per-edge weights computed once and persisted — over
    the in-degree-<=2 / single-dangling-node graph built by
    ``_w04_edges`` (see the comment there for why every rank double is
    bit-exact across engines; ranks sum to 1.0 exactly).  The graded
    values are the FULL unrounded ranks.  The 100 TB shape is the
    operator's (ranks-only per-round shuffle against persisted
    partitioned weights, broadcast one-row dangling aggregate, zero
    in-loop driver actions — bench_pagerank times it at corpus scale);
    this entry grades the arithmetic."""
    from dfsql_spark.operators.web import pagerank

    edges = spark.createDataFrame(_w04_edges(), "src string, dst string")
    return pagerank(edges, damping=0.85, max_iter=5)


# w05's deterministic WET members: a warcinfo preamble plus
# ``n_docs`` conversion records per member, CRLF headers, payloads
# mixing ASCII and multibyte UTF-8 so Content-Length (BYTES) !=
# char length — the framing property the parser must honor.  Built
# by the same code the oracle serializes, so engine and oracle can
# only agree if the byte-exact parse reproduces the constructed
# records precisely.
def _w05_records(member: int, n_docs: int = 12) -> "list[tuple]":
    out = []
    for i in range(n_docs):
        k = member * n_docs + i
        text = (
            f"doc {k}: Hello crawl world numero {k}.\n"
            + "café naïve 世界 " * (k % 3)
            + f"line two of {k}"
        )
        out.append(
            (
                f"<urn:uuid:rec-{member}-{i}>",
                f"https://example.com/m{member}/p{i}",
                f"2026-08-{(k % 27) + 1:02d}T00:00:{i:02d}Z",
                text,
            )
        )
    return out


def _w05_member_bytes(member: int) -> bytes:
    def rec(headers: "list[bytes]", payload: bytes) -> bytes:
        h = [b"WARC/1.0"] + headers + [
            b"Content-Length: " + str(len(payload)).encode()
        ]
        return b"\r\n".join(h) + b"\r\n\r\n" + payload + b"\r\n\r\n"

    body = rec(
        [b"WARC-Type: warcinfo", b"WARC-Record-ID: <urn:uuid:info>"],
        b"software: synthetic-wet 1.0\r\n",
    )
    for rid, url, date, text in _w05_records(member):
        body += rec(
            [
                b"WARC-Type: conversion",
                b"WARC-Record-ID: " + rid.encode(),
                b"WARC-Target-URI: " + url.encode(),
                b"WARC-Date: " + date.encode(),
            ],
            text.encode("utf-8"),
        )
    return body


def w05_wet_ingest(spark, sf):
    """WET crawl ingestion end-to-end (sources/warc.py:read_wet): two
    gzip member files (one with a lying extension — magic bytes must
    win) are written to a fresh temp dir, read file-parallel through
    binaryFile + mapInPandas, warcinfo preambles filtered, payloads
    sliced by Content-Length BYTES and utf-8 decoded.  The oracle
    serializes the SAME record constructor to VALUES, so any mis-framing
    (char vs byte lengths, CRLF handling, member boundaries) diverges.
    n_chars adds a downstream computed column over the decoded text.
    Scale shape: one task per member — the production WARC unit of
    parallelism — bytes never on the driver, zero shuffle."""
    import gzip as _gzip
    import tempfile

    from dfsql_spark.sources.warc import read_wet

    d = tempfile.mkdtemp(prefix="dfsql-w05-")
    with open(f"{d}/m0.warc.wet.gz", "wb") as f:
        f.write(_gzip.compress(_w05_member_bytes(0)))
    with open(f"{d}/m1.warc.wet", "wb") as f:  # gzipped, extension lies
        f.write(_gzip.compress(_w05_member_bytes(1)))
    wet = read_wet(spark, d)
    return wet.select(
        "record_id",
        "url",
        "date",
        "content_length",
        "text",
        F.length("text").cast("int").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# entry points: release_caches(), entry(), queries(), oracle_sql()
# ---------------------------------------------------------------------------

def release_caches() -> int:
    """Unpersist every materialization the entry module and the dedup
    operators are holding (shared shingle sets, exact-pair ground
    truth, operator-internal signature persists) and clear the
    per-sf_dir memo dicts.  Returns the number of persists released.

    Long-lived cluster sessions should call this after a dedup batch:
    Spark's CacheManager holds persisted blocks until unpersist() or
    session stop, so the module-level memoization would otherwise pin
    executor memory for the session's lifetime.
    """
    from dfsql_spark.operators import dedup as _dedup

    # The memoized DataFrames were all persisted via the operators'
    # _persist, so they're already tracked in the dedup module's
    # registry — clearing the memo dicts here and letting
    # release_persists() do the unpersisting counts each persist
    # exactly once.
    _SHINGLE_CACHE.clear()
    _EXACT_PAIRS_CACHE.clear()
    return _dedup.release_persists()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q22_flagship_revenue(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """All 100 contract queries in name order, each backed by an
    ``oracle_sql()`` entry."""
    return {
        "a01_asof_join": a01_asof_join,
        "a02_range_join": a02_range_join,
        "c01_code_filters": c01_code_filters,
        "d01_dedup_exact": d01_dedup_exact,
        "d02_dedup_ngram_jaccard": d02_dedup_ngram_jaccard,
        "d03_dedup_minhash_lsh": d03_dedup_minhash_lsh,
        "d04_dedup_simhash": d04_dedup_simhash,
        "d05_embedding_neardup": d05_embedding_neardup,
        "d06_dedup_connected": d06_dedup_connected,
        "d07_decontaminate": d07_decontaminate,
        "d08_semantic_dedup": d08_semantic_dedup,
        "d10_winnow_overlap": d10_winnow_overlap,
        "d11_line_dedup": d11_line_dedup,
        "d12_incremental_dedup": d12_incremental_dedup,
        "d13_semantic_decontaminate": d13_semantic_decontaminate,
        "d16_dedup_report": d16_dedup_report,
        "e01_windowed_counts": e01_windowed_counts,
        "e02_sessionize": e02_sessionize,
        "e06_stream_dedupe": e06_stream_dedupe,
        "e07_interval_join": e07_interval_join,
        "e09_stream_upsert_sink": e09_stream_upsert_sink,
        "f01_custom_agg_sql": f01_custom_agg_sql,
        "f02_custom_scalar_sql": f02_custom_scalar_sql,
        "m01_media_stats": m01_media_stats,
        "m02_media_decode": m02_media_decode,
        "n01_html_to_text": n01_html_to_text,
        "p01_curation_pipeline": p01_curation_pipeline,
        "q01_projection": q01_projection,
        "q02_filter": q02_filter,
        "q03_cast": q03_cast,
        "q04_distinct": q04_distinct,
        "q05_orderby_limit_offset": q05_orderby_limit_offset,
        "q06_groupby_agg": q06_groupby_agg,
        "q07_groupby_expr": q07_groupby_expr,
        "q08_implicit_agg": q08_implicit_agg,
        "q09_count_distinct": q09_count_distinct,
        "q10_having_alias": q10_having_alias,
        "q11_join_inner": q11_join_inner,
        "q12_join_left": q12_join_left,
        "q13_join_right": q13_join_right,
        "q14_join_full": q14_join_full,
        "q15_self_join": q15_self_join,
        "q16_in_subquery": q16_in_subquery,
        "q17_scalar_subquery": q17_scalar_subquery,
        "q18_from_subquery": q18_from_subquery,
        "q19_like_regex": q19_like_regex,
        "q20_string_funcs": q20_string_funcs,
        "q21_power": q21_power,
        "q22_flagship_revenue": q22_flagship_revenue,
        "q23_case_when": q23_case_when,
        "q25_except_intersect": q25_except_intersect,
        "q26_anti_join": q26_anti_join,
        "q27_window_topk": q27_window_topk,
        "q28_rollup": q28_rollup,
        "q29_exists_correlated": q29_exists_correlated,
        "q30_grouping_sets": q30_grouping_sets,
        "q31_pivot": q31_pivot,
        "q32_window_sql": q32_window_sql,
        "s01_sim_topk": s01_sim_topk,
        "s03_sim_ivf": s03_sim_ivf,
        "s04_sim_pq": s04_sim_pq,
        "s05_bm25": s05_bm25,
        "s06_mmr_rerank": s06_mmr_rerank,
        "s07_ann_recall": s07_ann_recall,
        "sk02_salted_join": sk02_salted_join,
        "t01_text_stats": t01_text_stats,
        "t02_quality_score": t02_quality_score,
        "t03_lang_id": t03_lang_id,
        "t04_fingerprint": t04_fingerprint,
        "t05_token_count": t05_token_count,
        "t06_deterministic_split": t06_deterministic_split,
        "t07_vocab_topk": t07_vocab_topk,
        "t08_pii_scrub": t08_pii_scrub,
        "t09_pack_sequences": t09_pack_sequences,
        "t10_stratified_sample": t10_stratified_sample,
        "t11_repetition": t11_repetition,
        "t12_c4_filters": t12_c4_filters,
        "t13_mix_rebalance": t13_mix_rebalance,
        "t15_unigram_familiarity": t15_unigram_familiarity,
        "t16_chunk_documents": t16_chunk_documents,
        "t17_hashed_embeddings": t17_hashed_embeddings,
        "t20_epoch_shuffle": t20_epoch_shuffle,
        "t22_bpe_pair_counts": t22_bpe_pair_counts,
        "t24_gopher_filters": t24_gopher_filters,
        "t25_dsir_weights": t25_dsir_weights,
        "t26_tfidf_top_terms": t26_tfidf_top_terms,
        "t27_grouped_split": t27_grouped_split,
        "t28_vocab_coverage": t28_vocab_coverage,
        "t29_packing_report": t29_packing_report,
        "w01_url_dedup": w01_url_dedup,
        "w03_link_graph_report": w03_link_graph_report,
        "w04_pagerank": w04_pagerank,
        "w05_wet_ingest": w05_wet_ingest,
        "x01_approx_distinct_pruned": x01_approx_distinct_pruned,
        "x04_snapshot_diff": x04_snapshot_diff,
        "x05_quality_checks": x05_quality_checks,
        "x06_column_profile": x06_column_profile,
        "x07_group_keep_report": x07_group_keep_report,
        "x08_distribution_drift": x08_distribution_drift,
        "x09_stable_ids": x09_stable_ids,
    }


def _n01_oracle() -> str:
    """DuckDB mirror of n01_html_to_text: the IDENTICAL html envelope
    built in SQL, then the extraction chain re-spelled from the SAME
    exported regex/entity constants (the test_operators mirror,
    parameterized over the synthetic envelope)."""
    from dfsql_spark.operators.web import (
        HTML_BLOCK_RE,
        HTML_DROP_RE,
        HTML_ENTITIES,
        HTML_TAG_RE,
    )

    html = (
        "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)"
        " || ' &amp; friends</title><style>p{color:red}</style></head>"
        "<body><script>var x = 1 < 2;</script><h1>Doc '"
        " || CAST(doc_id AS VARCHAR) || '</h1><p>'"
        " || coalesce(text, '') || ' &lt;eof&gt;</p></body></html>'"
    )
    expr = f"regexp_replace(html, '{HTML_DROP_RE}', ' ', 'gs')"
    expr = f"regexp_replace({expr}, '{HTML_BLOCK_RE}', chr(10), 'g')"
    expr = f"regexp_replace({expr}, '{HTML_TAG_RE}', ' ', 'gs')"
    title = r"regexp_extract(html, '(?is)<title[^>]*>(.*?)</title\s*>', 1)"
    for ent, ch in HTML_ENTITIES:
        lit = ch.replace("'", "''")
        expr = f"replace({expr}, '{ent}', '{lit}')"
        title = f"replace({title}, '{ent}', '{lit}')"
    expr = f"regexp_replace({expr}, '[ \\t\\f\\x0B]+', ' ', 'g')"
    expr = f"regexp_replace({expr}, ' ?\\n[ \\n]*', chr(10), 'g')"
    expr = f"regexp_replace({expr}, '^[ \\n]+|[ \\n]+$', '', 'g')"
    title = f"nullif(trim(regexp_replace({title}, '\\s+', ' ', 'g')), '')"
    return f"""
            WITH wrapped AS (SELECT doc_id, {html} AS html FROM documents)
            SELECT doc_id, {title} AS title, {expr} AS text
            FROM wrapped
        """


def _c01_oracle() -> str:
    """DuckDB mirror of c01_code_filters: the IDENTICAL synthetic
    source file built in SQL, then The Stack structural rules and the
    SPDX-first license detection driven by the SAME exported rule
    tables (the test_operators mirrors, fused)."""
    from dfsql_spark.operators.code import (
        AUTOGEN_HEAD_LINES,
        AUTOGEN_MARKERS,
        LICENSE_MARKERS,
        SPDX_RE,
    )

    content = (
        "CASE CAST(doc_id % 7 AS INT)"
        " WHEN 0 THEN '# SPDX-License-Identifier: Apache-2.0 WITH"
        " LLVM-exception' || chr(10) || coalesce(text, '')"
        " WHEN 1 THEN '/* Permission is hereby granted, free of charge"
        " */' || chr(10) || coalesce(text, '')"
        " WHEN 2 THEN '// Generated by protoc-gen. DO NOT EDIT!'"
        " || chr(10) || coalesce(text, '')"
        " WHEN 3 THEN coalesce(text, '') || chr(10) || repeat('x', 1200)"
        " ELSE coalesce(text, '') || chr(10) || 'return 0;' END"
    )
    lic_case = " ".join(
        f"WHEN contains(lic_head, '{p}') THEN '{lic}'"
        for lic, p in LICENSE_MARKERS
    )
    head_sql = (
        f"lower(array_to_string(list_slice(str_split(c, chr(10)), 1, "
        f"{AUTOGEN_HEAD_LINES}), chr(10)))"
    )
    autogen_or = " OR ".join(
        f"contains({head_sql}, '{m}')" for m in AUTOGEN_MARKERS
    )
    mean_sql = (
        "CASE WHEN n_lines > 0"
        " THEN (n_chars - (n_lines - 1)) / n_lines::DOUBLE"
        " ELSE 0.0 END"
    )
    alnum_sql = (
        "CASE WHEN n_chars > 0 THEN n_alnum / n_chars::DOUBLE"
        " ELSE 0.0 END"
    )
    return f"""
            WITH base AS (
                SELECT doc_id, {content} AS c FROM documents
            ), feats AS (
                SELECT doc_id,
                       CAST(len(str_split(c, chr(10))) AS INT) AS n_lines,
                       CAST(coalesce(list_max(list_transform(
                           str_split(c, chr(10)), x -> length(x))), 0)
                           AS INT) AS max_line_len,
                       length(c) AS n_chars,
                       length(regexp_replace(c, '[^A-Za-z0-9]', '', 'g'))
                           AS n_alnum,
                       ({autogen_or}) AS is_autogen,
                       lower(substr(c, 1, 4000)) AS lic_head
                FROM base
            )
            SELECT doc_id, n_lines, max_line_len,
                   {mean_sql} AS mean_line_len,
                   {alnum_sql} AS alnum_frac,
                   is_autogen,
                   n_chars > 0 AND max_line_len <= 1000
                   AND ({mean_sql}) <= 100.0
                   AND ({alnum_sql}) >= 0.25
                   AND NOT is_autogen AS keep_file,
                   CASE WHEN trim(regexp_extract(lic_head, '{SPDX_RE}', 1))
                            <> ''
                        THEN trim(regexp_extract(lic_head, '{SPDX_RE}', 1))
                        ELSE CASE {lic_case} END
                   END AS license
            FROM feats
        """


# lineitem's fixed testdata schema (TESTDATA.md) spelled as Spark
# simpleString dtypes — x06's oracle profiles column-by-column from
# this list; the entry reads the same schema from the parquet footer,
# so a drift would fail the dtype column first.
_X06_LINEITEM_COLS = (
    ("l_orderkey", "bigint", True),
    ("l_partkey", "bigint", True),
    ("l_suppkey", "bigint", True),
    ("l_linenumber", "int", True),
    ("l_quantity", "double", True),
    ("l_extendedprice", "double", True),
    ("l_discount", "double", True),
    ("l_tax", "double", True),
    ("l_returnflag", "string", False),
    ("l_linestatus", "string", False),
    ("l_shipdate", "timestamp_ntz", False),
)


def _x06_oracle() -> str:
    """DuckDB mirror of x06_column_profile: one UNION ALL branch per
    lineitem column (the test_operators mirror with the counts cast
    to BIGINT).  The numeric grade is the exact decimal ``sum_num``
    (DECIMAL(27,2) sums are bit-identical across engines; one cast to
    double each side), NOT a rounded double mean — see the entry
    docstring for the boundary-flip lesson."""
    pieces = []
    for c, dt, numeric in _X06_LINEITEM_COLS:
        if numeric:
            mm = (
                f"min({c})::DOUBLE AS min_num, max({c})::DOUBLE AS max_num,"
                f" CAST(sum(CAST({c} AS DECIMAL(27,2))) AS DOUBLE)"
                "   AS sum_num,"
                " NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str"
            )
        else:
            mm = (
                "NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num,"
                " NULL::DOUBLE AS sum_num,"
                f" min({c})::VARCHAR AS min_str,"
                f" max({c})::VARCHAR AS max_str"
            )
        pieces.append(
            f"SELECT '{c}' AS column, '{dt}' AS dtype,"
            f" CAST(count(*) AS BIGINT) AS n_rows,"
            f" CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f"   AS n_null,"
            f" sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
            f"   / count(*)::DOUBLE AS null_frac,"
            f" CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,"
            f" {mm} FROM lineitem"
        )
    return " UNION ALL ".join(pieces)


def _duck_enc(col: str) -> str:
    """DuckDB spelling of versioning.py's injective canonical
    encoding: NULL -> chr(0); value -> char_length ':' value."""
    v = f"CAST({col} AS VARCHAR)"
    return (
        f"CASE WHEN {col} IS NULL THEN chr(0)"
        f" ELSE CAST(length({v}) AS VARCHAR) || ':' || {v} END"
    )


def _x09_oracle() -> str:
    """DuckDB mirror of x09_stable_ids: rebuild the md5 id from
    source, the md5 fingerprint from (doc_id, text) — both over the
    SAME length-prefixed canonical encoding — then the pair collapse
    and the two offender aggregates."""
    return f"""
        WITH pairs AS (
            SELECT substring(md5({_duck_enc("source")}), 1, 16) AS id,
                   md5({_duck_enc("doc_id")} || chr(31)
                       || {_duck_enc("text")}) AS fp,
                   count(*) AS n
            FROM documents GROUP BY 1, 2
        ), c AS (
            SELECT 'collision' AS kind, id AS key,
                   count(*)::INT AS n_peers, sum(n)::BIGINT AS n_rows
            FROM pairs GROUP BY id HAVING count(*) > 1
        ), f AS (
            SELECT 'fragmentation' AS kind, fp AS key,
                   count(*)::INT AS n_peers, sum(n)::BIGINT AS n_rows
            FROM pairs GROUP BY fp HAVING count(*) > 1
        )
        SELECT * FROM c UNION ALL SELECT * FROM f
    """


def _w03_oracle() -> str:
    """DuckDB mirror of w03_link_graph_report: the identical
    md5-bucket edge construction, then every report aggregate over
    the distinct edge relation (reciprocity = one IEEE division of
    two exact counts)."""
    return """
        WITH e AS (
            SELECT DISTINCT
                substring(md5('lgs:' || CAST(doc_id AS VARCHAR)), 1, 2)
                    AS src,
                substring(md5('lgd:' || CAST(doc_id AS VARCHAR)), 1, 2)
                    AS dst
            FROM documents
        ), nodes AS (
            SELECT src AS node FROM e UNION SELECT dst FROM e
        ), outdeg AS (
            SELECT src, count(*) AS d FROM e GROUP BY src
        ), nl AS (SELECT * FROM e WHERE src <> dst)
        SELECT (SELECT count(*) FROM nodes) AS n_nodes,
               (SELECT count(*) FROM e) AS n_edges,
               (SELECT CAST(sum(CASE WHEN src = dst THEN 1 ELSE 0 END)
                       AS BIGINT) FROM e) AS n_self_loops,
               (SELECT count(*) FROM nodes
                WHERE node NOT IN (SELECT src FROM e)) AS n_dangling,
               (SELECT max(d) FROM outdeg) AS max_out_degree,
               CASE WHEN (SELECT count(*) FROM nl) > 0
                    THEN (SELECT count(*) FROM nl a
                          WHERE EXISTS (SELECT 1 FROM nl b
                                        WHERE b.src = a.dst
                                          AND b.dst = a.src))
                         / CAST((SELECT count(*) FROM nl) AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END AS reciprocity
    """


def _w04_oracle() -> str:
    """DuckDB mirror of w04_pagerank: the SAME edge list serialized
    to VALUES and 5 rounds unrolled as CTEs with the operator's exact
    arithmetic shape — base + d*(coalesce(mass,0) + dm/n), weights
    1.0/deg, initial rank 1/n.  Bit-identical because every aggregate
    on this graph sums <= 2 doubles (see _w04_edges)."""
    edges = _w04_edges()
    n, d, iters = 40, 0.85, 5
    base = (1.0 - d) / n
    vals = ", ".join(f"('{s}','{t}')" for s, t in edges)
    parts = [
        f"WITH edges(src, dst) AS (VALUES {vals})",
        ", nodes AS (SELECT DISTINCT src AS node FROM edges"
        " UNION SELECT DISTINCT dst FROM edges)",
        ", deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        ", w AS (SELECT e.src, e.dst, CAST(1.0 AS DOUBLE)/deg.deg AS w"
        " FROM edges e JOIN deg ON e.src = deg.src)",
        f", r0 AS (SELECT node, CAST(1.0 AS DOUBLE)/{n} AS rank"
        " FROM nodes)",
    ]
    for k in range(iters):
        parts.append(
            f", d{k} AS (SELECT COALESCE(sum(rank), CAST(0.0 AS DOUBLE))"
            f" AS dm FROM r{k}"
            " WHERE node NOT IN (SELECT src FROM edges))"
            f", c{k} AS (SELECT w.dst AS node, sum(w.w * r.rank) AS mass"
            f" FROM w JOIN r{k} r ON w.src = r.node GROUP BY w.dst)"
            f", r{k + 1} AS (SELECT n.node,"
            f" CAST({base!r} AS DOUBLE) + CAST({d!r} AS DOUBLE)"
            f" * (COALESCE(c.mass, CAST(0.0 AS DOUBLE))"
            f" + dd.dm / CAST({n} AS DOUBLE)) AS rank"
            f" FROM nodes n LEFT JOIN c{k} c ON n.node = c.node"
            f" CROSS JOIN d{k} dd)"
        )
    parts.append(f" SELECT node, rank FROM r{iters}")
    return "".join(parts)


def _w05_oracle() -> str:
    """DuckDB mirror of w05_wet_ingest: the SAME record constructor
    (_w05_records) serialized to VALUES — content_length as utf-8
    BYTE length, n_chars as character length — so the byte-exact
    parse is value-checked end to end."""
    rows = []
    for member in (0, 1):
        for rid, url, date, text in _w05_records(member):
            t = text.replace("'", "''")
            rows.append(
                f"('{rid}', '{url}', '{date}',"
                f" {len(text.encode('utf-8'))}, '{t}', {len(text)})"
            )
    return (
        "SELECT record_id, url, date,"
        " CAST(content_length AS BIGINT) AS content_length, text,"
        " CAST(n_chars AS INT) AS n_chars FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(record_id, url, date, content_length, text, n_chars)"
    )


def oracle_sql() -> dict[str, str]:
    return {
        "n01_html_to_text": _n01_oracle(),
        "c01_code_filters": _c01_oracle(),
        "x06_column_profile": _x06_oracle(),
        "x09_stable_ids": _x09_oracle(),
        "w03_link_graph_report": _w03_oracle(),
        "w04_pagerank": _w04_oracle(),
        "w05_wet_ingest": _w05_oracle(),
        "q32_window_sql": _Q32_SQL.format(table="orders"),
        "t26_tfidf_top_terms": """
            WITH toks AS (
                SELECT doc_id, unnest(list_filter(
                    regexp_split_to_array(coalesce(lower(text), ''), '\\s+'),
                    x -> x <> '')) AS term
                FROM documents
            ), tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM toks GROUP BY doc_id, term
            ), dfreq AS (
                SELECT term, count(*) AS df_t FROM tf GROUP BY term
            ), n AS (SELECT count(*) AS n FROM documents),
            scored AS (
                SELECT tf.doc_id, tf.term, tf.tf, dfreq.df_t,
                       tf.tf * (ln((1 + n.n) / (1 + df_t)::DOUBLE) + 1.0)
                           AS score
                FROM tf, dfreq, n
                WHERE tf.term = dfreq.term
                  AND df_t >= 2 AND df_t <= 0.9 * n.n
            ), ranked AS (
                SELECT *, CAST(row_number() OVER (
                    PARTITION BY doc_id ORDER BY score DESC, term ASC
                ) AS INT) AS rank
                FROM scored
            )
            SELECT doc_id, term, tf, df_t,
                   round(score, 6) AS score, rank
            FROM ranked WHERE rank <= 3
        """,
        # t27: the shared _salted_bucket md5 contract (salt 'gsplit',
        # buckets 10000) applied to the GROUP value — default 90/5/5
        # edges; NULL groups stay NULL (flag, don't guess)
        "t27_grouped_split": """
            SELECT doc_id, source,
                   CASE WHEN source IS NULL THEN NULL
                        WHEN CAST('0x' || substr(md5('gsplit:' || source), 1, 8)
                             AS BIGINT) % 10000 < 9000 THEN 'train'
                        WHEN CAST('0x' || substr(md5('gsplit:' || source), 1, 8)
                             AS BIGINT) % 10000 < 9500 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        # t28: same tokenizer, same count-value histogram, same
        # cumulative ceil arithmetic — covered_frac is exact int/int
        "t28_vocab_coverage": """
            WITH toks AS (
                SELECT unnest(list_filter(
                    regexp_split_to_array(coalesce(lower(text), ''), '\\s+'),
                    x -> x <> '')) AS t
                FROM documents
            ), vocab AS (
                SELECT t, count(*) AS c FROM toks GROUP BY t
            ), hist AS (
                SELECT c, CAST(count(*) AS BIGINT) AS n_types
                FROM vocab GROUP BY c
            ), cum AS (
                SELECT c, n_types, c * n_types AS mass,
                       sum(c * n_types) OVER (ORDER BY c DESC) AS cum_mass,
                       sum(n_types) OVER (ORDER BY c DESC) AS cum_types,
                       sum(c * n_types) OVER () AS total
                FROM hist
            ), fr AS (
                SELECT CAST(unnest([0.5, 0.9, 0.95, 0.99]) AS DOUBLE)
                           AS mass_frac
            )
            SELECT fr.mass_frac,
                   CAST(cum_types - n_types
                        + ceil((mass_frac * total - (cum_mass - mass)) / c)
                        AS BIGINT) AS n_types,
                   ((cum_mass - mass)
                    + ceil((mass_frac * total - (cum_mass - mass)) / c) * c)
                       / total::DOUBLE AS covered_frac
            FROM cum JOIN fr
              ON cum_mass >= mass_frac * total
             AND cum_mass - mass < mass_frac * total
        """,
        # t29: replay t09's greedy packing recurrence (recursive CTE),
        # then the report rollup; fills are k/512 dyadic-exact, the
        # mean/waste pair rides the 6-dp float contract
        "t29_packing_report": """
            WITH RECURSIVE d AS (
                SELECT doc_id, source,
                       CAST(least(len(list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                                                  x -> x <> '')), 512) AS INT) AS doc_tokens,
                       ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
                FROM documents
            ), pack AS (
                SELECT doc_id, source, rn, doc_tokens,
                       CAST(0 AS BIGINT) AS seq_id, doc_tokens AS cum
                FROM d WHERE rn = 1
                UNION ALL
                SELECT d.doc_id, d.source, d.rn, d.doc_tokens,
                       CASE WHEN p.cum + d.doc_tokens > 512
                            THEN p.seq_id + 1 ELSE p.seq_id END,
                       CASE WHEN p.cum + d.doc_tokens > 512
                            THEN d.doc_tokens ELSE p.cum + d.doc_tokens END
                FROM d JOIN pack p
                  ON d.source = p.source AND d.rn = p.rn + 1
            ), per_seq AS (
                SELECT source, seq_id,
                       CAST(sum(doc_tokens) AS BIGINT) AS fill,
                       CAST(count(*) AS BIGINT) AS nd
                FROM pack GROUP BY source, seq_id
            )
            SELECT CAST(count(*) AS BIGINT) AS n_sequences,
                   CAST(sum(nd) AS BIGINT) AS n_docs,
                   CAST(sum(fill) AS BIGINT) AS total_tokens,
                   512 AS budget,
                   round(avg(fill / 512.0), 6) AS mean_fill,
                   min(fill / 512.0) AS min_fill,
                   max(fill / 512.0) AS max_fill,
                   round(1.0 - avg(fill / 512.0), 6) AS waste_frac
            FROM per_seq
        """,
        # x08: full PSI reconstruction — old edges/heads, the
        # collision-proof 'v:' value labels, epsilon floor, round 6;
        # labels are internal so only the per-column aggregates surface
        "x08_distribution_drift": """
            WITH newsnap AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 3 = 0 THEN n_chars * 2
                            ELSE n_chars END AS n_chars,
                       CASE WHEN doc_id % 5 = 0 THEN 'srcX' ELSE source END
                           AS source
                FROM documents WHERE doc_id % 97 <> 0
            ), edges AS (
                SELECT min(n_chars)::DOUBLE AS lo,
                       (max(n_chars)::DOUBLE - min(n_chars)::DOUBLE) / 10.0
                           AS width
                FROM documents
            ), heads AS (
                SELECT source AS v FROM documents WHERE source IS NOT NULL
                GROUP BY source ORDER BY count(*) DESC, source ASC LIMIT 3
            ), bo AS (
                SELECT 'n_chars' AS "column",
                       CASE WHEN n_chars IS NULL THEN '__null__'
                            ELSE 'b' || CAST(least(greatest(CAST(floor(
                                (n_chars::DOUBLE - lo) / width) AS INT), 0), 9)
                                AS VARCHAR) END AS bucket,
                       count(*) AS n FROM documents, edges GROUP BY 1, 2
                UNION ALL
                SELECT 'source',
                       CASE WHEN source IS NULL THEN '__null__'
                            WHEN source IN (SELECT v FROM heads)
                                THEN 'v:' || source
                            ELSE '__other__' END,
                       count(*) FROM documents GROUP BY 1, 2
            ), bn AS (
                SELECT 'n_chars' AS "column",
                       CASE WHEN n_chars IS NULL THEN '__null__'
                            ELSE 'b' || CAST(least(greatest(CAST(floor(
                                (n_chars::DOUBLE - lo) / width) AS INT), 0), 9)
                                AS VARCHAR) END AS bucket,
                       count(*) AS n FROM newsnap, edges GROUP BY 1, 2
                UNION ALL
                SELECT 'source',
                       CASE WHEN source IS NULL THEN '__null__'
                            WHEN source IN (SELECT v FROM heads)
                                THEN 'v:' || source
                            ELSE '__other__' END,
                       count(*) FROM newsnap GROUP BY 1, 2
            ), h AS (
                SELECT coalesce(bo."column", bn."column") AS "column",
                       coalesce(bo.bucket, bn.bucket) AS bucket,
                       coalesce(bo.n, 0) AS n_old, coalesce(bn.n, 0) AS n_new
                FROM bo FULL OUTER JOIN bn
                  ON bo."column" = bn."column" AND bo.bucket = bn.bucket
            ), t AS (
                SELECT "column", sum(n_old) AS t_old, sum(n_new) AS t_new
                FROM h GROUP BY "column"
            )
            SELECT h."column",
                   CASE h."column" WHEN 'n_chars' THEN 'numeric'
                        ELSE 'categorical' END AS kind,
                   round(sum((greatest(n_new / t_new::DOUBLE, 1e-6)
                              - greatest(n_old / t_old::DOUBLE, 1e-6))
                             * ln(greatest(n_new / t_new::DOUBLE, 1e-6)
                                  / greatest(n_old / t_old::DOUBLE, 1e-6))),
                         6) AS psi,
                   CAST(count(*) AS INT) AS n_buckets,
                   coalesce(sum(CASE WHEN bucket = '__null__' THEN n_old END)
                            / max(t_old)::DOUBLE, 0.0) AS null_frac_old,
                   coalesce(sum(CASE WHEN bucket = '__null__' THEN n_new END)
                            / max(t_new)::DOUBLE, 0.0) AS null_frac_new
            FROM h JOIN t ON h."column" = t."column"
            GROUP BY h."column"
        """,
        # x07: exact counts + the closed-form Wilson interval from the
        # same z; n excludes NULL flags (counted separately); rates
        # rounded to 6 dp on both sides (the x06 float contract)
        "x07_group_keep_report": """
            WITH f AS (
                SELECT lang,
                       CASE WHEN doc_id % 11 = 0 THEN NULL
                            ELSE n_chars > 200 END AS keep
                FROM documents
            ), g AS (
                SELECT lang,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(count(CASE WHEN keep THEN 1 END) AS BIGINT)
                           AS n_kept,
                       CAST(count(CASE WHEN keep IS NULL THEN 1 END)
                            AS BIGINT) AS n_flag_null
                FROM f GROUP BY lang
            ), w AS (
                SELECT lang, n_docs, n_kept, n_flag_null,
                       (n_docs - n_flag_null)::DOUBLE AS n,
                       n_kept::DOUBLE AS k,
                       1.959963984540054 AS z
                FROM g
            )
            SELECT lang, n_docs, n_kept, n_flag_null,
                   CASE WHEN n > 0 THEN round(k / n, 6) END AS keep_rate,
                   CASE WHEN n > 0 THEN round(greatest(
                       ((k / n) + z*z/(2*n)) / (1 + z*z/n)
                       - z * sqrt((k / n) * (1 - k / n) / n
                                  + z*z/(4*n*n)) / (1 + z*z/n),
                       0.0), 6) END AS ci_low,
                   CASE WHEN n > 0 THEN round(least(
                       ((k / n) + z*z/(2*n)) / (1 + z*z/n)
                       + z * sqrt((k / n) * (1 - k / n) / n
                                  + z*z/(4*n*n)) / (1 + z*z/n),
                       1.0), 6) END AS ci_high
            FROM w
        """,
        "s07_ann_recall": """
            WITH qt AS (
                SELECT vec_id AS query_id, embedding
                FROM embeddings WHERE vec_id < 8
            ), truth AS (
                SELECT query_id, neighbor_id FROM (
                    SELECT q.query_id, e.vec_id AS neighbor_id,
                           ROW_NUMBER() OVER (
                               PARTITION BY q.query_id
                               ORDER BY list_cosine_similarity(
                                   CAST(e.embedding AS DOUBLE[]),
                                   CAST(q.embedding AS DOUBLE[])
                               ) DESC, e.vec_id ASC
                           ) AS rank
                    FROM embeddings e CROSS JOIN qt q
                ) t WHERE rank <= 5
            ), sq AS (
                SELECT vec_id, list_transform(
                    CAST(embedding AS DOUBLE[]),
                    x -> CASE WHEN x >= 0 THEN 1.0 ELSE -1.0 END
                ) AS embedding
                FROM embeddings
            ), qa AS (
                SELECT vec_id AS query_id, embedding
                FROM sq WHERE vec_id < 8
            ), approx AS (
                SELECT query_id, neighbor_id FROM (
                    SELECT q.query_id, e.vec_id AS neighbor_id,
                           ROW_NUMBER() OVER (
                               PARTITION BY q.query_id
                               ORDER BY list_cosine_similarity(
                                   e.embedding, q.embedding
                               ) DESC, e.vec_id ASC
                           ) AS rank
                    FROM sq e CROSS JOIN qa q
                ) t WHERE rank <= 5
            ), rep AS (
                SELECT truth.query_id,
                       count(*) AS n_truth,
                       coalesce(sum(CASE WHEN approx.neighbor_id
                                         IS NOT NULL THEN 1 END), 0)
                           AS n_hit
                FROM truth LEFT JOIN approx USING (query_id, neighbor_id)
                GROUP BY truth.query_id
            )
            SELECT CAST(count(*) AS BIGINT) AS n_queries,
                   round(avg(n_hit / n_truth::DOUBLE), 6) AS macro_recall,
                   CAST(sum(n_hit) AS DOUBLE) / sum(n_truth)
                       AS micro_recall,
                   min(n_hit / n_truth::DOUBLE) AS min_recall,
                   avg(CASE WHEN n_hit = n_truth THEN 1.0 ELSE 0.0 END)
                       AS frac_perfect
            FROM rep
        """,
        "q01_projection": """
            SELECT l_orderkey, l_linenumber,
                   l_extendedprice * (1 - l_discount) AS disc_price,
                   UPPER(l_returnflag) AS rf
            FROM lineitem
        """,
        "q02_filter": """
            SELECT o_orderkey, o_custkey, o_totalprice AS price,
                   strftime(o_orderdate, '%Y-%m-%d') AS odate
            FROM orders
            WHERE o_totalprice > 100000 AND o_orderstatus = 'O'
        """,
        "q03_cast": """
            SELECT l_orderkey, l_linenumber,
                   CAST(FLOOR(l_quantity) AS BIGINT) AS qty_int,
                   CAST(l_orderkey AS VARCHAR) AS okey_str
            FROM lineitem
        """,
        "q04_distinct": """
            SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        """,
        "q05_orderby_limit_offset": """
            SELECT o_orderkey, o_totalprice AS price
            FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 20 OFFSET 5
        """,
        "q06_groupby_agg": """
            SELECT l_returnflag, l_linestatus,
                   SUM(l_quantity) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                        AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,4)))
                        AS DOUBLE) AS sum_disc_price,
                   SUM(l_quantity) / COUNT(*) AS avg_qty,
                   MIN(l_quantity) AS min_qty,
                   MAX(l_quantity) AS max_qty,
                   CAST(COUNT(*) AS BIGINT) AS count_order
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
        """,
        "q07_groupby_expr": """
            SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS price_bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE) AS bucket_total
            FROM orders
            GROUP BY 1
        """,
        "q08_implicit_agg": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                        AS DOUBLE) AS total_price,
                   CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
                       / COUNT(*) AS avg_disc,
                   strftime(MIN(l_shipdate), '%Y-%m-%d') AS first_ship,
                   strftime(MAX(l_shipdate), '%Y-%m-%d') AS last_ship
            FROM lineitem
        """,
        "q09_count_distinct": """
            SELECT l_returnflag,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
                   CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_part,
                   CAST(COUNT(l_orderkey) AS BIGINT) AS n_items
            FROM lineitem
            GROUP BY l_returnflag
        """,
        "q10_having_alias": """
            SELECT c_mktsegment,
                   CAST(COUNT(*) AS BIGINT) AS n_cust,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                       / COUNT(*) AS avg_bal
            FROM customer
            GROUP BY c_mktsegment
            HAVING COUNT(*) > 20
        """,
        "q11_join_inner": """
            SELECT o_orderkey, c_name, o_totalprice AS price
            FROM orders JOIN customer ON o_custkey = c_custkey
        """,
        "q12_join_left": """
            SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        """,
        "q13_join_right": """
            SELECT n_nationkey, n_name, CAST(COUNT(c_custkey) AS BIGINT) AS n_cust
            FROM customer RIGHT JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_nationkey, n_name
        """,
        "q14_join_full": """
            WITH agg AS (
                SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                           AS spend
                FROM orders GROUP BY o_custkey
            )
            SELECT COALESCE(c_custkey, o_custkey) AS custkey,
                   COALESCE(n_orders, 0) AS n_orders,
                   c_acctbal AS acctbal
            FROM agg FULL OUTER JOIN customer ON o_custkey = c_custkey
        """,
        "q15_self_join": """
            SELECT c1.c_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM customer c1 JOIN customer c2
              ON c1.c_nationkey = c2.c_nationkey AND c1.c_custkey < c2.c_custkey
            GROUP BY c1.c_nationkey
        """,
        "q16_in_subquery": """
            SELECT o_orderkey, o_custkey
            FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        """,
        "q17_scalar_subquery": """
            SELECT o_orderkey, o_totalprice AS price
            FROM orders
            WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
        """,
        "q18_from_subquery": """
            SELECT * FROM (
                SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                           / COUNT(*) AS avg_price
                FROM orders GROUP BY o_custkey
            ) sub WHERE n >= 3
        """,
        "q19_like_regex": """
            SELECT p_partkey, p_name FROM part
            WHERE regexp_matches(p_name, '^(?:.*widget.*)')
        """,
        "q20_string_funcs": """
            SELECT p_partkey, UPPER(p_name) AS uname, LOWER(p_brand) AS lbrand,
                   p_brand || '-' || p_type AS tag,
                   CAST(LENGTH(p_name) AS INT) AS name_len
            FROM part
        """,
        "q21_power": """
            SELECT l_orderkey, l_linenumber,
                   ROUND(POWER(l_discount, 2), 4) AS disc_sq,
                   ROUND(POWER(2, 0.5), 6) AS root2
            FROM lineitem
        """,
        "q22_flagship_revenue": """
            SELECT n_name,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,4))) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
            ORDER BY revenue DESC, n_name ASC
            LIMIT 10
        """,
        "q23_case_when": """
            SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                        WHEN o_totalprice < 200000 THEN 'medium'
                        ELSE 'large' END AS size_class,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY 1
        """,
        "q25_except_intersect": """
            SELECT 'except' AS leg, nk FROM (
                SELECT c_nationkey AS nk FROM customer
                EXCEPT
                SELECT s_nationkey AS nk FROM supplier WHERE s_nationkey < 13
            ) e
            UNION ALL
            SELECT 'intersect' AS leg, nk FROM (
                SELECT c_nationkey AS nk FROM customer
                INTERSECT
                SELECT s_nationkey AS nk FROM supplier WHERE s_nationkey < 13
            ) i
        """,
        "q26_anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "q28_rollup": """
            SELECT l_returnflag, l_linestatus,
                   SUM(l_quantity) AS sum_qty,
                   SUM(l_extendedprice * (1 - l_discount)) AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem
            GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
        "q30_grouping_sets": """
            SELECT o_orderstatus, o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(SUM(o_totalprice), 2) AS total
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                    (o_orderstatus, o_orderpriority))
        """,
        "q31_pivot": """
            SELECT strftime(o_orderdate, '%Y-%m') AS month,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                        FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS rev_open,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                        FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS rev_filled,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                        FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS rev_partial
            FROM orders
            GROUP BY 1
        """,
        "e07_interval_join": """
            SELECT c.event_id AS click_id, c.user_id,
                   v.event_id AS view_id,
                   epoch_us(c.ts) AS click_us, epoch_us(v.ts) AS view_us,
                   v.value AS view_value
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            JOIN (SELECT * FROM events WHERE event_type = 'view') v
              ON c.user_id = v.user_id
             AND v.ts >= c.ts - INTERVAL 10 MINUTE
             AND v.ts <= c.ts
        """,
        "e06_stream_dedupe": """
            SELECT DISTINCT event_id, user_id, event_type FROM events
        """,
        "q29_exists_correlated": """
            SELECT c_custkey, c_name
            FROM customer c
            WHERE EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000
            )
        """,
        "sk02_salted_join": """
            SELECT c_mktsegment,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "d08_semantic_dedup": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
                   TRUE AS recall_ge_050
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(
                CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])
            ) >= 0.4
        """,
        "t12_c4_filters": """
            WITH base AS (
                SELECT doc_id, text,
                       len(list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                                       x -> x <> '')) AS n_words,
                       string_split(text, chr(10)) AS lines,
                       length(regexp_replace(text, '\\s+', '', 'g')) AS n_wchars
                FROM documents
            )
            SELECT doc_id,
                   CAST(n_words AS INT) AS n_words,
                   CAST(len(lines) AS INT) AS n_lines,
                   len(list_filter(lines,
                       l -> regexp_matches(rtrim(l), '[.!?"]$'))) * 1.0
                       / len(lines) AS term_punct_ratio,
                   n_wchars * 1.0 / n_words AS mean_word_len,
                   contains(text, '{') AS has_curly,
                   contains(lower(text), 'lorem ipsum') AS has_lorem,
                   (n_words >= 50
                    AND n_wchars * 1.0 / n_words >= 3.0
                    AND n_wchars * 1.0 / n_words <= 10.0
                    AND NOT contains(text, '{')
                    AND NOT contains(lower(text), 'lorem ipsum')) AS keep_doc
            FROM base
        """,
        "a01_asof_join": """
            SELECT l.event_id, l.user_id, epoch_us(l.ts) AS click_us,
                   epoch_us(r.rts) AS view_us, r.value AS view_value
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'click') l
            ASOF LEFT JOIN (SELECT user_id AS ruid, ts AS rts, value
                            FROM events WHERE event_type = 'view') r
              ON l.user_id = r.ruid AND l.ts >= r.rts
        """,
        "a02_range_join": """
            SELECT a.event_id AS eid_a, b.event_id AS eid_b
            FROM events a JOIN events b
              ON a.user_id = b.user_id AND a.event_id != b.event_id
             AND a.ts >= b.ts AND a.ts <= b.ts + INTERVAL 5 MINUTE
        """,
        "q27_window_topk": """
            SELECT c_nationkey, c_custkey, c_acctbal AS acctbal, rk
            FROM (
                SELECT c_nationkey, c_custkey, c_acctbal,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY c_nationkey
                           ORDER BY c_acctbal DESC, c_custkey ASC
                       ) AS INT) AS rk
                FROM customer
            ) t WHERE rk <= 3
        """,
        "d01_dedup_exact": """
            SELECT MIN(doc_id) AS survivor_id, CAST(COUNT(*) AS BIGINT) AS n_copies
            FROM (
                SELECT doc_id,
                       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
                FROM documents
            ) t
            GROUP BY norm
        """,
        "d02_dedup_ngram_jaccard": """
            WITH n AS (
                SELECT doc_id AS id,
                       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
                FROM documents
            ),
            sh AS (
                SELECT DISTINCT id,
                       UNNEST(list_distinct(list_transform(
                           range(1, greatest(length(nt), 5) - 3),
                           i -> substring(nt, i, 5)))) AS sh
                FROM n
            ),
            sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
            common AS (
                SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS nc
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
                GROUP BY a.id, b.id
            )
            SELECT id_a, id_b, nc / (sa.sz + sb.sz - nc) AS jaccard
            FROM common
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE nc / (sa.sz + sb.sz - nc) >= 0.6
        """,
        # d03/d04 property oracles: DuckDB independently recomputes the
        # exact-Jaccard ground-truth pair count at the query's
        # threshold; the recall boolean is the engine-side claim (the
        # sketch recovered >= the floor of those pairs), pinned TRUE.
        "d03_dedup_minhash_lsh": """
            WITH n AS (
                SELECT doc_id AS id,
                       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
                FROM documents
            ),
            sh AS (
                SELECT DISTINCT id,
                       UNNEST(list_distinct(list_transform(
                           range(1, greatest(length(nt), 5) - 3),
                           i -> substring(nt, i, 5)))) AS sh
                FROM n
            ),
            sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
            common AS (
                SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS nc
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
                GROUP BY a.id, b.id
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
                   TRUE AS recall_ge_090
            FROM common
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE nc / (sa.sz + sb.sz - nc) >= 0.7
        """,
        "d04_dedup_simhash": """
            WITH n AS (
                SELECT doc_id AS id,
                       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
                FROM documents
            ),
            sh AS (
                SELECT DISTINCT id,
                       UNNEST(list_distinct(list_transform(
                           range(1, greatest(length(nt), 5) - 3),
                           i -> substring(nt, i, 5)))) AS sh
                FROM n
            ),
            sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
            common AS (
                SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS nc
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
                GROUP BY a.id, b.id
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
                   TRUE AS recall_ge_050
            FROM common
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE nc / (sa.sz + sb.sz - nc) >= 0.8
        """,
        "d05_embedding_neardup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(
                CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])
            ) >= 0.3
        """,
        "s01_sim_topk": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5
            )
            SELECT query_id, neighbor_id, rank FROM (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY q.query_id
                           ORDER BY list_cosine_similarity(
                               CAST(e.embedding AS DOUBLE[]),
                               CAST(q.embedding AS DOUBLE[])
                           ) DESC, e.vec_id ASC
                       ) AS INT) AS rank
                FROM embeddings e CROSS JOIN q
            ) t WHERE rank <= 5
        """,
        # s03 property oracle: DuckDB brute-force recomputes each
        # query's exact rank-2 neighbor (rank-1 is the query itself;
        # s01 proves both engines agree on the full cosine ranking);
        # the recall@5 >= 0.6 boolean is the engine-side claim.
        "s03_sim_ivf": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5
            )
            SELECT query_id, neighbor_id AS exact_top2, TRUE AS recall_ge_060
            FROM (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.query_id
                           ORDER BY list_cosine_similarity(
                               CAST(e.embedding AS DOUBLE[]),
                               CAST(q.embedding AS DOUBLE[])
                           ) DESC, e.vec_id ASC
                       ) AS rank
                FROM embeddings e CROSS JOIN q
            ) t WHERE rank = 2
        """,
        "s04_sim_pq": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5
            )
            SELECT query_id, neighbor_id AS exact_top2, TRUE AS recall_ge_060
            FROM (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.query_id
                           ORDER BY list_cosine_similarity(
                               CAST(e.embedding AS DOUBLE[]),
                               CAST(q.embedding AS DOUBLE[])
                           ) DESC, e.vec_id ASC
                       ) AS rank
                FROM embeddings e CROSS JOIN q
            ) t WHERE rank = 2
        """,
        # s05: the same Lucene-BM25 arithmetic, written with the SAME
        # expression tree as the Spark side (constants composed as
        # (1.2 + 1.0), avgdl as CAST(sum AS DOUBLE)/count, 6-decimal
        # idf, integer contribution sum) so every double op is
        # bit-identical; ln() is the only transcendental and its
        # last-ulp exposure is absorbed by the idf rounding.
        "s05_bm25": """
            WITH q(query_id, qtext) AS (
                VALUES (1, 'spark join table'),
                       (2, 'fast query scan'),
                       (3, 'window stream data')
            ),
            docs AS (
                SELECT doc_id,
                       len(list_filter(
                           string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x <> '')) AS dl,
                       list_filter(
                           string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS t
                FROM documents
            ),
            postings AS (
                SELECT doc_id, u.term AS term,
                       count(*) AS tf, any_value(dl) AS dl
                FROM docs, unnest(t) u(term)
                GROUP BY doc_id, u.term
            ),
            qt AS (
                SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id, term
                FROM (
                    SELECT query_id,
                           unnest(list_filter(
                               string_split_regex(trim(lower(qtext)), '\\s+'),
                               x -> x <> '')) AS term
                    FROM q
                )
            ),
            hits AS (
                SELECT * FROM postings
                WHERE term IN (SELECT term FROM qt)
            ),
            dfreq AS (SELECT term, count(*) AS dfq FROM hits GROUP BY term),
            stats AS (
                SELECT count(*) AS n,
                       CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
                FROM docs
            ),
            scored AS (
                SELECT qt.query_id, h.doc_id,
                       CAST(round(
                           (round(ln(1.0 + (s.n - f.dfq + 0.5) / (f.dfq + 0.5)), 6)
                            * ((h.tf * (1.2 + 1.0))
                               / (h.tf + 1.2 * (1.0 - 0.75
                                                + 0.75 * h.dl / s.avgdl))))
                           * 1000000.0
                       ) AS BIGINT) AS c
                FROM hits h
                JOIN dfreq f USING (term)
                JOIN qt ON qt.term = h.term
                CROSS JOIN stats s
            ),
            per AS (
                SELECT query_id, doc_id, sum(c) AS s_int
                FROM scored GROUP BY query_id, doc_id
            )
            SELECT query_id, CAST(rn AS INT) AS rank, doc_id,
                   s_int / 1000000.0 AS score
            FROM (
                SELECT query_id, doc_id, s_int,
                       ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY s_int DESC, doc_id ASC
                       ) AS rn
                FROM per
            ) WHERE rn <= 5
        """,
        "t01_text_stats": """
            WITH t AS (
                SELECT doc_id, text,
                       list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            )
            SELECT doc_id,
                   CAST(length(text) AS INT) AS n_chars,
                   CAST(len(toks) AS INT) AS n_tokens,
                   list_sum(list_transform(toks, x -> length(x))) / len(toks) AS avg_token_len,
                   length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / length(text) AS alpha_ratio,
                   length(regexp_replace(text, '[^0-9]', '', 'g')) / length(text) AS digit_ratio,
                   (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))) / length(text) AS punct_ratio,
                   CAST(len(list_distinct(toks)) AS INT) AS n_unique_tokens,
                   len(list_distinct(toks)) / len(toks) AS ttr
            FROM t
        """,
        "t02_quality_score": """
            WITH s AS (
                SELECT doc_id,
                       len(list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                                       x -> x <> '')) AS n_tokens,
                       length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / length(text) AS alpha_ratio,
                       len(list_distinct(list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                                                     x -> x <> '')))
                           / len(list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                                             x -> x <> '')) AS ttr,
                       (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
                           / length(text) AS punct_ratio
                FROM documents
            )
            SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
                   0.35 * alpha_ratio + 0.25 * ttr
                   + 0.25 * least(n_tokens / 64.0, 1.0)
                   + 0.15 * (1.0 - least(punct_ratio * 4, 1.0)) AS quality
            FROM s
        """,
        "t03_lang_id": """
            WITH t AS (
                SELECT doc_id,
                       list_transform(
                           list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                                       x -> x <> ''),
                           x -> lower(x)) AS low
                FROM documents
            ), h AS (
                SELECT doc_id,
                       CAST(len(list_filter(low, x -> list_contains(
                           ['der','die','das','und','ist','nicht','ein','mit','für','auf'], x))) AS INT) AS hits_de,
                       CAST(len(list_filter(low, x -> list_contains(
                           ['the','a','of','and','to','in','is','that','it','for'], x))) AS INT) AS hits_en,
                       CAST(len(list_filter(low, x -> list_contains(
                           ['el','la','los','y','es','no','un','una','por','para'], x))) AS INT) AS hits_es,
                       CAST(len(list_filter(low, x -> list_contains(
                           ['le','la','les','et','est','pas','un','une','pour','dans'], x))) AS INT) AS hits_fr
                FROM t
            )
            SELECT doc_id, hits_de, hits_en, hits_es, hits_fr,
                   CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
                        WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
                        WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
                        WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
                        ELSE 'fr' END AS lang_pred
            FROM h
        """,
        "d06_dedup_connected": """
            WITH sh AS (SELECT DISTINCT doc_id, s FROM (
                SELECT doc_id,
                       unnest([substr(t, i, 5)
                               for i in range(1, greatest(length(t),5)-3)]) AS s
                FROM (SELECT doc_id,
                             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
                      FROM documents))),
            sz AS (SELECT doc_id, count(*) c FROM sh GROUP BY doc_id),
            p0 AS (SELECT a.doc_id ia, b.doc_id ib, count(*) n
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
            pairs AS (SELECT ia id_a, ib id_b
                      FROM p0 JOIN sz za ON za.doc_id = ia
                              JOIN sz zb ON zb.doc_id = ib
                      WHERE n * 1.0 / (za.c + zb.c - n) >= 0.6),
            edges AS (SELECT id_a s, id_b d FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach AS (
                WITH RECURSIVE r(s, d) AS (
                    SELECT s, d FROM edges
                    UNION
                    SELECT r.s, e.d FROM r JOIN edges e ON r.d = e.s
                ) SELECT * FROM r
            )
            SELECT s AS id, least(s, min(d)) AS component
            FROM reach GROUP BY s
        """,
        # d16: the same shingle -> exact-Jaccard pair relation as
        # d02/d06/d09, then the data-card aggregates over a
        # recursive-CTE transitive closure (cluster sizes are
        # labeling-invariant, so min-reachable-id components suffice).
        "d16_dedup_report": """
            WITH sh AS (SELECT DISTINCT doc_id, s FROM (
                SELECT doc_id,
                       unnest([substr(t, i, 5)
                               for i in range(1, greatest(length(t),5)-3)]) AS s
                FROM (SELECT doc_id,
                             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
                      FROM documents))),
            sz AS (SELECT doc_id, count(*) c FROM sh GROUP BY doc_id),
            p0 AS (SELECT a.doc_id ia, b.doc_id ib, count(*) n
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
            pairs AS (SELECT ia id_a, ib id_b
                      FROM p0 JOIN sz za ON za.doc_id = ia
                              JOIN sz zb ON zb.doc_id = ib
                      WHERE n * 1.0 / (za.c + zb.c - n) >= 0.6),
            edges AS (SELECT id_a s, id_b d FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach AS (
                WITH RECURSIVE r(s, d) AS (
                    SELECT s, d FROM edges
                    UNION
                    SELECT r.s, e.d FROM r JOIN edges e ON r.d = e.s
                ) SELECT * FROM r
            ),
            comp AS (SELECT s AS id, least(s, min(d)) AS component
                     FROM reach GROUP BY s),
            sizes AS (SELECT component, count(*) AS szc
                      FROM comp GROUP BY component),
            und AS (SELECT DISTINCT least(id_a, id_b) AS a,
                           greatest(id_a, id_b) AS b FROM pairs)
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
                   (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_pairs,
                   CAST(sum(szc) AS BIGINT) AS n_dup_docs,
                   CAST(count(*) AS BIGINT) AS n_clusters,
                   CAST(max(szc) AS BIGINT) AS max_cluster_size,
                   CAST(sum(szc) - count(*) AS BIGINT) AS n_removed,
                   sum(szc) / (SELECT count(*) FROM documents)::DOUBLE
                       AS frac_docs_duplicated,
                   (sum(szc) - count(*))
                       / (SELECT count(*) FROM documents)::DOUBLE
                       AS frac_removed
            FROM sizes
        """,
        "t05_token_count": """
            SELECT doc_id,
                   CAST(len(list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                                        x -> x <> '')) AS INT) AS ws_tokens,
                   CAST(len(regexp_extract_all(text, '''[a-z]+|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+', 0)) AS INT) AS bpe_pieces,
                   length(text) * 1.0 / greatest(len(regexp_extract_all(text, '''[a-z]+|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+', 0)), 1) AS chars_per_piece
            FROM documents
        """,
        "t06_deterministic_split": """
            SELECT doc_id,
                   CASE WHEN CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 10000 < 9000
                        THEN 'train'
                        WHEN CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 10000 < 9500
                        THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "t07_vocab_topk": """
            SELECT token, CAST(COUNT(*) AS BIGINT) AS n
            FROM (
                SELECT lower(unnest(regexp_split_to_array(trim(text), '\\s+'))) AS token
                FROM documents
            ) t
            WHERE token <> ''
            GROUP BY token
            ORDER BY n DESC, token ASC
            LIMIT 50
        """,
        # t09: the greedy packing recurrence as a recursive CTE — one
        # recursion step per doc rank, chains advance per source in
        # parallel; bit-identical to the applyInPandas greedy loop.
        "t09_pack_sequences": """
            WITH RECURSIVE d AS (
                SELECT doc_id, source,
                       CAST(least(len(list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                                                  x -> x <> '')), 512) AS INT) AS doc_tokens,
                       ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
                FROM documents
            ), pack AS (
                SELECT doc_id, source, rn, doc_tokens,
                       CAST(0 AS BIGINT) AS seq_id, doc_tokens AS cum
                FROM d WHERE rn = 1
                UNION ALL
                SELECT d.doc_id, d.source, d.rn, d.doc_tokens,
                       CASE WHEN p.cum + d.doc_tokens > 512
                            THEN p.seq_id + 1 ELSE p.seq_id END,
                       CASE WHEN p.cum + d.doc_tokens > 512
                            THEN d.doc_tokens ELSE p.cum + d.doc_tokens END
                FROM d JOIN pack p
                  ON d.source = p.source AND d.rn = p.rn + 1
            )
            SELECT doc_id, source, seq_id, doc_tokens FROM pack
        """,
        "t08_pii_scrub": """
            WITH aug AS (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com or 555-123-4567' AS text
                FROM documents
            )
            SELECT doc_id,
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(text,
                               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}',
                               '[REDACTED_EMAIL]', 'g'),
                           '\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}',
                           '[REDACTED_PHONE]', 'g'),
                       '[0-9]{3}-[0-9]{2}-[0-9]{4}',
                       '[REDACTED_SSN]', 'g') AS clean_text,
                   CAST(len(regexp_extract_all(text,
                       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS INT) AS n_email,
                   CAST(len(regexp_extract_all(text,
                       '\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}')) AS INT) AS n_phone,
                   CAST(len(regexp_extract_all(text,
                       '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS INT) AS n_ssn
            FROM aug
        """,
        "t04_fingerprint": """
            WITH n AS (
                SELECT doc_id,
                       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
                FROM documents
            )
            SELECT doc_id,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(1, length(nt) + 1),
                               i -> CAST(ascii(substring(nt, i, 1)) AS BIGINT))),
                       (acc, c) -> (acc * 31 + c) % 2147483647
                   ) AS fingerprint
            FROM n
        """,
        "e01_windowed_counts": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND(SUM(value), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "e02_sessionize": """
            WITH flags AS (
                SELECT user_id, event_id, value, ts,
                       CASE WHEN ts - LAG(ts) OVER (
                                PARTITION BY user_id ORDER BY ts, event_id
                            ) > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns
                FROM events
            ), sess AS (
                SELECT *, CAST(SUM(ns) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING
                ) AS BIGINT) AS session_id
                FROM flags
            )
            SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                   strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
                   ROUND(SUM(value), 2) AS session_value
            FROM sess GROUP BY user_id, session_id
        """,
        "e09_stream_upsert_sink": """
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND(SUM(value), 2) AS total_value
            FROM events GROUP BY user_id
        """,
        "x01_approx_distinct_pruned": """
            SELECT l_returnflag,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS exact_suppliers,
                   TRUE AS approx_within_3sigma
            FROM lineitem
            WHERE l_orderkey IN (
                SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
            )
            GROUP BY l_returnflag
        """,
        # x04: DuckDB mirrors the deterministic snapshot mutation and
        # classifies by direct column comparison (coalesce-to-'' to
        # mirror the operator's NULL-as-empty hashing; the corpus has
        # no NULLs so both spellings agree).
        "x04_snapshot_diff": """
            WITH newsnap AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 31 = 0 THEN text || ' v2'
                            ELSE text END AS text,
                       lang, source, n_chars
                FROM documents WHERE doc_id % 97 <> 0
                UNION ALL
                SELECT doc_id + 1000000 AS doc_id, text, lang, source,
                       n_chars
                FROM documents WHERE doc_id < 20
            ),
            j AS (
                SELECT coalesce(n.source, o.source) AS source,
                       CASE WHEN o.doc_id IS NULL THEN 'added'
                            WHEN n.doc_id IS NULL THEN 'removed'
                            WHEN coalesce(CAST(o.text AS VARCHAR), '') = coalesce(CAST(n.text AS VARCHAR), '')
                             AND coalesce(CAST(o.lang AS VARCHAR), '') = coalesce(CAST(n.lang AS VARCHAR), '')
                             AND coalesce(CAST(o.source AS VARCHAR), '') = coalesce(CAST(n.source AS VARCHAR), '')
                             AND coalesce(CAST(o.n_chars AS VARCHAR), '') = coalesce(CAST(n.n_chars AS VARCHAR), '')
                            THEN 'unchanged'
                            ELSE 'changed' END AS status
                FROM documents o FULL OUTER JOIN newsnap n
                  ON o.doc_id = n.doc_id
            )
            SELECT source, status, CAST(count(*) AS BIGINT) AS n
            FROM j GROUP BY source, status
        """,
        "t11_repetition": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\\s+'),
                                   x -> x != '') AS t
                FROM documents
            ), grams AS (
                SELECT doc_id, array_to_string(t[u.i : u.i + 1], ' ') AS g
                FROM toks, unnest(range(1, len(t))) u(i)
                WHERE len(t) >= 2
            ), agg AS (
                SELECT doc_id,
                       1.0 - COUNT(DISTINCT g) * 1.0 / COUNT(*) AS rep_ratio,
                       CAST(COUNT(*) AS INT) AS n_grams
                FROM grams GROUP BY doc_id
            )
            SELECT d.doc_id,
                   COALESCE(a.rep_ratio, 0.0) AS rep_ratio,
                   COALESCE(a.n_grams,
                            GREATEST(len(list_filter(string_split_regex(d.text, '\\s+'),
                                                     x -> x != '')) - 1, 0)) AS n_grams
            FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        """,
        "d07_decontaminate": """
            WITH toks AS (
                SELECT doc_id, source,
                       list_filter(string_split_regex(text, '\\s+'),
                                   x -> x != '') AS t
                FROM documents
            ), grams AS (
                SELECT doc_id, source,
                       array_to_string(t[u.i : u.i + 12], ' ') AS g
                FROM toks, unnest(range(1, len(t) - 11)) u(i)
                WHERE len(t) >= 13
            )
            SELECT DISTINCT c.doc_id, e.doc_id AS eval_doc_id
            FROM grams c JOIN grams e ON c.g = e.g
            WHERE c.source <> 'src0' AND e.source = 'src0'
        """,
        "t10_stratified_sample": """
            SELECT doc_id, source
            FROM documents
            WHERE CAST('0x' || substr(md5('sample:' || text), 1, 8) AS BIGINT) % 10000
                  < CASE source WHEN 'src0' THEN 10000
                                WHEN 'src1' THEN 5000
                                ELSE 2000 END
        """,
        "m01_media_stats": """
            WITH m AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                            WHEN doc_id % 3 = 1 THEN 'audio/wav'
                            ELSE 'video/mp4' END AS mime,
                       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
                FROM documents
            )
            SELECT split_part(mime, '/', 1) AS media_type,
                   CAST(COUNT(*) AS BIGINT) AS n_files,
                   CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
                   MIN(n_bytes) AS min_bytes,
                   MAX(n_bytes) AS max_bytes
            FROM m GROUP BY 1
        """,
        # m02: the stub decoder is SHA-256-derived (multimodal.py
        # _fake_decode), so DuckDB reproduces width/height exactly:
        # byte k of the digest is hex chars 2k+1..2k+2 of sha256().
        "m02_media_decode": """
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                        WHEN doc_id % 3 = 1 THEN 'audio/wav'
                        ELSE 'video/mp4' END AS mime,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   CAST(64 + CAST('0x' || substr(sha256(text), 1, 2) AS INT) % 192 AS INT) AS width,
                   CAST(64 + CAST('0x' || substr(sha256(text), 3, 2) AS INT) % 192 AS INT) AS height
            FROM documents
        """,
        "f01_custom_agg_sql": """
            SELECT l_returnflag,
                   MAX(l_extendedprice) - MIN(l_extendedprice) AS price_span
            FROM lineitem
            GROUP BY l_returnflag
        """,
        "f02_custom_scalar_sql": """
            SELECT l_orderkey, l_linenumber,
                   LEAST(l_extendedprice, 1000.0) AS capped
            FROM lineitem
        """,
        "t13_mix_rebalance": """
            WITH tgt(source, p) AS (
                VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)
            ),
            counts AS (
                SELECT source, CAST(count(*) AS DOUBLE) AS n
                FROM documents GROUP BY source
            ),
            lim AS (
                SELECT min(n / p) AS t FROM counts JOIN tgt USING (source)
            ),
            rates AS (
                SELECT source, p * t / n AS keep_rate
                FROM counts JOIN tgt USING (source) CROSS JOIN lim
            )
            SELECT d.doc_id, d.source
            FROM documents d JOIN rates r ON d.source = r.source
            WHERE CAST('0x' || substr(md5('mix:' || d.text), 1, 8) AS BIGINT)
                  % 10000 < r.keep_rate * 10000
        """,
        "t16_chunk_documents": """
            WITH d AS (
                SELECT doc_id, text, length(text) AS n,
                       1 + (greatest(length(text) - 400, 0) + 319) // 320
                           AS n_chunks
                FROM documents WHERE length(text) > 0
            )
            SELECT doc_id,
                   CAST(i AS INT) AS chunk_idx,
                   CAST(1 + i * 320 AS BIGINT) AS chunk_start,
                   substr(text, CAST(1 + i * 320 AS INT), 400) AS chunk,
                   CAST(length(substr(text, CAST(1 + i * 320 AS INT), 400))
                        AS BIGINT) AS n_chunk_chars
            FROM d, unnest(range(0, n_chunks)) AS u(i)
        """,
        "t15_unigram_familiarity": """
            WITH toks AS (
                SELECT doc_id,
                       lower(unnest(regexp_split_to_array(trim(text), '\\s+'))) AS token
                FROM documents
            ),
            t2 AS (SELECT doc_id, token FROM toks WHERE token <> ''),
            vc AS (SELECT token, CAST(count(*) AS BIGINT) AS n
                   FROM t2 GROUP BY token),
            vocab AS (SELECT token, n FROM vc
                      ORDER BY n DESC, token ASC LIMIT 1000)
            SELECT t2.doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_oov,
                   CAST(sum(coalesce(v.n, 0)) AS BIGINT) AS freq_mass
            FROM t2 LEFT JOIN vocab v ON t2.token = v.token
            GROUP BY t2.doc_id
        """,
        "p01_curation_pipeline": """
            WITH c4 AS (
                SELECT doc_id FROM (
                    SELECT doc_id,
                           len(list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                                           x -> x <> '')) AS n_words,
                           length(regexp_replace(text, '\\s+', '', 'g')) AS n_wchars,
                           contains(text, '{') AS has_curly,
                           contains(lower(text), 'lorem ipsum') AS has_lorem
                    FROM documents
                ) WHERE n_words >= 50
                      AND n_wchars * 1.0 / n_words >= 3.0
                      AND n_wchars * 1.0 / n_words <= 10.0
                      AND NOT has_curly AND NOT has_lorem
            ),
            grams AS (
                SELECT doc_id, array_to_string(t[u.i : u.i + 1], ' ') AS g
                FROM (SELECT doc_id,
                             list_filter(string_split_regex(text, '\\s+'),
                                         x -> x != '') AS t
                      FROM documents) toks,
                     unnest(range(1, len(t))) u(i)
                WHERE len(t) >= 2
            ),
            rep AS (
                SELECT d.doc_id
                FROM documents d LEFT JOIN (
                    SELECT doc_id,
                           1.0 - COUNT(DISTINCT g) * 1.0 / COUNT(*) AS rep_ratio
                    FROM grams GROUP BY doc_id
                ) a ON d.doc_id = a.doc_id
                WHERE COALESCE(a.rep_ratio, 0.0) <= 0.2
            ),
            sh AS (SELECT DISTINCT doc_id, s FROM (
                SELECT doc_id,
                       unnest([substr(t, i, 5)
                               for i in range(1, greatest(length(t),5)-3)]) AS s
                FROM (SELECT doc_id,
                             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
                      FROM documents))),
            sz AS (SELECT doc_id, count(*) c FROM sh GROUP BY doc_id),
            p0 AS (SELECT a.doc_id ia, b.doc_id ib, count(*) n
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
            pairs AS (SELECT ia id_a, ib id_b
                      FROM p0 JOIN sz za ON za.doc_id = ia
                              JOIN sz zb ON zb.doc_id = ib
                      WHERE n * 1.0 / (za.c + zb.c - n) >= 0.6),
            edges AS (SELECT id_a s, id_b d FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach AS (
                WITH RECURSIVE r(s, d) AS (
                    SELECT s, d FROM edges
                    UNION
                    SELECT r.s, e.d FROM r JOIN edges e ON r.d = e.s
                ) SELECT * FROM r
            ),
            losers AS (
                SELECT s AS id FROM reach
                GROUP BY s HAVING least(s, min(d)) < s
            )
            SELECT d.doc_id,
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(d.text,
                               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}',
                               '[REDACTED_EMAIL]', 'g'),
                           '\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}',
                           '[REDACTED_PHONE]', 'g'),
                       '[0-9]{3}-[0-9]{2}-[0-9]{4}',
                       '[REDACTED_SSN]', 'g') AS clean_text
            FROM documents d
            JOIN c4 USING (doc_id)
            JOIN rep USING (doc_id)
            WHERE d.doc_id NOT IN (SELECT id FROM losers)
        """,
        "d10_winnow_overlap": """
            WITH t AS (
                SELECT doc_id,
                       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
                FROM documents
            ),
            hs AS (
                SELECT doc_id,
                       [ (  ascii(substr(t, i    , 1)) * CAST(2104259670 AS BIGINT)
                          + ascii(substr(t, i + 1, 1)) * CAST(1799720995 AS BIGINT)
                          + ascii(substr(t, i + 2, 1)) * CAST(127329182 AS BIGINT)
                          + ascii(substr(t, i + 3, 1)) * CAST(73381059 AS BIGINT)
                          + ascii(substr(t, i + 4, 1)) * CAST(140914463 AS BIGINT)
                          + ascii(substr(t, i + 5, 1)) * CAST(350913958 AS BIGINT)
                          + ascii(substr(t, i + 6, 1)) * CAST(1950982454 AS BIGINT)
                          + ascii(substr(t, i + 7, 1)) * CAST(340029582 AS BIGINT)
                          + ascii(substr(t, i + 8, 1)) * CAST(1742810347 AS BIGINT)
                          + ascii(substr(t, i + 9, 1)) * CAST(887503681 AS BIGINT)
                          + ascii(substr(t, i + 10, 1)) * CAST(28629151 AS BIGINT)
                          + ascii(substr(t, i + 11, 1)) * CAST(923521 AS BIGINT)
                          + ascii(substr(t, i + 12, 1)) * CAST(29791 AS BIGINT)
                          + ascii(substr(t, i + 13, 1)) * CAST(961 AS BIGINT)
                          + ascii(substr(t, i + 14, 1)) * CAST(31 AS BIGINT)
                          + ascii(substr(t, i + 15, 1))
                         ) % 2147483647
                         for i in range(1, length(t) - 14) ] AS h
                FROM t WHERE length(t) >= 16
            ),
            mins AS (
                SELECT doc_id,
                       CASE WHEN len(h) < 8 THEN [list_min(h)]
                            ELSE [ list_min(h[i:i+7])
                                   for i in range(1, len(h) - 6) ]
                       END AS m
                FROM hs
            ),
            fps AS (
                SELECT DISTINCT doc_id, CAST(unnest(m) AS BIGINT) AS fp
                FROM mins
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING count(*) >= 5
        """,
        # d11: same 8-token line synthesis, then first-occurrence-wins
        # line dedup as a ROW_NUMBER window over (doc_id, pos);
        # reassembly via ordered string_agg.  DuckDB list slices are
        # 1-based inclusive; posexplode positions are 0-based, hence
        # the u.i - 1.  (unnest ... WITH ORDINALITY is unsupported in
        # this DuckDB build — positions come from unnest(range).)
        "d11_line_dedup": """
            WITH ml AS (
                SELECT doc_id,
                       string_split(
                           regexp_replace(trim(text),
                               '((?:\\S+ ){7}\\S+) ', '\\1' || chr(10), 'g'),
                           chr(10)) AS ls
                FROM documents
            ),
            lines AS (
                SELECT doc_id, u.i - 1 AS pos, ls[u.i] AS line
                FROM ml, unnest(range(1, len(ls) + 1)) u(i)
            ),
            kept AS (
                SELECT doc_id, pos, line
                FROM (
                    SELECT doc_id, pos, line,
                           ROW_NUMBER() OVER (
                               PARTITION BY line ORDER BY doc_id, pos
                           ) AS rn
                    FROM lines WHERE length(line) >= 1
                ) WHERE rn = 1
                UNION ALL
                SELECT doc_id, pos, line FROM lines WHERE length(line) < 1
            )
            SELECT m.doc_id,
                   coalesce(
                       (SELECT string_agg(k.line, chr(10) ORDER BY k.pos)
                        FROM kept k WHERE k.doc_id = m.doc_id), '') AS text,
                   CAST(len(m.ls) AS BIGINT) AS n_lines,
                   CAST((SELECT count(*) FROM kept k
                         WHERE k.doc_id = m.doc_id) AS BIGINT) AS n_kept
            FROM ml m
        """,
        # d12: property oracle (d03 pattern) — DuckDB recomputes the
        # delta size and the exact-Jaccard ground-truth contamination
        # count; the all-dropped claim is the engine-side pin.
        "d12_incremental_dedup": """
            WITH n AS (
                SELECT doc_id AS id,
                       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
                FROM documents
            ),
            sh AS (
                SELECT DISTINCT id,
                       UNNEST(list_distinct(list_transform(
                           range(1, greatest(length(nt), 5) - 3),
                           i -> substring(nt, i, 5)))) AS sh
                FROM n
            ),
            sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
            common AS (
                SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS nc
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
                GROUP BY a.id, b.id
            ),
            ex AS (
                SELECT id_a, id_b FROM common
                JOIN sizes sa ON sa.id = id_a
                JOIN sizes sb ON sb.id = id_b
                WHERE nc / (sa.sz + sb.sz - nc) >= 0.7
            ),
            cont AS (
                SELECT DISTINCT CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END AS d
                FROM ex WHERE (id_a % 2) != (id_b % 2)
            )
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents
                    WHERE doc_id % 2 = 1) AS n_new,
                   (SELECT CAST(count(*) AS BIGINT) FROM cont) AS n_contaminated,
                   TRUE AS all_contaminated_dropped
        """,
        "d13_semantic_decontaminate": """
            WITH ev AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
            c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
            sims AS (
                SELECT c.vec_id, ev.vec_id AS eid,
                       list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                              CAST(ev.embedding AS DOUBLE[])) AS s
                FROM c, ev
            ),
            best AS (
                SELECT vec_id, eid, s,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY s DESC, eid ASC) AS rn
                FROM sims
            )
            SELECT vec_id, eid AS nearest_eval_id, ROUND(s, 6) AS max_sim
            FROM best WHERE rn = 1 AND s >= 0.3
        """,
        # s06: the greedy MMR selection replayed as 5 chained argmax
        # CTEs (k=5, lam=0.7) over the identical top-8 shortlist; ranks
        # only — mmr scores differ in the last ulp across engines.
        "s06_mmr_rerank": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
            sims AS (
                SELECT q.query_id, e.vec_id AS cid,
                       list_cosine_similarity(q.qv, e.v) AS rel
                FROM q, e
            ),
            ce AS (
                SELECT s.query_id, s.cid, s.rel, e.v FROM (
                    SELECT query_id, cid, rel,
                           ROW_NUMBER() OVER (PARTITION BY query_id
                                              ORDER BY rel DESC, cid ASC) AS rk
                    FROM sims
                ) s JOIN e ON e.vec_id = s.cid
                WHERE s.rk <= 8
            ),
            p1 AS (
                SELECT query_id, cid, v FROM (
                    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY rel DESC, cid ASC) AS rk FROM ce
                ) WHERE rk = 1
            ),
            p2 AS (
                SELECT query_id, cid, v FROM (
                    SELECT c.query_id, c.cid, c.v,
                           ROW_NUMBER() OVER (PARTITION BY c.query_id
                               ORDER BY 0.7 * c.rel
                                   - 0.3 * list_cosine_similarity(c.v, p1.v) DESC,
                                   c.cid ASC) AS rk
                    FROM ce c JOIN p1 ON c.query_id = p1.query_id
                    WHERE c.cid <> p1.cid
                ) WHERE rk = 1
            ),
            p3 AS (
                SELECT query_id, cid, v FROM (
                    SELECT c.query_id, c.cid, c.v,
                           ROW_NUMBER() OVER (PARTITION BY c.query_id
                               ORDER BY 0.7 * c.rel - 0.3 * greatest(
                                   list_cosine_similarity(c.v, p1.v),
                                   list_cosine_similarity(c.v, p2.v)) DESC,
                                   c.cid ASC) AS rk
                    FROM ce c
                    JOIN p1 ON c.query_id = p1.query_id
                    JOIN p2 ON c.query_id = p2.query_id
                    WHERE c.cid <> p1.cid AND c.cid <> p2.cid
                ) WHERE rk = 1
            ),
            p4 AS (
                SELECT query_id, cid, v FROM (
                    SELECT c.query_id, c.cid, c.v,
                           ROW_NUMBER() OVER (PARTITION BY c.query_id
                               ORDER BY 0.7 * c.rel - 0.3 * greatest(
                                   list_cosine_similarity(c.v, p1.v),
                                   list_cosine_similarity(c.v, p2.v),
                                   list_cosine_similarity(c.v, p3.v)) DESC,
                                   c.cid ASC) AS rk
                    FROM ce c
                    JOIN p1 ON c.query_id = p1.query_id
                    JOIN p2 ON c.query_id = p2.query_id
                    JOIN p3 ON c.query_id = p3.query_id
                    WHERE c.cid <> p1.cid AND c.cid <> p2.cid AND c.cid <> p3.cid
                ) WHERE rk = 1
            ),
            p5 AS (
                SELECT query_id, cid, v FROM (
                    SELECT c.query_id, c.cid, c.v,
                           ROW_NUMBER() OVER (PARTITION BY c.query_id
                               ORDER BY 0.7 * c.rel - 0.3 * greatest(
                                   list_cosine_similarity(c.v, p1.v),
                                   list_cosine_similarity(c.v, p2.v),
                                   list_cosine_similarity(c.v, p3.v),
                                   list_cosine_similarity(c.v, p4.v)) DESC,
                                   c.cid ASC) AS rk
                    FROM ce c
                    JOIN p1 ON c.query_id = p1.query_id
                    JOIN p2 ON c.query_id = p2.query_id
                    JOIN p3 ON c.query_id = p3.query_id
                    JOIN p4 ON c.query_id = p4.query_id
                    WHERE c.cid <> p1.cid AND c.cid <> p2.cid
                      AND c.cid <> p3.cid AND c.cid <> p4.cid
                ) WHERE rk = 1
            )
            SELECT query_id, CAST(1 AS INT) AS mmr_rank, cid AS neighbor_id FROM p1
            UNION ALL SELECT query_id, 2, cid FROM p2
            UNION ALL SELECT query_id, 3, cid FROM p3
            UNION ALL SELECT query_id, 4, cid FROM p4
            UNION ALL SELECT query_id, 5, cid FROM p5
        """,
        "t17_hashed_embeddings": """
            WITH toks AS (
                SELECT doc_id, lower(t) AS t FROM (
                    SELECT doc_id,
                           unnest(list_filter(
                               regexp_split_to_array(coalesce(text, ''), '\\s+'),
                               x -> x <> '')) AS t
                    FROM documents)
            )
            SELECT doc_id,
                   CAST(CAST(('0x' || substr(md5(':' || t), 1, 8)) AS BIGINT)
                        % 16 AS INT) AS bucket,
                   sum(CASE WHEN CAST(('0x' || substr(md5(':' || t), 9, 1))
                                 AS BIGINT) < 8
                            THEN 1.0 ELSE -1.0 END) AS val
            FROM toks GROUP BY 1, 2
            HAVING sum(CASE WHEN CAST(('0x' || substr(md5(':' || t), 9, 1))
                            AS BIGINT) < 8 THEN 1.0 ELSE -1.0 END) != 0
        """,
        "t20_epoch_shuffle": """
            SELECT doc_id, source,
                   md5('epoch:1:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
            FROM documents
        """,
        "t22_bpe_pair_counts": """
            WITH w AS (
              SELECT unnest(list_filter(
                  regexp_split_to_array(coalesce(lower(text), ''), '\\s+'),
                  x -> x <> '')) AS w
              FROM documents
            ), p AS (
              SELECT substr(w, CAST(i AS INT), 2) AS pair
              FROM w, UNNEST(generate_series(1, length(w) - 1)) AS t(i)
              WHERE length(w) >= 2
            )
            SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
            FROM p GROUP BY pair
            ORDER BY n DESC, pair
            LIMIT 50
        """,
        "x05_quality_checks": """
            WITH s AS (
              SELECT CAST(COUNT(*) AS DOUBLE) AS cnt,
                     CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                          AS DOUBLE) AS n_null,
                     CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_dist,
                     CAST(COUNT(l_orderkey) AS DOUBLE) AS n_nonnull,
                     CAST(SUM(CASE WHEN l_discount IS NULL
                                   OR l_discount < 0.0 OR l_discount > 0.1
                              THEN 1 ELSE 0 END) AS DOUBLE) AS bad_disc,
                     CAST(SUM(CASE WHEN l_returnflag IS NULL
                                   OR l_returnflag NOT IN ('A', 'N', 'R')
                              THEN 1 ELSE 0 END) AS DOUBLE) AS bad_rf,
                     CAST(SUM(CASE WHEN regexp_matches(l_returnflag, '^[ANR]$')
                              THEN 1 ELSE 0 END) AS DOUBLE) AS rx_ok
              FROM lineitem
            )
            SELECT 'row_count_at_least(1000)' AS "check",
                   cnt >= 1000 AS passed, cnt AS observed FROM s
            UNION ALL SELECT 'not_null(l_orderkey)',
                   (n_null / cnt) <= 0.0, n_null / cnt FROM s
            UNION ALL SELECT 'unique(l_orderkey)',
                   n_dist = n_nonnull, n_dist FROM s
            UNION ALL SELECT 'in_range(l_discount,0.0,0.1)',
                   (bad_disc / cnt) = 0.0, bad_disc / cnt FROM s
            UNION ALL SELECT 'values_in(l_returnflag)',
                   (bad_rf / cnt) = 0.0, bad_rf / cnt FROM s
            UNION ALL SELECT 'matches_regex(l_returnflag)',
                   (rx_ok / cnt) >= 1.0, rx_ok / cnt FROM s
        """,
        # independent DuckDB spelling of the full Gopher rule chain
        # (same one the pytest mirror proved on a 300-doc adversarial
        # corpus); graded columns are int/bool only — every float
        # signal folds through its threshold into keep_doc
        "t24_gopher_filters": """
            WITH base AS (
                SELECT doc_id,
                       coalesce(text, '') AS t,
                       list_filter(regexp_split_to_array(coalesce(text, ''),
                                   '\\s+'), x -> x <> '') AS toks,
                       str_split(coalesce(text, ''), chr(10)) AS lines
                FROM documents
            ), sig AS (
                SELECT doc_id,
                       len(toks) AS n_words,
                       length(regexp_replace(t, '\\s+', '', 'g'))
                           / len(toks) AS mwl,
                       (length(t) - length(regexp_replace(t, '#', '', 'g'))
                        + (length(t) - length(regexp_replace(t, '\\.\\.\\.',
                                                             '', 'g'))) / 3.0)
                           / len(toks) AS sym,
                       len(list_filter(lines, l ->
                           regexp_matches(ltrim(l), '^([*•‣▪-]\\s)')))
                           / len(lines) AS bullet,
                       len(list_filter(lines, l ->
                           regexp_matches(rtrim(l), '(\\.\\.\\.|…)$')))
                           / len(lines) AS ell,
                       len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
                           / len(toks) AS alpha,
                       len(list_filter(['the','be','to','of','and','that',
                                        'have','with'],
                           w -> list_contains(list_transform(toks,
                                x -> lower(x)), w))) AS stops
                FROM base
            )
            SELECT doc_id,
                   CAST(n_words AS INT) AS n_words,
                   CAST(stops AS INT) AS stopword_hits,
                   coalesce(n_words >= 50 AND n_words <= 100000
                       AND mwl >= 3.0 AND mwl <= 10.0 AND sym <= 0.1
                       AND bullet <= 0.9 AND ell <= 0.3
                       AND alpha >= 0.8 AND stops >= 1, false) AS keep_doc
            FROM sig
        """,
        # full DSIR construction (grams -> md5 buckets -> smoothed LLR
        # -> quantized per-doc integer sum), target = doc_id % 7 = 0,
        # buckets=4096, smoothing=1.0, quantize=6 — the same spelling
        # the pytest mirror proved, plus the scaled-integer sum
        "t25_dsir_weights": """
            WITH rt AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(coalesce(text, ''),
                                   '\\s+'), x -> x <> '') AS t
                FROM documents
            ), rg AS (
                SELECT doc_id,
                       CAST(CAST('0x' || substr(md5('dsir:' ||
                           array_to_string(t[u.i : u.i + 1], ' ')), 1, 8)
                           AS BIGINT) % 4096 AS INT) AS b
                FROM rt, unnest(range(1, len(t))) u(i) WHERE len(t) >= 2
            ), tg AS (
                SELECT CAST(CAST('0x' || substr(md5('dsir:' ||
                           array_to_string(t[u.i : u.i + 1], ' ')), 1, 8)
                           AS BIGINT) % 4096 AS INT) AS b
                FROM rt, unnest(range(1, len(t))) u(i)
                WHERE len(t) >= 2 AND doc_id % 7 = 0
            ), tc AS (SELECT b, count(*) AS ct FROM tg GROUP BY b),
               rc AS (SELECT b, count(*) AS cr FROM rg GROUP BY b),
               tot AS (SELECT (SELECT count(*) FROM tg) AS tt_n,
                              (SELECT count(*) FROM rg) AS tr_n),
               w AS (
                SELECT rc.b,
                       CAST(ROUND((ln((coalesce(ct, 0) + 1.0)
                                       / (tt_n + 1.0 * 4096))
                                   - ln((cr + 1.0) / (tr_n + 1.0 * 4096)))
                                  * 1000000.0) AS BIGINT) AS w
                FROM rc LEFT JOIN tc USING (b), tot
            ), s AS (
                SELECT doc_id,
                       CAST(SUM(w) AS DOUBLE) / 1000000.0 AS lw,
                       CAST(count(*) AS BIGINT) AS ng
                FROM rg JOIN w USING (b) GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(lw, 0.0) AS log_weight,
                   coalesce(ng, 0) AS n_grams
            FROM documents d LEFT JOIN s USING (doc_id)
        """,
        # the oracle constructs the KNOWN canonical form of each
        # variant directly (variants 0-1 -> the https page URL,
        # 2-3 -> the http item URL) and aggregates; rule-by-rule
        # canonicalization parity vs DuckDB is pinned separately on
        # 400 messy URLs (test_canonicalize_url_matches_duckdb_mirror)
        "w01_url_dedup": """
            WITH u AS (
                SELECT doc_id,
                       doc_id // 4 AS gid,
                       'site' || CAST((doc_id // 4) % 25 AS VARCHAR)
                           || '.example.com' AS host
                FROM documents
            ), c AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 4 IN (0, 1)
                            THEN 'https://' || host || '/page/'
                                 || CAST(gid AS VARCHAR) || '?a=1&b=2'
                            ELSE 'http://' || host || '/item/'
                                 || CAST(gid AS VARCHAR)
                       END AS canonical_url
                FROM u
            )
            SELECT canonical_url,
                   MIN(doc_id) AS survivor_id,
                   CAST(COUNT(*) AS BIGINT) AS n_copies
            FROM c GROUP BY canonical_url
        """,
    }
