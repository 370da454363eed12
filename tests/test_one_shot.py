"""Plan-shape pins for the one-shot SQL-over-pandas path (``sql_query``
and the pandas ``.sql`` accessor) and ``DataSource.query``.

A one-shot query registers throwaway views, so it does not pin them in
Spark's cache, and a pandas frame of up to one Arrow batch is a single
partition, so GROUP BY / HAVING / ORDER BY over it plan no exchange.
``DataSource.query`` runs each SELECT in a per-query child session,
interpreted when every leaf of its plan has a known row count of at
most ``INTERPRETED_MAX_ROWS`` (a pandas frame, or a cached table after
its first scan), so it compiles no class.  These tests count Spark
jobs and tasks with ``setJobGroup`` + ``statusTracker()``, and Janino
compiles with Spark's ``CodegenMetrics``, so a plan regression fails
here instead of hiding in wall-clock noise.
"""

from __future__ import annotations

import gc
import itertools
import sys
import threading
import time
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.pandas as ps
import pyspark.sql.session
import pytest
from pyspark import RDD
from pyspark.sql import SparkSession
from pyspark.sql.catalog import Catalog
from pyspark.sql.conf import RuntimeConfig

import dfsql_spark
from dfsql_spark import AggregateFunction, DataSource, QueryExecutionException, sql_query
from dfsql_spark.datasource import _clean_name, _reduce_output
from dfsql_spark.session import (
    INTERPRETED_CONFS,
    INTERPRETED_MAX_ROWS,
    POOL_KEEP_ALIVE_S,
    activate,
    current_spark,
    one_shot_session,
    rebind,
    runs_interpreted,
)

MAX_RECORDS = "spark.sql.execution.arrow.maxRecordsPerBatch"
_GROUPS = itertools.count()


@pytest.fixture(scope="module")
def people():
    rng = np.random.default_rng(7)
    n = 1_000
    return pd.DataFrame(
        {
            "id": np.arange(n, dtype="int64"),
            "grp": rng.choice(["a", "b", "c", "d", "e"], n),
            "age": rng.integers(18, 70, n),
            "score": rng.uniform(0.0, 100.0, n).round(3),
        }
    )


def _jobs_and_tasks(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs, tasks)."""
    sc = spark.sparkContext
    group = f"one-shot-pin-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    tasks = sum(
        tracker.getStageInfo(s).numTasks
        for j in job_ids
        for s in tracker.getJobInfo(j).stageIds
    )
    return out, len(job_ids), tasks


@pytest.fixture()
def batch_rows(spark):
    """Set ``maxRecordsPerBatch`` for one test, restoring it after."""
    prev = spark.conf.get(MAX_RECORDS)

    def _set(n: int) -> None:
        spark.conf.set(MAX_RECORDS, str(n))

    yield _set
    spark.conf.set(MAX_RECORDS, prev)


def test_group_by_having_runs_one_job(spark, people):
    sql = (
        "SELECT grp, COUNT(*) AS n, AVG(score) AS s FROM t "
        "GROUP BY grp HAVING COUNT(*) > 150 ORDER BY grp"
    )
    out, jobs, tasks = _jobs_and_tasks(spark, lambda: sql_query(sql, t=people))
    expected = people.groupby("grp").agg(n=("id", "size"), s=("score", "mean"))
    expected = expected[expected["n"] > 150].reset_index()
    assert out["grp"].tolist() == expected["grp"].tolist()
    assert out["n"].tolist() == expected["n"].tolist()
    assert np.allclose(out["s"], expected["s"])
    assert (jobs, tasks) == (1, 1)


def test_accessor_group_by_runs_one_job(spark, people):
    out, jobs, _ = _jobs_and_tasks(
        spark, lambda: people.sql("SELECT grp, MAX(age) AS hi GROUP BY grp")
    )
    assert dict(zip(out["grp"], out["hi"])) == people.groupby("grp")["age"].max().to_dict()
    assert jobs == 1


def test_custom_function_runs_one_python_task(spark, people):
    out, jobs, tasks = _jobs_and_tasks(
        spark,
        lambda: sql_query(
            "SELECT id, twice(score) AS d FROM t WHERE age > 40",
            t=people,
            custom_functions={"twice": lambda s: s * 2.0},
        ),
    )
    sel = people[people["age"] > 40]
    assert out["id"].tolist() == sel["id"].tolist()
    assert np.allclose(out["d"], sel["score"] * 2.0)
    assert (jobs, tasks) == (1, 1)


@pytest.fixture()
def pinned(monkeypatch):
    """Names passed to ``Catalog.cacheTable`` during the test."""
    names = []
    real = Catalog.cacheTable
    monkeypatch.setattr(
        Catalog, "cacheTable", lambda self, name, *a: (names.append(name), real(self, name, *a))
    )
    return names


def test_one_shot_pins_no_cache(spark, people, pinned):
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    before = cache_manager.numCachedEntries()
    sql_query("SELECT COUNT(*) AS n FROM t JOIN u ON t.id = u.id", t=people, u=people)
    people.sql("SELECT MAX(age) AS hi")
    assert pinned == []
    assert cache_manager.numCachedEntries() == before
    assert not spark.catalog.tableExists("t") and not spark.catalog.tableExists("u")


def test_one_shot_honours_cache_kwarg(spark, people, pinned):
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    before = cache_manager.numCachedEntries()
    n = sql_query("SELECT COUNT(*) AS n FROM t", t=people, ds_kwargs={"cache": True})
    assert n == len(people)
    assert pinned == ["t"]
    # dropping the view at the end of the call also unpins it
    assert cache_manager.numCachedEntries() == before


def _partitions(spark, name: str) -> int:
    return spark.table(name).rdd.getNumPartitions()


def test_pandas_table_up_to_one_arrow_batch_is_one_partition(spark, people, batch_rows):
    ds = DataSource(spark=spark, cache=False)
    try:
        ds.add_table("op_small", people)
        assert _partitions(spark, "op_small") == 1
        batch_rows(len(people))  # exactly one batch
        ds.add_table("op_one_batch", people)
        assert _partitions(spark, "op_one_batch") == 1
    finally:
        for name in ("op_small", "op_one_batch"):
            spark.catalog.dropTempView(name)


# 999 and 400: just over one batch, and a few batches; 10: more batches
# than Spark's default; 0 and -1: no batch limit
@pytest.mark.parametrize("per_batch", [999, 400, 10, 0, -1])
def test_larger_pandas_table_keeps_create_dataframe_partitions(
    spark, people, batch_rows, per_batch
):
    batch_rows(per_batch)
    plain = spark.createDataFrame(people).rdd.getNumPartitions()
    ds = DataSource(spark=spark, cache=False)
    try:
        ds.add_table("op_large", people)
        assert _partitions(spark, "op_large") == plain
    finally:
        spark.catalog.dropTempView("op_large")


@pytest.mark.parametrize("per_batch", [None, 300])
def test_select_star_keeps_input_order(spark, people, batch_rows, per_batch):
    if per_batch:
        batch_rows(per_batch)  # several partitions, as createDataFrame made them
    shuffled = people.sample(frac=1.0, random_state=3).reset_index(drop=True)
    out = sql_query("SELECT * FROM t", t=shuffled)
    pd.testing.assert_frame_equal(out, shuffled, check_dtype=False)


def test_one_shot_drops_custom_functions(spark, people):
    def count():
        return len(spark.catalog.listFunctions())

    before = count()
    for _ in range(3):
        sql_query(
            "SELECT inc(age) AS a FROM t WHERE id < 5",
            t=people,
            custom_functions={"inc": lambda s: s + 1.0},
        )
    with pytest.raises(Exception):
        sql_query(
            "SELECT inc(no_such_col) FROM t",
            t=people,
            custom_functions={"inc": lambda s: s + 1.0},
        )
    assert count() == before


# --- interpreted execution in a child session -------------------------

_LITERALS = itertools.count(21)


@pytest.fixture(scope="module")
def named(people):
    """``people`` plus the ``name`` column the LIKE shapes read."""
    return people.assign(name=[f"user_{i}_{i * 7 % 1000}" for i in people["id"]])


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (driver and local executors)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _fresh_literal_shapes(frame):
    """One-shot GROUP BY/HAVING, LIKE and CAST calls, each with a literal
    this JVM has not seen yet."""
    k = next(_LITERALS)
    return [
        lambda: sql_query(
            f"SELECT grp, COUNT(*) AS n, SUM(age) AS s FROM t WHERE age > {k % 50 + 18} "
            f"GROUP BY grp HAVING COUNT(*) > {k}",
            t=frame,
        ),
        lambda: sql_query(
            f"SELECT grp, COUNT(*) AS n FROM t WHERE name LIKE 'user_[0-9]*{k}_' GROUP BY grp",
            t=frame,
        ),
        lambda: sql_query(
            f"SELECT id, CAST(age AS str) AS a, CAST(score AS int) AS s FROM t WHERE id < {k}",
            t=frame,
        ),
        # a subquery with no table reads a OneRowRelation
        lambda: sql_query(f"SELECT COUNT(*) AS n FROM t WHERE id < (SELECT {k} * 2)", t=frame),
    ]


def test_pandas_one_shots_compile_no_class(spark, named, batch_rows):
    for run in _fresh_literal_shapes(named):  # first-use set-up compiles
        run()
    before = _compiles(spark)
    for _ in range(2):
        for run in _fresh_literal_shapes(named):
            run()
    # the rule does not depend on the Arrow batch size
    batch_rows(len(named) // 3)
    for run in _fresh_literal_shapes(named):
        run()
    assert _compiles(spark) == before
    # one row above INTERPRETED_MAX_ROWS: compiled, as before
    rows = INTERPRETED_MAX_ROWS + 1
    big = named.iloc[np.arange(rows) % len(named)].assign(id=np.arange(rows))
    before = _compiles(spark)
    for run in _fresh_literal_shapes(big):
        run()
    assert _compiles(spark) > before


class Spread(AggregateFunction):
    name = "spread"

    def get_output(self, args):
        return float(args[0].max() - args[0].min())


def _bonus(s):
    return s * 2.0 + 1.0


# each interactive_pandas shape, plus an aggregate custom function;
# ``FROM temp`` shapes go through the pandas accessor without the FROM
_SHAPES = {
    "filter_project": "SELECT id, name, score FROM t WHERE age > 37 AND grp = 'b'",
    "groupby_having": (
        "SELECT grp, COUNT(*) AS n, SUM(age) AS total_age, AVG(score) AS mean_score "
        "FROM t GROUP BY grp HAVING COUNT(*) > 190"
    ),
    "join": (
        "SELECT u.region, COUNT(*) AS n, SUM(t.score * u.weight) AS w "
        "FROM t JOIN u ON t.grp = u.grp WHERE t.age < 44 GROUP BY u.region"
    ),
    "scalar": "SELECT MAX(score) AS top FROM t WHERE grp = 'c' AND age >= 30",
    "series_accessor": "SELECT name FROM temp WHERE age = 40",
    "groupby_accessor": (
        "SELECT grp, MIN(age) AS lo, MAX(age) AS hi, COUNT(*) AS n "
        "FROM temp WHERE score < 61.5 GROUP BY grp"
    ),
    "like_regex": "SELECT grp, COUNT(*) AS n FROM t WHERE name LIKE 'user_[0-9]*3_' GROUP BY grp",
    "power": "SELECT id, age ^ 2 AS age_sq, 2 ^ 3 ^ 2 AS p FROM temp WHERE id % 97 = 0",
    "cast": "SELECT id, CAST(age AS str) AS a, CAST(score AS int) AS s FROM t WHERE id < 120",
    "custom_function": "SELECT id, bonus(score) AS b FROM t WHERE grp = 'a' AND age > 50",
    "aggregate_function": "SELECT grp, spread(score) AS sp FROM t GROUP BY grp",
}
_GROUPS_FRAME = pd.DataFrame(
    {"grp": list("abcde"), "region": list("nnsse"), "weight": [3, 1, 4, 1, 5]}
)
_FUNCTIONS = {"bonus": _bonus, "spread": Spread()}


@pytest.fixture(scope="module")
def compiled(spark, named):
    """A long-lived DataSource on the caller's (compiled) session."""
    ds = DataSource(spark=spark, cache=False)
    for name, fn in _FUNCTIONS.items():
        ds.register_function(name, fn)
    for name, frame in (("t", named), ("temp", named), ("u", _GROUPS_FRAME)):
        ds.add_table(name, frame)
    yield ds
    for name in ("t", "temp", "u"):
        ds.drop_table(name)
    ds.function_registry.drop_all()


def _sorted(out):
    frame = out.to_frame() if isinstance(out, pd.Series) else out
    return frame.sort_values(list(frame.columns)).reset_index(drop=True)


def _query_compiled(ds, sql):
    """``ds.query(sql)`` as ``query_df`` runs it: compiled, on the
    DataSource's own session."""
    pdf = ds.query_df(sql).toPandas()
    pdf.columns = [_clean_name(c) for c in pdf.columns]
    return _reduce_output(pdf)


@pytest.fixture(scope="module")
def catalog_files(tmp_path_factory):
    """Small orders / customer / nation parquet tables; ``o_totalprice``
    is a DECIMAL(12,2)."""
    rng = np.random.default_rng(11)
    root = tmp_path_factory.mktemp("catalog")
    n_orders, n_cust = 4_000, 400
    cents = rng.integers(100, 5_000_000, n_orders)
    frames = {
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(1, n_orders + 1, dtype="int64"),
                "o_custkey": rng.integers(1, n_cust + 1, n_orders),
                "o_totalprice": [Decimal(int(c)).scaleb(-2) for c in cents],
                "o_weight": rng.uniform(0.0, 10.0, n_orders).round(3),
                "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-LOW"], n_orders),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(1, n_cust + 1, dtype="int64"),
                "c_nationkey": rng.integers(0, 25, n_cust),
                "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "MACHINERY"], n_cust),
            }
        ),
        "nation": pd.DataFrame(
            {"n_nationkey": np.arange(25), "n_name": [f"NATION_{i:02d}" for i in range(25)]}
        ),
    }
    schemas = {
        "orders": pa.schema(
            [
                ("o_orderkey", pa.int64()),
                ("o_custkey", pa.int64()),
                ("o_totalprice", pa.decimal128(12, 2)),
                ("o_weight", pa.float64()),
                ("o_orderpriority", pa.string()),
            ]
        )
    }
    paths = {}
    for name, frame in frames.items():
        paths[name] = str(root / f"{name}.parquet")
        table = pa.Table.from_pandas(frame, schema=schemas.get(name), preserve_index=False)
        pq.write_table(table, paths[name])
    return paths


@pytest.fixture(scope="module")
def catalog(spark, catalog_files):
    """A long-lived caching DataSource over ``catalog_files``, each
    table scanned once, so its cache holds exact row counts."""
    ds = DataSource(spark=spark)
    for name, fn in _FUNCTIONS.items():
        ds.register_function(name, fn)
    for name, path in catalog_files.items():
        ds.query(f"CREATE TABLE {name} ('{path}')")
        ds.query(f"SELECT COUNT(*) AS n FROM {name}")  # the cold scan
    yield ds
    for name in catalog_files:
        ds.drop_table(name)
    ds.function_registry.drop_all()


# the catalog_session shapes, plus unaliased pandas CAST names, a
# DECIMAL SUM and both kinds of custom function
_CATALOG_SHAPES = {
    "catalog_groupby_having": (
        "SELECT o_orderpriority, COUNT(*) AS n, AVG(o_weight) AS w FROM orders "
        "WHERE o_custkey % 3 = 1 GROUP BY o_orderpriority HAVING COUNT(*) > 100"
    ),
    "catalog_join2": (
        "SELECT c.c_mktsegment, COUNT(*) AS n, SUM(o.o_weight) AS w "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "WHERE o.o_weight > 2.5 GROUP BY c.c_mktsegment"
    ),
    "catalog_join3": (
        "SELECT n.n_name, COUNT(*) AS n_orders, SUM(o.o_weight) AS w "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "WHERE c.c_mktsegment = 'BUILDING' GROUP BY n.n_name"
    ),
    "catalog_subquery_in": (
        "SELECT COUNT(*) AS n FROM orders WHERE o_custkey IN "
        "(SELECT c_custkey FROM customer WHERE c_nationkey = 7)"
    ),
    "catalog_subquery_scalar": (
        "SELECT o_orderkey, o_weight FROM orders "
        "WHERE o_weight > (SELECT AVG(o_weight) FROM orders) + 4.5"
    ),
    "catalog_point": (
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders "
        "WHERE o_orderkey = 1234"
    ),
    "catalog_cast_names": (
        "SELECT o_orderkey, CAST(o_weight AS int), CAST(o_custkey AS str) FROM orders "
        "WHERE o_orderkey < 60"
    ),
    "catalog_decimal_sum": (
        "SELECT o_orderpriority, SUM(o_totalprice) AS total FROM orders GROUP BY o_orderpriority"
    ),
    "catalog_custom_function": (
        "SELECT o_orderkey, bonus(o_weight) AS b FROM orders WHERE o_custkey < 30"
    ),
    "catalog_aggregate_function": (
        "SELECT o_orderpriority, spread(o_weight) AS sp FROM orders GROUP BY o_orderpriority"
    ),
}


@pytest.mark.parametrize("shape", [*_SHAPES, *_CATALOG_SHAPES])
def test_interpreted_one_shot_matches_compiled(request, named, shape):
    if shape in _CATALOG_SHAPES:
        catalog = request.getfixturevalue("catalog")
        sql = _CATALOG_SHAPES[shape]
        assert runs_interpreted(catalog.query_df(sql))
        expected = _query_compiled(catalog, sql)
        got = catalog.query(sql)
    else:
        sql = _SHAPES[shape]
        expected = _query_compiled(request.getfixturevalue("compiled"), sql)
        if " FROM temp " in sql:
            got = named.sql(sql.replace(" FROM temp ", " "))
        elif " JOIN u " in sql:
            got = sql_query(sql, t=named, u=_GROUPS_FRAME)
        else:
            got = sql_query(sql, t=named, custom_functions=_FUNCTIONS)
    if np.isscalar(expected):
        assert got == pytest.approx(expected)
    else:
        pd.testing.assert_frame_equal(_sorted(got), _sorted(expected), check_dtype=False)


def _catalog_fresh_literal_shapes(ds):
    """GROUP BY/HAVING, 3-way join and IN-subquery reads of ``catalog``,
    each with a literal this JVM has not seen yet."""
    k = next(_LITERALS)
    return [
        lambda: ds.query(
            "SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS total FROM orders "
            f"WHERE o_custkey % 7 = {k % 7} GROUP BY o_orderpriority HAVING COUNT(*) > {k}"
        ),
        lambda: ds.query(
            "SELECT n.n_name, COUNT(*) AS n_orders FROM orders o "
            "JOIN customer c ON o.o_custkey = c.c_custkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            f"WHERE o.o_weight > {k % 9}.{k % 1000:03d} GROUP BY n.n_name"
        ),
        lambda: ds.query(
            "SELECT COUNT(*) AS n FROM orders WHERE o_custkey IN "
            f"(SELECT c_custkey FROM customer WHERE c_nationkey = {k % 25}) AND o_orderkey > {k}"
        ),
        # no table, and a subquery with no table: OneRowRelation leaves
        lambda: ds.query(f"SELECT {k} ^ 3 ^ 2 AS p, {k} % 7 AS r"),
        lambda: ds.query(f"SELECT COUNT(*) AS n FROM orders WHERE o_orderkey < (SELECT {k} * 3)"),
    ]


def test_cached_catalog_queries_compile_no_class(spark, catalog):
    for run in _catalog_fresh_literal_shapes(catalog):  # first-use set-up compiles
        run()
    before = _compiles(spark)
    for _ in range(2):
        for run in _catalog_fresh_literal_shapes(catalog):
            run()
    assert _compiles(spark) == before


@pytest.fixture(scope="module")
def mode_files(tmp_path_factory):
    """A small table and one a row above ``INTERPRETED_MAX_ROWS``, in
    files no other test reads (the cache manager matches cached plans
    across DataSources)."""
    root = tmp_path_factory.mktemp("mode")
    paths = {}
    for name, rows in (("mode_small", 5_000), ("mode_big", INTERPRETED_MAX_ROWS + 1)):
        keys = np.arange(rows, dtype="int64")
        paths[name] = str(root / f"{name}.parquet")
        pq.write_table(pa.table({"k": keys, "v": (keys % 1000).astype("float64")}), paths[name])
    return paths


_LARGE_OR_UNKNOWN = {
    "cached_above_cut": "SELECT COUNT(*) AS n, SUM(v) AS s FROM mode_big WHERE k % 11 = {k}",
    "uncached_file": "SELECT COUNT(*) AS n, SUM(v) AS s FROM mode_small WHERE k % 11 = {k}",
    "subquery_above_cut": (
        "SELECT COUNT(*) AS n FROM mode_small WHERE k IN (SELECT k FROM mode_big WHERE v = {k})"
    ),
}


@pytest.mark.parametrize("case", list(_LARGE_OR_UNKNOWN))
def test_catalog_query_with_a_large_or_uncounted_leaf_compiles(spark, mode_files, case):
    ds = DataSource(spark=spark, cache=case != "uncached_file")
    for name, path in mode_files.items():
        ds.query(f"CREATE TABLE {name} ('{path}')")
    try:
        for name in mode_files:
            ds.query(f"SELECT COUNT(*) AS n FROM {name}")  # the cold scans
        sql = _LARGE_OR_UNKNOWN[case]
        ds.query(sql.format(k=next(_LITERALS)))  # first-use set-up compiles
        assert not runs_interpreted(ds.query_df(sql.format(k=0)))
        before = _compiles(spark)
        ds.query(sql.format(k=next(_LITERALS)))
        assert _compiles(spark) > before
    finally:
        for name in mode_files:
            ds.drop_table(name)


@pytest.fixture()
def caller_view_t(spark):
    """The caller's own view ``t``, with data unlike any one-shot input."""
    spark.createDataFrame(pd.DataFrame({"id": [-1, -2]})).createOrReplaceTempView("t")
    yield
    spark.catalog.dropTempView("t")


@pytest.fixture()
def caller_ansi(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield
    spark.conf.set("spark.sql.ansi.enabled", prev)


@pytest.fixture()
def people_ds(spark, people):
    """A long-lived DataSource on the caller's session with ``people``
    as ``people_t`` (the caller's own ``t`` stays out of its way)."""
    ds = DataSource(spark=spark, cache=False)
    ds.add_table("people_t", people)
    yield ds
    ds.drop_table("people_t")
    ds.function_registry.drop_all()


def _batch_rows(s):
    return s * 0 + len(s)


@pytest.mark.parametrize("fails", [False, True], ids=["success", "failure"])
def test_one_shot_leaves_caller_session_alone(
    spark, people, people_ds, batch_rows, caller_view_t, caller_ansi, fails
):
    codegen = {key: spark.conf.get(key) for key in INTERPRETED_CONFS}
    to_df = RDD.toDF  # bound to a session by each SparkSession constructor
    batch_rows(100)
    people_ds.register_function("batch_rows", _batch_rows)
    entry_points = {
        "sql_query": lambda sql: sql_query(
            sql.format(t="t"), t=people, custom_functions={"batch_rows": _batch_rows}
        ),
        "DataSource.query": lambda sql: people_ds.query(sql.format(t="people_t")),
    }
    for run in entry_points.values():
        if fails:
            # the caller's ANSI mode applies inside the call
            with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
                run("SELECT id / 0 AS x FROM {t}")
        else:
            # the caller's batch size applies inside the call
            assert run("SELECT MAX(batch_rows(id)) AS n FROM {t}") == 100
        assert SparkSession.getActiveSession() is spark
        assert {key: spark.conf.get(key) for key in INTERPRETED_CONFS} == codegen
        assert spark.table("t").toPandas()["id"].tolist() == [-1, -2]
        assert RDD.toDF is to_df


def test_query_honours_caller_confs_set_after_the_datasource(spark, people_ds):
    sql = "SELECT MAX(id / 0) AS x FROM people_t"
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        assert pd.isna(people_ds.query(sql))
        spark.conf.set("spark.sql.ansi.enabled", "true")
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            people_ds.query(sql)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_one_shot_analysis_error_leaves_caller_session_alone(spark, people, caller_view_t):
    with pytest.raises(QueryExecutionException):
        sql_query("SELECT no_such_column FROM t", t=people)
    assert SparkSession.getActiveSession() is spark
    assert spark.table("t").toPandas()["id"].tolist() == [-1, -2]


def test_spark_frame_input_leaves_caller_view_alone(spark, caller_view_t):
    frame = spark.createDataFrame(pd.DataFrame({"id": [1, 2, 3]}))
    assert sql_query("SELECT SUM(id) AS s FROM t", t=frame) == 6
    assert spark.table("t").toPandas()["id"].tolist() == [-1, -2]


def test_add_table_rebinds_a_frame_of_another_session(spark, monkeypatch):
    monkeypatch.setattr(RDD, "toDF", RDD.toDF)  # each session constructor rebinds it
    other = spark.newSession()
    try:
        frame = other.createDataFrame(pd.DataFrame({"v": [1, 2, 3]}))
    finally:
        activate(spark)
    ds = DataSource(spark=spark, cache=False)
    ds.add_table("xo", frame)
    try:
        assert ds.query("SELECT SUM(v) AS s FROM xo") == 6
        assert not other.catalog.tableExists("xo")
    finally:
        ds.drop_table("xo")


def test_rebind_keeps_values_resolution_and_cached_plan(spark):
    """``Dataset.ofRows`` is internal: a rebound frame belongs to its
    new session, keeps its values and names as resolved, and still
    reads a cached plan's ``InMemoryRelation``."""
    child = one_shot_session(spark)
    frame = spark.createDataFrame(pd.DataFrame({"v": [3, 1, 2]})).filter("v > 1").cache()
    try:
        frame.count()
        assert rebind(frame, spark) is frame
        for df, session in ((frame, child), (rebind(frame, child), spark)):
            out = rebind(df, session)
            assert out.sparkSession is session
            assert sorted(r.v for r in out.collect()) == [2, 3]
            assert "InMemoryRelation" in out._jdf.queryExecution().optimizedPlan().toString()
    finally:
        frame.unpersist()
    # resolved case-insensitively in the child, run on a case-sensitive caller
    prev = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", "true")
    child = one_shot_session(spark)
    child.conf.set("spark.sql.caseSensitive", "false")
    try:
        lower = child.range(3).selectExpr("id AS NaMe").selectExpr("name")
        assert [r[0] for r in rebind(lower, spark).collect()] == [0, 1, 2]
    finally:
        spark.conf.set("spark.sql.caseSensitive", prev)


def test_concurrent_query_df_resolve_under_own_sensitivity(spark):
    """Two DataSources of opposite case sensitivity on one session,
    analyzing at the same time, each resolve under their own."""
    frame = pd.DataFrame({"NaMe": ["x", "y"]})
    sensitive = DataSource(spark=spark, cache=False, case_sensitive=True)
    insensitive = DataSource(spark=spark, cache=False, case_sensitive=False)
    sensitive.add_table("cs_on", frame)
    insensitive.add_table("cs_off", frame)
    prev = spark.conf.get("spark.sql.caseSensitive")
    # more threads than local cores, switching often
    pairs = [(sensitive, "cs_on"), (insensitive, "cs_off")] * 3
    start = threading.Barrier(len(pairs))
    errors = []

    def loop(ds, table):
        try:
            start.wait(60)
            for i in range(8):
                sql = f"SELECT name FROM {table} WHERE LENGTH(NaMe) > {-i}"
                if ds.case_sensitive:
                    with pytest.raises(QueryExecutionException):
                        ds.query_df(sql)
                else:
                    assert sorted(r[0] for r in ds.query_df(sql).collect()) == ["x", "y"]
        except (Exception, pytest.fail.Exception) as e:  # reported below
            errors.append(e)

    threads = [threading.Thread(target=loop, args=pair) for pair in pairs]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        for thread in threads:
            thread.start()
        for thread in threads:
            thread.join(300)
    finally:
        sys.setswitchinterval(switch)
        sensitive.drop_table("cs_on")
        insensitive.drop_table("cs_off")
    assert not any(thread.is_alive() for thread in threads)
    assert errors == []
    assert spark.conf.get("spark.sql.caseSensitive") == prev


def test_leaked_child_session_resolves_to_its_parent(spark):
    child = one_shot_session(spark)
    activate(child)
    try:
        assert current_spark() is spark
    finally:
        activate(spark)


def test_concurrent_one_shots_keep_rdd_to_df(spark, people, monkeypatch):
    """Every child's constructor rebinds the process-global ``RDD.toDF``;
    one-shots on two threads must leave it bound as it was."""
    to_df = RDD.toDF
    rebind = pyspark.sql.session._monkey_patch_RDD
    calls = itertools.count()
    first_in, second_in = threading.Event(), threading.Event()

    def slow_rebind(session):
        # hold the first child's binding until the second thread binds
        # its own (it cannot while the first holds the lock), then let
        # the first thread restore before the second
        rebind(session)
        k = next(calls)
        if k == 0:
            first_in.set()
            second_in.wait(2)
        elif k == 1:
            second_in.set()
            time.sleep(0.3)

    monkeypatch.setattr(pyspark.sql.session, "_monkey_patch_RDD", slow_rebind)
    errors = []

    def loop(k):
        try:
            for i in range(3):
                sql_query(f"SELECT COUNT(*) AS n FROM t WHERE id > {k * 10 + i}", t=people)
        except Exception as e:  # reported below
            errors.append(e)

    first = threading.Thread(target=loop, args=(0,))
    first.start()
    assert first_in.wait(60)
    second = threading.Thread(target=loop, args=(1,))
    second.start()
    first.join()
    second.join()
    assert errors == []
    assert RDD.toDF is to_df


def test_child_sessions_are_freed_soon_after_the_call(
    spark, people, people_ds, monkeypatch, tmp_path
):
    """Spark's AQE result-stage and broadcast pool threads inherit the
    child active where they start; they must not keep it for long."""
    jvm = spark._jvm
    refs = []

    def tracked(parent):
        child = one_shot_session(parent)
        refs.append(jvm.java.lang.ref.WeakReference(child._jsparkSession))
        return child

    monkeypatch.setattr(dfsql_spark, "one_shot_session", tracked)
    monkeypatch.setattr(dfsql_spark.datasource, "one_shot_session", tracked)
    groups = pd.DataFrame({"grp": list("abcde"), "w": range(5)})
    for i in range(3):
        sql_query(f"SELECT grp, COUNT(*) AS n FROM t WHERE age > {20 + i} GROUP BY grp", t=people)
        sql_query(
            f"SELECT u.w, COUNT(*) AS n FROM t JOIN u ON t.grp = u.grp WHERE t.age > {20 + i} "
            "GROUP BY u.w",
            t=people,
            u=groups,
        )
    for i in range(300):
        people_ds.query(f"SELECT COUNT(*) AS n FROM people_t WHERE age > {i % 50 + 18}")
    psdf = ps.DataFrame({"a": range(10)})
    for i in range(3):
        people_ds.query_df(f"SELECT COUNT(*) AS n FROM people_t WHERE age > {20 + i}").collect()
        people_ds.query(
            f"COPY (SELECT id FROM people_t WHERE age > {20 + i}) TO '{tmp_path / str(i)}'"
        )
        psdf.sql(f"SELECT COUNT(*) AS n WHERE a > {i}").to_pandas()
    assert len(refs) == 315
    deadline = time.monotonic() + POOL_KEEP_ALIVE_S + 15
    while True:
        gc.collect()  # drop the Python wrappers, so py4j releases the JVM objects
        jvm.java.lang.System.gc()
        alive = sum(ref.get() is not None for ref in refs)
        if alive == 0 or time.monotonic() > deadline:
            break
        time.sleep(0.5)
    assert alive == 0


@pytest.fixture()
def user_confs(spark):
    """Runtime confs a user set, unlike every get_spark() builder conf."""
    confs = {
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.session.timeZone": "America/New_York",
        "spark.sql.ansi.enabled": "true",
    }
    prev = {key: spark.conf.get(key) for key in confs}
    for key, value in confs.items():
        spark.conf.set(key, value)
    yield confs
    for key, value in prev.items():
        spark.conf.set(key, value)


def test_runtime_confs_survive_one_shot_and_datasource(spark, people, user_confs):
    assert sql_query("SELECT COUNT(*) AS n FROM t", t=people) == len(people)
    assert people.sql("SELECT MAX(age) AS hi") == people["age"].max()
    assert DataSource().spark is spark
    assert {key: spark.conf.get(key) for key in user_confs} == user_confs


@pytest.fixture()
def conf_writes(spark, monkeypatch):
    """(written on the caller's session?, key) for every conf write."""
    writes = []
    real = RuntimeConfig.set

    def record(self, key, value):
        writes.append((self is spark.conf, key))
        return real(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", record)
    return writes


def test_matching_case_sensitivity_writes_no_conf(spark, people, conf_writes):
    session_value = spark.conf.get("spark.sql.caseSensitive") == "true"
    ds = DataSource(spark=spark, cache=False, case_sensitive=session_value)
    ds.add_table("cs_match", people)
    sensitivity = [(False, "spark.sql.caseSensitive")]
    sql = "SELECT COUNT(*) AS n FROM cs_match"
    try:
        # query_df and query() set the DataSource's sensitivity once,
        # on their child only
        for case_sensitive in (session_value, not session_value):
            ds.case_sensitive = case_sensitive
            for run in (lambda: ds.query_df(sql).first()["n"], lambda: ds.query(sql)):
                conf_writes.clear()
                assert run() == len(people)
                assert [w for w in conf_writes if w[1] == "spark.sql.caseSensitive"] == sensitivity
                assert not any(on_caller for on_caller, _ in conf_writes)
    finally:
        ds.drop_table("cs_match")
    # a one-shot call sets its sensitivity once, on the child only
    for case_sensitive in (True, False):
        conf_writes.clear()
        sql_query("SELECT COUNT(*) AS n FROM t", t=people, ds_kwargs={"case_sensitive": case_sensitive})
        assert [w for w in conf_writes if w[1] == "spark.sql.caseSensitive"] == sensitivity
        assert not any(on_caller for on_caller, _ in conf_writes)
