"""Plan-shape pins for the one-shot SQL-over-pandas path (``sql_query``
and the pandas ``.sql`` accessor).

A one-shot query registers throwaway views, so it does not pin them in
Spark's cache, and a pandas frame of up to one Arrow batch is a single
partition, so GROUP BY / HAVING / ORDER BY over it plan no exchange.  These tests count Spark jobs and tasks with
``setJobGroup`` + ``statusTracker()``, so a plan regression fails here
instead of hiding in wall-clock noise.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.catalog import Catalog

from dfsql_spark import DataSource, sql_query

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
