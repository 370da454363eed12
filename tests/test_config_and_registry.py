"""Custom-function class API + Configuration tests.

Ports the reference's custom-function test coverage to this engine's
class API (reference: tests/test_data_sources/test_file_data_source.py:430-487
for grouped custom aggregates, tests/test_interface.py:99-116 for
custom functions through the one-shot ``sql_query`` entry point), plus
the ``Configuration`` shim (reference: dfsql/config.py:1-17 — env-var
resolution, plain class-attribute override, ``as_dict`` inspection).
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from dfsql_spark import DataSource, sql_query
from dfsql_spark.config import BooleanConfig, ConfigError, Configuration
from dfsql_spark.functions.registry import AggregateFunction, CustomFunction


@pytest.fixture()
def people(tmp_path):
    csv = tmp_path / "people.csv"
    pd.DataFrame(
        {
            "name": ["ann", "bob", "cal", "dee", "eve"],
            "sex": ["f", "m", "m", "f", "f"],
            "survived": [1, 0, 0, 1, 1],
            "age": [30.0, 25.0, 40.0, 35.0, 28.0],
        }
    ).to_csv(csv, index=False)
    return str(csv)


@pytest.fixture()
def ds(spark, people, tmp_path):
    d = DataSource(spark=spark, metadata_dir=str(tmp_path / "meta"))
    d.query(f"CREATE TABLE people ('{people}')")
    yield d
    d.query("DROP TABLE people")


# ---------------------------------------------------------------------------
# scalar CustomFunction class API
# ---------------------------------------------------------------------------

class PlusOne(CustomFunction):
    name = "plus_one"
    return_type = "double"

    def get_output(self, args):
        return args[0] + 1


class AddCols(CustomFunction):
    name = "add_cols"
    return_type = "double"
    arity = 2

    def get_output(self, args):
        return args[0] + args[1]


def test_scalar_custom_function_instance(ds):
    ds.register_function(PlusOne())
    out = ds.query("SELECT plus_one(age) AS a1 FROM people ORDER BY age")
    assert out.tolist() == [26.0, 29.0, 31.0, 36.0, 41.0]


def test_scalar_custom_function_class(ds):
    # passing the class itself (registry instantiates it)
    ds.register_function(AddCols)
    out = ds.query("SELECT add_cols(age, survived) AS s FROM people ORDER BY age")
    assert out.tolist() == [25.0, 29.0, 31.0, 36.0, 40.0]


def test_scalar_name_override(ds):
    ds.register_function("bump", PlusOne())
    assert ds.query("SELECT bump(1)") == 2.0


def test_unnamed_custom_function_rejected(ds):
    class NoName(CustomFunction):
        def get_output(self, args):
            return args[0]

    with pytest.raises(ValueError, match="name"):
        ds.register_function(NoName())


# ---------------------------------------------------------------------------
# AggregateFunction class API (reference mode() tests)
# ---------------------------------------------------------------------------

class ModeFunc(AggregateFunction):
    name = "mode_fn"
    return_type = "bigint"

    def get_output(self, args):
        return args[0].value_counts(dropna=False).index[0]


def test_grouped_custom_aggregate(ds):
    ds.register_function(ModeFunc())
    out = ds.query(
        "SELECT sex, mode_fn(survived) AS mode_survived FROM people "
        "GROUP BY sex ORDER BY sex"
    )
    # f: [1,1,1] -> 1 ; m: [0,0] -> 0
    assert out.columns.tolist() == ["sex", "mode_survived"]
    assert out.values.tolist() == [["f", 1], ["m", 0]]


def test_global_custom_aggregate(ds):
    ds.register_function(ModeFunc())
    assert ds.query("SELECT mode_fn(survived) FROM people") == 1


def test_register_plain_callable_aggregate(ds):
    # plain callable + is_aggregate=True (documented divergence from the
    # reference, which infers aggregate-ness from the interpreter
    # context; Spark needs the declaration at registration time)
    ds.register_function(
        "mode2",
        lambda s: s.value_counts(dropna=False).index[0],
        return_type="bigint",
        is_aggregate=True,
    )
    out = ds.query(
        "SELECT sex, mode2(survived) AS m FROM people GROUP BY sex ORDER BY sex"
    )
    assert out.values.tolist() == [["f", 1], ["m", 0]]


def test_two_aggregates_one_query(ds):
    fn = lambda s: s.value_counts(dropna=False).index[0]  # noqa: E731
    ds.register_function("m1", fn, return_type="bigint", is_aggregate=True)
    ds.register_function("m2", fn, return_type="bigint", is_aggregate=True)
    out = ds.query(
        "SELECT sex, m1(survived) AS a, m2(survived) AS b FROM people "
        "GROUP BY sex ORDER BY sex"
    )
    assert out["a"].tolist() == out["b"].tolist() == [1, 0]


def test_sql_query_custom_functions_aggregate(spark):
    # the reference interface test: custom fn through one-shot sql_query
    df = pd.DataFrame({"sex": ["f", "m", "f"], "survived": [1, 0, 1]})
    out = sql_query(
        "SELECT sex, mode3(survived) AS ms FROM t GROUP BY sex ORDER BY sex",
        t=df,
        custom_functions={"mode3": ModeFunc()},
    )
    assert out.values.tolist() == [["f", 1], ["m", 0]]


# ---------------------------------------------------------------------------
# Configuration
# ---------------------------------------------------------------------------

@pytest.fixture()
def clean_config():
    """Snapshot/restore Configuration class overrides and env vars."""
    saved_vars = {
        k: v for k, v in vars(Configuration).items() if not k.startswith("__")
    }
    saved_env = {
        k: os.environ.get(k)
        for k in ("DFSQL_CASE_SENSITIVE", "SPARK_GRAFT_SHUFFLE_PARTITIONS")
    }
    yield
    for k in list(vars(Configuration)):
        if not k.startswith("__") and k not in saved_vars:
            delattr(Configuration, k)
    for k, v in saved_vars.items():
        setattr(Configuration, k, v)
    for k, v in saved_env.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v


def test_config_defaults(clean_config):
    d = Configuration.as_dict()
    assert d["CASE_SENSITIVE"] is True
    assert d["SHUFFLE_PARTITIONS"] == 32


def test_config_env_override(clean_config):
    os.environ["DFSQL_CASE_SENSITIVE"] = "false"
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = "64"
    assert Configuration.CASE_SENSITIVE is False
    assert Configuration.SHUFFLE_PARTITIONS == 64


def test_config_bad_env_value(clean_config):
    os.environ["DFSQL_CASE_SENSITIVE"] = "maybe"
    with pytest.raises(ConfigError):
        Configuration.CASE_SENSITIVE


def test_config_plain_override_wins_and_keeps_key(clean_config):
    # the reference-test pattern: plain assignment onto the class
    os.environ["DFSQL_CASE_SENSITIVE"] = "true"
    Configuration.CASE_SENSITIVE = False
    assert Configuration.CASE_SENSITIVE is False
    # the key must NOT disappear from the inspection surface
    d = Configuration.as_dict()
    assert d["CASE_SENSITIVE"] is False
    assert "SHUFFLE_PARTITIONS" in d


def test_config_subclass_override(clean_config):
    class MyConfig(Configuration):
        CASE_SENSITIVE = False
        EXTRA = BooleanConfig("DFSQL_TEST_EXTRA", default=True)

    d = MyConfig.as_dict()
    assert d["CASE_SENSITIVE"] is False
    assert d["EXTRA"] is True
    # base class untouched
    assert Configuration.as_dict()["CASE_SENSITIVE"] is True
    assert "EXTRA" not in Configuration.as_dict()


def test_concurrent_datasources_case_sensitivity(spark, tmp_path):
    """Two DataSources with opposite case_sensitive on one session,
    querying from concurrent threads: the per-query conf window is
    lock-guarded, so every query analyzes under its own sensitivity."""
    import threading

    csv = tmp_path / "cased.csv"
    pd.DataFrame({"Val": [1, 2, 3]}).to_csv(csv, index=False)
    ds_ci = DataSource(
        spark=spark, metadata_dir=str(tmp_path / "ci"), case_sensitive=False
    )
    ds_cs = DataSource(
        spark=spark, metadata_dir=str(tmp_path / "cs"), case_sensitive=True
    )
    ds_ci.query(f"CREATE TABLE cased ('{csv}')")
    ds_cs.query(f"CREATE TABLE cased ('{csv}')")
    errors: list = []

    def run_ci():
        try:
            for _ in range(5):
                # lowercase ref against "Val" only resolves case-insensitively
                assert ds_ci.query("SELECT SUM(val) FROM cased") == 6
        except Exception as e:  # pragma: no cover - failure capture
            errors.append(e)

    def run_cs():
        try:
            for _ in range(5):
                assert ds_cs.query("SELECT SUM(Val) FROM cased") == 6
        except Exception as e:  # pragma: no cover - failure capture
            errors.append(e)

    threads = [threading.Thread(target=t) for t in (run_ci, run_cs) * 2]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    ds_ci.query("DROP TABLE cased")
    ds_cs.query("DROP TABLE cased")
    assert not errors, errors
    # session-global conf restored to the session default afterwards
    assert spark.conf.get("spark.sql.caseSensitive") in ("false", "true")


def test_datasource_reads_config_case_sensitivity(spark, clean_config, tmp_path):
    Configuration.CASE_SENSITIVE = False
    ds = DataSource(spark=spark, metadata_dir=str(tmp_path / "m1"))
    assert ds.case_sensitive is False
    Configuration.CASE_SENSITIVE = True
    ds2 = DataSource(spark=spark, metadata_dir=str(tmp_path / "m2"))
    assert ds2.case_sensitive is True


def test_custom_function_shadows_builtin_scoped(spark):
    """Reference parity: custom functions are checked BEFORE builtin
    ops (reference base_data_source.py:192-198) — and, like the
    reference, the shadow is scoped to the registering DataSource.
    Implementation: the UDF lives in the session registry only under a
    collision-proof internal name; the dialect rewriter renames call
    sites in this DataSource's SQL (dialect.py
    ``_rewrite_function_names``).  The session's builtin ``lower`` is
    never replaced, so other DataSources and plain ``spark.sql`` keep
    builtin semantics."""
    from dfsql_spark import DataSource

    ds = DataSource(spark=spark)
    ds2 = DataSource(spark=spark)
    ds.add_table("shadow_t", pd.DataFrame({"x": ["AbC", "DeF"]}))
    ds2.add_table("shadow_t2", pd.DataFrame({"x": ["AbC"]}))
    try:
        ds.register_function("lower", lambda s: s + "!", return_type="string")
        out = ds.query("SELECT lower(x) AS r FROM shadow_t", reduce_output=False)
        assert list(out["r"]) == ["AbC!", "DeF!"]
        # scoping: a sibling DataSource on the SAME session still gets
        # the builtin, as does direct spark.sql
        assert ds2.query("SELECT lower(x) FROM shadow_t2") == "abc"
        assert spark.sql("SELECT lower('AbC') AS r").collect()[0].r == "abc"
    finally:
        spark.catalog.dropTempView("shadow_t")
        spark.catalog.dropTempView("shadow_t2")


def test_builtin_shadow_cannot_break_dataframe_api(spark):
    """Round-5 regression pin: Spark 4 resolves DataFrame-API functions
    (e.g. ``F.lower`` inside ``F.transform``'s lambda) through the
    session function registry, so a session-wide ``udf.register`` of a
    builtin name broke unrelated plans with
    UNSUPPORTED_FEATURE.LAMBDA_FUNCTION_WITH_PYTHON_UDF.  With scoped
    registration the session entry for ``lower`` is untouched:
    registering a custom ``lower`` must leave every F.lower-in-lambda
    plan analyzable — including the engine's own lang_id operator."""
    from pyspark.sql import functions as F

    from dfsql_spark import DataSource
    from dfsql_spark.operators.text import lang_id

    ds = DataSource(spark=spark)
    ds.register_function("lower", lambda s: s + "!", return_type="string")

    # bare F.lower inside a lambda — the exact shape that failed
    df = spark.createDataFrame([(["AbC", "DeF"],)], ["arr"])
    got = df.select(
        F.transform("arr", lambda c: F.lower(c)).alias("lo")
    ).collect()[0].lo
    assert got == ["abc", "def"]

    # and the real operator that tripped in round 5 (t03)
    docs = spark.createDataFrame(
        [("d1", "the quick brown fox and the lazy dog walk together")],
        ["doc_id", "text"],
    )
    out = lang_id(docs).collect()
    assert out[0].lang_pred == "en"


# ---------------------------------------------------------------------------
# top-k sort fallback (session.DEFAULT_CONFS)
# ---------------------------------------------------------------------------

def test_huge_order_by_limit_plans_spilling_sort(ds):
    """``ORDER BY ... LIMIT n`` plans a top-k buffer of 2n slots, which
    takes the JVM down for a huge ``n``.  From one million rows on the
    session default plans a spilling Sort + GlobalLimit instead and
    still returns every row in order; a small limit keeps the top-k."""
    huge = "SELECT name FROM people ORDER BY age LIMIT 2000000000"
    plan = ds.query_df(huge)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" not in plan, plan
    assert ds.query(huge).tolist() == ["bob", "eve", "ann", "dee", "cal"]

    small = "SELECT name FROM people ORDER BY age LIMIT 50"
    plan = ds.query_df(small)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert ds.query(small).tolist() == ["bob", "eve", "ann", "dee", "cal"]
