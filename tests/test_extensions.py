"""pandas ``.sql`` accessor + FROM-injection tests.

Mirrors the reference's accessor suite (tests/test_extensions.py:6-99):
FROM-less selects, explicit FROM temp, nested subselects, reduce_output
collapse, and custom functions through the accessor.
"""

import sys
import threading
import warnings

import pandas as pd
import pytest

import dfsql_spark  # noqa: F401 — registers the accessor
from dfsql_spark.extensions import maybe_add_from_to_query


@pytest.fixture()
def pdf():
    return pd.DataFrame(
        {
            "a": [1, 2, 3, 4],
            "b": ["x", "x", "y", "z"],
        }
    )


class TestFromInjection:
    def test_plain_select(self):
        assert maybe_add_from_to_query("SELECT a").split() == [
            "SELECT", "a", "from", "temp",
        ]

    def test_where_clause(self):
        out = maybe_add_from_to_query("SELECT a WHERE a > 1")
        assert out.split() == ["SELECT", "a", "from", "temp", "WHERE", "a", ">", "1"]

    def test_existing_from_untouched(self):
        sql = "SELECT a FROM t WHERE a > 1"
        assert maybe_add_from_to_query(sql) == sql

    def test_nested_select(self):
        out = maybe_add_from_to_query("SELECT a WHERE a IN (SELECT a WHERE a > 2)")
        assert out.count("from temp") == 2

    def test_union_both_sides(self):
        out = maybe_add_from_to_query("SELECT a UNION SELECT a")
        assert out.count("from temp") == 2

    def test_custom_table_name(self):
        out = maybe_add_from_to_query("SELECT a", table_name="df0")
        assert out.split()[-1] == "df0"


class TestAccessor:
    def test_select_no_from(self, pdf):
        result = pdf.sql("SELECT a WHERE a > 2", reduce_output=False)
        assert sorted(result["a"]) == [3, 4]

    def test_select_with_from_temp(self, pdf):
        result = pdf.sql("SELECT a FROM temp WHERE a = 1")
        assert result == 1

    def test_reduce_to_scalar(self, pdf):
        assert pdf.sql("SELECT SUM(a) AS s") == 10

    def test_reduce_to_series(self, pdf):
        s = pdf.sql("SELECT a WHERE a < 3")
        assert isinstance(s, pd.Series)
        assert sorted(s) == [1, 2]

    def test_nested_select_executes(self, pdf):
        result = pdf.sql(
            "SELECT a WHERE a = (SELECT MAX(a))", reduce_output=False
        )
        assert list(result["a"]) == [4]

    def test_groupby_through_accessor(self, pdf):
        result = pdf.sql(
            "SELECT b, COUNT(a) AS n GROUP BY b ORDER BY b", reduce_output=False
        )
        assert list(result["n"]) == [2, 1, 1]

    def test_custom_function(self, pdf):
        result = pdf.sql(
            "SELECT triple(a) AS t WHERE a = 2",
            custom_functions={"triple": lambda x: x * 3},
        )
        assert result == 6


class TestPandasOnSparkAccessor:
    """Spark-era mirror of the reference's modin registration
    (dfsql/extensions.py:70-96): same accessor on pyspark.pandas
    DataFrames, data never leaves the JVM."""

    def _psdf(self, spark):
        import pyspark.pandas as ps

        return ps.DataFrame({"a": [1, 2, 3, 4], "b": ["x", "x", "y", "y"]})

    def test_lazy_distributed_result(self, spark):
        psdf = self._psdf(spark)
        out = psdf.sql("SELECT b, SUM(a) AS s GROUP BY b ORDER BY b")
        import pyspark.pandas as ps

        assert isinstance(out, ps.DataFrame)  # stayed distributed
        assert out.to_pandas()["s"].tolist() == [3, 7]

    def test_fromless_injection_and_dialect(self, spark):
        psdf = self._psdf(spark)
        # FROM-less SELECT + the ^-is-power dialect rewrite
        assert psdf.sql("SELECT a ^ 2 AS p WHERE a <= 2").to_pandas()[
            "p"
        ].tolist() == [1.0, 4.0]

    def test_reduce_output_opt_in(self, spark):
        psdf = self._psdf(spark)
        assert psdf.sql("SELECT SUM(a) AS s", reduce_output=True) == 10

    def test_call_emits_no_advice_warning(self, spark):
        from pyspark.pandas.utils import PandasAPIOnSparkAdviceWarning

        psdf = self._psdf(spark)
        with warnings.catch_warnings(record=True) as seen:
            warnings.simplefilter("always")
            out = psdf.sql("SELECT a WHERE a > 2")
        assert [w for w in seen if issubclass(w.category, PandasAPIOnSparkAdviceWarning)] == []
        assert sorted(out.to_pandas()["a"]) == [3, 4]

    def test_temp_view_not_leaked(self, spark):
        psdf = self._psdf(spark)
        psdf.sql("SELECT a WHERE a = 1").to_pandas()
        assert not spark.catalog.tableExists("temp")

    def test_caller_temp_view_survives(self, spark):
        spark.createDataFrame(pd.DataFrame({"a": [-1]})).createOrReplaceTempView("temp")
        try:
            psdf = self._psdf(spark)
            assert psdf.sql("SELECT SUM(a) AS s", reduce_output=True) == 10
            assert sorted(psdf.sql("SELECT a WHERE a > 2").to_pandas()["a"]) == [3, 4]
            assert spark.table("temp").toPandas()["a"].tolist() == [-1]
        finally:
            spark.catalog.dropTempView("temp")

    def test_concurrent_calls_get_their_own_results(self, spark):
        import pyspark.pandas as ps

        # more threads than local cores, switching often
        frames = {
            base: ps.DataFrame({"a": range(base, base + 50)}) for base in range(0, 6000, 1000)
        }
        start = threading.Barrier(len(frames))
        errors = []

        def loop(base):
            try:
                start.wait(60)
                for i in range(4):
                    sql = f"SELECT MIN(a) AS lo, COUNT(*) AS n WHERE a >= {base + i}"
                    if i % 2:
                        got = frames[base].sql(sql).to_pandas()
                    else:
                        got = frames[base].sql(sql, reduce_output=True)
                    assert got.values.tolist() == [[base + i, 50 - i]]
            except Exception as e:  # reported below
                errors.append(e)

        threads = [threading.Thread(target=loop, args=(base,)) for base in frames]
        switch = sys.getswitchinterval()
        sys.setswitchinterval(1e-4)
        try:
            for thread in threads:
                thread.start()
            for thread in threads:
                thread.join(300)
        finally:
            sys.setswitchinterval(switch)
        assert not any(thread.is_alive() for thread in threads)
        assert errors == []
