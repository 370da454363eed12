"""dfsql_spark — a PySpark-native engine with the query surface of
mindsdb/dfsql, rebuilt Spark-first.

Public API mirrors the reference package root (dfsql/__init__.py):

* :func:`sql_query` — one-shot SQL over keyword DataFrames
* :class:`DataSource` — named-table catalog with ``query()``
* ``dfsql_spark.extensions`` — pandas ``.sql`` accessor

plus the Spark-era extensions: ``operators`` (dedup / similarity /
text / multimodal) and ``streaming``.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .config import Configuration
from .datasource import DataSource
from .exceptions import (
    CommandException,
    DfsqlException,
    QueryExecutionException,
    SQLParsingException,
)
from .functions import AggregateFunction, CustomFunction
from .session import activate, current_spark, get_spark, one_shot_session

__version__ = "0.1.0"

__all__ = [
    "sql_query",
    "DataSource",
    "DfsqlException",
    "SQLParsingException",
    "CommandException",
    "QueryExecutionException",
    "Configuration",
    "CustomFunction",
    "AggregateFunction",
    "get_spark",
    "maybe_add_from_to_query",
    "__version__",
]


def sql_query(
    sql: str,
    spark: SparkSession | None = None,
    custom_functions: dict | None = None,
    reduce_output: bool = True,
    ds_kwargs: dict | None = None,
    **table_dfs,
):
    """Run one SQL statement against keyword-passed DataFrames.

    Reference semantics (dfsql/__init__.py:12-36): each keyword is a
    table name that **must** appear in the SQL text (validated, raises
    otherwise); the result is a pandas DataFrame auto-collapsed to
    Series/scalar; ``ds_kwargs`` is forwarded verbatim to the
    one-shot :class:`DataSource` (reference signature's ``ds_kwargs=``,
    dfsql/__init__.py:12,22 — e.g. ``{"case_sensitive": False}``).
    Unlike the reference there is no CSV round-trip: pandas input
    crosses to the JVM via Arrow, and a frame passed again unchanged
    reuses its first conversion (:meth:`DataSource.add_table`).

    The one-shot ``DataSource`` does not cache (``cache=False``) unless
    ``ds_kwargs`` sets ``cache``: its views live for one query, and a
    pandas table is already in JVM memory, so a cache pin would only
    add a job.

    The query runs in a child session cloned from ``spark``: it
    inherits the caller's runtime confs, temp views and functions, and
    shares the SparkContext and cache manager, but the one-shot views
    (a Spark DataFrame is rebound to the child), functions and confs
    stay in the child and are discarded with it, so a caller's own
    view named like a keyword is left as it is.
    :meth:`DataSource.query` runs the query in that child, interpreted
    or compiled by the plan's leaf row counts.

    Without ``spark=``, the active (else the default) session is used
    as it is; a session is built only when none exists.
    """
    if not table_dfs:
        raise DfsqlException("At least one table must be provided")
    word_re = re.compile(r"[A-Za-z_][A-Za-z_0-9]*")
    sql_words = {w.lower() for w in word_re.findall(sql)}
    for name in table_dfs:
        # cheap name-in-SQL validation (reference: dfsql/__init__.py:24-25)
        if name.lower() not in sql_words:
            raise DfsqlException(
                f"Table {name} is not used in the query"
            )
    with _one_shot(spark or current_spark(), table_dfs, custom_functions, ds_kwargs) as ds:
        return ds.query(sql, reduce_output=reduce_output)


@contextmanager
def _one_shot(spark, table_dfs, custom_functions=None, ds_kwargs=None):
    """A throwaway :class:`DataSource` with ``table_dfs`` and
    ``custom_functions`` in a child of ``spark``; afterwards ``spark``
    is active, and the child is discarded with its views and
    functions."""
    session = one_shot_session(spark)
    ds = DataSource(spark=session, **{"cache": False, **(ds_kwargs or {})})
    registered = []
    try:
        for fname, fn in (custom_functions or {}).items():
            ds.register_function(fname, fn)
        for name, df in table_dfs.items():
            if not isinstance(df, (pd.DataFrame, DataFrame)):
                raise QueryExecutionException(
                    f"Table {name} must be a pandas or Spark DataFrame"
                )
            ds.add_table(name, df)
            registered.append(name)
        yield ds
    finally:
        activate(spark)
        # the cache manager is shared with ``spark``: dropping a view
        # that ds_kwargs asked to cache unpins it
        if (ds_kwargs or {}).get("cache"):
            for name in registered:
                session.catalog.dropTempView(name)


# importing the package registers the pandas ``.sql`` accessor
# (reference behavior: dfsql/extensions.py:10 registers on import)
from .extensions import maybe_add_from_to_query  # noqa: E402
from . import extensions as extensions  # noqa: E402, F401
