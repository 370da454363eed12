"""pandas ``.sql`` accessor + FROM-less SELECT injection.

Reference surface (dfsql/extensions.py:10-96): registering a ``.sql``
accessor on pandas DataFrames lets users write ``df.sql("SELECT a
WHERE b > 1")`` — any ``SELECT`` (top-level or nested) that has no
``FROM`` clause gets ``FROM temp`` injected, where ``temp`` is the
accessor's own DataFrame.  The reference implements the injection as a
string-token scan (dfsql/extensions.py:15-62); the idea is
engine-agnostic, so we re-implement it here on our own dialect
tokenizer and delegate execution to :func:`dfsql_spark.sql_query`
(Arrow → temp view → ``spark.sql``; no CSV round-trip).

Execution is fully distributed; only the accessor boundary is pandas.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd

from .dialect import tokenize

__all__ = ["maybe_add_from_to_query", "SQLAccessor"]

# keywords that end a SELECT's target list when no FROM intervenes
_CLAUSE_STARTERS = frozenset(
    ["FROM", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET",
     "UNION", "EXCEPT", "INTERSECT"]
)


def maybe_add_from_to_query(sql: str, table_name: str = "temp") -> str:
    """Insert ``FROM <table_name>`` into every SELECT (including nested
    subselects) that lacks a FROM clause.

    Matches the observable behavior of the reference's token scanner
    (dfsql/extensions.py:15-62, tests tests/test_extensions.py:20-69):
    a SELECT's scope ends at the next clause keyword at its own paren
    depth, at the parenthesis closing its group, or at end of string.
    """
    tokens = tokenize(sql)
    # stack of [paren_depth_at_select, has_from]
    stack: list[list] = []
    depth = 0
    insertions: list[tuple[int, str]] = []  # (token index, text to insert before)
    for i, tok in enumerate(tokens):
        if tok.kind == "op" and tok.text == "(":
            depth += 1
        elif tok.kind == "op" and tok.text == ")":
            while stack and stack[-1][0] == depth:
                sel = stack.pop()
                if not sel[1]:
                    insertions.append((i, f" from {table_name} "))
            depth -= 1
        elif tok.kind == "word":
            upper = tok.upper
            if upper == "SELECT":
                stack.append([depth, False])
            elif upper in _CLAUSE_STARTERS and stack and stack[-1][0] == depth:
                if upper == "FROM":
                    stack[-1][1] = True
                elif upper in ("UNION", "EXCEPT", "INTERSECT"):
                    # set op: current SELECT's scope ends; a new SELECT
                    # follows and pushes its own frame
                    sel = stack.pop()
                    if not sel[1]:
                        insertions.append((i, f" from {table_name} "))
                elif not stack[-1][1]:
                    insertions.append((i, f" from {table_name} "))
                    stack[-1][1] = True
    # unclosed selects (top level, or malformed nesting): append at end
    tail = sum(1 for sel in stack if not sel[1])
    out: list[str] = []
    ins_by_idx: dict[int, str] = {}
    for idx, text in insertions:
        ins_by_idx[idx] = ins_by_idx.get(idx, "") + text
    for i, tok in enumerate(tokens):
        if i in ins_by_idx:
            out.append(ins_by_idx[i])
        out.append(tok.text)
    result = "".join(out)
    if tail:
        result = result.rstrip().rstrip(";") + f" from {table_name}" * tail
    return result


@pd.api.extensions.register_dataframe_accessor("sql")
class SQLAccessor:
    """``pdf.sql("SELECT a WHERE b > 1")`` — the DataFrame itself is
    visible as table ``temp`` (reference: dfsql/extensions.py:10-68)."""

    def __init__(self, pandas_obj: pd.DataFrame):
        self._df = pandas_obj

    def __call__(
        self,
        sql: str,
        reduce_output: bool = True,
        custom_functions: dict[str, Callable] | None = None,
        from_table: str = "temp",
    ):
        from . import sql_query  # deferred: avoid import cycle

        sql = maybe_add_from_to_query(sql, table_name=from_table)
        return sql_query(
            sql,
            reduce_output=reduce_output,
            custom_functions=custom_functions,
            **{from_table: self._df},
        )


# mirror the accessor onto modin DataFrames when modin is present
# (reference: dfsql/extensions.py:70-96 registers for both engines)
try:  # pragma: no cover - modin not installed in this environment
    import modin.pandas as mpd

    @mpd.api.extensions.register_dataframe_accessor("sql")
    class ModinSQLAccessor(SQLAccessor):
        pass
except ImportError:
    pass


# Spark-era mirror: the reference's "distributed pandas" was modin; on
# Spark it's pandas-on-Spark (pyspark.pandas).  Same accessor surface,
# but the data NEVER leaves the JVM: ``to_spark()`` hands over the
# underlying Spark plan, the query composes onto it lazily, and the
# result returns as pandas-on-Spark via ``pandas_api()``.
try:
    import pyspark.pandas as _ps
    from pyspark.pandas.extensions import (
        register_dataframe_accessor as _ps_register,
    )

    @_ps_register("sql")
    class PandasOnSparkSQLAccessor:
        """``psdf.sql("SELECT a WHERE b > 1")`` for pandas-on-Spark
        DataFrames; the DataFrame is visible as table ``temp`` and
        FROM-less SELECTs get it injected, like the pandas accessor.
        ``temp`` lives in a one-shot child, as for ``sql_query``; the
        lazy result is rebound to the DataFrame's session.

        Divergence from the pandas/modin accessor (documented): the
        result stays a lazy pandas-on-Spark DataFrame by default —
        auto-collapse (1-col → Series, 1×1 → scalar) needs a row-count
        action, which would force a job on every call and defeat the
        lazy contract.  Pass ``reduce_output=True`` to opt into the
        reference's collapse semantics (runs the query).
        """

        def __init__(self, ps_obj):
            self._psdf = ps_obj

        def __call__(
            self,
            sql: str,
            reduce_output: bool = False,
            from_table: str = "temp",
        ):
            from . import _one_shot
            from .session import rebind

            sdf = self._psdf.to_spark()
            caller = sdf.sparkSession
            sql = maybe_add_from_to_query(sql, table_name=from_table)
            # the view lives in a one-shot child, as for sql_query, so
            # concurrent calls and a caller's own ``temp`` do not meet
            with _one_shot(caller, {from_table: sdf}) as ds:
                if reduce_output:
                    return ds.query(sql, reduce_output=True)
                out = ds.query_df(sql)
            return rebind(out, caller).pandas_api()
except ImportError:  # pragma: no cover - pyspark.pandas needs pandas>=1.0
    pass
