"""User function registry: scalar UDFs and aggregate UDAFs.

Reference surface (dfsql/base_data_source.py:151-152, functions.py:293-303):
``register_function(name, callable)`` — the callable receives the
evaluated argument as a pandas Series (vectorized) or a scalar, and for
aggregates receives the group's Series and returns a scalar.

The Spark-native equivalents keep that exact contract while staying on
the Arrow fast path:

* scalar → ``pandas_udf`` (Series → Series), batch-vectorized; falls
  back to a row UDF if the callable can't handle Series input.
* aggregate → ``pandas_udf`` with a Series → scalar callable, which is
  Spark's grouped-aggregate pandas UDF — the identical contract to the
  reference's ``AggregateFunction.execute``.

Scoping (reference parity): the reference resolves custom functions
per-DataSource, *before* builtins (base_data_source.py:192-198).  Spark
has no per-session-scope function namespaces, and Spark 4 resolves even
DataFrame-API calls (``F.lower`` inside ``F.transform``) through the
session function registry — so registering a UDF under a builtin's name
session-wide breaks unrelated plans.  Instead, each registry registers
its UDFs under a collision-proof *internal* session name
(``dfsql_f<rid>_<name>``) and exposes :meth:`name_map`; the dialect
rewriter renames function-call tokens in THIS DataSource's SQL to the
internal names.  Result: ``register_function("lower", ...)`` shadows the
builtin only inside this DataSource's queries, other DataSources and
every DataFrame-API plan keep the builtin — the reference's scoping,
with zero session-registry mutation of builtin names.

For DataFrame-API use of a custom function, use the wrapped UDF column
function that ``register*`` returns (callable directly on columns).
"""

from __future__ import annotations

import itertools
import re
from dataclasses import dataclass
from typing import Callable

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf, udf
from pyspark.sql.types import DataType, _parse_datatype_string

_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z_0-9]*$")
_REGISTRY_IDS = itertools.count()


def _as_datatype(t: "DataType | str") -> DataType:
    if isinstance(t, DataType):
        return t
    return _parse_datatype_string(t)


class CustomFunction:
    """Class-based scalar function, mirroring the reference's
    ``BaseFunction`` surface (dfsql/functions.py:10-30): subclass, set
    ``name``, implement ``get_output(args)``.  Instances are callable
    and carry their registration metadata, so
    ``ds.register_function(MyFn())`` needs no extra arguments.

    ``get_output`` receives the evaluated arguments as a tuple — each a
    ``pd.Series`` batch (the same whole-column contract the reference's
    vectorized path uses).  Set ``arity`` for multi-argument functions
    and ``return_type`` (Spark SQL type string) for non-double results.
    """

    name: "str | None" = None
    is_aggregate = False
    return_type: str = "double"
    arity: int = 1

    # Modin-internals parity shim kept for API compatibility
    # (reference: dfsql/functions.py:13-16)
    @property
    def __name__(self) -> str:  # noqa: A003
        return self.name or type(self).__name__.lower()

    def get_output(self, args):
        raise NotImplementedError

    def __call__(self, *args):
        return self.get_output(args)


class AggregateFunction(CustomFunction):
    """Class-based aggregate (reference: dfsql/functions.py:293-303):
    ``get_output`` receives a 1-tuple holding the group's ``pd.Series``
    and returns a scalar — identical to the reference contract, backed
    here by Spark's Arrow grouped-aggregate pandas UDF."""

    is_aggregate = True


_ARITY_WRAPPERS = {
    1: lambda f: (lambda a: f(a)),
    2: lambda f: (lambda a, b: f(a, b)),
    3: lambda f: (lambda a, b, c: f(a, b, c)),
    4: lambda f: (lambda a, b, c, d: f(a, b, c, d)),
    5: lambda f: (lambda a, b, c, d, e: f(a, b, c, d, e)),
    6: lambda f: (lambda a, b, c, d, e, g: f(a, b, c, d, e, g)),
}


def _hinted_series_wrapper(name: str, func: Callable) -> Callable:
    """Wrap a user callable with Series→Series type hints so Spark 4's
    pandas_udf type-hint inference selects the scalar (batched) eval
    type, regardless of how the user annotated their function."""
    import inspect

    n = getattr(func, "arity", None)  # CustomFunction subclasses declare it
    if not n:
        try:
            n = len(
                [
                    p
                    for p in inspect.signature(func).parameters.values()
                    if p.kind
                    in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
                ]
            ) or 1
        except (TypeError, ValueError):
            n = 1
    wrapper = _ARITY_WRAPPERS.get(n, _ARITY_WRAPPERS[1])(func)
    wrapper.__name__ = name
    wrapper.__annotations__ = {
        k: pd.Series for k in "abcdeg"[:n]
    } | {"return": pd.Series}
    return wrapper


@dataclass
class RegisteredFunction:
    name: str
    func: Callable
    return_type: str
    is_aggregate: bool
    vectorized: bool
    internal_name: str = ""


class FunctionRegistry:
    """Per-DataSource registry; functions are visible to this
    DataSource's SQL via the dialect-layer rename (:meth:`name_map`)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.functions: dict[str, RegisteredFunction] = {}
        self._rid = next(_REGISTRY_IDS)

    def _internal_name(self, name: str) -> str:
        """Collision-proof session-registry name for ``name``: unique
        per registry instance, never equal to any builtin, so the
        session function registry's builtin entries are never replaced."""
        if not _IDENT_RE.match(name):
            raise ValueError(
                f"invalid function name {name!r}: must be an identifier "
                "([A-Za-z_][A-Za-z_0-9]*)"
            )
        return f"dfsql_f{self._rid}_{name.lower()}"

    def name_map(self) -> dict[str, str]:
        """lowercase public name → internal session name, consumed by
        ``dialect.rewrite`` to rename call sites in this DataSource's
        SQL (reference resolution order — custom before builtin:
        base_data_source.py:192-198)."""
        return {k: rf.internal_name for k, rf in self.functions.items()}

    def drop_all(self) -> None:
        """Remove this registry's functions from the session registry;
        a one-shot ``sql_query`` calls it so its functions do not pile
        up in a long-lived session."""
        for rf in self.functions.values():
            self.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {rf.internal_name}")
        self.functions.clear()

    def register_scalar(
        self,
        name: str,
        func: Callable,
        return_type: str = "double",
        vectorized: bool = True,
    ):
        """Register a scalar function.

        ``vectorized=True`` (default) wraps ``func`` as a pandas UDF:
        it receives ``pd.Series`` batches — the same whole-column
        contract the reference uses.  ``vectorized=False`` registers a
        row-at-a-time UDF for callables that only handle scalars.
        """
        dt = _as_datatype(return_type)
        internal = self._internal_name(name)
        if vectorized:
            wrapped = pandas_udf(dt)(_hinted_series_wrapper(name, func))
        else:
            wrapped = udf(func, dt)
        self.spark.udf.register(internal, wrapped)
        self.functions[name.lower()] = RegisteredFunction(
            name,
            func,
            str(return_type),
            is_aggregate=False,
            vectorized=vectorized,
            internal_name=internal,
        )
        return wrapped

    def register_aggregate(self, name: str, func: Callable, return_type: str = "double"):
        """Register an aggregate: ``func(pd.Series) -> scalar``.

        Matches the reference's custom-aggregate contract
        (dfsql/functions.py:293-303) via Spark's grouped-agg pandas UDF.
        """
        dt = _as_datatype(return_type)
        internal = self._internal_name(name)

        def _agg(s):
            return func(s)

        _agg.__name__ = name
        # Spark 4 infers the UDF kind from type hints: Series → scalar
        # is a grouped-aggregate pandas UDF.  The declared DataType
        # (``dt``) governs the actual SQL type; the ``float`` hint only
        # selects the eval type.
        _agg.__annotations__ = {"s": pd.Series, "return": float}
        wrapped = pandas_udf(dt)(_agg)
        self.spark.udf.register(internal, wrapped)
        self.functions[name.lower()] = RegisteredFunction(
            name,
            func,
            str(return_type),
            is_aggregate=True,
            vectorized=True,
            internal_name=internal,
        )
        return wrapped

    def register(
        self,
        name: "str | Callable | None",
        func: "Callable | None" = None,
        return_type: "str | None" = None,
        **kw,
    ):
        """Reference-compatible entry point: auto-detects aggregates.

        Mirrors ``DataSource.register_function``
        (dfsql/base_data_source.py:151-152) and additionally accepts
        the class API (dfsql/functions.py:10-30,293-303):

        * ``register("mode", callable)`` — plain callables register as
          scalar functions; pass ``is_aggregate=True`` for aggregates.
        * ``register("mode", ModeFunc())`` / ``register(ModeFunc())`` —
          :class:`CustomFunction` / :class:`AggregateFunction`
          instances (or classes, instantiated here) supply their own
          ``name`` / ``return_type`` / ``is_aggregate`` metadata; an
          explicit ``name`` or ``return_type`` argument overrides.
        """
        if func is None and not isinstance(name, str):
            name, func = None, name
        if isinstance(func, type) and issubclass(func, CustomFunction):
            func = func()
        if isinstance(func, CustomFunction):
            name = name or func.name
            return_type = return_type or func.return_type
        if not name:
            raise ValueError(
                "function name required (pass it explicitly or set the "
                "'name' attribute on the CustomFunction subclass)"
            )
        if getattr(func, "is_aggregate", False) or kw.pop("is_aggregate", False):
            return self.register_aggregate(name, func, return_type or "double")
        return self.register_scalar(name, func, return_type or "double", **kw)
