"""DataSource: the engine's catalog + query entry point.

Reference model (dfsql/data_sources/base_data_source.py:36-162): a
``DataSource`` maps table names to lazily-fetched DataFrames, persists
that mapping as JSON, and executes SQL with a tree-walking pandas
interpreter.  Here the interpreter is replaced wholesale by Spark SQL:
``query()`` = command-regex layer → dialect rewrite → ``spark.sql`` →
Catalyst (analyze/optimize/AQE) → executors.  Our code never evaluates
an expression itself, so predicate pushdown, column pruning, join
selection, and whole-stage codegen all come from Catalyst for free
(SURVEY.md §4).
"""

from __future__ import annotations

import json
import os
import re
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .commands import try_parse_command
from .dialect import rewrite
from .exceptions import (
    CommandException,
    DfsqlException,
    QueryExecutionException,
    SQLParsingException,
)
from .functions.registry import FunctionRegistry
from .session import (
    INTERPRETED_CONFS,
    current_spark,
    one_shot_session,
    rebind,
    runs_interpreted,
)
from .sources.tables import TableInfo, read_file

METADATA_FILE = "datasource_tables.json"


# QueryExecutionException historically lived here; it now sits in the
# reference-parity hierarchy (exceptions.py) and is re-exported for
# backward compatibility.
__all__ = [
    "DataSource",
    "QueryExecutionException",
    "SQLParsingException",
    "CommandException",
    "DfsqlException",
]


class DataSource:
    """Named-table catalog with a SQL entry point.

    Parameters
    ----------
    spark : optional SparkSession; when omitted, the active (else the
        default) session is used as it is, and one is built only when
        none exists
    metadata_dir : optional directory for JSON catalog persistence
        (reference: base_data_source.py:118-146)
    case_sensitive : column/table lookup case sensitivity
        (reference: base_data_source.py:48-59; Spark's analyzer is
        case-insensitive by default, so ``False`` is the native mode)
    cache : when True, registered file tables are eligible for
        ``spark.catalog.cacheTable`` via :meth:`cache_table`
        (reference MemoryCache: dfsql/cache.py:16-26)
    """

    def __init__(
        self,
        spark: SparkSession | None = None,
        metadata_dir: str | None = None,
        case_sensitive: "bool | None" = None,
        cache: "bool | object" = True,
    ):
        from .cache import DoNothingCache, MemoryCache
        from .config import Configuration

        self.spark = spark or current_spark()
        self.metadata_dir = metadata_dir
        if cache is True:
            self.cache = MemoryCache()
        elif cache is False or cache is None:
            self.cache = DoNothingCache()
        else:
            self.cache = cache
        self.tables: dict[str, TableInfo] = {}
        self.function_registry = FunctionRegistry(self.spark)
        # Per-DataSource, applied per-query (see _sql): two DataSources
        # with different settings can share one SparkSession without
        # silently changing each other's name resolution.  Default comes
        # from Configuration (env-overridable), reference default True.
        self.case_sensitive = (
            Configuration.CASE_SENSITIVE if case_sensitive is None else case_sensitive
        )
        if metadata_dir and os.path.exists(os.path.join(metadata_dir, METADATA_FILE)):
            self.load_metadata()

    # ------------------------------------------------------------------
    # catalog
    # ------------------------------------------------------------------
    def _resolve_name(self, name: str) -> str:
        """Catalog-dict name resolution.  When ``case_sensitive=False``
        a lookup matches the stored key case-insensitively (reference
        wraps its table map in a CaseInsensitiveDict:
        base_data_source.py:48-59, utils.py:87-157); an exact match
        always wins.  Spark's temp-view catalog is case-insensitive by
        itself, so only this dict needs the shim."""
        if self.case_sensitive or name in self.tables:
            return name
        lowered = name.lower()
        for key in self.tables:
            if key.lower() == lowered:
                return key
        return name

    def add_table_from_file(
        self, name: str, fpath: str, fmt: str | None = None, **options
    ) -> None:
        """Register a file-backed table (reference: FileTable,
        dfsql/table.py:51-72).  The scan itself stays lazy."""
        df = read_file(self.spark, fpath, fmt, **options)
        df.createOrReplaceTempView(name)
        # Re-registering (any case variant when case-insensitive)
        # replaces the existing entry; evict its cache pin too — the
        # LRU is keyed by the OLD name, so a later drop/evict under the
        # new name would miss it and the stale plan would stay pinned.
        old = self._resolve_name(name)
        self.cache.evict(self.spark, old)
        self.tables.pop(old, None)
        self.tables[name] = TableInfo(
            name=name,
            fpath=fpath,
            format=fmt,
            options=options,
            size_bytes=_path_size_bytes(fpath),
        )
        self.save_metadata()

    def add_table(self, name: str, df: "DataFrame | pd.DataFrame") -> None:
        """Register an in-memory table.  pandas input goes through
        Arrow (``spark.createDataFrame``) — never a CSV round-trip
        (the reference's CSV round-trip in dfsql/__init__.py:26-27 is
        an implementation artifact we deliberately do not reproduce).

        A pandas frame of up to one Arrow batch
        (``spark.sql.execution.arrow.maxRecordsPerBatch`` rows) is a
        single partition, so GROUP BY, HAVING and ORDER BY over it plan
        no exchange and a pandas UDF over it runs one Python task.
        Larger frames, and any frame when the batch size is unlimited
        (``<= 0``), keep the partitions ``createDataFrame`` gives them.
        A Spark DataFrame is rebound to this DataSource's session
        (:func:`session.rebind`) and registered there."""
        if isinstance(df, pd.DataFrame):
            per_batch = int(
                self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
            )
            small = len(df) <= per_batch
            df = self.spark.createDataFrame(df)
            if small:
                df = df.coalesce(1)
        else:
            df = rebind(df, self.spark)
        df.createOrReplaceTempView(name)
        old = self._resolve_name(name)
        self.cache.evict(self.spark, old)
        self.tables.pop(old, None)
        self.tables[name] = TableInfo(name=name)

    def drop_table(self, name: str) -> None:
        name = self._resolve_name(name)
        if name not in self.tables and not self.spark.catalog.tableExists(name):
            raise QueryExecutionException(f"Table {name} not found")
        self.cache.evict(self.spark, name)
        self.spark.catalog.dropTempView(name)
        self.tables.pop(name, None)
        self.save_metadata()

    @classmethod
    def from_dir(cls, dir_path: str, spark: SparkSession | None = None, **kwargs) -> "DataSource":
        """Register every supported data file in a directory
        (reference: base_data_source.py:103-116)."""
        from .sources.tables import _COMPRESSION_EXTS

        supported = (".csv", ".tsv", ".parquet", ".json", ".jsonl", ".ndjson", ".orc")
        ds = cls(spark=spark, **kwargs)
        for fname in sorted(os.listdir(dir_path)):
            stem, ext = os.path.splitext(fname)
            if ext.lower() in _COMPRESSION_EXTS:
                # docs.jsonl.gz -> table "docs"; inference sees through
                # the compression suffix in read_file
                stem, ext = os.path.splitext(stem)
            if ext.lower() in supported:
                ds.add_table_from_file(stem, os.path.join(dir_path, fname))
        return ds

    def tables_dataframe(self) -> pd.DataFrame:
        """SHOW TABLES result (reference: dfsql/commands.py:93-117)."""
        rows = [(t.name, t.fpath) for t in self.tables.values()]
        return pd.DataFrame(rows, columns=["table_name", "fpath"])

    # ------------------------------------------------------------------
    # metadata persistence (reference: base_data_source.py:118-146)
    # ------------------------------------------------------------------
    def save_metadata(self) -> None:
        if not self.metadata_dir:
            return
        os.makedirs(self.metadata_dir, exist_ok=True)
        meta = {
            name: t.to_metadata() for name, t in self.tables.items() if t.fpath
        }
        with open(os.path.join(self.metadata_dir, METADATA_FILE), "w") as f:
            json.dump(meta, f, indent=2)

    def load_metadata(self) -> None:
        path = os.path.join(self.metadata_dir, METADATA_FILE)
        with open(path) as f:
            meta = json.load(f)
        for name, rec in meta.items():
            if rec.get("fpath"):
                self.add_table_from_file(name, rec["fpath"], rec.get("format"))

    def clear_metadata(self) -> None:
        if self.metadata_dir:
            path = os.path.join(self.metadata_dir, METADATA_FILE)
            if os.path.exists(path):
                os.remove(path)

    # ------------------------------------------------------------------
    # caching (reference MemoryCache: dfsql/cache.py:16-26, set_cache
    # swap pattern from the reference README/testdrive)
    # ------------------------------------------------------------------
    def cache_table(self, name: str) -> None:
        self.cache.touch(self.spark, self._resolve_name(name))

    def uncache_table(self, name: str) -> None:
        self.cache.evict(self.spark, self._resolve_name(name))

    def set_cache(self, cache) -> None:
        """Swap the cache policy; previously pinned tables are
        released (reference semantics: new cache starts cold)."""
        self.cache.clear(self.spark)
        self.cache = cache

    # ------------------------------------------------------------------
    # functions (reference: base_data_source.py:151-152 for the
    # (name, callable) form; functions.py:10-30,293-303 for the
    # CustomFunction / AggregateFunction class form)
    # ------------------------------------------------------------------
    def register_function(
        self,
        name: "str | Callable",
        func: "Callable | None" = None,
        return_type: "str | None" = None,
        **kw,
    ):
        return self.function_registry.register(name, func, return_type, **kw)

    # ------------------------------------------------------------------
    # query execution
    # ------------------------------------------------------------------
    def query_df(self, sql: str) -> DataFrame:
        """Run SQL, returning the **lazy** Spark DataFrame.

        This is the scale-path API: no action is triggered, so the
        result can feed further transformations, a write, or a stream
        without materializing on the driver.  The query is analyzed in
        a per-query child, as in :meth:`query`, and rebound to the
        DataSource's session (:func:`session.rebind`), whose confs it
        runs under (compiled).
        """
        cmd = try_parse_command(sql)
        if cmd is not None:
            result = self._execute_command(cmd)
            if isinstance(result, pd.DataFrame):
                return self.spark.createDataFrame(result)
            return self.spark.createDataFrame([(str(result),)], ["status"])
        return rebind(self._sql(sql), self.spark)

    def _execute_command(self, cmd):
        """Run a command, normalizing non-engine failures to
        :class:`CommandException` (reference: dfsql/commands.py:38-98
        raises CommandException for command-level misuse; engine errors
        like "unknown table" stay :class:`QueryExecutionException`,
        base_data_source.py:177)."""
        try:
            return cmd.execute(self)
        except DfsqlException:
            raise
        except Exception as e:
            raise CommandException(str(e).split("\n")[0]) from e

    def _sql(self, sql: str) -> DataFrame:
        """``sql`` analyzed in the per-query child: the DataSource's
        session when that is a one-shot child already (``sql_query``),
        else a clone of it (:func:`session.one_shot_session`), with this
        DataSource's case sensitivity set on the child only.  Errors are
        mapped onto the reference hierarchy (exceptions.py):
        ``ParseException`` → :class:`SQLParsingException`,
        ``AnalysisException`` → :class:`QueryExecutionException`
        (reference: dfsql/exceptions.py:1-14), keeping the Spark
        exception as ``__cause__`` for debugging.

        Also the cache-on-access hook: every registered table the query
        references is ``touch()``-ed, so repeated queries hit Spark's
        block manager with no explicit ``cache_table()`` call —
        reference behavior ``Table.dataframe`` → ``cache.get``
        (dfsql/table.py:29-34, wired at base_data_source.py:76-79).
        ``cacheTable`` only *marks* the plan; no job runs here.
        """
        from pyspark.errors import AnalysisException, ParseException

        if hasattr(self.spark, "_one_shot_parent"):
            child = self.spark
        else:
            child = one_shot_session(self.spark)
        child.conf.set("spark.sql.caseSensitive", str(self.case_sensitive).lower())
        try:
            out = child.sql(rewrite(sql, self.function_registry.name_map()))
        except ParseException as e:
            raise SQLParsingException(str(e).split("\n")[0]) from e
        except AnalysisException as e:
            raise QueryExecutionException(str(e).split("\n")[0]) from e
        self._touch_referenced(sql)
        return out

    def _touch_referenced(self, sql: str) -> None:
        """Mark every registered table named in ``sql`` as used, driving
        the cache policy (LRU pin/evict).  A word-level scan is exact
        enough: a false positive (table name inside a string literal)
        only pins a table early; resolution errors were already raised
        by the analyzer above.

        Scale gate: a cached table's first scan materializes EVERY
        column into the InMemoryRelation — column pruning is lost — so
        auto-caching is right for dim-sized tables and wrong for a
        100 TB fact table.  File tables above
        ``Configuration.AUTO_CACHE_MAX_BYTES`` (or whose size can't be
        cheaply stat'ed — remote paths) are skipped; the size is taken
        once, when the table is registered.  Explicit
        :meth:`cache_table` always pins, gate or no gate."""
        words = set(re.findall(r"[A-Za-z_][A-Za-z_0-9]*", sql))
        if not self.case_sensitive:
            words = {w.lower() for w in words}
        for name, info in self.tables.items():
            probe = name if self.case_sensitive else name.lower()
            if probe in words and self._auto_cacheable(info):
                self.cache.touch(self.spark, name)

    def _auto_cacheable(self, info: TableInfo) -> bool:
        from .config import Configuration

        limit = Configuration.AUTO_CACHE_MAX_BYTES
        if not limit or info.fpath is None:
            # gate disabled, or in-memory table (already materialized)
            return True
        return info.size_bytes is not None and info.size_bytes <= limit

    def query(self, sql: str, reduce_output: bool = True):
        """Reference-compatible entry point: materializes the result as
        a pandas object, collapsing 1×1 → scalar and single-column →
        Series when ``reduce_output`` (reference:
        base_data_source.py:455-460).

        A SELECT runs in a child session cloned from the DataSource's
        (:func:`session.one_shot_session`), or in the session itself
        when that already is such a child (``sql_query``).  The child
        inherits runtime confs, temp views and functions, and shares
        the cache manager; this DataSource's case sensitivity is set on
        the child, so the query takes no lock and writes no conf of the
        DataSource's session.  When every leaf of the plan has a known
        row count of at most :data:`session.INTERPRETED_MAX_ROWS`
        (:func:`session.runs_interpreted`: a pandas table, a cached
        table after its first scan, or no table), the child runs Spark's
        interpreted operators, so fresh literals compile no classes.
        File scans, a cached table's first scan, :meth:`query_df` and
        the commands run compiled.  The active session is left as it
        was.

        This is the *API boundary only* — all computation has already
        happened distributed; only the final (small) result crosses to
        the driver.  For large results use :meth:`query_df`.
        """
        cmd = try_parse_command(sql)
        if cmd is not None:
            return self._execute_command(cmd)
        result = self._sql(sql)
        if runs_interpreted(result):
            for key, value in INTERPRETED_CONFS.items():
                result.sparkSession.conf.set(key, value)
        pdf = result.toPandas()
        pdf.columns = [_clean_name(c) for c in pdf.columns]
        if reduce_output:
            return _reduce_output(pdf)
        return pdf


def _path_size_bytes(path: str) -> int | None:
    """Total bytes of a local file or directory; ``None`` when the path
    can't be cheaply stat'ed (remote URI) — callers treat that as
    "too big to auto-cache"."""
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        if os.path.isdir(path):
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    total += os.path.getsize(os.path.join(root, f))
            return total
    except OSError:
        return None
    return None


def _clean_name(name: str) -> str:
    """Strip surrounding backticks unless the name is dotted
    (reference: base_data_source.py:446-453)."""
    if name.startswith("`") and name.endswith("`") and "." not in name:
        return name[1:-1]
    return name


def _reduce_output(pdf: pd.DataFrame):
    if pdf.shape == (1, 1):
        return pdf.iloc[0, 0]
    if pdf.shape[1] == 1:
        return pdf.iloc[:, 0]
    return pdf
