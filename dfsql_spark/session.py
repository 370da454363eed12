"""SparkSession factory tuned for the dfsql-spark engine.

The reference engine (mindsdb/dfsql) is a single-process pandas
interpreter; its "session" is a ``DataSource`` object. Here the session
is a real SparkSession configured so that Spark's SQL dialect matches
the reference's observable semantics (SURVEY.md §2.8):

* ``spark.sql.ansi.enabled=false`` — double-quoted strings are string
  literals (not identifiers), casts are lenient, arithmetic does not
  raise.  This matches dfsql/mindsdb_sql behavior
  (reference: tests/test_data_sources/test_file_data_source.py:238).
* ``spark.sql.session.timeZone=UTC`` — test parquet timestamps are
  naive; pin the session zone so formatting is deterministic and
  matches DuckDB's naive-timestamp oracle output.
* AQE on (skew joins, dynamic coalescing) — this is the 100 TB story:
  at scale the same plans re-partition at runtime instead of needing
  hand-tuned shuffle counts.

Scale knobs are environment-driven so the identical code runs on
``local[32]`` in tests and on a 1000-executor cluster unchanged.
"""

from __future__ import annotations

import functools
import os
import threading

from py4j.protocol import Py4JError
from pyspark import RDD
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "get_spark",
    "current_spark",
    "configure",
    "DEFAULT_CONFS",
    "INTERPRETED_CONFS",
    "INTERPRETED_MAX_ROWS",
]

# Confs that define the engine's dialect + scale posture. Anything the
# caller already set on an active session is left untouched.
DEFAULT_CONFS: dict[str, str] = {
    # dialect parity with the reference (SURVEY.md §2.8.5)
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # scale posture
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # ORDER BY ... LIMIT n plans a top-k buffer of 2n slots; from one
    # million rows on, plan a spilling Sort + GlobalLimit instead, so a
    # huge LIMIT cannot take the JVM down
    "spark.sql.execution.topKSortFallbackThreshold": "1000000",
    # Arrow for pandas interchange (sql_query / .sql accessor path)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # parquet: keep naive timestamps naive (match DuckDB oracle)
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
}

# Runtime confs under which a query runs Spark's interpreted operators:
# no whole-stage codegen, and no generated projections or predicates.
# Catalyst inlines literals into generated source, so a compiled query
# compiles (and the JVM JIT-compiles) fresh classes for every new
# literal.  ``factoryMode`` is an internal conf; tests/test_one_shot.py
# pins that Spark honours it.
INTERPRETED_CONFS: dict[str, str] = {
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
}

# Largest leaf, in rows, of a plan that runs interpreted (see
# ``runs_interpreted``).  Interpreted operators pay per row what codegen
# pays per query.  Probed with fresh literals, one JVM alternating the
# two modes (``local[4]``, 4 vCPU VM), the median CPU of a block of
# queries, interpreted against compiled, was: over cached parquet
# tables (GROUP BY, joins, point lookups, IN subqueries), 1.77 s against
# 2.36 s at 150,000 rows, 1.38 s against 1.68 s at 600,000 and 9.6 s
# against 5.7 s at 6,000,000; over pandas frames (filter, GROUP BY/
# HAVING, join, CAST), 4.53 s against 4.80 s at 200,000 rows and
# 12.97 s against 13.08 s at 600,000.  600,000 is the largest probed
# size at which interpreted was not dearer on either path.
INTERPRETED_MAX_ROWS = 600_000


def get_spark(app_name: str = "dfsql-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's dialect confs.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    is configured; on a real deployment spark-submit supplies it.
    Scale knobs resolve through :class:`dfsql_spark.config.Configuration`
    (environment-backed, class-attribute overridable — the Spark
    analogue of the reference's ``dfsql.config.Configuration``).
    """
    from .config import Configuration

    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = Configuration.MASTER
    if master is None:
        master = f"local[{Configuration.CPUS}]"
    if master:
        builder = builder.master(master)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(Configuration.SHUFFLE_PARTITIONS)
    )
    builder = builder.config("spark.ui.showConsoleProgress", "false")
    builder = builder.config("spark.ui.enabled", "false")
    # local mode = one JVM for driver+executors; default 1g OOMs on
    # shuffle-heavy operators. Sized for the 128 GiB test box; a real
    # cluster overrides via spark-submit.
    builder = builder.config("spark.driver.memory", Configuration.DRIVER_MEMORY)
    # Shuffle/spill scratch override, LOCAL masters only and only when
    # the caller opted in via SPARK_GRAFT_LOCAL_DIR: shuffle stages
    # write maps×reducers small block files, and on virtualized disks
    # their create/write cost measured 15× slower than tmpfs — this
    # repo's bench/test harnesses (known-small shuffle volumes) point
    # it at /dev/shm.  It is deliberately NOT a library default:
    # tmpfs is capped (~50% RAM) and spills there consume memory, so
    # blindly redirecting a user's large local shuffle would trade a
    # slow job for a failing one — and it must never clobber a
    # spark-defaults.conf spark.local.dir the user already set.
    if master and master.startswith("local"):
        local_dir = Configuration.LOCAL_DIR
        if local_dir:
            os.makedirs(local_dir, exist_ok=True)
            builder = builder.config("spark.local.dir", local_dir)
    for key, value in DEFAULT_CONFS.items():
        builder = builder.config(key, value)
    builder = builder.config(
        "spark.sql.adaptive.enabled", str(Configuration.ADAPTIVE_ENABLED).lower()
    )
    builder = builder.config(
        "spark.sql.execution.arrow.pyspark.enabled",
        str(Configuration.ARROW_ENABLED).lower(),
    )
    spark = builder.getOrCreate()
    return spark


def current_spark() -> SparkSession:
    """The caller's session as it is: the active session, else the
    default one.  Only when neither exists is one built with
    :func:`get_spark`, whose ``builder.getOrCreate()`` would re-apply
    every builder conf to a live session and so undo the caller's own
    runtime confs.  A :func:`one_shot_session` child that another
    thread's ``sql_query`` has made active for a moment resolves to the
    session it was cloned from."""
    try:
        spark = SparkSession.active()
    except PySparkRuntimeError:
        return get_spark()
    return getattr(spark, "_one_shot_parent", spark)


# PySpark's SparkSession constructor rebinds the process-global
# ``RDD.toDF`` to the new session; saving, constructing and restoring
# must not interleave between threads.  The lock also guards the
# one-time pool set-up below.
_CHILD_LOCK = threading.Lock()

# Spark SQL's cached thread pools for AQE result stages, query-stage
# creation and broadcasts start a new thread per submission until they
# reach their cap.  Each thread inherits the session that was active
# where it was started (for a one-shot call, the child) and keeps it
# reachable while it idles, 60 s by default.  A one-second keep-alive
# bounds that to about one second's worth of child sessions.
_INHERITING_POOLS = (
    "org.apache.spark.sql.execution.adaptive.ResultQueryStageExec$",
    "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec$",
    "org.apache.spark.sql.execution.exchange.BroadcastExchangeExec$",
)
POOL_KEEP_ALIVE_S = 1
_pools_bounded = False


def _bound_pool_keep_alive(jvm) -> None:
    """Set :data:`POOL_KEEP_ALIVE_S` on :data:`_INHERITING_POOLS`.  A
    pool this Spark build does not have is skipped."""
    seconds = jvm.java.util.concurrent.TimeUnit.SECONDS
    for name in _INHERITING_POOLS:
        try:
            module = jvm.java.lang.Class.forName(name).getField("MODULE$").get(None)
            pool = module.executionContext().executor()
            pool.setKeepAliveTime(POOL_KEEP_ALIVE_S, seconds)
        except Py4JError:
            continue


def one_shot_session(spark: SparkSession) -> SparkSession:
    """A child session cloned from ``spark`` for one query: it inherits
    runtime confs, temp views and functions, and shares the
    SparkContext and cache manager, so confs set on it (case
    sensitivity, :data:`INTERPRETED_CONFS`) stay off ``spark``."""
    global _pools_bounded
    jchild = spark._jsparkSession.cloneSession()
    with _CHILD_LOCK:
        if not _pools_bounded:
            _bound_pool_keep_alive(spark._jvm)
            _pools_bounded = True
        to_df = RDD.toDF
        child = SparkSession(spark.sparkContext, jchild)
        RDD.toDF = to_df
    child._one_shot_parent = spark
    return child


def rebind(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s analyzed plan as a DataFrame of ``spark``: names stay
    resolved as in ``df``'s session, the rest follows ``spark``'s confs,
    and cached data still matches.  ``Dataset.ofRows`` is internal;
    tests/test_one_shot.py pins it."""
    if df.sparkSession is spark:
        return df
    jdf = _of_rows(spark._jvm)(spark._jsparkSession, df._jdf.queryExecution().analyzed())
    return DataFrame(jdf, spark)


@functools.lru_cache(maxsize=None)
def _of_rows(jvm):
    """``classic.Dataset.ofRows`` of the JVM behind ``jvm`` (one per
    py4j gateway), looked up once: py4j resolves each part of a
    qualified name, and the member, in a round trip of its own."""
    return jvm.org.apache.spark.sql.classic.Dataset.ofRows


def _scala_items(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def runs_interpreted(df: DataFrame) -> bool:
    """Whether ``df`` should run under :data:`INTERPRETED_CONFS`: every
    leaf of its plan with cached data substituted, subqueries included,
    has a known row count, and none has more than
    :data:`INTERPRETED_MAX_ROWS` rows.  A pandas frame is a
    ``LocalRelation`` and a cached table scanned once is an
    ``InMemoryRelation``, both with exact counts; a ``OneRowRelation``
    (``SELECT`` with no table) reports none but counts as one row; a
    file scan, and a cached table before its first scan, have none.
    It reads the analyzed plan only, so the caller can still set the
    confs before the optimizer runs (``ConvertToLocalRelation``
    evaluates filters over a ``LocalRelation`` through generated
    predicates)."""
    plan = df._jdf.queryExecution().withCachedData()
    for tree in (plan, *_scala_items(plan.subqueriesAll())):
        for leaf in _scala_items(tree.collectLeaves()):
            rows = leaf.stats().rowCount()
            if rows.isDefined():
                if rows.get() > INTERPRETED_MAX_ROWS:
                    return False
            elif leaf.nodeName() != "OneRowRelation":
                return False
    return True


def activate(spark: SparkSession) -> None:
    """Make ``spark`` the active session, as ``createDataFrame`` does.
    A one-shot child's ``createDataFrame`` makes the child active; left
    so, it would pass its confs on to the next call."""
    SparkSession._activeSession = spark
    SparkSession._get_j_spark_session_class(spark._jvm).setActiveSession(
        spark._jsparkSession
    )


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an existing session."""
    for key, value in DEFAULT_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # some confs are static (can't be set on a live session);
            # those only matter at session creation time.
            pass
    return spark
