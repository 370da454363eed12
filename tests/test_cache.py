"""Cache-policy parity tests (reference: tests/test_cache.py:5-61 —
lru hit/miss/currsize accounting, maxsize eviction, DoNothingCache)."""

import pandas as pd
import pytest

from dfsql_spark import DataSource
from dfsql_spark.cache import DoNothingCache, MemoryCache


@pytest.fixture()
def ds(spark):
    ds = DataSource(spark=spark, cache=MemoryCache(maxsize=2))
    # distinct data per table: Spark's cache manager dedups entries by
    # logical-plan equality, so identical LocalRelations would share
    # one cache entry and uncaching one would drop them all
    for i, name in enumerate(("ca", "cb", "cc")):
        ds.add_table(name, pd.DataFrame({"x": [i, i + 1, i + 2]}))
    yield ds
    ds.cache.clear(spark)
    for name in ("ca", "cb", "cc"):
        spark.catalog.dropTempView(name)


def test_hit_miss_currsize(ds, spark):
    c = ds.cache
    ds.cache_table("ca")
    assert (c.hits, c.misses, c.currsize) == (0, 1, 1)
    ds.cache_table("ca")
    assert (c.hits, c.misses, c.currsize) == (1, 1, 1)
    assert spark.catalog.isCached("ca")


def test_lru_eviction_at_maxsize(ds, spark):
    ds.cache_table("ca")
    ds.cache_table("cb")
    ds.cache_table("cc")  # evicts ca (least recently used)
    assert ds.cache.currsize == 2
    assert not spark.catalog.isCached("ca")
    assert spark.catalog.isCached("cb") and spark.catalog.isCached("cc")


def test_touch_refreshes_recency(ds, spark):
    ds.cache_table("ca")
    ds.cache_table("cb")
    ds.cache_table("ca")  # ca now most recent
    ds.cache_table("cc")  # evicts cb
    assert spark.catalog.isCached("ca")
    assert not spark.catalog.isCached("cb")


def test_do_nothing_cache(spark):
    ds = DataSource(spark=spark, cache=False)
    assert isinstance(ds.cache, DoNothingCache)
    ds.add_table("cnone", pd.DataFrame({"x": [1]}))
    ds.cache_table("cnone")
    assert not spark.catalog.isCached("cnone")
    assert ds.cache.currsize == 0
    spark.catalog.dropTempView("cnone")


def test_set_cache_swaps_and_clears(ds, spark):
    ds.cache_table("ca")
    assert spark.catalog.isCached("ca")
    ds.set_cache(DoNothingCache())
    assert not spark.catalog.isCached("ca")
    ds.cache_table("cb")
    assert not spark.catalog.isCached("cb")


def test_cache_on_access(ds, spark):
    """Querying a registered table caches it with no explicit
    cache_table() call — reference behavior Table.dataframe →
    cache.get (dfsql/table.py:29-34): first touch is a miss, the
    repeat query is a hit (reference tests/test_cache.py:5-61)."""
    c = ds.cache
    ds.query("SELECT sum(x) AS s FROM ca")
    assert (c.hits, c.misses) == (0, 1)
    assert spark.catalog.isCached("ca")
    ds.query("SELECT sum(x) AS s FROM ca")
    assert (c.hits, c.misses) == (1, 1)


def test_cache_on_access_only_referenced_tables(ds, spark):
    ds.query("SELECT x FROM cb WHERE x > 0")
    assert spark.catalog.isCached("cb")
    assert not spark.catalog.isCached("cc")


def test_cache_on_access_respects_do_nothing(spark):
    ds = DataSource(spark=spark, cache=False)
    ds.add_table("cq", pd.DataFrame({"x": [1]}))
    try:
        ds.query("SELECT x FROM cq")
        assert not spark.catalog.isCached("cq")
    finally:
        spark.catalog.dropTempView("cq")


def test_cache_on_access_size_gate(spark, tmp_path):
    """File tables above AUTO_CACHE_MAX_BYTES are not auto-cached
    (caching defeats column pruning for big scans); explicit
    cache_table() still pins them."""
    from dfsql_spark.config import Configuration

    csv = tmp_path / "big.csv"
    csv.write_text("x,y\n" + "\n".join(f"{i},{i*2}" for i in range(100)))
    ds = DataSource(spark=spark, cache=MemoryCache(maxsize=4))
    ds.add_table_from_file("gated_tbl", str(csv))
    original_field = Configuration.__dict__["AUTO_CACHE_MAX_BYTES"]
    try:
        Configuration.AUTO_CACHE_MAX_BYTES = 10  # smaller than the file
        ds.query("SELECT sum(x) AS s FROM gated_tbl")
        assert not spark.catalog.isCached("gated_tbl")
        assert ds.cache.misses == 0
        ds.cache_table("gated_tbl")  # explicit pin bypasses the gate
        assert spark.catalog.isCached("gated_tbl")
        Configuration.AUTO_CACHE_MAX_BYTES = original_field  # default gate
        ds.query("SELECT sum(y) AS s FROM gated_tbl")
        assert ds.cache.hits == 1  # now under the default 1 GiB gate
    finally:
        Configuration.AUTO_CACHE_MAX_BYTES = original_field
        ds.cache.clear(spark)
        spark.catalog.dropTempView("gated_tbl")


def test_size_gate_stats_file_once(spark, tmp_path, monkeypatch):
    """The size gate's bytes are taken when the table is registered,
    not by walking the path on every query that references it."""
    import dfsql_spark.datasource as datasource

    csv = tmp_path / "sized.csv"
    csv.write_text("x\n1\n2\n")
    calls = []
    real = datasource._path_size_bytes
    monkeypatch.setattr(
        datasource, "_path_size_bytes", lambda p: calls.append(p) or real(p)
    )
    ds = DataSource(spark=spark, cache=MemoryCache(maxsize=4))
    ds.add_table_from_file("sized_tbl", str(csv))
    try:
        assert ds.tables["sized_tbl"].size_bytes == csv.stat().st_size
        for _ in range(3):
            assert ds.query("SELECT SUM(x) AS s FROM sized_tbl") == 3
        assert calls == [str(csv)]
        assert ds.cache.hits == 2
    finally:
        ds.cache.clear(spark)
        spark.catalog.dropTempView("sized_tbl")


def test_drop_table_evicts(ds, spark):
    ds.cache_table("ca")
    ds.drop_table("ca")
    assert ds.cache.currsize == 0
    assert "ca" not in [t.name for t in ds.tables.values()]


def test_release_caches_unpersists_everything(spark):
    """After a dedup batch, release_caches() must leave no persisted
    blocks behind beyond what existed before the batch (VERDICT r4:
    module-level persists otherwise pin executor memory for the
    session's lifetime)."""
    import __spark_entry__ as em

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    # hermetic start: if another test (e.g. the oracle mirror, which
    # runs FIRST under reversed file order) already populated the
    # entry-module memos, d02/d03 below would reuse those persists and
    # create no new blocks — the point of this test is the release
    # path, so begin from a clean memo state.
    em.release_caches()
    before = persistent_ids()
    sf = "/root/testdata/sf0.001"
    em.d02_dedup_ngram_jaccard(spark, sf).count()
    em.d03_dedup_minhash_lsh(spark, sf).count()
    assert persistent_ids() - before, "expected new persisted blocks"
    released = em.release_caches()
    # shingles + exact pairs + d03's signatures, each counted ONCE
    assert released >= 3
    assert not em._SHINGLE_CACHE and not em._EXACT_PAIRS_CACHE
    # unpersist(blocking=False) is async; poll briefly
    import time

    for _ in range(50):
        if not (persistent_ids() - before):
            break
        time.sleep(0.1)
    assert not (persistent_ids() - before)


def test_reregister_evicts_stale_cache_entry(spark):
    """Re-registering a table (any case variant when case-insensitive)
    must evict the replaced table's cache pin — the LRU is keyed by the
    OLD name, so a later drop under the new name would miss it and the
    stale plan would stay pinned (code-review r5 finding)."""
    import pandas as pd

    from dfsql_spark import DataSource

    ds = DataSource(spark=spark, case_sensitive=False)
    ds.add_table("rr_tbl", pd.DataFrame({"a": [1]}))
    ds.cache_table("rr_tbl")
    assert ds.cache.currsize == 1
    ds.add_table("RR_TBL", pd.DataFrame({"a": [2]}))
    # the old pin is gone, and drop under the new name leaves nothing
    assert ds.cache.currsize == 0
    ds.drop_table("rr_tbl")
    assert ds.cache.currsize == 0 and not ds.tables


def test_d06_reuses_shared_exact_pairs(spark):
    """VERDICT r5 item 3: the d-block runs ONE shingling + prefix-join
    pass — d06 consumes the shared ``_exact_jaccard_pairs`` persist
    instead of re-running ``ngram_jaccard_pairs`` from scratch, so it
    adds zero new persisted materializations after d02 has run."""
    import __spark_entry__ as em
    from dfsql_spark.operators import dedup as dd

    sf = "/root/testdata/sf0.001"
    try:
        em.d02_dedup_ngram_jaccard(spark, sf).count()
        n_before = len(dd._LIVE_PERSISTS)
        assert em.d06_dedup_connected(spark, sf).count() > 0
        assert len(dd._LIVE_PERSISTS) == n_before
        # d09 (the survivors query) rides the same persist: still no
        # new materializations, and survivors + losers == corpus
        n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
        n_survivors = em.d09_dedup_survivors(spark, sf).count()
        assert 0 < n_survivors <= n_docs
        assert len(dd._LIVE_PERSISTS) == n_before
    finally:
        em.release_caches()
