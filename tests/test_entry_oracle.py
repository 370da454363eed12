"""The contract's correctness gate: every ``queries()`` entry must match
its ``oracle_sql()`` entry run by DuckDB on the same parquet tables
(row count + sorted-column + order-insensitive values)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from .conftest import SF_DIR, assert_matches_oracle

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["n_name", "revenue"]


def test_every_query_has_callable():
    assert QUERIES, "queries() must not be empty"
    for name, fn in QUERIES.items():
        assert callable(fn), name


def test_oracle_keys_subset_of_queries():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracle_sql keys without queries(): {missing}"
    unbacked = set(QUERIES) - set(ORACLES)
    assert not unbacked, f"queries() entries without oracle_sql(): {unbacked}"


def test_bench_extras_stay_out_of_the_contract(spark):
    """bench_extras() entries are timing-only: they must never leak
    into queries()/oracle_sql() (the contract is oracle-backed
    entries only), and each must still run."""
    extras = entry_mod.bench_extras()
    assert extras
    overlap = set(extras) & (set(QUERIES) | set(ORACLES))
    assert not overlap, f"bench-only names inside the contract: {overlap}"
    for name, fn in extras.items():
        assert fn(spark, SF_DIR).count() >= 0, name


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    spark_df = QUERIES[name](spark, SF_DIR)
    duck_df = duck.sql(ORACLES[name]).df()
    assert_matches_oracle(spark_df, duck_df, name)


def test_w04_pagerank_ranks_bit_identical_to_oracle(spark, duck):
    """The w04 contract's real strength is BIT-level: the toy graph's
    in-degree<=2 / single-dangling-node construction makes every
    per-round aggregate a <=2-term IEEE sum, so five damped rounds
    produce the SAME doubles in Spark and DuckDB — not merely equal
    after the mirror's 6-dp round.  Pin it at the byte level, plus
    the exact mass-conservation invariant (ranks sum to 1.0 after a
    left-to-right sorted-key summation both engines can replay)."""
    import math
    import struct

    got = {
        r.node: r.rank
        for r in QUERIES["w04_pagerank"](spark, SF_DIR).collect()
    }
    want = dict(duck.sql(ORACLES["w04_pagerank"]).fetchall())
    assert set(got) == set(want) and len(got) == 40
    for node in got:
        assert struct.pack("<d", got[node]) == struct.pack(
            "<d", want[node]
        ), (node, got[node].hex(), want[node].hex())
    total = math.fsum(got.values())
    assert abs(total - 1.0) < 1e-12, total
