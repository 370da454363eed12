"""catalog_session: one long-lived ``DataSource`` over sf0.1 TPC-H-shaped
parquet tables plus one CSV copy, registered with ``CREATE TABLE``.

Ops run in blocks of ten, one per shape in a seeded order: nine reads
(group-by, 2- and 3-way joins, point lookups, subqueries, SHOW TABLES)
and one write (``COPY (SELECT ...) TO``, ``CREATE TABLE`` on the
output, one query against it, ``DROP TABLE``).  The seed picks the
data, the order and every literal.

The same session also runs each library operator in ``OPERATORS`` from
``__spark_entry__`` once, over the same files plus a small document
table: one after every other block, forced with the noop sink.
``release_caches()`` runs inside the last one, so freeing the
operators' persists is paid in the window.  The warm-up runs them cold,
collects the results and checks them against the entries' DuckDB
oracles.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

import datagen
from oracle import collapse, mismatch
from ops import Op, block_count

SF = 0.1
SHAPES = (
    "groupby_lineitem",
    "groupby_orders",
    "join3",
    "join2",
    "point_orders",
    "point_csv",
    "subquery_in",
    "subquery_scalar",
    "show_tables",
    "write",
)
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
N_DOCS = 500
# TF-IDF persists two tables that release_caches() frees; vocab top-k
# persists none.  The other entry operators cost too much set-up time.
OPERATORS = ("t26_tfidf_top_terms", "t07_vocab_topk")


class CatalogSession:
    warmup_blocks = 1
    ops_per_second = 4.0

    def __init__(self, spark, rng, workdir: str):
        import __spark_entry__ as entry
        from dfsql_spark import DataSource

        self.spark = spark
        self.rng = rng
        self.entry = entry
        self.oracles = entry.oracle_sql()
        self.out_dir = os.path.join(workdir, "written")
        self.sf_dir = os.path.join(workdir, "sf0.1")
        paths = datagen.tpch_tables(rng, SF, self.sf_dir)
        paths["customer_csv"] = os.path.join(workdir, "customer.csv")
        pd.read_parquet(paths["customer"]).to_csv(paths["customer_csv"], index=False)
        docs = datagen.documents_table(rng, N_DOCS, self.sf_dir)
        self.duck = duckdb.connect()
        for name, path in [*paths.items(), ("documents", docs)]:
            reader = "read_csv_auto" if path.endswith(".csv") else "read_parquet"
            self.duck.execute(f"CREATE VIEW {name} AS SELECT * FROM {reader}('{path}')")
        self.n_orders = int(1_500_000 * SF)
        self.n_cust = int(150_000 * SF)
        self.ds = DataSource(spark=spark)
        for name, path in paths.items():
            self.ds.query(f"CREATE TABLE {name} ('{path}')")
        self.tables = sorted(paths)
        self.n_written = 0

    def close(self) -> None:
        self.duck.close()

    def schedule(self, blocks: int, operator) -> list[Op]:
        """``blocks`` seeded blocks of reads and writes; the operator
        pass is spread over them, one op after every other block."""
        ops, pending = [], [operator(n) for n in OPERATORS]
        pending[-1] = self._release_after(pending[-1])
        for b in range(blocks):
            ops += [self._op(SHAPES[k]) for k in self.rng.permutation(len(SHAPES))]
            if b % 2 == 1 and pending:
                ops.append(pending.pop(0))
        return ops + pending

    def warmup_ops(self) -> list[Op]:
        return self.schedule(self.warmup_blocks, self._collected)

    def timed_ops(self, seconds: int) -> list[Op]:
        blocks = block_count(seconds, self.ops_per_second, len(SHAPES))
        return self.schedule(blocks, self._forced)

    # -- library operators ----------------------------------------------
    def _collected(self, name: str) -> Op:
        """Collected, and checked against the entry's DuckDB oracle."""
        call = getattr(self.entry, name)
        return Op(
            name,
            lambda: call(self.spark, self.sf_dir).toPandas(),
            lambda got: mismatch(got, self.duck.execute(self.oracles[name]).df()),
        )

    def _forced(self, name: str) -> Op:
        """Forced with the noop sink; an exception is its only failure."""
        call = getattr(self.entry, name)

        def run():
            df = call(self.spark, self.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return df

        return Op(name, run, lambda df: None)

    def _release_after(self, op: Op) -> Op:
        def run():
            try:
                return op.run()
            finally:
                self.entry.release_caches()

        return Op(op.shape, run, op.check)

    def _read(self, shape: str, sql: str) -> Op:
        return Op(
            shape,
            lambda: self.ds.query(sql),
            lambda got: mismatch(got, collapse(self.duck.execute(sql).df())),
        )

    def _op(self, shape: str) -> Op:
        rng = self.rng
        if shape == "groupby_lineitem":
            d = int(rng.integers(0, 8)) / 100
            return self._read(
                shape,
                "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, "
                "AVG(l_extendedprice) AS avg_price FROM lineitem "
                f"WHERE l_discount >= {d} GROUP BY l_returnflag, l_linestatus",
            )
        if shape == "groupby_orders":
            m = int(rng.integers(3, 12))
            return self._read(
                shape,
                "SELECT o_orderpriority, COUNT(*) AS n, AVG(o_totalprice) AS avg_price "
                f"FROM orders WHERE o_custkey % {m} = {int(rng.integers(0, m))} "
                "GROUP BY o_orderpriority",
            )
        if shape == "join3":
            return self._read(
                shape,
                "SELECT n.n_name, COUNT(*) AS n_orders, SUM(o.o_totalprice) AS total "
                "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
                "JOIN nation n ON c.c_nationkey = n.n_nationkey "
                f"WHERE c.c_mktsegment = '{rng.choice(SEGMENTS)}' GROUP BY n.n_name",
            )
        if shape == "join2":
            return self._read(
                shape,
                "SELECT p.p_type, COUNT(*) AS n, SUM(l.l_quantity) AS qty "
                "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
                f"WHERE p.p_size = {int(rng.integers(1, 51))} GROUP BY p.p_type",
            )
        if shape == "point_orders":
            return self._read(
                shape,
                "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders "
                f"WHERE o_orderkey = {int(rng.integers(1, self.n_orders + 1))}",
            )
        if shape == "point_csv":
            return self._read(
                shape,
                "SELECT c_name, c_acctbal FROM customer_csv "
                f"WHERE c_custkey = {int(rng.integers(1, self.n_cust + 1))}",
            )
        if shape == "subquery_in":
            return self._read(
                shape,
                "SELECT COUNT(*) AS n FROM orders WHERE o_custkey IN "
                f"(SELECT c_custkey FROM customer WHERE c_nationkey = {int(rng.integers(0, 25))})",
            )
        if shape == "subquery_scalar":
            return self._read(
                shape,
                "SELECT s_name, s_acctbal FROM supplier WHERE s_acctbal > "
                f"(SELECT AVG(s_acctbal) FROM supplier) + {int(rng.integers(3000, 5000))}",
            )
        if shape == "show_tables":
            expected = sorted(self.tables)
            return Op(
                shape,
                lambda: self.ds.query("SHOW TABLES"),
                lambda got: None
                if sorted(got["table_name"]) == expected
                else f"tables {sorted(got['table_name'])} != {expected}",
            )
        if shape == "write":
            m = int(rng.integers(5, 20))
            where = f"WHERE o_orderkey % {m} = {int(rng.integers(0, m))}"
            agg = "SELECT COUNT(*) AS n, SUM(o_totalprice) AS total, MAX(o_custkey) AS top"
            return Op(
                shape,
                lambda: self._write_read_drop(where, agg),
                lambda got: mismatch(
                    got, collapse(self.duck.execute(f"{agg} FROM orders {where}").df())
                ),
            )
        raise ValueError(shape)

    def _write_read_drop(self, where: str, agg: str):
        self.n_written += 1
        name = f"written_{self.n_written}"
        path = os.path.join(self.out_dir, f"{name}.parquet")
        q = self.ds.query
        q(f"COPY (SELECT o_orderkey, o_custkey, o_totalprice FROM orders {where}) TO '{path}'")
        q(f"CREATE TABLE {name} ('{path}')")
        try:
            return q(f"{agg} FROM {name}")
        finally:
            q(f"DROP TABLE {name}")
