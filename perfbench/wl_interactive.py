"""interactive_pandas: one-shot ``sql_query`` and ``df.sql`` calls over
small pandas frames, the dfsql headline surface.

Ops run in blocks of ten, one per shape in a seeded order.  Frames are
1k-10k rows, except one op in twenty, which gets the 100k-row frame.
The seed picks the order, the frame per op and every literal; the
multiset of shapes is the same for every seed.
"""

from __future__ import annotations

import re

import duckdb
import pandas as pd

import datagen
from oracle import collapse, mismatch
from ops import Op, block_count

SMALL = (1_000, 2_000, 5_000, 10_000)
BIG = 100_000
SHAPES = (
    "filter_project",
    "groupby_having",
    "join",
    "scalar",
    "series_accessor",
    "groupby_accessor",
    "like_regex",
    "power",
    "cast",
    "custom_function",
)


# a lambda is pickled by value, so Python workers need not import this file
bonus = lambda s: s * 2.0 + 1.0  # noqa: E731


class InteractivePandas:
    warmup_blocks = 1
    ops_per_second = 4.0  # timed ops per --seconds, rounded to whole blocks

    def __init__(self, spark, rng, workdir: str):
        import dfsql_spark

        self.sql_query = dfsql_spark.sql_query
        self.rng = rng
        self.frames = {n: datagen.people_frame(rng, n) for n in (*SMALL, BIG)}
        self.groups = datagen.groups_frame(rng)
        self.duck = duckdb.connect()

    def close(self) -> None:
        self.duck.close()

    def _duck(self, sql: str, **tables):
        for name, frame in tables.items():
            self.duck.register(name, frame)
        try:
            return collapse(self.duck.execute(sql).df())
        finally:
            for name in tables:
                self.duck.unregister(name)

    def schedule(self, blocks: int) -> list[Op]:
        ops = []
        for b in range(blocks):
            order = self.rng.permutation(len(SHAPES))
            big_at = int(self.rng.integers(0, len(SHAPES))) if b % 2 == 0 else -1
            for j, k in enumerate(order):
                size = BIG if j == big_at else SMALL[(b + j) % len(SMALL)]
                ops.append(self._op(SHAPES[k], self.frames[size]))
        return ops

    def warmup_ops(self) -> list[Op]:
        return self.schedule(self.warmup_blocks)

    def timed_ops(self, seconds: int) -> list[Op]:
        return self.schedule(block_count(seconds, self.ops_per_second, len(SHAPES)))

    def _op(self, shape: str, t: pd.DataFrame) -> Op:
        rng, q = self.rng, self.sql_query
        g = str(rng.choice(datagen.GROUPS))
        age = int(rng.integers(20, 60))

        def duck_check(sql, **tables):
            return lambda got: mismatch(got, self._duck(sql, **tables))

        def frame_check(expected_fn):
            return lambda got: mismatch(got, collapse(expected_fn()))

        if shape == "filter_project":
            sql = f"SELECT id, name, score FROM t WHERE age > {age} AND grp = '{g}'"
            return Op(shape, lambda: q(sql, t=t), duck_check(sql, t=t))
        if shape == "groupby_having":
            k = int(len(t) / len(datagen.GROUPS) * rng.uniform(0.8, 1.0))
            sql = (
                "SELECT grp, COUNT(*) AS n, SUM(age) AS total_age, AVG(score) AS mean_score "
                f"FROM t GROUP BY grp HAVING COUNT(*) > {k}"
            )
            return Op(shape, lambda: q(sql, t=t), duck_check(sql, t=t))
        if shape == "join":
            sql = (
                "SELECT u.region, COUNT(*) AS n, SUM(t.score * u.weight) AS w "
                f"FROM t JOIN u ON t.grp = u.grp WHERE t.age < {age} GROUP BY u.region"
            )
            u = self.groups
            return Op(shape, lambda: q(sql, t=t, u=u), duck_check(sql, t=t, u=u))
        if shape == "scalar":
            sql = f"SELECT MAX(score) AS top FROM t WHERE grp = '{g}' AND age >= {age}"
            return Op(shape, lambda: q(sql, t=t), duck_check(sql, t=t))
        if shape == "series_accessor":
            sql = f"SELECT name WHERE age = {age}"
            return Op(
                shape,
                lambda: t.sql(sql),
                duck_check(f"SELECT name FROM temp WHERE age = {age}", temp=t),
            )
        if shape == "groupby_accessor":
            cut = round(float(rng.uniform(20.0, 90.0)), 1)
            sql = (
                "SELECT grp, MIN(age) AS lo, MAX(age) AS hi, COUNT(*) AS n "
                f"WHERE score < {cut} GROUP BY grp"
            )
            oracle = (
                "SELECT grp, MIN(age) AS lo, MAX(age) AS hi, COUNT(*) AS n "
                f"FROM temp WHERE score < {cut} GROUP BY grp"
            )
            return Op(shape, lambda: t.sql(sql), duck_check(oracle, temp=t))
        # dialect quirks: DuckDB's LIKE, ^ and CAST differ, so the
        # expected values are written out in pandas from the dfsql rules
        if shape == "like_regex":
            # LIKE is an anchored-at-start Python regex (re.match)
            pat = f"user_[0-9]*{int(rng.integers(0, 10))}_"
            sql = f"SELECT grp, COUNT(*) AS n FROM t WHERE name LIKE '{pat}' GROUP BY grp"

            def expected():
                hit = t[[re.match(pat, s) is not None for s in t["name"]]]
                return hit.groupby("grp").size().rename("n").reset_index()

            return Op(shape, lambda: q(sql, t=t), frame_check(expected))
        if shape == "power":
            # ^ is power and right-associative: 2 ^ 3 ^ 2 = 2 ^ 9
            m = int(rng.integers(50, 200))
            sql = f"SELECT id, age ^ 2 AS age_sq, 2 ^ 3 ^ 2 AS p WHERE id % {m} = 0"

            def expected():
                sel = t[t["id"] % m == 0]
                return pd.DataFrame(
                    {"id": sel["id"], "age_sq": sel["age"].astype(float) ** 2, "p": 512.0}
                )

            return Op(shape, lambda: t.sql(sql), frame_check(expected))
        if shape == "cast":
            # pandas dtype names: str -> STRING, int -> BIGINT
            k = int(rng.integers(20, 200))
            sql = (
                "SELECT id, CAST(age AS str) AS age_s, CAST(score AS int) AS score_i "
                f"FROM t WHERE id < {k}"
            )

            def expected():
                sel = t[t["id"] < k]
                return pd.DataFrame(
                    {
                        "id": sel["id"],
                        "age_s": sel["age"].astype(str),
                        "score_i": sel["score"].astype("int64"),
                    }
                )

            return Op(shape, lambda: q(sql, t=t), frame_check(expected))
        if shape == "custom_function":
            sql = f"SELECT id, bonus(score) AS b FROM t WHERE grp = '{g}' AND age > {age}"

            def expected():
                sel = t[(t["grp"] == g) & (t["age"] > age)]
                return pd.DataFrame({"id": sel["id"], "b": bonus(sel["score"])})

            return Op(
                shape,
                lambda: q(sql, t=t, custom_functions={"bonus": bonus}),
                frame_check(expected),
            )
        raise ValueError(shape)
