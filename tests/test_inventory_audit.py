"""Mechanical operator-inventory audit.

`perplexity_buckets` once landed with zero tests, zero COVERAGE.md
row and zero contract entry — the only operator ever to land outside
the repo's every-operator-has-an-oracle discipline, and nothing caught
it.  This test makes that class of gap impossible: every PUBLIC
callable defined in an operator module must be

* referenced by name in at least one ``tests/*.py`` file, AND
* referenced by name in ``COVERAGE.md`` (a table row or the notes
  prose — COVERAGE.md is the operator index, so an undocumented
  operator is invisible to users).

Scope is the operator surface: every module
under ``dfsql_spark/operators/`` plus the streaming library.  Core
engine modules (datasource/dialect/commands/...) are exercised through
the reference-parity suite, which pins the reference API surface 1:1
and would not miss an addition the same way.
"""

from __future__ import annotations

import importlib
import inspect
import os
import re

import pytest

OPERATOR_MODULES = [
    "dfsql_spark.operators.checks",
    "dfsql_spark.operators.classify",
    "dfsql_spark.operators.code",
    "dfsql_spark.operators.dedup",
    "dfsql_spark.operators.joins",
    "dfsql_spark.operators.multimodal",
    "dfsql_spark.operators.rollup",
    "dfsql_spark.operators.similarity",
    "dfsql_spark.operators.skew",
    "dfsql_spark.operators.text",
    "dfsql_spark.operators.versioning",
    "dfsql_spark.operators.web",
    "dfsql_spark.sources.warc",
    "dfsql_spark.streaming.events",
]

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTS_DIR = os.path.join(REPO, "tests")


def _public_callables() -> "list[tuple[str, str]]":
    out = []
    for modname in OPERATOR_MODULES:
        mod = importlib.import_module(modname)
        for name, obj in sorted(vars(mod).items()):
            if name.startswith("_") or not callable(obj):
                continue
            # only names DEFINED here (imports like F/broadcast don't count)
            if getattr(obj, "__module__", None) != modname:
                continue
            out.append((modname, name))
    return out


PUBLIC = _public_callables()


def test_inventory_is_nonempty_and_sane():
    names = [n for _, n in PUBLIC]
    assert len(names) > 80, f"suspiciously small operator surface: {len(names)}"
    assert "exact_dedup" in names and "cosine_topk" in names


def _corpus(paths: "list[str]") -> str:
    chunks = []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            chunks.append(f.read())
    return "\n".join(chunks)


@pytest.fixture(scope="module")
def test_corpus() -> str:
    paths = [
        os.path.join(TESTS_DIR, f)
        for f in sorted(os.listdir(TESTS_DIR))
        if f.endswith(".py") and f != os.path.basename(__file__)
    ]
    # __spark_entry__.py counts too: a contract query that the driver
    # and the per-run oracle mirror both execute IS test coverage
    paths.append(os.path.join(REPO, "__spark_entry__.py"))
    return _corpus(paths)


@pytest.fixture(scope="module")
def coverage_md() -> str:
    with open(os.path.join(REPO, "COVERAGE.md"), encoding="utf-8") as f:
        return f.read()


def test_every_public_operator_is_tested(test_corpus):
    untested = [
        f"{m}.{n}"
        for m, n in PUBLIC
        if not re.search(rf"\b{re.escape(n)}\b", test_corpus)
    ]
    assert not untested, (
        f"{len(untested)} public operator(s) with no test reference — "
        f"add tests or make them private: {untested}"
    )


def test_every_public_operator_is_documented(coverage_md):
    undocumented = [
        f"{m}.{n}"
        for m, n in PUBLIC
        if not re.search(rf"\b{re.escape(n)}\b", coverage_md)
    ]
    assert not undocumented, (
        f"{len(undocumented)} public operator(s) missing from COVERAGE.md — "
        f"add a table row (or round-notes mention): {undocumented}"
    )
