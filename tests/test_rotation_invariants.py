"""The contract does not rotate: ``queries()`` returns the same 100
entries, in one fixed order (by name), on every call."""

from __future__ import annotations

import __spark_entry__ as em


def test_contract_shape():
    qs = list(em.queries())
    assert len(qs) == 100 and len(set(qs)) == 100
    assert qs == sorted(qs)
    assert list(em.queries()) == qs
