"""The unit of work every workload schedules."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable


@dataclass
class Op:
    shape: str
    run: Callable[[], object]
    # returns None when the result is right, else a one-line reason
    check: Callable[[object], "str | None"]


def block_count(seconds: int, ops_per_second: float, block: int) -> int:
    """Whole blocks of ops for ``--seconds``: a fixed count, never a deadline."""
    return max(1, round(seconds * ops_per_second / block))
