"""Session defaults (openie_spark/session.py) that need no running Spark."""

from __future__ import annotations

import pytest

from openie_spark import session


@pytest.mark.parametrize(
    "master, cores",
    [
        ("local", 1),
        ("local[4]", 4),
        ("local[16,3]", 16),
        ("local[4,2]", 4),
        ("local[*]", 12),
        ("local[*,2]", 12),
        ("spark://host:7077", 12),
    ],
)
def test_core_count_reads_cores_before_the_retry_count(monkeypatch, master, cores):
    """``local[N,F]`` is N cores with F task attempts; the shuffle-partition
    default scales with N, so F must not leak into the count."""
    monkeypatch.setattr(session.os, "cpu_count", lambda: 12)
    assert session._core_count(master) == cores
