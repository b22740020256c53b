"""Smoke tests for the driver contract surface."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_queries_and_oracles_aligned(spark):
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) > 0

