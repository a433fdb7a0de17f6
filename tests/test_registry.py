"""Spark-free checks on the driver registry in ``__spark_entry__.py``:
every DuckDB oracle belongs to a registered query, and the registry fits
the driver's 50-entry report."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_every_oracle_has_a_query():
    orphans = set(entrymod.oracle_sql()) - set(entrymod.queries())
    assert not orphans, f"oracle_sql() entries without a query: {sorted(orphans)}"


def test_registry_fits_driver_cap():
    # the driver records at most the first 50 queries() entries
    assert len(entrymod.queries()) <= 50
