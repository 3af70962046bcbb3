"""Registry smoke: every declared query runs at sf0.001 with a stable schema.

The hash-vs-DuckDB check runs in tools/verify_local.py (and the driver's t2
gate) at sf0.01; this suite just guarantees nothing in the registry is broken
— every callable plans, executes, and returns ≥0 rows with named columns.
"""

from __future__ import annotations

import os

import pytest

from hierarchical_graph_db_spark.queries import load

REGISTRY = load()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_runs(spark, sf_dir, name):
    df = REGISTRY[name].run(spark, sf_dir)
    assert df.columns, f"{name} returned no columns"
    assert len(set(df.columns)) == len(df.columns), f"{name} has duplicate columns"
    assert df.count() >= 0


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 67
    assert len(oracles) >= 60


def test_coverage_header_matches_registry():
    """COVERAGE.md is the coverage contract — its headline counts must
    track the live registry exactly (round-5 verdict item 5)."""
    import re

    import __spark_entry__ as e

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "COVERAGE.md")) as f:
        head = f.read(600)
    m = re.search(r"\*\*(\d+)\s*\nqueries, (\d+) with DuckDB oracles\*\*",
                  head) or re.search(
        r"\*\*(\d+)\s+queries, (\d+) with DuckDB oracles\*\*", head)
    assert m, "COVERAGE.md headline count sentence not found"
    assert int(m.group(1)) == len(e.queries())
    assert int(m.group(2)) == len(e.oracle_sql())
