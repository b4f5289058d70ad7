"""Oracle-parity tests for the reference operator surface.

Compares every registered query that ships an oracle with it at
sf0.001 (fast), through the oracle gate's own type-exact compare
(scripts/verify_driver_gate.py).
"""

from __future__ import annotations

import pytest

from realtime_analytics_pipeline_spark import registry

from scripts.verify_driver_gate import compare, duck_views
from tests.conftest import SF_SMOKE

ORACLE_QUERIES = sorted(registry.ORACLES)


@pytest.fixture(scope="module")
def oracle_con():
    con, _ = duck_views(SF_SMOKE)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, oracle_con, name):
    df = registry.QUERIES[name](spark, SF_SMOKE)
    ok, detail = compare(df, oracle_con, registry.ORACLES[name])
    assert ok, detail


def test_all_queries_have_callables():
    assert registry.QUERIES, "registry must not be empty"
    for name in registry.ORACLES:
        assert name in registry.QUERIES


def test_complete_tpch_shape_matrix():
    """Every TPC-H query shape Q1-Q22 has a registered, oracled
    analog (the partsupp-dependent five run over the lineitem-derived
    supplier-part view)."""
    from realtime_analytics_pipeline_spark.registry import ORACLES, QUERIES

    names = {n for n in QUERIES if n.startswith("tpch_q")}
    got = {int(n.split("_")[1][1:]) for n in names}
    assert got == set(range(1, 23))
    assert all(n in ORACLES for n in names)


def test_verify_window_integrity():
    """The driver oracle-checks the FIRST 50 registered queries; the
    window policy only works if (a) every _VERIFY_WINDOW name is
    actually registered, (b) registration order puts exactly those
    names first, and (c) each carries an oracle (a rows-only query in
    the window wastes a slot). Guards against an accidental reorder or
    a skipped-name typo during rotation."""
    import __spark_entry__ as e
    from realtime_analytics_pipeline_spark.registry import _VERIFY_WINDOW

    qs = list(e.queries())
    oracles = e.oracle_sql()
    window = [n for n in _VERIFY_WINDOW if n in qs][:50]
    assert len(window) == 50, f"window has {len(window)} registered names"
    assert qs[:50] == window, "registration order diverges from window"
    missing_oracle = [n for n in window if n not in oracles]
    assert not missing_oracle, f"rows-only in window: {missing_oracle}"
