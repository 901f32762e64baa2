"""The oracle registry: each catalog query registers its oracle once,
as static SQL or as a pure function of sf_dir; ``oracle_sql()`` and
``materialize_oracles`` are pure functions of (catalog, sf_dir),
identical whether or not any query has executed."""

from __future__ import annotations

import pytest

from information_extraction_spark import driver_queries as dq
from information_extraction_spark.driver_queries import _registry

SF_GATE = "/root/testdata/sf0.01"
SF_SMALL = "/root/testdata/sf0.001"
MODULES = (
    "core", "core2", "core3", "kg", "relational", "sketches", "streamq",
    "textdata",
)


def test_golden_oracles_follow_sf():
    """Every golden-based oracle is registered as a function of sf_dir
    (a static string could name only one corpus's golden): it differs
    between two corpora and names its own; static oracles do not
    change."""
    at_gate = dq.materialize_oracles(SF_GATE)
    other = dq.materialize_oracles(SF_SMALL)
    assert list(at_gate) == list(other) == list(dq.QUERIES)
    golden = {n for n, s in at_gate.items() if "ie_spark_golden" in s}
    assert golden == {n for n, o in _registry.ORACLES.items() if callable(o)}
    for n in golden:
        assert other[n] != at_gate[n], n
        assert "sf0.001" in other[n] and "sf0.01" in at_gate[n], n
    for n in set(at_gate) - golden:
        assert other[n] == at_gate[n], n


def test_oracle_sql_is_call_order_independent(spark):
    """Running a golden-based query at a non-gate sf changes neither
    oracle_sql() nor materialize_oracles."""
    import __spark_entry__ as e

    before = e.oracle_sql()
    pure_before = dq.materialize_oracles(SF_SMALL)
    dq.QUERIES["kg_triple_support"](spark, SF_SMALL).count()
    assert e.oracle_sql() == before
    assert dq.materialize_oracles(SF_SMALL) == pure_before


def test_duplicate_query_name_raises():
    """Every module registers through the one ``_q``; a second
    registration of a taken name raises, whichever module registered
    it first, and leaves the registered query and oracle in place."""
    import importlib

    for module in MODULES:
        mod = importlib.import_module(
            f"information_extraction_spark.driver_queries.{module}"
        )
        assert mod._q is _registry._q, module
    owners = {fn.__module__.rsplit(".", 1)[1]: n for n, fn in dq.QUERIES.items()}
    assert set(owners) == set(MODULES)
    for owner, name in sorted(owners.items()):
        fn, oracle = dq.QUERIES[name], _registry.ORACLES[name]
        with pytest.raises(ValueError, match=name):
            _registry._q(name, "SELECT 1")(lambda spark, sf_dir: None)
        assert dq.QUERIES[name] is fn, owner
        assert _registry.ORACLES[name] is oracle, owner


def test_changed_first_list_rejects_repeats_and_unknown_names():
    order = list(dq.QUERIES)
    first, second = order[0], order[1]
    with pytest.raises(ValueError, match="repeats"):
        dq._order_changed_first([second, first, second])
    with pytest.raises(ValueError, match="unknown"):
        dq._order_changed_first([second, "no_such_query"])
    assert list(dq.QUERIES) == order
    assert len(set(dq._CHANGED_THIS_ROUND)) == len(dq._CHANGED_THIS_ROUND)
    assert order[: len(dq._CHANGED_THIS_ROUND)] == dq._CHANGED_THIS_ROUND
