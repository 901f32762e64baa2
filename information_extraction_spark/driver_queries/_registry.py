"""The catalog registry: every query module registers its queries here
with ``_q``, once per query, together with that query's DuckDB oracle.

An oracle is either a static SQL string or a pure function
``sf_dir -> SQL`` (the golden-based oracles, whose SQL names a golden
parquet keyed by the corpus). ``driver_queries.materialize_oracles``
is the one place that turns this map into SQL for a corpus."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str | Callable[[str], str]] = {}


def _q(name: str, oracle: str | Callable[[str], str]):
    def deco(fn):
        # Dict assignment is silently last-wins, so a re-used name
        # would replace a query and its oracle. A real raise (not an
        # assert, which python -O strips) at import time.
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
