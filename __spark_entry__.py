"""Driver contract for the spark-graft builder (PySpark target).

``entry``: flagship KG-construction pipeline (classify → fan out →
tag → decode → assemble triples) over transcripts derived from the
sf0.001 documents table. ``queries``/``oracle_sql``: the operator
catalog from SURVEY.md §2 + the training-data ops, implemented in
information_extraction_spark.driver_queries.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from information_extraction_spark.driver_queries.kg import (
        kg_extract_triples,
    )

    return kg_extract_triples(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from information_extraction_spark.driver_queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query. PURE: golden-based
    oracles are materialized for the driver-gate corpus (sf0.01) from
    the function each query registered, so the output is identical
    whether or not any query has run first."""
    from information_extraction_spark.driver_queries import (
        materialize_oracles,
    )

    return materialize_oracles("/root/testdata/sf0.01")
