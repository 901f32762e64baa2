"""Explicit skew-handling helpers (north rule: "skew from hot
conversations and head entities is handled with explicit salting, AQE
skew-join splitting, and repartition-by-range on conv_id").

AQE (enabled in session.py) already splits skewed shuffle-join
partitions at runtime; these helpers are for the cases AQE cannot fix:
a groupBy on a hot key (two-phase salted aggregation) and a non-
broadcastable dim join against a skewed fact key (salted replicate
join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT_BUCKETS = 16


def with_salt(df: DataFrame, buckets: int = DEFAULT_SALT_BUCKETS) -> DataFrame:
    """Add a deterministic per-row salt in [0, buckets) derived from
    the full row's stable columns — NOT rand(), so retries/resume see
    identical salts."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in df.columns]
    return df.withColumn(
        "_salt", F.pmod(F.xxhash64(*cols), F.lit(buckets)).cast("int")
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    buckets: int = DEFAULT_SALT_BUCKETS,
    how: str = "inner",
) -> DataFrame:
    """Equi-join a skew-keyed fact table against a dim too large to
    broadcast: the fact side gets a salt, the dim side is replicated
    ``buckets``× with matching salts, and the join key becomes
    (key, salt) — spreading a hot key over ``buckets`` tasks."""
    salted_fact = with_salt(fact, buckets)
    replicated = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    out = salted_fact.join(replicated, [key, "_salt"], how)
    return out.drop("_salt")


def salted_count(
    df: DataFrame, keys: list[str], buckets: int = DEFAULT_SALT_BUCKETS
) -> DataFrame:
    """Two-phase (salted partial → final) count per key, for groupBys
    on hot keys — the map-side combine already handles most skew, but
    this keeps even a single monster key off one reducer."""
    salted = with_salt(df, buckets)
    partial = salted.groupBy(*keys, "_salt").agg(F.count("*").alias("_c"))
    return partial.groupBy(*keys).agg(F.sum("_c").alias("count"))
