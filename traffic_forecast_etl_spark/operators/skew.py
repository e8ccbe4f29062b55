"""Skew-handling utilities (SCALE.md: 'skewed keys → salting or AQE
skew-join').

AQE's skew-join splitting handles most cases at runtime; these are
the explicit forms for when the skew is known and structural (one
power-law key in a 100 TB fact table), where deterministic salting
beats runtime splitting:

- ``salted_aggregate``: two-phase aggregation — partial per
  (key, salt), final per key. Turns one hot reducer into
  ``n_salts`` even ones. Works for any algebraic aggregate
  (sum/count/min/max; avg via sum+count recombination).
- ``salted_join``: fact side gets a random salt in [0, n_salts);
  dimension side is EXPLODED n_salts× so every (key, salt) pair
  matches. Shuffle load per reducer drops n_salts×, at the cost of
  replicating the (small) build side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation. ``aggs`` maps column → one of
    sum|count|min|max|avg. avg is decomposed into (sum, count) for
    the partial phase and recombined exactly in the final phase.
    """
    salt = F.pmod(F.xxhash64(*[F.col(k) for k in keys], F.monotonically_increasing_id()), F.lit(n_salts))
    salted = df.withColumn("__salt", salt)

    partial_exprs, final_exprs = [], []
    for col, how in aggs.items():
        if how == "avg":
            partial_exprs += [
                F.sum(col).alias(f"__s_{col}"),
                F.count(col).alias(f"__c_{col}"),
            ]
            final_exprs.append(
                (F.sum(f"__s_{col}") / F.sum(f"__c_{col}")).alias(f"avg_{col}")
            )
        elif how in ("sum", "count", "min", "max"):
            fn = getattr(F, how)
            partial_exprs.append(fn(col).alias(f"__p_{col}"))
            outer = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}[how]
            final_exprs.append(outer(f"__p_{col}").alias(f"{how}_{col}"))
        else:
            raise ValueError(f"unsupported agg {how!r}")
    partial = salted.groupBy(*keys, "__salt").agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*final_exprs)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    keys: Sequence[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the (big, skewed) fact side randomly,
    replicate the (small) dim side across all salts, join on
    keys+salt. Dim replication cost: n_salts × |dim| — only use when
    dim is small and broadcast is ruled out (e.g. too big to
    broadcast, too skewed to shuffle plainly)."""
    f = fact.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts)).cast("int"),
    )
    d = dim.withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    out = f.join(d, on=[*keys, "__salt"], how=how)
    return out.drop("__salt")
