"""Skew handling for hot-key joins.

AQE's skew-join splitting (on in ``session.get_spark``) handles most
runtime skew; this helper covers the case AQE can't re-plan:

- ``salted_broadcast_left``: replicate-broadcast pattern for joining a
  skewed fact against a dimension too big for one broadcast but small
  enough for N-way replication.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_broadcast_left(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 8,
) -> DataFrame:
    """Join a skewed fact to a dimension by salting the fact side and
    exploding the dimension ``n_salts``× (replicate-broadcast): every hot
    fact key spreads across ``n_salts`` tasks while each still finds its
    dimension row.  Use when one join key dominates and AQE's split is not
    available (e.g. broadcast already chosen)."""
    salted_fact = fact.withColumn(
        "_salt",
        F.pmod(F.spark_partition_id() + F.monotonically_increasing_id(), F.lit(n_salts)).cast("int"),
    )
    replicated_dim = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return salted_fact.join(F.broadcast(replicated_dim), [key, "_salt"]).drop("_salt")
