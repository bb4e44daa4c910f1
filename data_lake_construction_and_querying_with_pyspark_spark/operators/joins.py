"""Join strategy utilities for skewed and co-located data (100 TB ops).

A shuffled join on a skewed key sends every row of the hot key to one
reducer; AQE's skew-join splitting (session default) handles moderate
skew, but pathological keys (one key = 10% of a 100 TB table) want
explicit salting: replicate the small side per salt, scatter the big
side across salts, join on (key, salt). Result is identical to the
plain join — tests/test_joins.py proves it row-for-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def join_salted(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: the big side gets a deterministic salt
    from its own row content (xxhash64 of all columns — stable across
    retries/AQE re-plans, unlike rand()), the small side is exploded
    ×n_salts, and the join key becomes (key, salt). Each hot key now
    spreads over n_salts reducers.

    Supported ``how``: inner / left — flavors where duplicating the
    small side per salt cannot duplicate results.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"join_salted supports inner/left, got {how!r}")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts)).cast("int")
    big_salted = big.withColumn("_salt", salt)
    small_salted = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    joined = big_salted.join(small_salted, on=[key, "_salt"], how=how)
    return joined.drop("_salt")

