"""Join operators.

- broadcast_dim_join:   reference P9's legend-lookup shape (test.py:436-449,
                        471-487) — small dim broadcast, no shuffle of the fact.
- theta_tolerance_join: reference is_similar_rgb ±5 (test.py:36-39) as a
                        general inequality join. Physically a broadcast
                        nested-loop join — valid ONLY when one side is a
                        small dim (documented limit; at 100 TB the big side
                        streams once past an in-memory dim).
- semi/anti:            reference Q2 new-vs-seen rows (test.py:155,162-165).
- asof_join:            nearest-time enrich, implemented with the union-sort
                        trick: ONE shuffle on the key, sort within partition,
                        last(ignorenulls) fill — no range-explosion, scales
                        like a sort-merge join. (Spark has no native as-of
                        join; pandas' merge_asof shape per SURVEY.md §2.B.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def broadcast_dim_join(
    fact: DataFrame, dim: DataFrame, on: Column | str | list[str]
) -> DataFrame:
    return fact.join(F.broadcast(dim), on)


def upsert_merge(
    snapshot: DataFrame, updates: DataFrame, key: str, cols: list[str]
) -> DataFrame:
    """Keyed MERGE/upsert: full outer join on `key`, update wins per
    column via coalesce — snapshot-only rows survive, overlapping keys
    take the update's values, update-only keys insert. Output columns:
    key + cols. One shuffle per side on the key (sort-merge); bucket
    both tables on the key to make it exchange-free."""
    merged = snapshot.alias("s").join(updates.alias("n"), key, "full_outer")
    return merged.select(
        key,
        *[
            F.coalesce(F.col(f"n.{c}"), F.col(f"s.{c}")).alias(c)
            for c in cols
        ],
    )


def theta_tolerance_join(
    big: DataFrame, small_dim: DataFrame, condition: Column
) -> DataFrame:
    """Inequality join against a SMALL broadcast dim (BNLJ).

    Never call with two large inputs — O(|big| * |dim|) comparisons per
    partition; the dim must fit in executor memory.
    """
    return big.join(F.broadcast(small_dim), condition)


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str,
    n_salts: int = 16,
) -> DataFrame:
    """Large-large equi join with manual key salting for skew.

    The skewed side gets a uniform random salt in [0, n_salts); the
    other side is replicated n_salts times; the join key becomes
    (key, salt), splitting each hot key's rows across n_salts shuffle
    partitions. The result SET is identical to a plain join — the salt
    only changes partitioning. Salting is the fallback when AQE's
    skew-join splitting can't help (single giant key within one
    partition, or a non-AQE engine); broadcast remains the answer when
    `other` is dim-sized. Replication costs n_salts x |other| shuffle
    volume — size n_salts to the skew factor, not higher.
    """
    left = skewed.withColumn("_salt", (F.rand(42) * n_salts).cast("int"))
    right = other.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return left.join(right, [on, "_salt"]).drop("_salt")


def hot_keys(sizes: DataFrame, key: str, size_col: str, threshold: int) -> DataFrame | None:
    """(key, is_hot) for every key whose `size_col` exceeds threshold,
    or None when no key does — one limit(1) probe, so callers build the
    salted plan (broadcast barriers, two-key join, replicate generate)
    only when a hot key exists and the no-skew plan stays unsalted.
    Bounded by rows/threshold keys: broadcastable by construction."""
    hot = sizes.where(F.col(size_col) > threshold).select(
        key, F.lit(True).alias("is_hot")
    )
    return hot if hot.limit(1).count() else None


def salt_hot_keys(
    df: DataFrame, hot: DataFrame, key: str, n_salts: int,
    spread_col: str | None = None,
) -> DataFrame:
    """df plus an int `salt` column for a skew-salted equi-join on
    (key, salt) — the deterministic, key-generic twin of salted_join,
    applied only to the keys in `hot` (hot_keys). The two sides of one
    join call it in the two modes:

    - spread_col given (the many-rows side): a row of a hot key goes to
      salt pmod(xxhash64(spread_col), n_salts), so the key's rows
      spread over n_salts tasks;
    - spread_col None (the few-rows side): a row of a hot key is
      replicated to every salt 0..n_salts-1.

    Rows of cold keys get salt 0 in both modes, so the join result is
    bit-identical to the unsalted join."""
    hot_flag = F.col("is_hot")
    if spread_col is not None:
        salt = F.when(
            hot_flag, F.pmod(F.xxhash64(F.col(spread_col)), F.lit(n_salts))
        ).otherwise(F.lit(0)).cast("int")
    else:
        salt = F.explode(
            F.when(hot_flag, F.sequence(F.lit(0), F.lit(n_salts - 1)))
            .otherwise(F.array(F.lit(0)))
        )
    return df.join(F.broadcast(hot), key, "left").select(
        *df.columns, salt.alias("salt")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_time: str,
    right_time: str,
    right_values: list[str],
) -> DataFrame:
    """Backward as-of join: for each left row, the right row with the
    greatest right_time <= left_time within the same key.

    right must be unique per (right_key, right_time) for a
    deterministic result — pre-aggregate if not.

    Scale: one hash shuffle on the key + an in-partition sort; no
    nested-loop, no candidate explosion, skew handled by AQE like any
    sort. This is the 100 TB-safe formulation of the operator.
    """
    l_tagged = left.select(
        F.col(left_key).alias("_k"),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_is_l"),
        *[F.col(c) for c in left.columns],
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in right_values],
    )
    r_tagged = right.select(
        F.col(right_key).alias("_k"),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_is_l"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns],
        *[F.col(c) for c in right_values],
    )
    unioned = l_tagged.unionByName(r_tagged)
    # right row at the same _t sorts before the left row (_is_l 0 < 1),
    # so "<=" semantics are inclusive.
    w = (
        Window.partitionBy("_k")
        .orderBy("_t", "_is_l")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "*", *[F.last(c, ignorenulls=True).over(w).alias(f"_filled_{c}") for c in right_values]
    )
    return filled.where(F.col("_is_l") == 1).select(
        *[F.col(c) for c in left.columns],
        *[F.col(f"_filled_{c}").alias(c) for c in right_values],
    )
