"""Hot-key (hot-conversation) skew handling.

At 10^12 turns a Zipf-skewed ``conv_id`` makes a single reducer the
straggler in any ``groupBy(conv_id)``. The classic fix: salt the key
into K shards, aggregate partially per (conv_id, salt) — map-side
combine already shrinks this — then merge the K partials per conv_id.
Two small shuffles instead of one skewed one. The reference has no
analog (single process); AQE's skew-join handling covers joins but not
aggregations, hence this explicit operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_column(n_salts: int, *cols: str) -> Column:
    """Deterministic salt in [0, n_salts): hash of intra-key columns (NOT
    random — keeps results reproducible and lets retries be idempotent)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_salts)).cast("int")


def salted_agg(
    df: DataFrame,
    key: str,
    n_salts: int = 32,
    salt_cols: tuple[str, ...] = ("turn_idx",),
) -> DataFrame:
    """Two-phase count/sum per ``key`` robust to hot keys.

    Phase 1 groups by (key, salt) — the hot key's rows spread over
    ``n_salts`` reducers; phase 2 merges the ≤ n_salts partial rows per
    key (tiny). Result is identical to a direct groupBy(key).
    """
    salted = df.withColumn("_salt", salt_column(n_salts, *salt_cols))
    partial = salted.groupBy(key, "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).alias("_n_user"),
        F.max("turn_idx").alias("_max_turn"),
        F.min("ts").alias("_min_ts"),
        F.max("ts").alias("_max_ts"),
    )
    return (
        partial.groupBy(key)
        .agg(
            F.sum("_n").alias("n_turns"),
            F.sum("_n_user").alias("n_user"),
            F.max("_max_turn").alias("last_turn"),
            F.min("_min_ts").alias("min_ts"),
            F.max("_max_ts").alias("max_ts"),
        )
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    salt_cols: tuple[str, ...] = ("turn_idx",),
) -> DataFrame:
    """Hot-key EQUI-JOIN without a straggler: salt the fact side into
    ``n_salts`` shards (deterministic hash of intra-row columns) and
    EXPLODE the dim side across every salt, joining on (key, salt) —
    the hot key's rows land on ``n_salts`` reducers instead of one.
    Result is row-identical to the plain join (every fact row meets its
    dim row exactly once, in its own shard).

    When to reach for it: AQE's skew-join splitting only rescues
    sort-merge joins at runtime and broadcast only fits model-sized
    dims; a mid-sized dim (too big to broadcast) joining a Zipf-skewed
    fact is the gap this fills — the standard pre-salted replication,
    cost = dim x n_salts rows shuffled (choose n_salts ~ the skew
    factor, not the cluster size).

    Output: fact columns + dim's non-key columns.
    """
    if n_salts < 1:
        raise ValueError("n_salts must be >= 1")
    f = fact.withColumn("_salt", salt_column(n_salts, *salt_cols))
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    return f.join(d, [key, "_salt"], "inner").drop("_salt")
