"""Hot-key skew handling (SURVEY.md §7 phase 7): a fixture with one
conversation holding ~50% of all turns must aggregate identically
through the salted two-phase path and the direct groupBy."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from vaero_spark.operators.skew import salted_agg
from vaero_spark.sources.transcripts import TRANSCRIPTS_SCHEMA


@pytest.fixture(scope="module")
def skewed_df(spark):
    base = dt.datetime(2024, 1, 1)
    rows = []
    # hot conversation: 5000 turns; 50 cold conversations: 100 turns each
    for i in range(5000):
        rows.append(("conv-hot", i, "user" if i % 2 else "tool",
                     f"turn {i}", "", base + dt.timedelta(seconds=i)))
    for c in range(50):
        for i in range(100):
            rows.append((f"conv-{c}", i, "user" if i % 3 else "assistant",
                         f"t {i}", "", base + dt.timedelta(seconds=i)))
    return spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)


def test_salted_agg_equals_direct(spark, skewed_df):
    direct = (
        skewed_df.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).alias("n_user"),
            F.max("turn_idx").alias("last_turn"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
    )
    salted = salted_agg(skewed_df, "conv_id", n_salts=8)
    assert direct.exceptAll(salted).count() == 0
    assert salted.exceptAll(direct).count() == 0


def test_salted_agg_hot_key_values(spark, skewed_df):
    row = salted_agg(skewed_df, "conv_id", n_salts=8).filter(
        F.col("conv_id") == "conv-hot"
    ).first()
    assert row.n_turns == 5000
    assert row.n_user == 2500
    assert row.last_turn == 4999


def test_salted_join_identical_to_plain_join(spark):
    """The salted (key, salt) equi-join must equal the plain join row
    for row, and the fact side of a hot key must actually spread over
    multiple salts."""
    from pyspark.sql import functions as F

    from vaero_spark.operators.skew import salt_column, salted_join

    rows = [("hot", i, "user") for i in range(500)] + [
        (f"c{i}", j, "tool") for i in range(20) for j in range(5)
    ]
    fact = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    dim = fact.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
    got = sorted(
        map(tuple, salted_join(fact, dim, "conv_id").select(
            "conv_id", "turn_idx", "role", "n").collect())
    )
    want = sorted(
        map(tuple, fact.join(dim, "conv_id").select(
            "conv_id", "turn_idx", "role", "n").collect())
    )
    assert got == want
    spread = (
        fact.where(F.col("conv_id") == "hot")
        .select(salt_column(16, "turn_idx").alias("s"))
        .distinct()
        .count()
    )
    assert spread == 16  # the hot key's rows use every shard
