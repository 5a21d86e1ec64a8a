"""Bucketed-table co-located joins: the write-once-shuffle-never-again
layout. The load-bearing assertion is on the PHYSICAL PLAN — a join of
two co-bucketed tables must contain no Exchange at all."""

from __future__ import annotations

from pyspark.sql import functions as F

from vaero_spark.sinks.bucketed import save_bucketed


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_cojoin_of_cobucketed_tables_is_exchange_free(spark, tmp_path):
    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    save_bucketed(left, "t_bk_left", "k", 8, path=str(tmp_path / "l"))
    save_bucketed(right, "t_bk_right", "k", 8, path=str(tmp_path / "r"))
    # At toy scale the planner broadcasts one side and ignores the
    # buckets ("Bucketed: false (disabled by query planner)"); disable
    # broadcast to exercise the regime bucketing exists for — two
    # tables too big to broadcast, joined WITHOUT any Exchange.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_bk_left").join(spark.table("t_bk_right"), "k")
        assert "Exchange" not in _plan(joined)
        rows = joined.orderBy("k").limit(3).collect()
        assert [(r.k, r.a, r.b) for r in rows] == [(0, 0, 0), (1, 2, 3), (2, 4, 6)]
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bk_left")
        spark.sql("DROP TABLE IF EXISTS t_bk_right")


def test_groupby_on_bucket_key_is_exchange_free(spark, tmp_path):
    df = spark.range(0, 1000).select(
        (F.col("id") % 10).alias("k"), F.col("id").alias("v")
    )
    save_bucketed(df, "t_bk_agg", "k", 4, path=str(tmp_path / "g"))
    try:
        agg = (
            spark.table("t_bk_agg")
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert "Exchange" not in _plan(agg)
        assert {(r.k, r.n) for r in agg.collect()} == {(k, 100) for k in range(10)}
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bk_agg")


def test_mismatched_bucket_counts_still_correct(spark, tmp_path):
    """Different bucket counts can't co-locate — the join must still be
    CORRECT (Spark inserts the shuffle it needs)."""
    left = spark.range(0, 100).select(F.col("id").alias("k"))
    right = spark.range(0, 100).select(F.col("id").alias("k"), F.lit(1).alias("b"))
    save_bucketed(left, "t_bk_l8", "k", 8, path=str(tmp_path / "l8"))
    save_bucketed(right, "t_bk_r3", "k", 3, path=str(tmp_path / "r3"))
    try:
        joined = spark.table("t_bk_l8").join(spark.table("t_bk_r3"), "k")
        assert joined.count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bk_l8")
        spark.sql("DROP TABLE IF EXISTS t_bk_r3")
