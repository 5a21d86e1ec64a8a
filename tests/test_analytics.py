"""Funnel + rate-spike analytics: handcrafted-exact semantics, the
streaming variant's drain==batch equality, and watermark-bounded state.

The batch ops' cross-engine parity is driver-gated (``conv_funnel``,
``rate_spikes``, ``stream_spikes`` in ``__spark_entry__``); these tests
pin the SEMANTICS on inputs small enough to verify by hand — the ordered
-progression rule funnels are defined by, the no-division spike rule,
cold-start suppression — plus the eviction path a full drain with a wide
watermark never exercises.
"""

from __future__ import annotations

import datetime as dt
import tempfile
from typing import Sequence, Tuple

import pytest
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vaero_spark.operators.analytics import (
    cohort_retention,
    funnel,
    rate_spikes,
    stream_rate_spikes,
)
from vaero_spark.sinks.writers import MemorySink


def _ts(day: int, hour: int = 0):
    return dt.datetime(2024, 1, day, hour)


# ---------------------------------------------------------------------------
# funnel
# ---------------------------------------------------------------------------


def test_funnel_ordered_progression(spark):
    # conv a: user(0) assistant(1) tool(2)      -> reaches all 3 stages
    # conv b: assistant(0) user(1) tool(2)      -> stage2 (assistant)
    #         precedes stage1's first hit, so b stops at stage 1... but
    #         tool(2) > user(1) only counts if assistant came between:
    #         b reaches stage1 at turn 1, has no assistant AFTER turn 1,
    #         so never reaches stage 2 (ordering, not mere presence).
    # conv c: user(0) user(1) assistant(2)      -> stages 1 and 2.
    rows = [
        ("a", 0, "user"), ("a", 1, "assistant"), ("a", 2, "tool"),
        ("b", 0, "assistant"), ("b", 1, "user"), ("b", 2, "tool"),
        ("c", 0, "user"), ("c", 1, "user"), ("c", 2, "assistant"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    stages = [(r, F.col("role") == r) for r in ["user", "assistant", "tool"]]
    got = {r.stage: (r.stage_name, r.n_convs) for r in funnel(df, stages).collect()}
    assert got == {1: ("user", 3), 2: ("assistant", 2), 3: ("tool", 1)}


def test_funnel_counts_monotone_on_fixture(spark, sf_dir):
    from vaero_spark.sources.transcripts import load_transcripts

    tr = load_transcripts(spark, sf_dir)
    stages = [(r, F.col("role") == r) for r in ["user", "assistant", "tool"]]
    counts = [
        r.n_convs for r in funnel(tr, stages).orderBy("stage").collect()
    ]
    assert counts == sorted(counts, reverse=True)
    assert counts[0] > 0


def test_funnel_rejects_empty_stages(spark):
    with pytest.raises(ValueError):
        funnel(spark.range(1), [])


# ---------------------------------------------------------------------------
# cohort retention
# ---------------------------------------------------------------------------


def test_cohort_retention_handcrafted(spark):
    # u1 first active day 1, also active days 2 and 4 (twice — distinct
    # days, not events); u2 first active day 1, never returns; u3 first
    # active day 2, returns day 3.
    rows = [
        (0, _ts(1), 1), (1, _ts(2), 1), (2, _ts(4), 1), (3, _ts(4, 5), 1),
        (4, _ts(1, 3), 2),
        (5, _ts(2), 3), (6, _ts(3), 3),
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    d1 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days
    got = {
        (r.cohort_day, r.offset_day): r.n_users
        for r in cohort_retention(ev).collect()
    }
    assert got == {
        (d1, 0): 2,      # u1 + u2 start day 1
        (d1, 1): 1,      # only u1 returns next day
        (d1, 3): 1,      # u1 day 4 (deduped within the day)
        (d1 + 1, 0): 1,  # u3 starts day 2
        (d1 + 1, 1): 1,  # u3 returns day 3
    }


def test_cohort_retention_matrix_invariants_on_fixture(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = cohort_retention(ev).collect()
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    # cell counts over the whole matrix sum to the distinct (key, day)
    # activity count, offsets are non-negative, and offset-0 cells sum
    # to the number of distinct keys (every key is in exactly one cohort)
    assert sum(r.n_users for r in out) == ev.select("user_id", day).distinct().count()
    assert all(r.offset_day >= 0 for r in out)
    n_keys = ev.select("user_id").distinct().count()
    assert sum(r.n_users for r in out if r.offset_day == 0) == n_keys


# ---------------------------------------------------------------------------
# rate spikes (batch)
# ---------------------------------------------------------------------------


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, ts, uid) for i, (ts, uid) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long",
    )


def test_rate_spike_fires_above_factor(spark):
    # user 1: days 1,2,3 -> 1 event each (baseline_sum 3), day 4 -> 3
    # events: 3*3*10000 = 90000 > 20000*3 = 60000 -> spike.
    rows = [(_ts(d), 1) for d in (1, 2, 3)] + [(_ts(4, h), 1) for h in (1, 2, 3)]
    out = rate_spikes(_events(spark, rows)).collect()
    assert [(r.key, r.n_events, r.baseline_sum) for r in out] == [(1, 3, 3)]


def test_rate_spike_cold_start_suppressed(spark):
    # user 2 bursts on day 1 with NO baseline -> min_baseline gate holds
    rows = [(_ts(1, h), 2) for h in range(8)]
    assert rate_spikes(_events(spark, rows)).count() == 0


def test_rate_spike_integer_rule_boundary(spark):
    # cur=2, baseline_sum=3: 2*3*10000 = 60000 == 20000*3 -> strict
    # inequality, NOT a spike (the rule is >, both engines)
    rows = [(_ts(d), 3) for d in (1, 2, 3)] + [(_ts(4, h), 3) for h in (1, 2)]
    assert rate_spikes(_events(spark, rows)).count() == 0
    # cur=3 tips it
    rows.append((_ts(4, 3), 3))
    assert rate_spikes(_events(spark, rows)).count() == 1


def test_rate_spike_baseline_is_range_not_rows(spark):
    # user 4: events on days 1 and 10, burst on day 11. The ROWS-frame
    # reading would count day 1 in the baseline; the RANGE frame (days
    # 8-10) sees only day 10 -> baseline_sum 2.
    rows = [(_ts(1), 4), (_ts(1, 5), 4), (_ts(10), 4), (_ts(10, 5), 4)] + [
        (_ts(11, h), 4) for h in range(4)
    ]
    out = rate_spikes(_events(spark, rows), min_baseline=2).collect()
    assert [(r.key, r.n_events, r.baseline_sum) for r in out] == [(4, 4, 2)]


# ---------------------------------------------------------------------------
# rate spikes (streaming)
# ---------------------------------------------------------------------------


def _drain(spark, ev, n_files, watermark, order_col="event_id"):
    work = tempfile.mkdtemp(prefix="vaero_t_spike_")
    ev.repartition(n_files, order_col).write.parquet(f"{work}/in")
    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{work}/in")
    )
    sink = MemorySink()
    q = (
        stream_rate_spikes(src, watermark=watermark)
        .writeStream.outputMode("update")
        .option("checkpointLocation", f"{work}/ckpt")
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    q.processAllAvailable()
    q.stop()
    final = {}
    for epoch_id, batch_rows in sorted(sink.batches):
        for r in batch_rows:
            final[(r.key, r.bucket_idx)] = r
    return sorted(
        (k, r.n_events, r.baseline_sum) for k, r in final.items() if r.is_spike
    )


def test_stream_spikes_drain_equals_batch_out_of_order(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = _drain(spark, ev, n_files=5, watermark="90 days")
    want = sorted(
        ((r.key, r.bucket_idx), r.n_events, r.baseline_sum)
        for r in rate_spikes(ev).collect()
    )
    assert got == want and len(got) > 0


def test_stream_spikes_eviction_path_keeps_in_order_input_exact(spark, sf_dir):
    # Time-ordered files + a NARROW watermark: the wm advances past old
    # buckets, the eviction branch runs every batch, and because no
    # event is actually late the drained result still equals batch —
    # bounded state without a correctness tax.
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    work = tempfile.mkdtemp(prefix="vaero_t_spike_ord_")
    # sequential appends give strictly increasing file mtimes — the
    # FileStreamSource's arrival order — so the stream sees time-ordered
    # chunks (a range-partitioned bulk write lands near-simultaneous
    # mtimes and the source may lead with the LATEST days, making every
    # earlier event late-dropped)
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    bounds = [r.lo for r in ev.select(F.min(day).alias("lo")).collect()]
    lo = bounds[0]
    for i in range(4):
        chunk = ev.filter((day >= lo + i * 8) & (day < lo + (i + 1) * 8))
        chunk.coalesce(1).write.mode("append").parquet(f"{work}/in")
    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(f"{work}/in")
    )
    sink = MemorySink()
    q = (
        stream_rate_spikes(src, watermark="6 days")
        .writeStream.outputMode("update")
        .option("checkpointLocation", f"{work}/ckpt")
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    q.processAllAvailable()
    q.stop()
    final = {}
    for epoch_id, batch_rows in sorted(sink.batches):
        for r in batch_rows:
            final[(r.key, r.bucket_idx)] = r
    got = sorted(
        (k, r.n_events, r.baseline_sum) for k, r in final.items() if r.is_spike
    )
    want = sorted(
        ((r.key, r.bucket_idx), r.n_events, r.baseline_sum)
        for r in rate_spikes(ev).collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# funnel (streaming)
# ---------------------------------------------------------------------------


def funnel_membership(
    transcripts: DataFrame,
    stages: Sequence[Tuple[str, Column]],
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
) -> DataFrame:
    """Per-conversation funnel membership in Spark, the batch reference
    the stream_funnel tests compare against: one row ``(conv_id, stage,
    first_ord)`` for every stage a conversation reaches, with the FIRST
    order position at which it did — the row-level form of ``funnel``
    (whose counts are exactly ``GROUP BY stage`` over this), and the
    Spark form of ``analytics.funnel_membership_sql``."""
    if not stages:
        raise ValueError("funnel needs at least one stage")
    outs: list[DataFrame] = []
    reached: DataFrame | None = None
    for i, (name, pred) in enumerate(stages):
        hits = transcripts.filter(pred).select(
            F.col(conv_col).alias("_conv"), F.col(order_col).alias("_ord")
        )
        if reached is not None:
            hits = hits.join(reached, "_conv").filter(F.col("_ord") > F.col("_prev"))
        reached = hits.groupBy("_conv").agg(F.min("_ord").alias("_prev"))
        outs.append(
            reached.select(
                F.col("_conv").alias(conv_col),
                F.lit(i + 1).cast("int").alias("stage"),
                F.col("_prev").cast("long").alias("first_ord"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def test_funnel_membership_aggregates_to_funnel_counts(spark, sf_dir):
    from vaero_spark.sources.transcripts import load_transcripts

    tr = load_transcripts(spark, sf_dir)
    stages = [(r, F.col("role") == r) for r in ["user", "assistant", "tool"]]
    counts = {r.stage: r.n_convs for r in funnel(tr, stages).collect()}
    mem = funnel_membership(tr, stages)
    got = {
        r.stage: r.n for r in mem.groupBy("stage").agg(F.count("*").alias("n")).collect()
    }
    assert got == counts and counts[1] > 0


def _drain_funnel(spark, tr, stage_roles, n_files, watermark="60 days"):
    from vaero_spark.operators.analytics import stream_funnel

    work = tempfile.mkdtemp(prefix="vaero_t_sfun_")
    tr.repartition(n_files, "turn_idx").write.parquet(f"{work}/in")
    src = (
        spark.readStream.schema(tr.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{work}/in")
    )
    sink = MemorySink()
    q = (
        stream_funnel(
            src, [F.col("role") == r for r in stage_roles], watermark=watermark
        )
        .writeStream.outputMode("update")
        .option("checkpointLocation", f"{work}/ckpt")
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    q.processAllAvailable()
    q.stop()
    final = {}
    for epoch_id, batch_rows in sorted(sink.batches):
        for r in batch_rows:
            final[(r.conv_id, r.stage)] = r.first_ord
    return final


def test_stream_funnel_drain_equals_batch_out_of_order(spark, sf_dir):
    from vaero_spark.sources.transcripts import load_transcripts

    tr = load_transcripts(spark, sf_dir)
    roles = ["user", "assistant", "tool"]
    got = _drain_funnel(spark, tr, roles, n_files=5)
    stages = [(r, F.col("role") == r) for r in roles]
    want = {
        (r.conv_id, r.stage): r.first_ord
        for r in funnel_membership(tr, stages).collect()
    }
    assert got == want and len(want) > 0


def test_stream_funnel_late_earlier_turn_extends_the_chain(spark):
    """A stage-1 hit arriving AFTER the stage-2 hit (stream order) must
    still unlock stage 2 — per-conv state re-derives the greedy chain
    from ALL retained turns, and reached stages only ever grow."""
    rows = [
        ("a", 2, "assistant", _ts(1, 2)),  # arrives first (file 0)
        ("a", 1, "user", _ts(1, 1)),       # the earlier turn, arrives later
    ]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts timestamp"
    )
    from vaero_spark.operators.analytics import stream_funnel

    work = tempfile.mkdtemp(prefix="vaero_t_sfun_late_")
    for i in range(2):
        tr.filter(F.col("turn_idx") == 2 - i).coalesce(1).write.mode(
            "append"
        ).parquet(f"{work}/in")
    src = (
        spark.readStream.schema(tr.schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(f"{work}/in")
    )
    sink = MemorySink()
    q = (
        stream_funnel(
            src,
            [F.col("role") == "user", F.col("role") == "assistant"],
            watermark="60 days",
        )
        .writeStream.outputMode("update")
        .option("checkpointLocation", f"{work}/ckpt")
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    q.processAllAvailable()
    q.stop()
    final = {}
    for epoch_id, batch_rows in sorted(sink.batches):
        for r in batch_rows:
            final[(r.conv_id, r.stage)] = r.first_ord
    assert final == {("a", 1): 1, ("a", 2): 2}


# ---------------------------------------------------------------------------
# response latency
# ---------------------------------------------------------------------------


def test_response_latency_adjacent_pairs_only(spark):
    from vaero_spark.operators.analytics import response_latency

    rows = [
        # c1: user@t0 -> assistant@t0+2s (counted), assistant -> user (no),
        #     user@t0+10s -> tool (NOT adjacent-assistant: not counted)
        ("c1", 0, "user", _ts(1, 0)),
        ("c1", 1, "assistant", dt.datetime(2024, 1, 1, 0, 0, 2)),
        ("c1", 2, "user", dt.datetime(2024, 1, 1, 0, 0, 10)),
        ("c1", 3, "tool", dt.datetime(2024, 1, 1, 0, 0, 11)),
        # c2: two counted pairs, 1s and 3s
        ("c2", 0, "user", _ts(2, 0)),
        ("c2", 1, "assistant", dt.datetime(2024, 1, 2, 0, 0, 1)),
        ("c2", 2, "user", dt.datetime(2024, 1, 2, 0, 1, 0)),
        ("c2", 3, "assistant", dt.datetime(2024, 1, 2, 0, 1, 3)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts timestamp"
    )
    got = {r.conv_id: r for r in response_latency(df).collect()}
    assert got["c1"].n_responses == 1 and got["c1"].total_ms == 2000
    assert got["c2"].n_responses == 2
    assert (got["c2"].min_ms, got["c2"].max_ms, got["c2"].total_ms) == (
        1000, 3000, 4000,
    )
    # conversations with no user->assistant adjacency emit no row
    assert set(got) == {"c1", "c2"}


def test_cusum_drift_equals_naive_recurrence(spark):
    """The windowed identity S_t = C_t - min(0, running-min C) must
    reproduce the classic max(0, S+dev) recurrence exactly, on a series
    with an injected upward shift and a silent (zero-filled) stretch."""
    import datetime

    from vaero_spark.operators.analytics import cusum_drift

    base = datetime.datetime(2024, 1, 1)
    rows = []
    # tool 'a': 3/hour for 12h, then 7/hour for 6h (drift up), then a
    # 10-hour silence (drift down evidence), then 3/hour again
    per_hour = [3] * 12 + [7] * 6 + [0] * 10 + [3] * 4
    for h, n in enumerate(per_hour):
        for j in range(n):
            rows.append(("a", base + datetime.timedelta(hours=h, minutes=j)))
    df = spark.createDataFrame(rows, "tool string, ts timestamp")
    got = {
        r.hour_idx: (r.n_events, r.ref, r.s_up, r.s_down, r.up_alarm, r.down_alarm)
        for r in cusum_drift(df, key_col="tool", slack=1, threshold=8).collect()
    }
    h0 = int(base.timestamp()) // 3600
    # the densified grid spans first..last event hour
    xs = per_hour[:-1] + [per_hour[-1]]
    total, n_hours = sum(xs), len(xs)
    ref = total // n_hours
    s_up = s_dn = 0
    for h, x in enumerate(xs):
        s_up = max(0, s_up + (x - ref - 1))
        s_dn = max(0, s_dn + (ref - x - 1))
        assert got[h0 + h] == (x, ref, s_up, s_dn, int(s_up > 8), int(s_dn > 8)), h
    assert any(v[4] for v in got.values()), "upward drift never alarmed"
    assert any(v[5] for v in got.values()), "downward drift never alarmed"
