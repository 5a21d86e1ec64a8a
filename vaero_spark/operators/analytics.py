"""Conversation/event analytics: funnels, cohort retention, and
rate-spike anomaly detection.

Three classic event-analytics primitives every production analytics
engine ships and the reference engine lacks (its pipeline is per-event
transform + sink, ``/root/reference/execute/transformNode.go:14-35``):

- **Funnel analysis** (:func:`funnel`): how many conversations progress
  through an ORDERED sequence of stages — stage *k* counts only if it
  occurs at a turn strictly AFTER the turn where stage *k-1* was first
  reached. The per-stage conversation counts are monotone
  non-increasing; the drop-off between rows is the product insight.

- **Cohort retention** (:func:`cohort_retention`): each key's cohort
  is its first active day; matrix cells count keys active at each
  (cohort_day, offset_day). Offset-0 cells carry the cohort sizes, so
  the retention ratio stays a downstream integer division.

- **Rate-spike detection** (:func:`rate_spikes`,
  :func:`stream_rate_spikes`): per-key event counts in fixed time
  buckets compared against the key's own trailing baseline; a bucket is
  a spike when ``cur > factor × mean(baseline)``. The comparison is done
  by INTEGER CROSS-MULTIPLICATION — ``cur · n_buckets · 10000 >
  factor_bp · sum(baseline)`` — so there is no division and no float
  anywhere, and the DuckDB twin is bit-exact (the repo-wide parity
  rule: integer/string math only).

Distributed shape:

- ``funnel``: each stage is one hash-aggregate on ``conv_id`` feeding an
  equi-join on ``conv_id`` into the next stage — all stages share the
  same partitioning key, so the exchanges line up and no stage is ever
  all-pairs. Stage count is small and fixed; at 100 TB the work is a
  handful of conv-keyed shuffles over predicate-filtered (i.e. heavily
  reduced) projections of the transcript table.

- ``rate_spikes``: ONE hash-aggregate on (key, bucket) — map-side
  combined, the natural reducer — then a per-key window over the
  bucket index with an integer RANGE frame (absent buckets simply do
  not contribute, exactly the semantics a gap-filling join would fake
  at far higher cost). The sort inside the window is per-key over
  bucket COUNTS (thousands per key per year), not events.

- ``stream_rate_spikes``: the same rule on a LIVE stream as a step of
  the keyed-state core (``operators/state.keyed_state``) keyed by the
  entity: state is a bounded
  ring of per-bucket counts (horizon = baseline + watermark slack),
  update-mode re-emission as late events land; the drained final
  emission per (key, bucket) equals the batch operator — giving the
  stateful streaming op an EXACT SQL oracle (same pairing as
  ``operators/cep.stream_cep_match``).
"""

from __future__ import annotations

from typing import Sequence, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vaero_spark.operators.state import LONGS, KeyedStep, keyed_state

# ---------------------------------------------------------------------------
# funnel analysis
# ---------------------------------------------------------------------------


def funnel(
    transcripts: DataFrame,
    stages: Sequence[Tuple[str, Column]],
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
) -> DataFrame:
    """Ordered-stage funnel over conversations.

    ``stages`` is a sequence of ``(name, predicate)`` pairs. A
    conversation reaches stage *k* if some turn satisfies predicate *k*
    at ``order_col`` strictly greater than the FIRST turn at which it
    reached stage *k-1* (stage 1 has no constraint). Returns one row per
    stage: ``(stage, stage_name, n_convs)`` with ``n_convs`` monotone
    non-increasing.

    The chained shape (filter → join on the previous stage's first-hit
    turn → min-aggregate) is the standard windowless funnel plan; every
    aggregate and join keys on ``conv_col`` so the exchanges reuse one
    partitioning.
    """
    if not stages:
        raise ValueError("funnel needs at least one stage")
    counts: list[DataFrame] = []
    reached: DataFrame | None = None
    for i, (name, pred) in enumerate(stages):
        hits = transcripts.filter(pred).select(
            F.col(conv_col).alias("_conv"), F.col(order_col).alias("_ord")
        )
        if reached is not None:
            hits = hits.join(reached, "_conv").filter(F.col("_ord") > F.col("_prev"))
        reached = hits.groupBy("_conv").agg(F.min("_ord").alias("_prev"))
        counts.append(
            reached.agg(F.count(F.lit(1)).alias("n_convs")).select(
                F.lit(i + 1).alias("stage"),
                F.lit(name).alias("stage_name"),
                "n_convs",
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def funnel_sql(
    table_expr: str,
    stages: Sequence[Tuple[str, str]],
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
) -> str:
    """DuckDB twin of :func:`funnel`: ``stages`` are ``(name, WHERE
    fragment)`` pairs; emits chained CTEs mirroring the Spark plan
    stage-for-stage (caller supplies any leading ``WITH ... ,``)."""
    ctes = []
    for i, (name, where) in enumerate(stages):
        if i == 0:
            ctes.append(
                f"s1 AS (SELECT {conv_col} AS _conv, MIN({order_col}) AS _prev\n"
                f"  FROM {table_expr} WHERE {where} GROUP BY 1)"
            )
        else:
            ctes.append(
                f"s{i + 1} AS (SELECT t.{conv_col} AS _conv, MIN(t.{order_col}) AS _prev\n"
                f"  FROM {table_expr} t JOIN s{i} p ON t.{conv_col} = p._conv\n"
                f"  WHERE ({where}) AND t.{order_col} > p._prev GROUP BY 1)"
            )
    selects = [
        f"SELECT {i + 1} AS stage, '{name}' AS stage_name, COUNT(*) AS n_convs FROM s{i + 1}"
        for i, (name, _) in enumerate(stages)
    ]
    return ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def funnel_membership_sql(
    table_expr: str,
    stages: Sequence[Tuple[str, str]],
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
) -> str:
    """Per-conversation funnel membership: one row ``(conv_id, stage,
    first_ord)`` for every stage a conversation reaches, with the FIRST
    order position at which it did — the row-level form of
    :func:`funnel_sql` (same chained CTEs; its counts are exactly
    ``GROUP BY stage`` over this) and the drain target of
    :func:`stream_funnel`. Its Spark form is the test reference
    ``funnel_membership`` in ``tests/test_analytics.py``."""
    ctes = []
    for i, (name, where) in enumerate(stages):
        if i == 0:
            ctes.append(
                f"s1 AS (SELECT {conv_col} AS _conv, MIN({order_col}) AS _prev\n"
                f"  FROM {table_expr} WHERE {where} GROUP BY 1)"
            )
        else:
            ctes.append(
                f"s{i + 1} AS (SELECT t.{conv_col} AS _conv, MIN(t.{order_col}) AS _prev\n"
                f"  FROM {table_expr} t JOIN s{i} p ON t.{conv_col} = p._conv\n"
                f"  WHERE ({where}) AND t.{order_col} > p._prev GROUP BY 1)"
            )
    selects = [
        f"SELECT _conv AS {conv_col}, CAST({i + 1} AS INTEGER) AS stage,\n"
        f"       CAST(_prev AS BIGINT) AS first_ord FROM s{i + 1}"
        for i in range(len(stages))
    ]
    return ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


# ---------------------------------------------------------------------------
# funnel analysis (streaming)
# ---------------------------------------------------------------------------


class _FunnelStep(KeyedStep):
    """Per conversation, the OR-ed stage mask of each stage-relevant
    turn (by turn ordinal); emits the reached-stage vector. An idle
    conversation's state is evicted, emitting nothing: emissions are
    eager."""

    output = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("stage", T.IntegerType()),
            T.StructField("first_ord", T.LongType()),
        ]
    )
    fields = [T.StructField("ords", LONGS), T.StructField("masks", LONGS)]
    init = ([], [])

    def __init__(self, n_stages: int, idle_timeout_seconds: int):
        self.n_stages, self.horizon_s = n_stages, idle_timeout_seconds

    def start(self, acc):
        return dict(zip(*acc))

    def fold(self, turns, pdf, us):
        for o, m in zip(pdf["_ord"], pdf["_mask"]):
            o = int(o)
            turns[o] = turns.get(o, 0) | int(m)
        return turns

    def emit(self, key, turns, watermark_ms):
        items = sorted(turns.items())
        rows = []
        prev = None
        for k in range(self.n_stages):
            hit = next(
                (
                    o
                    for o, m in items
                    if (m >> k) & 1 and (prev is None or o > prev)
                ),
                None,
            )
            if hit is None:
                break
            rows.append((key[0], k + 1, hit))
            prev = hit
        return ([o for o, _ in items], [m for _, m in items]), rows


def stream_funnel(
    stream: DataFrame,
    stage_cols: Sequence[Column],
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
    watermark: str = "60 days",
    idle_timeout_seconds: int = 3600,
) -> DataFrame:
    """Streaming form of :func:`funnel_membership_sql`: track each LIVE
    conversation's progression through ordered stages as turns arrive,
    in any order.

    ``stage_cols`` are boolean stage-predicate COLUMNS, evaluated
    JVM-side BEFORE the stateful op and packed into one bitmask per
    turn — Arrow ships (conv, ord, mask) only, and turns matching no
    stage never reach Python at all. State per conversation is the
    (ord, mask) pairs of its stage-relevant turns — bounded by
    conversation length, the transcripts boundedness assumption the
    reference's per-prefix sink buffers also make
    (``/root/reference/execute/sinkNode.go:80-101``) — plus the
    last-event time for idle eviction (kept and armed by the
    keyed-state core; an idle conversation's state is dropped once
    the watermark passes last-event + idle).

    Each batch recomputes the greedy stage chain (stage *k*'s first hit
    = the minimum ord strictly after stage *k-1*'s) and re-emits the
    conversation's FULL reached-stage vector in update mode. Adding
    turns can only extend the reached set and only move first hits
    earlier (the feasible set for every stage grows monotonically), so
    last-emission-wins needs no retractions, and the drained result
    equals :func:`funnel_membership_sql` exactly — the stateful streaming
    op gets an EXACT SQL oracle, the ``stream_cep`` /
    ``stream_spikes`` pairing.
    """
    n = len(stage_cols)
    if not n:
        raise ValueError("stream_funnel needs at least one stage")
    mask = F.lit(0).cast("long")
    for i, c in enumerate(stage_cols):
        mask = mask + F.when(c, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    pre = (
        stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .select(
            F.col(conv_col).alias("conv_id"),
            F.col(order_col).cast("long").alias("_ord"),
            mask.alias("_mask"),
            F.col(ts_col).alias("ts"),
        )
        .filter(F.col("_mask") != 0)
    )
    return keyed_state(pre.groupBy("conv_id"), _FunnelStep(n, idle_timeout_seconds))


# ---------------------------------------------------------------------------
# cohort retention
# ---------------------------------------------------------------------------


def cohort_retention(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Day-cohort retention matrix: each key's cohort is its FIRST
    active day; for every ``(cohort_day, offset_day)`` cell, count the
    keys active ``offset_day`` days after their cohort day. ``offset_day
    = 0`` rows carry the cohort sizes, so the retention *ratio* is a
    downstream integer division the caller controls (no floats here —
    the repo parity rule).

    Distributed shape: ONE shuffle on the key (``collect_set`` of
    active day indices is map-side partially aggregated, and its size
    is bounded by the day horizon, not the event count), then a narrow
    explode, then one final aggregate on the (cohort, offset) pairs —
    whose cardinality is O(horizon²), trivially small at any corpus
    scale. This beats the distinct→min→self-join plan (3 key shuffles)
    and never materializes per-event state.
    """
    day = F.datediff(F.to_date(ts_col), F.lit("1970-01-01"))
    per_key = events.groupBy(F.col(key_col).alias("key")).agg(
        F.array_sort(F.collect_set(day)).alias("days")
    )
    exploded = per_key.select(
        F.element_at("days", 1).alias("cohort_day"),
        F.explode("days").alias("day_idx"),
    )
    return (
        exploded.groupBy(
            F.col("cohort_day").cast("long").alias("cohort_day"),
            (F.col("day_idx") - F.col("cohort_day")).cast("long").alias("offset_day"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def cohort_retention_sql(
    table_expr: str, key_col: str = "user_id", ts_col: str = "ts"
) -> str:
    """DuckDB twin of :func:`cohort_retention` (caller supplies
    ``WITH``): distinct active days → per-key min → join — the classic
    SQL plan, row-identical to the collect_set shape."""
    day = f"date_diff('day', DATE '1970-01-01', CAST({ts_col} AS DATE))"
    return f"""
    ret_active AS (
      SELECT DISTINCT {key_col} AS key, {day} AS day_idx
      FROM {table_expr}),
    ret_cohort AS (
      SELECT key, MIN(day_idx) AS cohort_day FROM ret_active GROUP BY 1)
    SELECT c.cohort_day, a.day_idx - c.cohort_day AS offset_day,
           COUNT(*) AS n_users
    FROM ret_active a JOIN ret_cohort c USING (key)
    GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# assistant response latency (per-conversation turn-pair timing)
# ---------------------------------------------------------------------------


def response_latency(
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
    from_role: str = "user",
    to_role: str = "assistant",
) -> DataFrame:
    """Per-conversation RESPONSE LATENCY: for every ``from_role`` turn
    whose immediately-next turn (by ``order_col``) is a ``to_role``
    turn, the latency is their event-time delta in milliseconds;
    aggregated per conversation as (n_responses, min_ms, max_ms,
    total_ms) — the transcript QoS metric (how fast does the assistant
    answer) every conversation-analytics surface reports. Mean/percentile
    stay downstream divisions the caller controls (no floats here — the
    repo parity rule; milliseconds are integers end to end).

    100 TB shape: one shuffle on the conversation; the ``lead`` window
    sorts PER CONVERSATION (bounded — the transcripts assumption), never
    globally; the aggregate reuses the window's partitioning key.
    """
    w = Window.partitionBy(conv_col).orderBy(order_col)
    ms = F.unix_millis(F.col(ts_col).cast("timestamp"))
    base = transcripts.select(
        F.col(conv_col), F.col(order_col),
        F.col(role_col).alias("_role"), ms.alias("_ms"),
    )
    nxt = base.withColumn("_nrole", F.lead("_role").over(w)).withColumn(
        "_nms", F.lead("_ms").over(w)
    )
    resp = nxt.filter(
        (F.col("_role") == from_role) & (F.col("_nrole") == to_role)
    ).withColumn("_lat", F.col("_nms") - F.col("_ms"))
    return resp.groupBy(conv_col).agg(
        F.count(F.lit(1)).alias("n_responses"),
        F.min("_lat").alias("min_ms"),
        F.max("_lat").alias("max_ms"),
        F.sum("_lat").alias("total_ms"),
    )


def response_latency_sql(
    table_expr: str,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
    from_role: str = "user",
    to_role: str = "assistant",
) -> str:
    """DuckDB twin of :func:`response_latency` (caller supplies
    ``WITH``). SUM cast OUTSIDE (HUGEINT rule); epoch_ms mirrors
    unix_millis."""
    return f"""
    rl_next AS (
      SELECT {conv_col}, {role_col} AS _role,
             epoch_ms(CAST({ts_col} AS TIMESTAMP)) AS _ms,
             lead({role_col}) OVER w AS _nrole,
             lead(epoch_ms(CAST({ts_col} AS TIMESTAMP))) OVER w AS _nms
      FROM {table_expr}
      WINDOW w AS (PARTITION BY {conv_col} ORDER BY {order_col}))
    SELECT {conv_col}, COUNT(*) AS n_responses,
           MIN(_nms - _ms) AS min_ms, MAX(_nms - _ms) AS max_ms,
           CAST(SUM(_nms - _ms) AS BIGINT) AS total_ms
    FROM rl_next
    WHERE _role = '{from_role}' AND _nrole = '{to_role}'
    GROUP BY {conv_col}"""


# ---------------------------------------------------------------------------
# rate-spike detection (batch)
# ---------------------------------------------------------------------------


def rate_spikes(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    bucket: str = "day",
    baseline_buckets: int = 3,
    factor_bp: int = 20000,
    min_baseline: int = 3,
) -> DataFrame:
    """Flag (key, bucket) pairs whose event count exceeds ``factor_bp``
    (basis points, 20000 = 2.0×) times the mean of the key's own
    TRAILING ``baseline_buckets`` buckets, requiring a baseline of at
    least ``min_baseline`` events (cold keys never alarm).

    Spike rule, integer-exact (no division)::

        baseline_sum >= min_baseline
        AND n_events * baseline_buckets * 10000 > factor_bp * baseline_sum

    ``bucket`` is ``"day"`` or ``"hour"``; the bucket index is an
    integer (days/hours since epoch), so the trailing window is an
    integer RANGE frame — absent buckets contribute nothing, which is
    exactly the zero-count semantics.
    """
    if bucket == "day":
        idx = F.datediff(F.to_date(ts_col), F.lit("1970-01-01"))
    elif bucket == "hour":
        idx = F.expr(f"timestampdiff(HOUR, timestamp'1970-01-01 00:00:00', {ts_col})")
    else:
        raise ValueError(f"unsupported bucket {bucket!r}")
    counts = (
        events.groupBy(F.col(key_col).alias("key"), idx.alias("bucket_idx"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = (
        Window.partitionBy("key")
        .orderBy("bucket_idx")
        .rangeBetween(-baseline_buckets, -1)
    )
    scored = counts.withColumn(
        "baseline_sum", F.coalesce(F.sum("n_events").over(w), F.lit(0))
    )
    return scored.filter(
        (F.col("baseline_sum") >= min_baseline)
        & (
            F.col("n_events") * baseline_buckets * 10000
            > factor_bp * F.col("baseline_sum")
        )
    ).select("key", "bucket_idx", "n_events", "baseline_sum")


def rate_spikes_sql(
    table_expr: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    bucket: str = "day",
    baseline_buckets: int = 3,
    factor_bp: int = 20000,
    min_baseline: int = 3,
) -> str:
    """DuckDB twin of :func:`rate_spikes` (caller supplies ``WITH``).
    ``SUM(BIGINT)`` widens to HUGEINT in DuckDB, so the baseline sum is
    cast back OUTSIDE the window aggregate (repo parity rule)."""
    if bucket == "day":
        idx = f"date_diff('day', DATE '1970-01-01', CAST({ts_col} AS DATE))"
    elif bucket == "hour":
        idx = f"date_diff('hour', TIMESTAMP '1970-01-01 00:00:00', {ts_col})"
    else:
        raise ValueError(f"unsupported bucket {bucket!r}")
    return f"""
    rs_counts AS (
      SELECT {key_col} AS key, {idx} AS bucket_idx, COUNT(*) AS n_events
      FROM {table_expr} GROUP BY 1, 2),
    rs_scored AS (
      SELECT key, bucket_idx, n_events,
             CAST(COALESCE(SUM(n_events) OVER (
               PARTITION BY key ORDER BY bucket_idx
               RANGE BETWEEN {baseline_buckets} PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS baseline_sum
      FROM rs_counts)
    SELECT key, bucket_idx, n_events, baseline_sum
    FROM rs_scored
    WHERE baseline_sum >= {min_baseline}
      AND n_events * {baseline_buckets} * 10000 > {factor_bp} * baseline_sum"""


# ---------------------------------------------------------------------------
# rate-spike detection (streaming)
# ---------------------------------------------------------------------------

class _SpikeStep(KeyedStep):
    """Per key, the event count of each retained day bucket; emits the
    current flag row of every still-mutable bucket. No timeout:
    eviction keys off the watermark (:meth:`emit`)."""

    output = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("bucket_idx", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("baseline_sum", T.LongType()),
            T.StructField("is_spike", T.BooleanType()),
        ]
    )
    fields = [T.StructField("bucket_idxs", LONGS), T.StructField("counts", LONGS)]
    init = ([], [])

    def __init__(
        self, ts_col: str, baseline_buckets: int, factor_bp: int, min_baseline: int
    ):
        self.ts_col, self.baseline_buckets = ts_col, baseline_buckets
        self.factor_bp, self.min_baseline = factor_bp, min_baseline

    def start(self, acc):
        return dict(zip(*acc))

    def fold(self, buckets, pdf, us):
        # a null ts has no day bucket (its NaT bucket, -2^63, is the
        # packed-list null sentinel, which the core refuses to store)
        ts = pdf[self.ts_col].dropna()
        days = ts.values.astype("datetime64[D]").astype("int64")
        for b, n in pd.Series(days).value_counts().items():
            b = int(b)
            buckets[b] = buckets.get(b, 0) + int(n)
        return buckets

    def emit(self, key, buckets, watermark_ms):
        # Eviction keys off the WATERMARK, never the max bucket seen:
        # the engine admits only rows with ts >= watermark into this
        # operator, so a bucket below wm_day can no longer grow — and
        # one below wm_day - baseline_buckets can no longer even serve
        # as baseline for an admissible bucket. Anything younger must
        # be retained (out-of-order files put a key's buckets in any
        # arrival order). wm=0 (first batch / wide gate watermark)
        # retains everything, which is what drain==batch needs.
        wm_ms = watermark_ms()
        if wm_ms > 0 and buckets:
            cutoff = wm_ms // 86_400_000 - self.baseline_buckets
            buckets = {b: n for b, n in buckets.items() if b >= cutoff}
        ordered = sorted(buckets)
        # Emit only buckets the watermark has NOT passed: those are the
        # still-mutable ones, and exactly they have their full baseline
        # retained (cutoff = wm_day - baseline). A bucket behind the
        # watermark is FINAL — its last emission (made while it was
        # admissible, with complete baselines) stands; recomputing it
        # here against a partially-evicted baseline would supersede a
        # correct row with an undercounted one.
        emit_floor = wm_ms // 86_400_000 if wm_ms > 0 else None
        rows = []
        for b in ordered:
            if emit_floor is not None and b < emit_floor:
                continue
            base = sum(
                buckets.get(p, 0) for p in range(b - self.baseline_buckets, b)
            )
            cur = buckets[b]
            spike = (
                base >= self.min_baseline
                and cur * self.baseline_buckets * 10000 > self.factor_bp * base
            )
            rows.append((key[0], b, cur, base, spike))
        return (ordered, [buckets[b] for b in ordered]), rows


def stream_rate_spikes(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    baseline_buckets: int = 3,
    factor_bp: int = 20000,
    min_baseline: int = 3,
    watermark: str = "2 days",
) -> DataFrame:
    """Streaming form of :func:`rate_spikes` over DAY buckets.

    State per key is a bounded map ``bucket_idx -> count``: the engine
    admits only rows at or past the watermark into the stateful op, so
    buckets below ``wm_day - baseline_buckets`` can neither grow nor
    serve as baseline again and are dropped — state is O(watermark
    horizon in buckets), never O(history). Drain==batch equality holds
    whenever no event is actually dropped as late (gates use a
    watermark wider than the fixture span, the stream_cep pairing). Every batch re-emits the CURRENT flag row for every
    retained bucket of each updated key (update mode); the last emission
    per (key, bucket) is authoritative, so after a full drain
    ``is_spike`` rows equal the batch operator exactly — the same
    drain==batch pairing as ``stream_cep_match``, which is what makes a
    stateful streaming op SQL-oracle-checkable.
    """
    return keyed_state(
        # NTZ sources (the driver parquet) must cast for event-time
        # watermarks; session TZ is pinned UTC so the cast is identity.
        # Only (key, ts) crosses the Python boundary — the bucket
        # counter reads nothing else (guide §4.1 column pruning).
        stream.select(F.col(key_col), F.col(ts_col).cast("timestamp").alias(ts_col))
        .withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col)),
        _SpikeStep(ts_col, baseline_buckets, factor_bp, min_baseline),
    )


# ---------------------------------------------------------------------------
# tool-transition matrix (agent-behavior analytics)
# ---------------------------------------------------------------------------

def tool_transitions(
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    tool_col: str = "tool",
) -> DataFrame:
    """First-order tool-call TRANSITION MATRIX over agent transcripts:
    restrict to tool turns, order them per conversation, and count each
    (prev_tool → tool) step; ``p_bp`` is the empirical transition
    probability in basis points (``floor(10000·n/Σ_row n)``) — the
    Markov view of agent behavior every agent-analytics surface draws
    (which tool follows which, where do loops form). Integer/string
    output only (repo parity rule).

    100 TB shape: ONE shuffle on the conversation for the ``lag``
    window (per-conversation sort, never global), then a
    map-side-combined groupBy on the (prev, next) pair — the pair
    table is vocabulary-sized (|tools|²), so the row-normalizing
    window over ``prev_tool`` is trivially small.
    """
    w = Window.partitionBy(conv_col).orderBy(order_col)
    steps = (
        transcripts.filter((F.col(role_col) == "tool") & (F.col(tool_col) != ""))
        .select(F.col(conv_col), F.col(order_col), F.col(tool_col).alias("tool"))
        .withColumn("prev_tool", F.lag("tool").over(w))
        .filter(F.col("prev_tool").isNotNull())
    )
    counts = steps.groupBy("prev_tool", "tool").agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    row_tot = Window.partitionBy("prev_tool")
    return counts.select(
        "prev_tool",
        "tool",
        "n_trans",
        F.floor(
            F.lit(10000) * F.col("n_trans") / F.sum("n_trans").over(row_tot)
        ).cast("bigint").alias("p_bp"),
    )


def tool_transitions_sql(
    table_expr: str,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    tool_col: str = "tool",
) -> str:
    """DuckDB twin of :func:`tool_transitions` (caller supplies the
    ``WITH`` prefix). SUM-over-window on BIGINT counts returns HUGEINT
    in DuckDB → the division operand casts back to BIGINT BEFORE the
    mirrored ``floor(10000·n/total)`` so both engines divide the same
    integers."""
    return f"""
    tt_steps AS (
      SELECT {conv_col}, {tool_col} AS tool,
             lag({tool_col}) OVER (PARTITION BY {conv_col} ORDER BY {order_col})
               AS prev_tool
      FROM {table_expr}
      WHERE {role_col} = 'tool' AND {tool_col} != ''),
    tt_counts AS (
      SELECT prev_tool, tool, COUNT(*) AS n_trans
      FROM tt_steps WHERE prev_tool IS NOT NULL
      GROUP BY 1, 2)
    SELECT prev_tool, tool, n_trans,
           CAST(floor(10000 * n_trans /
                CAST(SUM(n_trans) OVER (PARTITION BY prev_tool) AS BIGINT))
             AS BIGINT) AS p_bp
    FROM tt_counts"""


# ---------------------------------------------------------------------------
# semi-structured JSON profiling (schema discovery over raw log payloads)
# ---------------------------------------------------------------------------

JSON_PROFILE_DEPTH = 4  # max nesting depth profiled (dotted paths)


def json_profile(
    df: DataFrame,
    json_col: str = "props",
    max_depth: int = JSON_PROFILE_DEPTH,
) -> DataFrame:
    """PROFILE a free-form JSON payload column: for every PATH that
    appears anywhere in the corpus — top-level keys plus keys of
    object-valued keys, recursively to ``max_depth``, joined with dots
    (``actor.geo.city``) — how often it is present, how often its
    value is a bare integer, how often it is a nested object, and the
    lexicographic min/max of its SCALAR string forms. This is the
    schema-discovery pass run over raw event/log payloads before
    committing an extraction schema (the reference pipelines hand-write
    nested paths per source,
    `/root/reference/pipelines/okta_pipe.py:11-13`; this op finds the
    paths, VERDICT r5 #8).

    min/max are restricted to SCALAR values (ADVICE r5): object/array
    values would compare their serialized JSON text, and Spark
    (Jackson) vs DuckDB (yyjson) may serialize whitespace differently —
    scalars compare the raw token text, which is engine-identical for
    integers/strings (the repo parity rule; floats in nested payloads
    are outside the hash-exact contract as everywhere else).

    Type probes are engine-mirrored: Spark ``json_object_keys(v) IS
    [NOT] NULL`` / ``json_array_length(v) IS [NOT] NULL`` == DuckDB
    ``CASE WHEN json_valid(v) THEN json_type(json(v)) END``
    ('OBJECT'/'ARRAY'). A STRING value whose text parses as a JSON
    object is deliberately profiled THROUGH (stringified-JSON payloads
    are common in real logs) — identically in both engines. Caveat:
    Jackson is lenient (accepts ``{a:1}``); such malformed-but-braced
    scalar strings would diverge cross-engine — keys are assumed
    identifier-like and payloads machine-written, as the fixtures are.

    100 TB shape: each level is a narrow explode from the previous
    (object-valued rows only — fan-out is bounded by real nesting);
    ONE map-side-combined groupBy on the path — the result is
    schema-sized (distinct paths), never data-sized. Dynamic-path
    ``get_json_object(props, concat('$.', key))`` stays JVM-side
    (probed: non-literal paths evaluate per row in Spark 4.1.2 exactly
    like DuckDB's ``json_extract_string(props, '$.' || key)``). The
    lazy level chain re-derives the parent per level; measured (r7),
    materializing levels buys nothing at this shape — the wall is the
    kv production's JSON-parse volume, not recompute (see the in-body
    comment).

    Output: (path, n_present, n_int, n_obj, val_min, val_max).
    """
    # Deliberately a LAZY level chain (r7, measured): materializing each
    # level so the union computes it once — via hash-repartition
    # exchange reuse, per-level localCheckpoint, or persist — was
    # A/B'd order-balanced on the nested gate; repartition reads 14.5-
    # 15.3 s vs 11.3-12.0 s lazy (the extra shuffles of (path, _val)
    # cost more than the recompute), and checkpoint/persist tie the
    # lazy chain within noise (11.2-11.6 s) because writing+reading the
    # materialized level costs what recomputing it does at this row
    # shape. The wall is JSON-parse volume in the kv production itself
    # (kv union alone ≈ the whole query; the aggregate adds nothing) —
    # see OPTIMIZATION_r07.md for the decomposition and the
    # semantics-changing rewrites (from_json map / variant_explode)
    # that were rejected because they alter duplicate-key behavior.
    lvl = df.select(
        F.explode(F.json_object_keys(F.col(json_col))).alias("key"),
        F.col(json_col).alias("_p"),
    ).select(
        F.col("key").alias("path"),
        F.expr("get_json_object(_p, concat('$.', key))").alias("_val"),
    )
    levels = [lvl]
    for _ in range(1, max_depth):
        deeper = (
            levels[-1]
            .filter(F.expr("json_object_keys(_val) IS NOT NULL"))
            .select(
                "path",
                F.explode(F.json_object_keys(F.col("_val"))).alias("key"),
                F.col("_val").alias("_p"),
            )
            .select(
                F.concat_ws(".", "path", "key").alias("path"),
                F.expr("get_json_object(_p, concat('$.', key))").alias("_val"),
            )
        )
        levels.append(deeper)
    kv = levels[0]
    for extra in levels[1:]:
        kv = kv.unionByName(extra)
    is_obj = F.expr("json_object_keys(_val) IS NOT NULL")
    is_scalar = F.expr(
        "json_object_keys(_val) IS NULL AND json_array_length(_val) IS NULL"
    )
    return kv.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(
            F.when(F.col("_val").rlike("^-?[0-9]+$"), 1).otherwise(0)
        ).cast("bigint").alias("n_int"),
        F.sum(F.when(is_obj, 1).otherwise(0)).cast("bigint").alias("n_obj"),
        F.min(F.when(is_scalar, F.col("_val"))).alias("val_min"),
        F.max(F.when(is_scalar, F.col("_val"))).alias("val_max"),
    )


def json_profile_sql(
    table: str = "events",
    json_col: str = "props",
    max_depth: int = JSON_PROFILE_DEPTH,
    extra_cte: str = "",
) -> str:
    """DuckDB twin of :func:`json_profile` (standalone SELECT),
    explicit unioned levels mirroring the Spark loop. SUM cast OUTSIDE
    (HUGEINT rule); ``regexp_matches`` mirrors ``rlike`` on the shared
    RE2/Java subset; the object/array probes are the CASE-guarded
    ``json_type(json(v))`` (DuckDB json_type ERRORS on invalid input
    and AND does not short-circuit in a vectorized engine — only CASE
    guarantees the guard evaluates first, probed)."""
    obj = "CASE WHEN json_valid(_val) THEN json_type(json(_val)) END = 'OBJECT'"
    scalar = ("COALESCE(CASE WHEN json_valid(_val) THEN json_type(json(_val)) END"
              " NOT IN ('OBJECT', 'ARRAY'), TRUE)")
    ctes = [f"""jp0 AS (
      SELECT key AS path, json_extract_string(_p, '$.' || key) AS _val
      FROM (
        SELECT unnest(json_keys({json_col})) AS key, {json_col} AS _p
        FROM {table}))"""]
    for d in range(1, max_depth):
        ctes.append(f"""jp{d} AS (
      SELECT path || '.' || key AS path,
             json_extract_string(_p, '$.' || key) AS _val
      FROM (
        SELECT path, unnest(json_keys(json(_val))) AS key, _val AS _p
        FROM jp{d - 1}
        WHERE {obj}))""")
    union = " UNION ALL ".join(f"SELECT * FROM jp{d}" for d in range(max_depth))
    return f"""
    WITH {extra_cte}{', '.join(ctes)},
    jp_kv AS ({union})
    SELECT path,
           COUNT(*) AS n_present,
           CAST(SUM(CASE WHEN regexp_matches(_val, '^-?[0-9]+$')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_int,
           CAST(SUM(CASE WHEN {obj} THEN 1 ELSE 0 END) AS BIGINT) AS n_obj,
           MIN(CASE WHEN {scalar} THEN _val END) AS val_min,
           MAX(CASE WHEN {scalar} THEN _val END) AS val_max
    FROM jp_kv
    GROUP BY path"""


# ---------------------------------------------------------------------------
# trending tokens (windowed heavy hitters)
# ---------------------------------------------------------------------------

TRENDING_K = 5


def trending_tokens(
    df: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    k: int = TRENDING_K,
) -> DataFrame:
    """TRENDING TERMS: top-``k`` tokens per hour by occurrence count —
    the windowed heavy-hitters report behind "what changed this hour"
    dashboards and drift monitors (``txt_topk_tokens`` ranks the whole
    corpus once; this ranks every window).

    Deterministic (count DESC, token ASC tiebreak) and exact — never a
    sketch where the gate demands hash-exactness.

    100 TB shape: tokenize narrow → explode → ONE map-side-combined
    groupBy(window, token) (the only corpus-sized shuffle) → the salted
    two-phase :func:`~vaero_spark.operators.transforms.group_topk` on
    the per-window counts — a hot window (billions of distinct tokens)
    never funnels through one task the way a row_number window would;
    the audit REJECTS a Window in the plan.
    """
    from vaero_spark.functions.text import tokens
    from vaero_spark.operators.transforms import group_topk

    counts = (
        df.select(
            F.window(F.col(ts_col), "1 hour").start.alias("win_start"),
            F.explode(tokens(F.col(text_col))).alias("token"),
        )
        .groupBy("win_start", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return group_topk(counts, "win_start", "n", "token", k=k)


def trending_tokens_sql(table_expr: str, k: int = TRENDING_K) -> str:
    """DuckDB twin of :func:`trending_tokens` (window form — the salted
    plan is provably row-identical; the twin IS the equivalence check)."""
    from vaero_spark.functions.text import tokens_sql

    return f"""
    tk AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
             unnest({tokens_sql('text')}) AS token
      FROM {table_expr}),
    ct AS (SELECT win_start, token, COUNT(*) AS n FROM tk GROUP BY 1, 2)
    SELECT win_start, CAST(rank AS INTEGER) AS rank, token, n
    FROM (
      SELECT win_start, token, n,
             ROW_NUMBER() OVER (PARTITION BY win_start
                                ORDER BY n DESC, token) AS rank
      FROM ct)
    WHERE rank <= {k}"""


# ---------------------------------------------------------------------------
# key-skew profile (the pre-join hot-key audit)
# ---------------------------------------------------------------------------

SKEW_TOPK = 10

# Guarded integer share: try_multiply => NULL on BIGINT overflow =>
# actionable error (the cooccur_lift idiom) — in-bound the try product
# IS the numerator, zero extra cost.
_SHARE_BP = (
    "CASE WHEN try_multiply(10000L, n) IS NULL"
    "     THEN CAST(raise_error('key_skew_profile: 10000*n overflows"
    " BIGINT; switch share_bp to DECIMAL(38,0)/floor(a/b)') AS BIGINT)"
    "     ELSE try_multiply(10000L, n) div n_total END"
)


def key_skew_profile(
    df: DataFrame, key_col: str = "conv_id", k: int = SKEW_TOPK
) -> DataFrame:
    """KEY-SKEW AUDIT: the hottest ``k`` keys of a prospective
    join/groupBy key with their row share in basis points, next to the
    key-space totals — the report that decides BEFORE a 100 TB join
    whether this key needs salting (``agg_salted``), AQE skew handling,
    or a broadcast rewrite. A key at thousands of bp (vs mean
    ``10000/n_keys``) is the hot conversation the north-star rule calls
    out.

    100 TB shape: ONE map-side-combined groupBy(key) (the only
    corpus-sized shuffle); the global top-k runs the salted two-phase
    :func:`~vaero_spark.operators.transforms.group_topk` over a literal
    group (bounded partial state, audit REJECTS a Window); the 1-row
    totals ride a broadcast cross join (no driver-side collect). Pure
    BIGINT math, overflow-guarded.
    """
    from vaero_spark.operators.transforms import group_topk

    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = counts.agg(
        F.sum("n").alias("n_total"), F.count(F.lit(1)).alias("n_keys")
    )
    top = group_topk(counts.withColumn("_g", F.lit(0)), "_g", "n", "key", k=k)
    return (
        top.crossJoin(F.broadcast(stats))
        .select(
            "rank",
            "key",
            "n",
            F.expr(_SHARE_BP).alias("share_bp"),
            "n_keys",
            "n_total",
        )
    )


def key_skew_profile_sql(
    table_expr: str, key_col: str = "conv_id", k: int = SKEW_TOPK
) -> str:
    """DuckDB twin of :func:`key_skew_profile` (window form)."""
    return f"""
    kc AS (SELECT {key_col} AS key, COUNT(*) AS n FROM {table_expr} GROUP BY 1),
    ks AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total,
                  COUNT(*) AS n_keys FROM kc),
    top AS (
      SELECT key, n, ROW_NUMBER() OVER (ORDER BY n DESC, key) AS rank
      FROM kc)
    SELECT CAST(rank AS INTEGER) AS rank, key, n,
           (10000 * n) // n_total AS share_bp, n_keys, n_total
    FROM top CROSS JOIN ks WHERE rank <= {k}"""


# ---------------------------------------------------------------------------
# dialogue-structure profile (per-conversation role dynamics)
# ---------------------------------------------------------------------------


def conv_turn_stats(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
) -> DataFrame:
    """DIALOGUE-STRUCTURE profile: per-conversation role dynamics — turn
    mix, same-role RUN lengths (an assistant monologuing 30 turns, a
    tool-call loop), and the role-alternation rate in basis points —
    the transcript-native structural-quality signal next to
    ``conv_quality``'s text-quality one (agent loops and degenerate
    monologues have healthy per-turn text but pathological structure).

    ``alternation_bp = 10000·(n_runs−1) div max(n_turns−1, 1)`` — 10000
    means every turn switched speaker, 0 a single uninterrupted run.
    Pure BIGINT math.

    100 TB shape: ONE shuffle on conv (the lag + cumulative-run windows
    share the same conv partitioning — gaps-and-islands, never a
    whole-table window), then a (conv, run) agg feeding a conv agg,
    both map-side combined on the partitioning already in place.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(conv_col).orderBy(order_col)
    chg = (
        F.col(role_col) != F.lag(role_col).over(w)
    ).cast("int")
    runs = df.select(
        F.col(conv_col).alias("conv_id"),
        F.col(role_col).alias("role"),
        F.sum(F.coalesce(chg, F.lit(0))).over(w).alias("_run_id"),
    )
    per_run = runs.groupBy("conv_id", "_run_id").agg(
        F.count(F.lit(1)).alias("_run_len"),
        F.sum((F.col("role") == "user").cast("long")).alias("_u"),
        F.sum((F.col("role") == "assistant").cast("long")).alias("_a"),
        F.sum((F.col("role") == "tool").cast("long")).alias("_t"),
    )
    return (
        per_run.groupBy("conv_id")
        .agg(
            F.sum("_run_len").alias("n_turns"),
            F.sum("_u").alias("n_user"),
            F.sum("_a").alias("n_assistant"),
            F.sum("_t").alias("n_tool"),
            F.count(F.lit(1)).alias("n_runs"),
            F.max("_run_len").alias("max_run"),
        )
        .withColumn(  # pure BIGINT div — never float division
            "alternation_bp",
            F.expr("(10000 * (n_runs - 1)) div greatest(n_turns - 1, 1)"),
        )
    )


def conv_turn_stats_sql(table_expr: str) -> str:
    """DuckDB twin of :func:`conv_turn_stats` (same gaps-and-islands)."""
    return f"""
    ch AS (
      SELECT conv_id, role, turn_idx,
             CASE WHEN role <> LAG(role) OVER (PARTITION BY conv_id
                                               ORDER BY turn_idx)
                  THEN 1 ELSE 0 END AS _chg
      FROM {table_expr}),
    rr AS (
      SELECT conv_id, role,
             SUM(_chg) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS _run_id
      FROM ch),
    pr AS (
      SELECT conv_id, _run_id,
             COUNT(*) AS _run_len,
             CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS _u,
             CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS _a,
             CAST(SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS _t
      FROM rr GROUP BY 1, 2)
    SELECT conv_id,
           CAST(SUM(_run_len) AS BIGINT) AS n_turns,
           CAST(SUM(_u) AS BIGINT) AS n_user,
           CAST(SUM(_a) AS BIGINT) AS n_assistant,
           CAST(SUM(_t) AS BIGINT) AS n_tool,
           COUNT(*) AS n_runs,
           CAST(MAX(_run_len) AS BIGINT) AS max_run,
           (10000 * (COUNT(*) - 1))
             // GREATEST(CAST(SUM(_run_len) AS BIGINT) - 1, 1) AS alternation_bp
    FROM pr GROUP BY conv_id"""


def stream_windowed_token_counts(
    stream: DataFrame,
    duration: str = "1 hour",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    text_col: str = "text",
) -> DataFrame:
    """STREAMING windowed token counts — the live feeder of
    :func:`trending_tokens`: watermark → tokenize/explode (narrow,
    JVM-side) → groupBy(window, token) count in APPEND mode, so each
    (window, token) pair is emitted exactly ONCE, finalized, when the
    watermark passes its window's end. State is one count per OPEN
    (window, token), evicted at the watermark horizon — the 10^12-turn
    shape (an update-mode emitter would re-send every hot token every
    batch; append sends each exactly once). A consumer ranks the
    emitted counts per closed window (the gate runs
    :func:`~vaero_spark.operators.transforms.group_topk` over the
    drain and must equal batch ``trending_tokens`` exactly).

    Append-mode drain contract (the ``stream_w_distinct`` convention):
    feed a bounded replay as ONE batch (the watermark only advances
    between batches, so nothing is late) and append one sentinel event
    past ``max_ts + watermark + 2·duration`` to flush every real
    window; the sentinel's own window stays held, unemitted (zero-token
    sentinel text works — the watermark advances at the watermark node,
    before tokenization drops the row).
    """
    from vaero_spark.functions.text import tokens

    tok = stream.withWatermark(ts_col, watermark).select(
        F.window(F.col(ts_col), duration).alias("win"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    return (
        tok.groupBy("win", "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "token", "n")
    )


# ---------------------------------------------------------------------------
# CUSUM drift detection (Page 1954) — sustained rate-shift alarms
# ---------------------------------------------------------------------------


def cusum_drift(
    df: DataFrame,
    key_col: str = "tool",
    ts_col: str = "ts",
    slack: int = 1,
    threshold: int = 8,
) -> DataFrame:
    """Two-sided CUSUM drift detection (Page 1954) over per-key hourly
    event counts — the SUSTAINED-shift complement of :func:`rate_spikes`
    (a spike is one loud bucket; drift is many quiet ones: a tool whose
    call rate creeps 20% up never trips a 2x spike rule but accumulates
    in a CUSUM within hours). The classic recurrences

        S+_t = max(0, S+_{t-1} + (x_t - ref - slack))
        S-_t = max(0, S-_{t-1} + (ref - x_t - slack))

    are NOT window functions, but the textbook identity
    ``S_t = C_t - min(0, min_{i<=t} C_i)`` (C = plain cumsum of the
    deviations) turns each into two ordinary cumulative windows —
    integer-exact in any engine, no recursion, no iteration.

    The hour grid is DENSIFIED per key (every hour between the key's
    first and last event, zero-filled): silent hours are evidence of a
    rate DROP, which a sparse event-hour series would never see. The
    reference level ``ref`` is the key's own floor-mean hourly count
    over that grid; ``slack`` is the classic allowance k (drift must
    exceed it to accumulate) and ``threshold`` the alarm level h.

    Output: (key, hour_idx, n_events, ref, s_up, s_down, up_alarm,
    down_alarm) for every key x grid hour. 100 TB shape: ONE corpus-
    sized shuffle (the hourly groupBy, map-side combined); everything
    after runs on key x hour rows — bounded by time range x key
    cardinality, never data volume; the explode fan-out is the grid
    width; windows PARTITION by key.
    """
    if slack < 0 or threshold < 0:
        raise ValueError("slack and threshold must be >= 0")
    hour = F.expr(
        f"timestampdiff(HOUR, timestamp'1970-01-01 00:00:00', {ts_col})"
    ).cast("long")
    counts = df.groupBy(F.col(key_col).alias("key"), hour.alias("hour_idx")).agg(
        F.count(F.lit(1)).alias("n")
    )
    grid = (
        counts.groupBy("key")
        .agg(
            F.min("hour_idx").alias("h0"),
            F.max("hour_idx").alias("h1"),
            F.sum("n").cast("long").alias("total"),
        )
        .select(
            "key",
            F.expr("total DIV (h1 - h0 + 1)").alias("ref"),
            F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("hour_idx"),
        )
    )
    dense = grid.join(counts, ["key", "hour_idx"], "left").select(
        "key", "hour_idx", "ref", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events")
    )
    w = Window.partitionBy("key").orderBy("hour_idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = dense.withColumn(
        "_c_up", F.sum(F.col("n_events") - F.col("ref") - F.lit(slack)).over(w)
    ).withColumn(
        "_c_dn", F.sum(F.col("ref") - F.col("n_events") - F.lit(slack)).over(w)
    )
    s = c.withColumn(
        "s_up", (F.col("_c_up") - F.least(F.lit(0), F.min("_c_up").over(w))).cast("long")
    ).withColumn(
        "s_down", (F.col("_c_dn") - F.least(F.lit(0), F.min("_c_dn").over(w))).cast("long")
    )
    return s.select(
        "key",
        "hour_idx",
        "n_events",
        "ref",
        "s_up",
        "s_down",
        F.when(F.col("s_up") > threshold, 1).otherwise(0).cast("long").alias("up_alarm"),
        F.when(F.col("s_down") > threshold, 1).otherwise(0).cast("long").alias("down_alarm"),
    )


def cusum_drift_sql(
    table_expr: str,
    key_col: str = "tool",
    ts_col: str = "ts",
    slack: int = 1,
    threshold: int = 8,
) -> str:
    """DuckDB twin of :func:`cusum_drift` (caller supplies ``WITH``).
    Window SUM/MIN casts OUTSIDE (HUGEINT rule)."""
    return f"""
    cd_counts AS (
      SELECT {key_col} AS key,
             CAST(datediff('hour', TIMESTAMP '1970-01-01 00:00:00',
                           CAST({ts_col} AS TIMESTAMP)) AS BIGINT) AS hour_idx,
             COUNT(*) AS n
      FROM {table_expr} GROUP BY 1, 2),
    cd_grid AS (
      SELECT key,
             CAST(SUM(n) AS BIGINT) // (MAX(hour_idx) - MIN(hour_idx) + 1)
               AS ref,
             unnest(generate_series(MIN(hour_idx), MAX(hour_idx))) AS hour_idx
      FROM cd_counts GROUP BY key),
    cd_dense AS (
      SELECT g.key, g.hour_idx, g.ref,
             CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
      FROM cd_grid g LEFT JOIN cd_counts c
        ON g.key = c.key AND g.hour_idx = c.hour_idx),
    cd_c AS (
      SELECT *,
             CAST(SUM(n_events - ref - {slack}) OVER w AS BIGINT) AS _c_up,
             CAST(SUM(ref - n_events - {slack}) OVER w AS BIGINT) AS _c_dn
      FROM cd_dense
      WINDOW w AS (PARTITION BY key ORDER BY hour_idx
                   ROWS UNBOUNDED PRECEDING)),
    cd_s AS (
      SELECT key, hour_idx, n_events, ref,
             _c_up - least(CAST(0 AS BIGINT),
                           CAST(MIN(_c_up) OVER w AS BIGINT)) AS s_up,
             _c_dn - least(CAST(0 AS BIGINT),
                           CAST(MIN(_c_dn) OVER w AS BIGINT)) AS s_down
      FROM cd_c
      WINDOW w AS (PARTITION BY key ORDER BY hour_idx
                   ROWS UNBOUNDED PRECEDING))
    SELECT key, hour_idx, n_events, ref, s_up, s_down,
           CAST(CASE WHEN s_up > {threshold} THEN 1 ELSE 0 END AS BIGINT)
             AS up_alarm,
           CAST(CASE WHEN s_down > {threshold} THEN 1 ELSE 0 END AS BIGINT)
             AS down_alarm
    FROM cd_s"""


# ---------------------------------------------------------------------------
# cube aggregation — all margin combinations in one pass
# ---------------------------------------------------------------------------


def corpus_cube(
    df: DataFrame, dims: tuple[str, str] = ("lang", "source"), size_col: str = "n_chars"
) -> DataFrame:
    """CUBE aggregation over two dimensions: every grouping combination
    — (a,b), (a), (b), and the grand total — from ONE pass (Spark plans
    a single scan feeding an Expand), the corpus-composition report a
    curation dashboard renders as a cross-tab with margins. The
    ``grouping_id`` bitmask (1 bit per dim, first dim = MSB) separates
    a margin row from a genuinely-null dimension value — without it the
    two are indistinguishable, the classic CUBE footgun.

    Output: (dim_a, dim_b, gid, n_docs, total_size); margin rows carry
    null dims and a nonzero gid.
    """
    a, b = dims
    return (
        df.cube(a, b)
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(size_col).cast("long").alias("total_size"),
        )
        .select(a, b, "gid", "n_docs", "total_size")
    )


def corpus_cube_sql(
    table: str, dims: tuple[str, str] = ("lang", "source"), size_col: str = "n_chars"
) -> str:
    """DuckDB twin of :func:`corpus_cube` (standalone SELECT): DuckDB's
    ``GROUPING(a, b)`` emits the same first-dim-MSB bitmask as Spark's
    ``grouping_id``. SUM cast OUTSIDE (HUGEINT rule)."""
    a, b = dims
    return f"""
    SELECT {a}, {b},
           CAST(GROUPING({a}, {b}) AS BIGINT) AS gid,
           COUNT(*) AS n_docs,
           CAST(SUM({size_col}) AS BIGINT) AS total_size
    FROM {table}
    GROUP BY CUBE ({a}, {b})"""
