"""Per-key custom state — ``applyInPandasWithState`` operators.

The reference's only stateful construct is the sink-side per-prefix
buffer: byte-cap flush (``execute/sinkNode.go:105-125``) and time-cap
flush via a timer goroutine (``sinkNode.go:242-254``). The byte cap
lives in the sink's ``file_seq`` packing (``sinks/writers.py``); this
module holds the keyed state that a job needs beyond what Spark's
native stateful operators give: open-session tracking (the event-time
time cap), routing counters and the CDC upsert view, plus the idle
eviction helpers the CEP, funnel and lexicon operators share, and the
packed form every list-valued state field is stored in. State lives in
Spark's state store (the default HDFS-backed provider unless a session
sets ``spark.sql.streaming.stateStore.providerClass``), checkpointed
and exactly-once — the reference loses its buffers on crash.

All logic is Arrow-batched pandas (no per-row Python in the JVM loop);
state per key is O(1) scalars or a bounded list.
"""

from __future__ import annotations

import struct
from typing import Any, Iterable, Iterator, Optional, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# packed int64 lists — the stored form of every list-valued state field
# ---------------------------------------------------------------------------

# A state field that holds a list of int64 is stored as ``binary``, never
# ``array<bigint>``: Spark's Row encoder turns an array field into
# ``MapObjects`` code whose lambda variables carry a JVM-global counter,
# so the generated state serializer and deserializer never hit
# ``CodeGenerator``'s cache and Janino compiles both again in every
# micro-batch (8-95 ms each on a 4-vCPU host, serialized on the
# compiler's lock). A ``binary`` field generates the same code every
# time.
LONGS = T.BinaryType()

#: stands for a ``None`` element (a null event time); never valid data
NULL_LONG = -(2**63)


def pack_longs(values: Optional[Iterable[Optional[int]]]) -> Optional[bytes]:
    """``values`` as little-endian int64, ``None`` elements as
    :data:`NULL_LONG`; a ``None`` list stays ``None``."""
    if values is None:
        return None
    vals = list(values)
    if NULL_LONG in vals:
        raise ValueError(f"{NULL_LONG} is the null-element sentinel, not data")
    return struct.pack(
        f"<{len(vals)}q", *(NULL_LONG if v is None else v for v in vals)
    )


def unpack_longs(blob: Optional[bytes]) -> Optional[list]:
    """The list :func:`pack_longs` packed into ``blob``."""
    if blob is None:
        return None
    vals = struct.unpack(f"<{len(blob) // 8}q", blob)
    if NULL_LONG in vals:
        return [None if v == NULL_LONG else v for v in vals]
    return list(vals)


# ---------------------------------------------------------------------------
# open-session tracking (time-cap flush parity, event-time based)
# ---------------------------------------------------------------------------

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_turns", T.LongType()),
        T.StructField("closed", T.BooleanType()),
    ]
)

SESSION_STATE_SCHEMA = T.StructType([T.StructField("ts_us", LONGS)])


def _session_tracker(gap_seconds: int):
    """Keyed session assembly with EXACT batch-sessionization semantics:
    buffer the conversation's event times, split on gaps ≥ ``gap``, and
    emit a session as ``closed`` only once the watermark passes its
    ``end + gap`` — any row that could still bridge it would be late by
    then. State per key = event times within the un-matured horizon
    only (matured segments are emitted and dropped each update), so
    memory is bounded by the watermark window, not conversation life.
    This makes the streamed result equal ``F.session_window`` /
    the SQL sessionization bit-for-bit (oracle-checked in the gate as
    ``stream_open_sessions``)."""
    gap_us = gap_seconds * 1_000_000

    def segments(sorted_us: list) -> list:
        segs, cur = [], [sorted_us[0]]
        for t in sorted_us[1:]:
            if t - cur[-1] >= gap_us:
                segs.append(cur)
                cur = [t]
            else:
                cur.append(t)
        segs.append(cur)
        return segs

    def mk(conv_id, seg, closed) -> dict:
        return {
            "conv_id": conv_id,
            "session_start": pd.Timestamp(seg[0], unit="us"),
            "session_end": pd.Timestamp(seg[-1] + gap_us, unit="us"),
            "n_turns": len(seg),
            "closed": closed,
        }

    def fn(
        key: Tuple[Any, ...],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        buf = unpack_longs(state.get[0]) if state.exists else []
        if state.hasTimedOut:
            state.remove()
            if buf:
                yield pd.DataFrame([mk(conv_id, s, True) for s in segments(sorted(buf))])
            return

        for pdf in pdf_iter:
            ts = pdf["ts"].dropna()  # NaT → -2^63 under the int64 view
            us = ts.astype("int64")  # datetime64[us/ns] → int64
            if ts.dtype == "datetime64[ns]":
                us = us // 1000
            buf.extend(int(x) for x in us)
        if not buf:  # only null-ts rows ever seen: nothing to sessionize
            if state.exists:
                state.remove()
            return
        buf.sort()
        wm_us = state.getCurrentWatermarkMs() * 1000
        out, keep = [], []
        for seg in segments(buf):
            if seg[-1] + gap_us <= wm_us:
                out.append(mk(conv_id, seg, True))  # matured: final, emit now
            else:
                keep.extend(seg)
        if keep:
            state.update((pack_longs(keep),))
            # ceil of (end + gap) in ms: floor-truncating the µs event
            # time would let the timeout fire up to ~1 ms BEFORE the
            # watermark truly passes end+gap, splitting a session that a
            # sub-ms bridging event would have merged (the non-timeout
            # path compares at exact µs — both paths must agree).
            timeout_ms = max(
                -(-(keep[-1] + gap_us) // 1000),
                state.getCurrentWatermarkMs() + 1,
            )
            state.setTimeoutTimestamp(timeout_ms)
            out.append(mk(conv_id, segments(keep)[-1], False))  # trailing open
        else:
            state.remove()
        if out:
            yield pd.DataFrame(out)

    return fn


def track_open_sessions(
    stream: DataFrame, gap_seconds: int = 1800, watermark: str = "10 minutes"
) -> DataFrame:
    """Emit a per-conversation session row on every update and a final
    ``closed=True`` row when the watermark passes ``last_ts + gap`` —
    the event-time version of the reference's time-cap flush timer
    (``sinkNode.go:242-254``: flush fires ``batch_max_time`` after buffer
    creation unless flushed meanwhile).

    Only ``(conv_id, ts)`` crosses the Python boundary — the tracker
    reads nothing else, and shipping the payload columns per group would
    multiply the Arrow transfer ~10x for nothing (guide §4.1)."""
    return (
        stream.select("conv_id", "ts")
        .withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _session_tracker(gap_seconds),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# idle eviction (shared with the CEP, funnel and lexicon operators)
# ---------------------------------------------------------------------------

# Event-time idle horizon after which a routing-counter key's state is
# evicted. Without eviction, one state row per conversation lives
# FOREVER — on a months-long run over 10^9 conversations the state store
# grows without bound. A conversation resuming after the horizon
# restarts at zero — partial counts merge downstream by summing per
# conv_id (the update-mode consumer sums/replaces per key anyway).
DEFAULT_IDLE_TIMEOUT_S = 24 * 3600


def _pdf_max_us(pdf: pd.DataFrame, cur: int) -> int:
    """max(cur, max event time in µs over NON-NULL ts rows). NaT must be
    excluded BEFORE the int64 view: it converts to the -2^63 sentinel,
    and an all-null-ts conversation would otherwise keep last_us=0 and
    arm an already-expired timeout that evicts its state on the next
    batch (resetting counters / reassembly buffers)."""
    ts = pdf["ts"].dropna()
    if ts.empty:
        return cur
    us = ts.astype("int64")
    if ts.dtype == "datetime64[ns]":
        us = us // 1000
    return max(cur, int(us.max()))


def _arm_idle_timeout(state: GroupState, last_us: int, idle_s: int) -> None:
    """Evict the key once the watermark passes last-event + idle (ceil
    to ms; must stay strictly above the current watermark).

    A key that has never seen a non-null event time (``last_us == 0``)
    is NOT armed: max(1970+idle, wm+1) degenerates to wm+1 — an
    immediately-expiring timeout that would evict the key's state on
    the very next batch. Such a key keeps NoTimeout behavior until a
    real timestamp arrives."""
    if last_us == 0:
        return
    state.setTimeoutTimestamp(
        max(
            -(-(last_us + idle_s * 1_000_000) // 1000),
            state.getCurrentWatermarkMs() + 1,
        )
    )


# ---------------------------------------------------------------------------
# routing counters (per-conversation route statistics)
# ---------------------------------------------------------------------------

COUNTER_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_total", T.LongType()),
        T.StructField("n_user", T.LongType()),
        T.StructField("n_tool", T.LongType()),
        T.StructField("n_error", T.LongType()),
    ]
)

COUNTER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_total", T.LongType()),
        T.StructField("n_user", T.LongType()),
        T.StructField("n_tool", T.LongType()),
        T.StructField("n_error", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)


def _counter_fn(idle_timeout_seconds: int):
    def fn(
        key: Tuple[Any, ...], pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.hasTimedOut:
            # idle past the horizon: evict. The final totals were already
            # emitted on the last real update (update mode), so nothing
            # is emitted here; a resuming conversation restarts at zero
            # and partials merge downstream (DEFAULT_IDLE_TIMEOUT_S note).
            state.remove()
            return
        total, n_user, n_tool, n_error, last_us = (
            state.get if state.exists else (0, 0, 0, 0, 0)
        )
        for pdf in pdf_iter:
            total += len(pdf)
            n_user += int((pdf["role"] == "user").sum())
            n_tool += int((pdf["role"] == "tool").sum())
            # text never crosses the boundary — the error probe is the
            # JVM-evaluated `_is_error` flag (guide §4.1 column pruning)
            n_error += int(pdf["_is_error"].sum())
            if len(pdf):
                last_us = _pdf_max_us(pdf, last_us)
        state.update((total, n_user, n_tool, n_error, last_us))
        _arm_idle_timeout(state, last_us, idle_timeout_seconds)
        yield pd.DataFrame(
            {
                "conv_id": [conv_id],
                "n_total": [total],
                "n_user": [n_user],
                "n_tool": [n_tool],
                "n_error": [n_error],
            }
        )

    return fn


def routing_counters(
    stream: DataFrame,
    watermark: str = "10 minutes",
    idle_timeout_seconds: int = DEFAULT_IDLE_TIMEOUT_S,
) -> DataFrame:
    """Running per-conversation routing statistics (north-star 'routing
    counters' state). Per-key state is evicted after
    ``idle_timeout_seconds`` of event-time idleness — the store holds
    only conversations active within the horizon, not every conversation
    ever seen.

    Python-boundary shape (guide §4.1): only the columns the state
    function reads cross into the worker — the error probe on ``text``
    is evaluated JVM-side into a boolean flag, so the payload column
    never ships (``F.sum`` of the flag equals pandas
    ``str.contains('error').sum()``: null text counts 0 in both)."""
    narrow = stream.select(
        "conv_id",
        "role",
        F.coalesce(F.col("text").contains("error"), F.lit(False)).alias("_is_error"),
        "ts",
    )
    return (
        narrow.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _counter_fn(idle_timeout_seconds),
            outputStructType=COUNTER_OUTPUT_SCHEMA,
            stateStructType=COUNTER_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# CDC upsert materialization (last-writer-wins entity view)
# ---------------------------------------------------------------------------

UPSERT_OUTPUT_DDL = "doc_id bigint, cur_seq bigint, deleted int, text_md5 string"
UPSERT_STATE_DDL = "best_seq bigint, deleted int, text_md5 string"


def stream_upsert(
    stream: DataFrame,
    id_col: str = "doc_id",
    seq_col: str = "seq",
    op_col: str = "op",
    text_col: str = "text",
) -> DataFrame:
    """CDC UPSERT MATERIALIZATION: fold a stream of change events
    (id, seq, op ∈ {upsert, delete}, text) into the current entity view
    with LAST-WRITER-WINS semantics on the sequence number — the
    Flink-style changelog→table step a recurring crawl's consumers run
    (:func:`vaero_spark.operators.dedup.apply_changeset` is the batch
    sibling over a published diff; this materializes the LIVE feed).

    Out-of-order and duplicate safe BY CONSTRUCTION: the winner is
    ``argmax(seq)``, which no delivery order or at-least-once replay can
    change, so the drained result equals the batch argmax — an exact SQL
    oracle for a stateful streaming op. Tombstones stay in the view
    (``deleted`` = 1, ``text_md5`` = '') so downstream mirrors can
    propagate removals.

    100 TB shape: state is ONE scalar tuple (seq, flag, 32-char md5) per
    ENTITY — the materialized view itself, bounded by the entity count,
    never the event count. The md5 is computed JVM-side BEFORE the
    stateful stage, so Arrow ships only (long, long, int, hash) per
    event and Python compares integers.
    Update mode: every change re-emits the entity's current row, so
    last-emission-wins gives consumers the view without a terminal scan.
    """
    from pyspark.sql import functions as F

    pre = stream.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(seq_col).cast("long").alias("_seq"),
        (F.col(op_col) == F.lit("delete")).cast("int").alias("_del"),
        F.coalesce(F.md5(F.col(text_col)), F.lit("")).alias("_md5"),
    )

    def fn(key, pdfs, state):
        best, deleted, md5h = state.get if state.exists else (-1, 0, "")
        for pdf in pdfs:
            for s, d, m in zip(pdf["_seq"], pdf["_del"], pdf["_md5"]):
                if int(s) > best:
                    best, deleted = int(s), int(d)
                    md5h = "" if deleted else str(m)
        state.update((best, deleted, md5h))
        out = pd.DataFrame(
            [(key[0], best, deleted, md5h)],
            columns=["doc_id", "cur_seq", "deleted", "text_md5"],
        )
        yield out.astype(
            {"doc_id": "int64", "cur_seq": "int64", "deleted": "int32"}
        )

    return pre.groupBy("doc_id").applyInPandasWithState(
        fn,
        outputStructType=UPSERT_OUTPUT_DDL,
        stateStructType=UPSERT_STATE_DDL,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
