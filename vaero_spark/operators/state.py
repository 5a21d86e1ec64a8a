"""Per-key custom state: the one ``applyInPandasWithState`` core and the
keyed-state operators built on it.

The reference's only stateful construct is the sink-side per-prefix
buffer: byte-cap flush (``execute/sinkNode.go:105-125``) and time-cap
flush via a timer goroutine (``sinkNode.go:242-254``). The byte cap
lives in the sink's ``file_seq`` packing (``sinks/writers.py``); this
module holds the keyed state that a job needs beyond what Spark's
native stateful operators give. State lives in Spark's state store
(RocksDB, which ``session.get_spark`` chooses for every session),
checkpointed and exactly-once — the reference loses its buffers on
crash.

Every keyed-state operator but the streaming CEP ones is a
:class:`KeyedStep` run by :func:`keyed_state`, the package's only
``applyInPandasWithState`` call and only Python ``GroupState`` user: it
owns timeouts, state load and store (packing every :data:`LONGS` field),
the one event-time conversion (:func:`event_us`), the one arming rule
and the output frame. Steps here: open sessions (the event-time time
cap), routing counters and the CDC upsert view; funnel, rate spikes and
lexicon are steps of the same core in their own modules. The five
streaming CEP operators (``cep.stream_cep_*``) run in the JVM instead,
in one ``flatMapGroupsWithState`` core (``vaero.state.Reassembly`` in
``jvm/vaero.jar``) that keeps this core's rules: timeout removal, the
trailing ``last_us``, the arming rule and ``LONGS`` packed as
:func:`pack_longs` packs them.

All logic is Arrow-batched pandas (no per-row Python in the JVM loop);
state per key is O(1) scalars or a bounded list.
"""

from __future__ import annotations

import struct
from typing import Any, Iterable, Iterator, Optional, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, GroupedData
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
# the keyed-state core
# ---------------------------------------------------------------------------


_US_PER_UNIT = {"us": 1, "ms": 1_000, "s": 1_000_000}


def event_us(ts: pd.Series) -> pd.Series:
    """Integer µs of the non-null values of the datetime64 series ``ts``
    (index kept). NaT is dropped BEFORE the int64 view, which would turn
    it into the -2^63 sentinel. The scale dispatches on the series'
    actual unit: a ``// 1000 if ns`` rule silently mis-scales a
    datetime64[ms]/[s] series 1000x instead of erroring."""
    unit, _ = np.datetime_data(ts.dtype)  # raises on non-datetime dtypes
    v = ts.dropna().astype("int64")
    if unit == "ns":
        return v // 1_000
    if unit not in _US_PER_UNIT:
        raise TypeError(f"unsupported datetime64 unit {unit!r}")
    return v * _US_PER_UNIT[unit]


def _arm_timeout(state: GroupState, last_us: int, horizon_s: int) -> None:
    """Expire the key once the watermark passes ``last_us`` + horizon.

    The deadline is the ceil to ms: floor-truncating the µs event time
    would let the timeout fire up to ~1 ms BEFORE the watermark truly
    passes it (for open sessions: splitting a session that a sub-ms
    bridging event would have merged, where the non-timeout path
    compares at exact µs). It must stay strictly above the current
    watermark.

    A key that has never seen a non-null event time (``last_us == 0``)
    is NOT armed: max(1970+horizon, wm+1) degenerates to wm+1 — an
    immediately-expiring timeout that would evict the key's state on
    the very next batch. Such a key keeps NoTimeout behavior until a
    real timestamp arrives."""
    if last_us == 0:
        return
    state.setTimeoutTimestamp(
        max(
            -(-(last_us + horizon_s * 1_000_000) // 1000),
            state.getCurrentWatermarkMs() + 1,
        )
    )


class KeyedStep:
    """What an operator supplies to :func:`keyed_state`.

    ``output`` is the output schema and ``mode`` the output mode.
    ``fields`` are the stored fields and ``init`` a new key's value, one
    element per field (a stored null reads as its ``init`` element). A
    ``LONGS`` field holds a list in every value the step sees; the core
    packs and unpacks it. Per call, the core folds each non-empty pandas
    batch into ``work = start(acc)`` with ``fold(work, pdf, us)``, where
    ``us`` is :func:`event_us` of the batch's ``ts`` when the step has a
    horizon, then takes ``(acc, rows) = emit(key, work, watermark_ms)``:
    the value to store (``None`` removes the key's state) and the rows
    to emit, tuples in ``output`` order. ``watermark_ms()`` is the
    current watermark, for operators that set one.

    ``horizon_s`` is the timeout policy: ``None``, the key never times
    out; otherwise it expires once the watermark passes its last event
    time plus ``horizon_s`` seconds, and :meth:`expire` gives the rows
    that go out then. The last event time is the latest non-null ``ts``
    the core has folded, stored as a trailing ``last_us`` field, unless
    the step defines ``last_us(acc)`` to read it from its own state."""

    mode = "update"
    horizon_s: Optional[int] = None
    last_us = None

    def start(self, acc):
        return acc

    def expire(self, key: Tuple[Any, ...], acc) -> list:
        return []


def state_layout(step: KeyedStep) -> T.StructType:
    """The stored layout of ``step``'s state: its fields, then the
    core's ``last_us`` when the core keeps the key's event time."""
    fields = list(step.fields)
    if step.horizon_s is not None and step.last_us is None:
        fields.append(T.StructField("last_us", T.LongType()))
    return T.StructType(fields)


def _state_fn(step: KeyedStep):
    """The ``applyInPandasWithState`` function that runs ``step``."""
    names = step.output.fieldNames()
    packed = [f.dataType == LONGS for f in step.fields]
    timed = step.horizon_s is not None
    clocked = timed and step.last_us is None

    def load(stored: tuple) -> tuple:
        return tuple(
            d if v is None else unpack_longs(v) if p else v
            for v, d, p in zip(stored, step.init, packed)
        )

    def fn(
        key: Tuple[Any, ...], pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            rows = step.expire(key, load(state.get))
            state.remove()
            if rows:
                yield pd.DataFrame(rows, columns=names)
            return
        if state.exists:
            stored = state.get
            acc, last_us = load(stored), stored[-1] if clocked else 0
        else:
            acc, last_us = step.init, 0
        work = step.start(acc)
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            us = event_us(pdf["ts"]) if timed else None
            if clocked and len(us):
                last_us = max(last_us, int(us.max()))
            work = step.fold(work, pdf, us)
        acc, rows = step.emit(key, work, state.getCurrentWatermarkMs)
        if acc is None:
            state.remove()
        else:
            stored = tuple(pack_longs(v) if p else v for v, p in zip(acc, packed))
            state.update(stored + (last_us,) if clocked else stored)
            if timed:
                clock = last_us if clocked else step.last_us(acc)
                _arm_timeout(state, clock, step.horizon_s)
        if rows:
            yield pd.DataFrame(rows, columns=names)

    return fn


def keyed_state(grouped: GroupedData, step: KeyedStep) -> DataFrame:
    """``step`` run over every key of ``grouped``: the package's one
    ``applyInPandasWithState`` call."""
    return grouped.applyInPandasWithState(
        _state_fn(step),
        outputStructType=step.output,
        stateStructType=state_layout(step),
        outputMode=step.mode,
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if step.horizon_s is None
            else GroupStateTimeout.EventTimeTimeout
        ),
    )


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


class _SessionStep(KeyedStep):
    """Keyed session assembly with EXACT batch-sessionization semantics:
    buffer the conversation's event times, split on gaps ≥ ``gap``, and
    emit a session as ``closed`` only once the watermark passes its
    ``end + gap`` — any row that could still bridge it would be late by
    then. State per key = event times within the un-matured horizon
    only (matured segments are emitted and dropped each update), so
    memory is bounded by the watermark window, not conversation life.
    This makes the streamed result equal ``F.session_window`` /
    the SQL sessionization bit-for-bit (oracle-checked in the gate as
    ``stream_open_sessions``). The timeout is the session close: it
    fires at the last kept event + gap and emits the buffer's sessions
    as closed."""

    output = SESSION_OUTPUT_SCHEMA
    fields = [T.StructField("ts_us", LONGS)]
    init = ([],)
    mode = "append"

    def __init__(self, gap_seconds: int):
        self.horizon_s = gap_seconds
        self.gap_us = gap_seconds * 1_000_000

    def last_us(self, acc) -> int:
        return acc[0][-1]  # the kept buffer is sorted

    def _segments(self, sorted_us: list) -> list:
        segs, cur = [], [sorted_us[0]]
        for t in sorted_us[1:]:
            if t - cur[-1] >= self.gap_us:
                segs.append(cur)
                cur = [t]
            else:
                cur.append(t)
        segs.append(cur)
        return segs

    def _row(self, conv_id, seg: list, closed: bool) -> tuple:
        return (
            conv_id,
            pd.Timestamp(seg[0], unit="us"),
            pd.Timestamp(seg[-1] + self.gap_us, unit="us"),
            len(seg),
            closed,
        )

    def start(self, acc):
        return list(acc[0])

    def fold(self, buf, pdf, us):
        buf.extend(us.tolist())
        return buf

    def emit(self, key, buf, watermark_ms):
        if not buf:  # only null-ts rows ever seen: nothing to sessionize
            return None, []
        buf.sort()
        wm_us = watermark_ms() * 1000
        rows, keep = [], []
        for seg in self._segments(buf):
            if seg[-1] + self.gap_us <= wm_us:
                rows.append(self._row(key[0], seg, True))  # matured: final
            else:
                keep.extend(seg)
        if not keep:
            return None, rows
        rows.append(self._row(key[0], self._segments(keep)[-1], False))  # open
        return (keep,), rows

    def expire(self, key, acc):
        buf = acc[0]
        return [self._row(key[0], s, True) for s in self._segments(buf)] if buf else []


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
    return keyed_state(
        stream.select("conv_id", "ts").withWatermark("ts", watermark).groupBy("conv_id"),
        _SessionStep(gap_seconds),
    )


# ---------------------------------------------------------------------------
# routing counters (per-conversation route statistics)
# ---------------------------------------------------------------------------

# Event-time idle horizon after which a routing-counter key's state is
# evicted. Without eviction, one state row per conversation lives
# FOREVER — on a months-long run over 10^9 conversations the state store
# grows without bound. A conversation resuming after the horizon
# restarts at zero — partial counts merge downstream by summing per
# conv_id (the update-mode consumer sums/replaces per key anyway).
DEFAULT_IDLE_TIMEOUT_S = 24 * 3600

COUNTER_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_total", T.LongType()),
        T.StructField("n_user", T.LongType()),
        T.StructField("n_tool", T.LongType()),
        T.StructField("n_error", T.LongType()),
    ]
)


class _CounterStep(KeyedStep):
    """Running per-conversation totals. An idle key is evicted without
    emitting: its final totals went out on its last real update (update
    mode), and a resuming conversation restarts at zero
    (:data:`DEFAULT_IDLE_TIMEOUT_S`)."""

    output = COUNTER_OUTPUT_SCHEMA
    fields = [
        T.StructField("n_total", T.LongType()),
        T.StructField("n_user", T.LongType()),
        T.StructField("n_tool", T.LongType()),
        T.StructField("n_error", T.LongType()),
    ]
    init = (0, 0, 0, 0)

    def __init__(self, idle_timeout_seconds: int):
        self.horizon_s = idle_timeout_seconds

    def fold(self, acc, pdf, us):
        total, n_user, n_tool, n_error = acc
        return (
            total + len(pdf),
            n_user + int((pdf["role"] == "user").sum()),
            n_tool + int((pdf["role"] == "tool").sum()),
            # text never crosses the boundary — the error probe is the
            # JVM-evaluated `_is_error` flag (guide §4.1 column pruning)
            n_error + int(pdf["_is_error"].sum()),
        )

    def emit(self, key, acc, watermark_ms):
        return acc, [(key[0], *acc)]


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
    return keyed_state(
        narrow.withWatermark("ts", watermark).groupBy("conv_id"),
        _CounterStep(idle_timeout_seconds),
    )


# ---------------------------------------------------------------------------
# CDC upsert materialization (last-writer-wins entity view)
# ---------------------------------------------------------------------------


class _UpsertStep(KeyedStep):
    """Last-writer-wins on the sequence number: one (seq, flag, md5)
    tuple per entity."""

    output = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("cur_seq", T.LongType()),
            T.StructField("deleted", T.IntegerType()),
            T.StructField("text_md5", T.StringType()),
        ]
    )
    fields = [
        T.StructField("best_seq", T.LongType()),
        T.StructField("deleted", T.IntegerType()),
        T.StructField("text_md5", T.StringType()),
    ]
    init = (-1, 0, "")

    def fold(self, acc, pdf, us):
        best, deleted, md5h = acc
        for s, d, m in zip(pdf["_seq"], pdf["_del"], pdf["_md5"]):
            if int(s) > best:
                best, deleted = int(s), int(d)
                md5h = "" if deleted else str(m)
        return best, deleted, md5h

    def emit(self, key, acc, watermark_ms):
        return acc, [(key[0], *acc)]


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
    pre = stream.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(seq_col).cast("long").alias("_seq"),
        (F.col(op_col) == F.lit("delete")).cast("int").alias("_del"),
        F.coalesce(F.md5(F.col(text_col)), F.lit("")).alias("_md5"),
    )
    return keyed_state(pre.groupBy("doc_id"), _UpsertStep())
