"""Custom keyed-state operators (applyInPandasWithState): open-session
tracking with event-time timeout, routing counters with idle eviction,
the shared eviction helpers, the packed int64-list codec, and the stored
state layout of every such operator."""

from __future__ import annotations

import os
import struct

import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.errors import StreamingQueryException
from pyspark.sql.streaming.state import GroupStateTimeout

from vaero_spark.operators import analytics, cep, curate, state
from vaero_spark.operators.state import routing_counters, track_open_sessions
from vaero_spark.sinks.writers import MemorySink
from vaero_spark.sources.transcripts import transcripts_stream
from vaero_spark.testing.fixtures import write_transcripts_parquet


def _run(spark, df, tmp, name, mode="update"):
    sink = MemorySink()
    q = (
        df.writeStream.outputMode(mode)
        .option("checkpointLocation", os.path.join(tmp, f"ckpt_{name}"))
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return sink


@pytest.fixture(scope="module")
def src(tmp_path_factory):
    d = tmp_path_factory.mktemp("state_src")
    pdf = write_transcripts_parquet(str(d), n_files=3, n_turns=1500, n_convs=40, seed=23)
    return str(d), pdf


def test_routing_counters_final_totals(spark, src, tmp_path):
    src_dir, pdf = src
    stream = transcripts_stream(spark, src_dir, max_files_per_trigger=1)
    counters = routing_counters(stream)
    sink = _run(spark, counters, str(tmp_path), "counters", "update")
    # last update per conv = final totals
    final = {}
    for _, rows in sink.batches:
        for r in rows:
            final[r.conv_id] = (r.n_total, r.n_user, r.n_tool)
    want = (
        pdf.assign(
            is_user=lambda d: d.role.eq("user"), is_tool=lambda d: d.role.eq("tool")
        )
        .groupby("conv_id")
        .agg(n=("role", "size"), u=("is_user", "sum"), t=("is_tool", "sum"))
    )
    for conv, row in want.iterrows():
        assert final[conv] == (row.n, row.u, row.t), conv


def test_open_sessions_close_on_watermark(spark, tmp_path):
    """Sessions emit closed=True once the watermark passes last_ts+gap —
    event-time version of the reference's batch_max_time flush timer."""
    import time

    src = tmp_path / "src"
    src.mkdir()
    base = pd.Timestamp("2024-03-01 09:00:00")

    def mk(rows, f):
        conv, idx, ts = zip(*rows)
        pd.DataFrame(
            {
                "conv_id": conv,
                "turn_idx": pd.array(idx, dtype="int32"),
                "role": ["user"] * len(rows),
                "text": ["x"] * len(rows),
                "tool": [""] * len(rows),
                "ts": pd.Series(ts).astype("datetime64[us]"),
            }
        ).to_parquet(src / f, index=False)
        time.sleep(1.1)

    mk([("c1", 0, base), ("c1", 1, base + pd.Timedelta("5 minutes"))], "f0.parquet")
    # far-future row advances the watermark beyond c1's last+gap
    mk([("c2", 0, base + pd.Timedelta("3 hours"))], "f1.parquet")
    mk([("c2", 1, base + pd.Timedelta("6 hours"))], "f2.parquet")

    stream = transcripts_stream(spark, str(src), max_files_per_trigger=1)
    sessions = track_open_sessions(stream, gap_seconds=1800, watermark="10 minutes")
    sink = _run(spark, sessions, str(tmp_path), "sessions", "append")
    closed = [r for r in sink.rows() if r.closed and r.conv_id == "c1"]
    assert len(closed) == 1
    (s,) = closed
    assert s.n_turns == 2
    assert s.session_start == base.to_pydatetime().replace(tzinfo=None)
    assert s.session_end == (base + pd.Timedelta("35 minutes")).to_pydatetime().replace(tzinfo=None)


def _run_with_progress(spark, df, tmp, name, mode="update"):
    sink = MemorySink()
    q = (
        df.writeStream.outputMode(mode)
        .option("checkpointLocation", os.path.join(tmp, f"ckpt_{name}"))
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    q.processAllAvailable()
    prog = [p for p in q.recentProgress if p.get("stateOperators")]
    q.stop()
    return sink, prog


def _mk_idle_src(tmp_path):
    """c1 is active early then goes idle; c2's far-future turns advance
    the watermark past c1's idle horizon."""
    import time

    src = tmp_path / "idle_src"
    src.mkdir()
    base = pd.Timestamp("2024-03-01 09:00:00")

    def mk(rows, f):
        conv, idx, ts = zip(*rows)
        pd.DataFrame(
            {
                "conv_id": conv,
                "turn_idx": pd.array(idx, dtype="int32"),
                "role": ["user"] * len(rows),
                "text": ["x"] * len(rows),
                "tool": [""] * len(rows),
                "ts": pd.Series(ts).astype("datetime64[us]"),
            }
        ).to_parquet(src / f, index=False)
        time.sleep(1.1)

    mk([("c1", 0, base), ("c1", 1, base + pd.Timedelta("5 minutes"))], "f0.parquet")
    mk([("c2", 0, base + pd.Timedelta("3 hours"))], "f1.parquet")
    mk([("c2", 1, base + pd.Timedelta("6 hours"))], "f2.parquet")
    return str(src), base


def test_routing_counters_evict_idle_state(spark, tmp_path):
    """Per-key counter state must NOT live forever: once the watermark
    passes a conversation's last event + idle horizon, its state row is
    removed — the 100 TB / months-long-run bound. The totals emitted
    BEFORE eviction are unaffected."""
    src_dir, base = _mk_idle_src(tmp_path)
    stream = transcripts_stream(spark, src_dir, max_files_per_trigger=1)
    counters = routing_counters(
        stream, watermark="10 minutes", idle_timeout_seconds=600
    )
    sink, prog = _run_with_progress(spark, counters, str(tmp_path), "cnt_evict")
    final = {}
    for _, rows in sink.batches:
        for r in rows:
            final[r.conv_id] = r.n_total
    assert final == {"c1": 2, "c2": 2}  # emissions complete despite eviction
    # after the last batch only c2 is inside the idle horizon: c1's
    # state row was evicted by the event-time timeout
    assert prog, "no stateOperators progress recorded"
    assert prog[-1]["stateOperators"][0]["numRowsTotal"] == 1
    assert any(
        p["stateOperators"][0].get("numRowsRemoved", 0) > 0 for p in prog
    )


def test_pdf_max_us_ignores_nat():
    """NaT becomes the -2^63 sentinel under an int64 view; the last-event
    tracker must skip null ts or an all-null conversation arms an
    already-expired timeout and is evicted on the next batch."""
    from vaero_spark.operators.state import _pdf_max_us

    ts = pd.Series([pd.NaT, pd.Timestamp("2024-03-01 09:00:00")]).astype("datetime64[us]")
    want = int(pd.Timestamp("2024-03-01 09:00:00").value // 1000)
    assert _pdf_max_us(pd.DataFrame({"ts": ts}), 0) == want
    assert _pdf_max_us(pd.DataFrame({"ts": ts}), want + 5) == want + 5  # monotone
    all_nat = pd.Series([pd.NaT, pd.NaT]).astype("datetime64[us]")
    assert _pdf_max_us(pd.DataFrame({"ts": all_nat}), 7) == 7  # unchanged


def test_arm_idle_timeout_skips_all_null_ts_key():
    """A key whose rows ALL carry null ts keeps last_us=0; arming it
    would degenerate to watermark+1 — an immediately-expiring timeout
    that evicts the key's state on the next batch.
    Such a key must retain NoTimeout behavior until a real ts arrives."""
    from vaero_spark.operators.state import _arm_idle_timeout

    class _FakeState:
        def __init__(self):
            self.armed = None

        def setTimeoutTimestamp(self, v):
            self.armed = v

        def getCurrentWatermarkMs(self):
            return 1_700_000_000_000

    st = _FakeState()
    _arm_idle_timeout(st, 0, 3600)
    assert st.armed is None  # never armed: NoTimeout retained
    _arm_idle_timeout(st, 1_700_000_100_000_000, 3600)
    assert st.armed == 1_700_000_100_000 + 3600 * 1000  # real ts arms



# A changed literal is a checkpoint reset: Spark refuses a checkpoint of
# the old layout at restart (test_array_layout_checkpoint_is_refused).
_LAYOUTS = [
    pytest.param(
        cep._state_schema(cep._KleeneStep),
        "struct<next_idx:bigint,pend_idx:binary,pend_sym:string,"
        "carry:string,n_matches:bigint,first_match:bigint,last_us:bigint>",
        id="cep_kleene",
    ),
    pytest.param(
        cep._state_schema(cep._AbsenceStep),
        "struct<next_idx:bigint,pend_idx:binary,pend_sym:string,"
        "open_idx:binary,n_triggers:bigint,n_dangling:bigint,"
        "first_dangling:bigint,last_us:bigint>",
        id="cep_absence",
    ),
    pytest.param(
        cep._state_schema(cep._WithinStep),
        "struct<next_idx:bigint,pend_idx:binary,pend_sym:string,"
        "pend_ms:binary,carry_sym:string,carry_ms:binary,"
        "n_within:bigint,first_within:bigint,last_us:bigint>",
        id="cep_within",
    ),
    pytest.param(
        cep._state_schema(cep._AbsenceTimeStep),
        "struct<next_idx:bigint,pend_idx:binary,pend_sym:string,"
        "pend_ms:binary,open_idx:binary,open_ms:binary,"
        "n_triggers:bigint,n_dangling:bigint,first_dangling:bigint,"
        "last_us:bigint>",
        id="cep_absence_time",
    ),
    pytest.param(
        state.SESSION_STATE_SCHEMA,
        "struct<ts_us:binary>",
        id="open_sessions",
    ),
    pytest.param(
        state.COUNTER_STATE_SCHEMA,
        "struct<n_total:bigint,n_user:bigint,n_tool:bigint,n_error:bigint,"
        "last_us:bigint>",
        id="routing_counters",
    ),
    pytest.param(
        state.UPSERT_STATE_DDL,
        "best_seq bigint, deleted int, text_md5 string",
        id="upsert",
    ),
    pytest.param(
        analytics._FUNNEL_STATE_SCHEMA,
        "struct<ords:binary,masks:binary,last_us:bigint>",
        id="funnel",
    ),
    pytest.param(
        analytics._SPIKE_STATE_SCHEMA,
        "struct<bucket_idxs:binary,counts:binary>",
        id="rate_spikes",
    ),
    pytest.param(
        curate._LEX_STATE_SCHEMA_DDL,
        "ords binary, hits binary, last_us long",
        id="lexicon",
    ),
]


def _layout_string(layout) -> str:
    return layout if isinstance(layout, str) else layout.simpleString()


@pytest.mark.parametrize("layout,want", _LAYOUTS)
def test_stored_state_layout_is_pinned(layout, want):
    """A checkpoint stores each operator's state rows in its layout; a
    changed layout cannot resume from an existing checkpoint. Change a
    literal here only together with a state migration or a documented
    checkpoint reset."""
    assert _layout_string(layout) == want


@pytest.mark.parametrize("layout,want", _LAYOUTS)
def test_stored_layout_has_no_array_or_map(layout, want):
    """An ``array`` or ``map`` state field makes Spark's Row encoder emit
    ``MapObjects`` code whose variable names carry a JVM-global counter,
    so its state encoders are compiled again in every micro-batch; list
    state is stored packed (``state.LONGS``) instead."""
    got = _layout_string(layout).lower()
    assert "array<" not in got and "map<" not in got


# ---------------------------------------------------------------------------
# the packed int64-list codec
# ---------------------------------------------------------------------------

_INT64 = st.integers(min_value=state.NULL_LONG + 1, max_value=2**63 - 1)


@settings(max_examples=300, deadline=None)
@given(st.one_of(st.none(), st.lists(st.one_of(st.none(), _INT64), max_size=40)))
@example(None)
@example([])
@example([None])
@example([None, None])
@example([state.NULL_LONG + 1, 2**63 - 1, 0, -1])
def test_packed_longs_round_trip(values):
    packed = state.pack_longs(values)
    assert packed is None if values is None else len(packed) == 8 * len(values)
    assert state.unpack_longs(packed) == values


def test_packed_longs_are_little_endian_int64():
    assert state.pack_longs([1, -2, None, 2**63 - 1]) == bytes.fromhex(
        "0100000000000000"
        "feffffffffffffff"
        "0000000000000080"
        "ffffffffffffff7f"
    )
    assert state.unpack_longs(bytearray(b"\x05" + b"\x00" * 7)) == [5]


def test_packed_longs_reject_the_null_sentinel_and_torn_blobs():
    with pytest.raises(ValueError):
        state.pack_longs([3, state.NULL_LONG])
    with pytest.raises(struct.error):
        state.unpack_longs(b"\x00" * 9)


# ---------------------------------------------------------------------------
# the stored layouts on a running engine
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def one_file_epochs(tmp_path_factory):
    d = tmp_path_factory.mktemp("epochs_src")
    write_transcripts_parquet(str(d), n_files=8, n_turns=800, n_convs=20, seed=5)
    return str(d)


@pytest.mark.parametrize(
    "build,mode",
    [
        pytest.param(
            lambda s: cep.stream_cep_match(s, "ttu"), "update", id="cep_match"
        ),
        pytest.param(track_open_sessions, "append", id="open_sessions"),
    ],
)
def test_state_encoders_compile_once(spark, one_file_epochs, tmp_path, build, mode):
    """Janino compiles a stateful operator's state encoders once, not in
    every micro-batch. After the first epochs at most one class per data
    epoch is new: the filter that holds the epoch's watermark as a
    literal. The array<bigint> layouts compiled 2-3 more per epoch. (The
    query's first no-data epoch, which may end the drain, compiles its
    own plan once and is not counted.)"""
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    seen = {}

    def on_batch(df, epoch_id):
        df.collect()
        seen[epoch_id] = compiles.getCount()

    stream = transcripts_stream(spark, one_file_epochs, max_files_per_trigger=1)
    q = (
        build(stream)
        .writeStream.outputMode(mode)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(on_batch)
        .start()
    )
    q.processAllAvailable()
    data = {p["batchId"] for p in q.recentProgress if p["numInputRows"]}
    q.stop()
    late = {e: seen[e] - seen[e - 1] for e in sorted(data) if e > 2}
    assert len(late) >= 4, seen
    assert max(late.values()) <= 1, late


def _old_layout_op(stream, cols, output, layout, value, mode):
    """A stateful operator shaped like a packed one that stores ``value``
    in an ``array<long>`` ``layout``, as the operators did before they
    packed their lists."""

    def fn(key, pdfs, group_state):
        for _ in pdfs:
            pass
        group_state.update(value)
        yield from ()

    return (
        stream.select(*cols)
        .withWatermark("ts", "10 minutes")
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn, output, layout, mode, GroupStateTimeout.EventTimeTimeout
        )
    )


@pytest.mark.parametrize(
    "old,build,mode",
    [
        pytest.param(
            (
                ["conv_id", "turn_idx", "role", "ts"],
                cep.CEP_STREAM_OUTPUT_SCHEMA,
                "next_idx long, pend_idx array<long>, pend_sym string, "
                "carry string, n_matches long, first_match long, last_us long",
                (0, [1, 2], "tt", "", 0, -1, 0),
            ),
            lambda s: cep.stream_cep_match(s, "ttu"),
            "update",
            id="cep_match",
        ),
        pytest.param(
            (["conv_id", "ts"], state.SESSION_OUTPUT_SCHEMA, "ts_us array<long>", ([0],)),
            track_open_sessions,
            "append",
            id="open_sessions",
        ),
    ],
)
def test_array_layout_checkpoint_is_refused(spark, tmp_path, old, build, mode):
    """A checkpoint written with an operator's old ``array<bigint>``
    layout does not resume under the packed one: Spark's state schema
    check refuses it at restart instead of misreading the stored rows."""
    src = tmp_path / "src"
    write_transcripts_parquet(str(src), n_files=1, n_turns=60, n_convs=4, seed=9)
    ckpt = str(tmp_path / "ckpt")

    def run(df):
        q = (
            df.writeStream.outputMode(mode)
            .option("checkpointLocation", ckpt)
            .foreachBatch(lambda b, _: b.collect())
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(_old_layout_op(transcripts_stream(spark, str(src)), *old, mode))
    write_transcripts_parquet(
        str(src), n_files=1, start_file_idx=1, n_turns=60, n_convs=4, seed=10
    )
    with pytest.raises(StreamingQueryException) as err:
        run(build(transcripts_stream(spark, str(src))))
    assert "STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE" in str(err.value)
