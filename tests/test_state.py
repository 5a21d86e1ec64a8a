"""The keyed-state cores and their operators: the pandas core (the one
applyInPandasWithState call) with open-session tracking, routing
counters with idle eviction, the event-time conversion and arming rule;
the JVM core of the streaming CEP operators; every operator's step driven
through its core, the packed int64-list codec, and the stored state
layout of every such operator."""

from __future__ import annotations

import os
import re
import struct

import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.errors import StreamingQueryException
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import _parse_datatype_string

from vaero_spark.operators import analytics, cep, curate, state
from vaero_spark.operators.state import routing_counters, track_open_sessions
from vaero_spark.sinks.writers import MemorySink
from vaero_spark.sources.transcripts import transcripts_stream
from vaero_spark.testing.fixtures import write_transcripts_parquet
from vaero_spark.testing.jvm_state import JavaCep, KeyState


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
    """``event_us``, the one event-time conversion: NaT becomes the -2^63
    sentinel under an int64 view, so null ts is dropped first (index
    kept), or an all-null conversation would arm an already-expired
    timeout and be evicted on the next batch. The scale follows the
    series' unit, and its ms are the µs floor-divided by 1,000."""
    t = pd.Timestamp("2024-03-01 09:00:00.123456789")
    for unit, want in (
        ("ns", 1_709_283_600_123_456),
        ("us", 1_709_283_600_123_456),
        ("ms", 1_709_283_600_123_000),
    ):
        for vals in ([t], [pd.NaT, t, pd.NaT]):
            got = state.event_us(pd.Series(vals).astype(f"datetime64[{unit}]"))
            assert got.to_dict() == {vals.index(t): want}, unit
        all_nat = pd.Series([pd.NaT, pd.NaT]).astype(f"datetime64[{unit}]")
        assert state.event_us(all_nat).empty
    ns = pd.Series([t]).astype("datetime64[ns]")
    assert (state.event_us(ns) // 1000).tolist() == [t.value // 1_000_000]
    with pytest.raises(TypeError):
        state.event_us(pd.Series([1, 2]))


def test_arm_idle_timeout_skips_all_null_ts_key():
    """A key whose rows ALL carry null ts keeps last_us=0; arming it
    would degenerate to watermark+1 — an immediately-expiring timeout
    that evicts the key's state on the next batch.
    Such a key must retain NoTimeout behavior until a real ts arrives."""
    from vaero_spark.operators.state import _arm_timeout

    class _FakeState:
        def __init__(self):
            self.armed = None

        def setTimeoutTimestamp(self, v):
            self.armed = v

        def getCurrentWatermarkMs(self):
            return 1_700_000_000_000

    st = _FakeState()
    _arm_timeout(st, 0, 3600)
    assert st.armed is None  # never armed: NoTimeout retained
    _arm_timeout(st, 1_700_000_100_000_000, 3600)
    assert st.armed == 1_700_000_100_000 + 3600 * 1000  # real ts arms


class _JavaStep:
    """A streaming CEP operator's pattern step in the JVM core
    (``vaero.state.Reassembly``): its name and arguments, as the operator
    passes them, and the core's idle horizon."""

    horizon_s = 3600
    last_us = None  # the core keeps the key's event time

    def __init__(self, step: str, args: list):
        self.step, self.args = step, args

    def core(self, spark) -> JavaCep:
        return JavaCep(spark, self.step, self.args, self.horizon_s)


#: one step per keyed-state operator, as the operator builds it
_STEPS = {
    "cep_match": _JavaStep("kleene", [re.escape("ttu"), 3, 3]),
    "cep_kleene": _JavaStep("kleene", ["t{2,3}?u", 3, 4]),
    "cep_absence": _JavaStep("absence", ["u", "a", 2]),
    "cep_within": _JavaStep("within", ["tu", 300_000]),
    "cep_absence_time": _JavaStep("absence_time", ["u", "a", 300_000]),
    "open_sessions": state._SessionStep(1800),
    "routing_counters": state._CounterStep(3600),
    "upsert": state._UpsertStep(),
    "funnel": analytics._FunnelStep(2, 3600),
    "rate_spikes": analytics._SpikeStep("ts", 3, 20000, 3),
    "lexicon": curate._LexiconStep(2, 3600),
}


def _layout(name: str, request) -> T.StructType:
    """The stored layout of ``_STEPS[name]``: read from the JVM core for
    a CEP step, from ``state_layout`` for a pandas-core step."""
    step = _STEPS[name]
    if isinstance(step, _JavaStep):
        return step.core(request.getfixturevalue("spark")).layout
    return state.state_layout(step)


# A changed literal is a checkpoint reset: Spark refuses a checkpoint of
# the old layout at restart (test_array_layout_checkpoint_is_refused).
_LAYOUTS = [
    pytest.param(
        "cep_kleene",
        "struct<next_idx:bigint,pend_idx:binary,pend_sym:string,"
        "carry:string,n_matches:bigint,first_match:bigint,last_us:bigint>",
        id="cep_kleene",
    ),
    pytest.param(
        "cep_absence",
        "struct<next_idx:bigint,pend_idx:binary,pend_sym:string,"
        "open_idx:binary,n_triggers:bigint,n_dangling:bigint,"
        "first_dangling:bigint,last_us:bigint>",
        id="cep_absence",
    ),
    pytest.param(
        "cep_within",
        "struct<next_idx:bigint,pend_idx:binary,pend_sym:string,"
        "pend_ms:binary,carry_sym:string,carry_ms:binary,"
        "n_within:bigint,first_within:bigint,last_us:bigint>",
        id="cep_within",
    ),
    pytest.param(
        "cep_absence_time",
        "struct<next_idx:bigint,pend_idx:binary,pend_sym:string,"
        "pend_ms:binary,open_idx:binary,open_ms:binary,"
        "n_triggers:bigint,n_dangling:bigint,first_dangling:bigint,"
        "last_us:bigint>",
        id="cep_absence_time",
    ),
    pytest.param(
        "open_sessions",
        "struct<ts_us:binary>",
        id="open_sessions",
    ),
    pytest.param(
        "routing_counters",
        "struct<n_total:bigint,n_user:bigint,n_tool:bigint,n_error:bigint,"
        "last_us:bigint>",
        id="routing_counters",
    ),
    pytest.param(
        "upsert",
        "struct<best_seq:bigint,deleted:int,text_md5:string>",
        id="upsert",
    ),
    pytest.param(
        "funnel",
        "struct<ords:binary,masks:binary,last_us:bigint>",
        id="funnel",
    ),
    pytest.param(
        "rate_spikes",
        "struct<bucket_idxs:binary,counts:binary>",
        id="rate_spikes",
    ),
    pytest.param(
        "lexicon",
        "struct<ords:binary,hits:binary,last_us:bigint>",
        id="lexicon",
    ),
]


@pytest.mark.parametrize("name,want", _LAYOUTS)
def test_stored_state_layout_is_pinned(name, want, request):
    """A checkpoint stores each operator's state rows in its layout; a
    changed layout cannot resume from an existing checkpoint. Change a
    literal here only together with a state migration or a documented
    checkpoint reset."""
    assert _layout(name, request).simpleString() == want


@pytest.mark.parametrize(
    "ddl,schema",
    [
        pytest.param(
            "best_seq bigint, deleted int, text_md5 string",
            state.state_layout(_STEPS["upsert"]),
            id="upsert_state",
        ),
        pytest.param(
            "ords binary, hits binary, last_us long",
            state.state_layout(_STEPS["lexicon"]),
            id="lexicon_state",
        ),
        pytest.param(
            "doc_id bigint, cur_seq bigint, deleted int, text_md5 string",
            _STEPS["upsert"].output,
            id="upsert_output",
        ),
        pytest.param(
            "conv_id string, stage int, first_ord long",
            _STEPS["funnel"].output,
            id="funnel_output",
        ),
        pytest.param(
            "key long, bucket_idx long, n_events long, baseline_sum long, "
            "is_spike boolean",
            _STEPS["rate_spikes"].output,
            id="rate_spikes_output",
        ),
        pytest.param(
            "conv_id string, lex_hits long, flagged int",
            _STEPS["lexicon"].output,
            id="lexicon_output",
        ),
    ],
)
def test_former_ddl_schemas_parse_to_the_same_struct(spark, ddl, schema):
    """The upsert and lexicon layouts, and four output schemas, were DDL
    strings that ``applyInPandasWithState`` parsed with Spark; Spark
    parses each to a StructType equal to the one the step now declares,
    so their checkpoints resume and their outputs are unchanged."""
    assert _parse_datatype_string(ddl) == schema


@pytest.mark.parametrize("name,want", _LAYOUTS)
def test_stored_layout_has_no_array_or_map(name, want, request):
    """An ``array`` or ``map`` state field makes Spark's Row encoder emit
    ``MapObjects`` code whose variable names carry a JVM-global counter,
    so its state encoders are compiled again in every micro-batch; list
    state is stored packed (``state.LONGS``) instead."""
    got = _layout(name, request).simpleString().lower()
    assert "array<" not in got and "map<" not in got


_T0 = pd.Timestamp("2024-03-01 09:00:00")


def _batch(ts: list) -> pd.DataFrame:
    """One pandas batch with every column a step reads ("uttua" roles)."""
    n = len(ts)
    return pd.DataFrame(
        {
            "turn_idx": range(n),
            "role": ["user", "tool", "tool", "user", "assistant"][:n],
            "ts": pd.Series(ts, dtype="datetime64[ns]"),
            "_is_error": [False] * n,
            "_ord": range(n),
            "_mask": [1] * n,
            "_h": [1] * n,
            "_seq": range(n),
            "_del": [0] * n,
            "_md5": ["m"] * n,
        }
    )


def _through_the_core(name: str, fake_state, request):
    """``(call, new_state)`` for ``_STEPS[name]`` through its core:
    ``call(state, ts)`` runs one call for key ``"k"`` over ``_batch(ts)``
    and returns the emitted rows as tuples. A CEP step runs in the JVM
    core through ``TestGroupState`` on the columns the operator projects
    (the role's symbol, µs event time); any other step runs in the
    pandas core on ``FakeState``."""
    step = _STEPS[name]
    if isinstance(step, _JavaStep):
        core = step.core(request.getfixturevalue("spark"))

        def call(st, ts):
            pdf = _batch(ts)
            rows = [
                (i, cep.ROLE_SYMBOLS[role], None if pd.isna(t) else t.value // 1000)
                for i, role, t in zip(pdf["turn_idx"], pdf["role"], pdf["ts"])
            ]
            return [tuple(r) for r in core.call("k", rows, st)]

        return call, KeyState
    fn = state._state_fn(step)

    def call(st, ts):
        out = fn(("k",), iter([_batch(ts)]), st)
        return [tuple(r) for df in out for r in df.itertuples(index=False)]

    return call, fake_state


@pytest.mark.parametrize("name", list(_STEPS))
def test_step_contract_through_the_core(name, fake_state, request):
    """Every keyed-state operator's step, driven through its core (the
    JVM core's function on Spark's ``TestGroupState`` for the CEP steps,
    the pandas core on ``FakeState`` for the rest): it stores its pinned
    layout with packed bytes in every LONGS field and arms a timeout
    only if it has a horizon; a timed-out call removes the state and
    emits only the step's expiry rows (closed sessions for open
    sessions, nothing elsewhere); a key whose rows all have a null ts
    never arms a timeout."""
    step = _STEPS[name]
    call, new_state = _through_the_core(name, fake_state, request)
    layout = _layout(name, request)
    ts = [_T0 + pd.Timedelta(minutes=i) for i in range(5)]

    st = new_state()
    assert call(st, ts)
    assert len(st.get) == len(layout.fields)
    for v, f in zip(st.get, layout.fields):
        assert isinstance(v, bytes) == (f.dataType == state.LONGS), f.name
    assert (st.armed is not None) == (step.horizon_s is not None)

    st.hasTimedOut = True
    out = call(st, ts)
    assert not st.exists and st.get is None
    want = []
    if name == "open_sessions":
        want = [("k", _T0, _T0 + pd.Timedelta(minutes=34), 5, True)]
    assert out == want

    st = new_state()
    call(st, [pd.NaT] * 3)
    assert st.armed is None


@pytest.mark.parametrize(
    "name", [n for n, s in _STEPS.items() if s.horizon_s is not None]
)
def test_last_event_time_never_moves_back(name, fake_state, request):
    """A key's last event time is monotone through the core: a later
    batch of older events, or of null ts only, leaves the stored
    ``last_us`` and the armed timeout where the newest event put them."""
    step = _STEPS[name]
    call, new_state = _through_the_core(name, fake_state, request)
    clocked = step.last_us is None
    st = new_state()
    newer = [_T0 + pd.Timedelta(hours=1, minutes=i) for i in range(5)]
    call(st, newer)
    armed = st.armed
    last_us = st.get[-1] if clocked else None
    assert armed is not None
    if clocked:
        assert last_us == newer[-1].value // 1000
    for ts in ([_T0 + pd.Timedelta(minutes=i) for i in range(5)], [pd.NaT] * 3):
        call(st, ts)
        assert st.armed == armed
        if clocked:
            assert st.get[-1] == last_us


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
    own plan once and is not counted.) That last compile stays without a
    Spark patch: in spark-sql 4.1.2 the late-row filter
    (``WatermarkSupport.watermarkPredicateForDataForLateEvents``) and
    ``FlatMapGroupsWithStateExecBase.watermarkPresent``, which lets the
    state function read ``getCurrentWatermarkMs`` (the timeout arming
    rule's ``wm + 1``), both come from the same watermark attribute in
    the operator's input; dropping the one drops the other."""
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
    """A pandas-core stateful operator that stores ``value`` in
    ``layout``: shaped like a packed operator with an ``array<long>``
    layout, as the operators were before they packed their lists, or like
    the streaming CEP operators before they moved to the JVM core."""

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


def _resume_error(spark, tmp_path, first, build, mode) -> str:
    """Drain ``first`` into a new checkpoint, add a file, then resume the
    checkpoint with ``build``: the error that the resumed query fails
    with."""
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

    run(first(transcripts_stream(spark, str(src))))
    write_transcripts_parquet(
        str(src), n_files=1, start_file_idx=1, n_turns=60, n_convs=4, seed=10
    )
    with pytest.raises(StreamingQueryException) as err:
        run(build(transcripts_stream(spark, str(src))))
    return str(err.value)


@pytest.mark.parametrize(
    "old,build,mode",
    [
        # the cep_match case moved to the test below: its operator is no
        # longer applyInPandasWithState, which Spark checks first
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
    err = _resume_error(
        spark, tmp_path, lambda s: _old_layout_op(s, *old, mode), build, mode
    )
    assert "STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE" in err


_CEP_OUTPUT = "conv_id string, n_turns long, n_matches long, first_match_turn long"


@pytest.mark.parametrize(
    "layout,value",
    [
        pytest.param(
            "next_idx long, pend_idx binary, pend_sym string, "
            "carry string, n_matches long, first_match long, last_us long",
            (0, state.pack_longs([1, 2]), "tt", "", 0, -1, 0),
            id="packed",
        ),
        pytest.param(
            "next_idx long, pend_idx array<long>, pend_sym string, "
            "carry string, n_matches long, first_match long, last_us long",
            (0, [1, 2], "tt", "", 0, -1, 0),
            id="array",
        ),
    ],
)
def test_pandas_core_checkpoint_is_refused_by_the_jvm_core(spark, tmp_path, layout, value):
    """A ``stream_cep_match`` checkpoint written by the pandas core
    (``applyInPandasWithState``), in the stored layout the JVM core keeps
    byte for byte or in the older ``array<bigint>`` one, does not resume
    under the JVM core's ``flatMapGroupsWithState``: Spark's operator
    metadata check refuses it at restart, so the five streaming CEP
    gates' checkpoints reset."""
    cols = ["conv_id", "turn_idx", "role", "ts"]
    err = _resume_error(
        spark, tmp_path,
        lambda s: _old_layout_op(s, cols, _CEP_OUTPUT, layout, value, "update"),
        lambda s: cep.stream_cep_match(s, "ttu"), "update",
    )
    assert "STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA" in err
