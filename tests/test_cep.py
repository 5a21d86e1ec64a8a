"""CEP sequence-pattern matching over conversation role sequences."""

from __future__ import annotations

import re

import pytest

from vaero_spark.operators.cep import (
    ROLE_SYMBOLS,
    cep_match,
    stream_cep_absence,
    stream_cep_absence_time,
    stream_cep_kleene,
    stream_cep_match,
    stream_cep_within,
)
from vaero_spark.testing.jvm_state import JavaCep, KeyState

ROLES = ["user", "assistant", "tool", "system"]
#: 2024-01-01 in µs, the event time of the untimed unit cases
_T0_US = 1_704_067_200_000_000


def _fixture_rows():
    """Deterministic pseudo-random conversations (hash-picked roles, so
    repeats and runs actually occur)."""
    import hashlib

    rows = []
    for conv in range(30):
        for i in range((conv * 7) % 13 + 3):
            pick = int(hashlib.md5(f"{conv}-{i}".encode()).hexdigest(), 16) % 4
            rows.append((f"c{conv}", i, ROLES[pick]))
    # one conversation with an unknown role: renders as '?', never matches
    rows += [("weird", 0, "tool"), ("weird", 1, "narrator"), ("weird", 2, "user")]
    return rows


@pytest.mark.parametrize("pattern", ["tt+u", "ua", "t[ua]s?", "^u", "s$"])
def test_cep_match_matches_python_re(spark, pattern):
    """n_matches and first_match_turn agree with Python's re (the
    non-overlapping ``finditer`` scan) on every conversation, and
    match-free conversations are excluded."""
    rows = _fixture_rows()
    out = cep_match(spark.createDataFrame(rows, ["conv_id", "turn_idx", "role"]), pattern)
    got = {r.conv_id: (r.n_turns, r.n_matches, r.first_match_turn) for r in out.collect()}

    seqs: dict[str, list[tuple[int, str]]] = {}
    for conv, idx, role in rows:
        seqs.setdefault(conv, []).append((idx, ROLE_SYMBOLS.get(role, "?")))
    expect = {}
    for conv, turns in seqs.items():
        seq = "".join(c for _, c in sorted(turns))
        matches = list(re.finditer(pattern, seq))
        if matches:
            expect[conv] = (len(seq), len(matches), matches[0].start())
    assert got == expect
    assert expect, f"fixture produced no matches for {pattern!r}"
    assert len(expect) < len(seqs), f"{pattern!r} matched every conversation"


def test_cep_match_tool_loop_fixture(spark):
    """A hand-built tool-churn conversation: two tool turns then a user
    interrupt matches ``tt+u`` exactly once, starting at the loop."""
    rows = [("c", i, r) for i, r in enumerate(
        ["user", "assistant", "tool", "tool", "tool", "user", "assistant"]
    )]
    out = cep_match(
        spark.createDataFrame(rows, ["conv_id", "turn_idx", "role"]), "tt+u"
    ).collect()
    assert [(r.conv_id, r.n_turns, r.n_matches, r.first_match_turn) for r in out] == [
        ("c", 7, 1, 2)
    ]


def test_stream_cep_final_state_equals_batch(spark, tmp_path):
    """Drain a multi-trigger file stream (rows shuffled within files)
    through the streaming CEP state machine; the last UPDATE emission
    per conversation must equal the batch operator on the same rows —
    the reassembly/carry logic survives out-of-order arrival."""
    import os

    from vaero_spark.operators.cep import stream_cep_match
    from vaero_spark.sinks.writers import MemorySink
    from vaero_spark.sources.transcripts import transcripts_stream
    from vaero_spark.testing.fixtures import write_transcripts_parquet

    src_dir = str(tmp_path / "src")
    write_transcripts_parquet(
        src_dir, n_files=5, n_turns=1200, n_convs=30, seed=7, role_mode="hash"
    )
    stream = transcripts_stream(spark, src_dir, max_files_per_trigger=1)
    out = stream_cep_match(stream, "ttu", watermark="60 days")
    sink = MemorySink()
    q = (
        out.writeStream.outputMode("update")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    q.processAllAvailable()
    q.stop()
    final = {}
    for _, rows in sorted(sink.batches):
        for r in rows:
            final[r.conv_id] = (r.n_turns, r.n_matches, r.first_match_turn)
    got = {c: v for c, v in final.items() if v[1] > 0}

    # the stream op is exactly-once per (conv, turn) — late duplicate
    # rows in the fixture are ignored — so the batch comparison runs on
    # the deduped table (the canonical transcripts table is unique)
    batch = spark.read.parquet(src_dir).dropDuplicates(["conv_id", "turn_idx"])
    want = {
        r.conv_id: (r.n_turns, r.n_matches, r.first_match_turn)
        for r in cep_match(batch, "ttu").collect()
    }
    assert got == want
    assert want, "fixture produced no matches for 'ttu'"
    # every conversation fully reassembled (n_turns = its row count)
    totals = {r.conv_id: r.cnt for r in batch.groupBy("conv_id").count().withColumnRenamed("count", "cnt").collect()}
    for conv, (n_turns, _, _) in final.items():
        assert n_turns == totals[conv], conv


def test_stream_cep_fn_reassembles_out_of_order(spark):
    """Unit-drive the JVM core batch-by-batch with an adversarial
    arrival order: the match spanning a batch boundary is found once
    the gap fills, never double-counted."""
    roles = ["user", "tool", "tool", "user", "assistant", "tool", "tool", "user"]
    # seq = "uttuattu": matches of "ttu" at 1 and 5
    # stream_cep_match's step: the literal as a fixed-length pattern
    core = JavaCep(spark, "kleene", [re.escape("ttu"), 3, 3])
    state = KeyState()

    def feed(idxs):
        rows = [(i, ROLE_SYMBOLS[roles[i]], _T0_US) for i in idxs]
        return core.call("c", rows, state)

    # batch 1: turns 0,1 then a gap — turn 3,4 wait in pending
    out1 = feed([0, 1, 3, 4])
    assert out1 and out1[0].n_matches == 0
    assert out1[0].n_turns == 2  # contiguous prefix stops at gap
    # batch 2: the gap (turn 2) + duplicates of consumed turns
    out2 = feed([2, 0, 1])
    assert out2[0].n_turns == 5
    assert out2[0].n_matches == 1
    assert out2[0].first_match_turn == 1
    # batch 3: the tail; second match spans the carry
    out3 = feed([5, 6, 7])
    assert out3[0].n_turns == 8
    assert out3[0].n_matches == 2
    assert out3[0].first_match_turn == 1


def test_stream_cep_rejects_bad_literals():
    from vaero_spark.operators.cep import stream_cep_match

    for bad in ["", "txu", "t+u"]:
        with pytest.raises(ValueError):
            stream_cep_match(None, bad)


def test_kleene_parser_widths_and_lazy_form():
    from vaero_spark.operators.cep import ROLE_SYMBOLS, parse_kleene_pattern

    assert parse_kleene_pattern("t{2,3}u", ROLE_SYMBOLS) == (3, 4, "t{2,3}?u")
    assert parse_kleene_pattern("ta?u", ROLE_SYMBOLS) == (2, 3, "ta??u")
    assert parse_kleene_pattern("[ta]{1,2}u", ROLE_SYMBOLS) == (2, 3, "[ta]{1,2}?u")
    assert parse_kleene_pattern("t{2}u", ROLE_SYMBOLS) == (3, 3, "t{2}u")
    for bad in ["t*u", "t+u", "(tu){1,2}", "a?", "x{1,2}u", "t{3,2}u", ""]:
        with pytest.raises(ValueError):
            parse_kleene_pattern(bad, ROLE_SYMBOLS)


def test_stream_cep_kleene_fn_earliest_completion_and_carry(spark):
    """Unit-drive the JVM core's Kleene step: a quantified match held open at
    a batch boundary completes (earliest-completion) once the next
    symbols arrive, the carry stays < max_len, and a greedy-looking
    continuation does NOT extend an already-final match."""
    from vaero_spark.operators.cep import parse_kleene_pattern

    l_min, l_max, lazy = parse_kleene_pattern("t{2,3}u", ROLE_SYMBOLS)
    core = JavaCep(spark, "kleene", [lazy, l_min, l_max])
    state = KeyState()
    #         0      1      2      3      4      5       6      7
    roles = ["tool", "tool", "tool", "user", "tool", "tool", "user", "user"]
    # seq "tttuttuu": earliest-completion t{2,3}u: shortest at 0 needs
    # 3 t's + u (no u at 2) => match [0,4); then match "ttu" at 4;
    # n_matches 2, first at 0

    def feed(idxs):
        rows = [(i, ROLE_SYMBOLS[roles[i]], _T0_US) for i in idxs]
        return core.call("c", rows, state)

    out1 = feed([0, 1])  # "tt": could still match with more input => carried
    assert out1[0].n_matches == 0
    assert len(state.get[3]) < l_max  # carry bounded by max_len
    out2 = feed([2, 3])  # "tttu" complete => one match, not two
    assert out2[0].n_matches == 1
    assert out2[0].first_match_turn == 0
    out3 = feed([4, 5, 6, 7])  # "ttuu" => second match at 4
    assert out3[0].n_matches == 2
    assert out3[0].n_turns == 8
    assert len(state.get[3]) < l_max


def test_stream_cep_kleene_drain_equals_batch_lazy(spark, tmp_path):
    """Drain the Kleene streaming matcher over a multi-trigger file
    stream; the last emission per conversation equals the batch regex
    operator with the RELUCTANT form of the pattern (the documented
    earliest-completion twin)."""
    import os

    from vaero_spark.operators.cep import stream_cep_kleene
    from vaero_spark.sinks.writers import MemorySink
    from vaero_spark.sources.transcripts import transcripts_stream
    from vaero_spark.testing.fixtures import write_transcripts_parquet

    src_dir = str(tmp_path / "src")
    write_transcripts_parquet(
        src_dir, n_files=5, n_turns=1200, n_convs=30, seed=11, role_mode="hash"
    )
    stream = transcripts_stream(spark, src_dir, max_files_per_trigger=1)
    out = stream_cep_kleene(stream, "t{2,3}u", watermark="60 days")
    sink = MemorySink()
    q = (
        out.writeStream.outputMode("update")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    q.processAllAvailable()
    q.stop()
    final = {}
    for _, rows in sorted(sink.batches):
        for r in rows:
            final[r.conv_id] = (r.n_turns, r.n_matches, r.first_match_turn)
    got = {c: v for c, v in final.items() if v[1] > 0}

    batch = spark.read.parquet(src_dir).dropDuplicates(["conv_id", "turn_idx"])
    want = {
        r.conv_id: (r.n_turns, r.n_matches, r.first_match_turn)
        for r in cep_match(batch, "t{2,3}?u").collect()
    }
    assert got == want
    assert want, "fixture produced no matches for 't{2,3}u'"


def test_cep_match_rejects_unsafe_patterns(spark):
    df = None  # validation happens before any Spark work
    for bad in ["t*", "(u)\\1", "u(?=a)", ""]:
        with pytest.raises(ValueError):
            cep_match(df, bad)
    with pytest.raises(ValueError):
        cep_match(df, "ua", symbols={"user": "u", "assistant": "u"})
    with pytest.raises(ValueError):
        cep_match(df, "ua", symbols={"user": "??"})


def test_cep_within_time_bound_excludes_slow_completions(spark):
    """The within-clause: same role sequence, one completing inside the
    span and one straddling it — only the fast one counts; sliding
    (overlapping) starts all count. Brute-forced in Python."""
    import datetime

    from vaero_spark.operators.cep import cep_within

    base = datetime.datetime(2024, 1, 1)
    # conv A: t t u inside 10 min => hit at 0
    # conv B: t t u with 2 h before the u => no hit at span 3600
    # conv C: t t t u tight => 'ttu' hits only at 1; 'tt' hits at 0
    # AND 1 (sliding starts overlap)
    rows = []
    for conv, seq, gaps in [
        ("A", "ttu", [0, 60, 120]),
        ("B", "ttu", [0, 60, 7800]),
        ("C", "tttu", [0, 30, 60, 90]),
    ]:
        roles = {"t": "tool", "u": "user"}
        for i, (s, g) in enumerate(zip(seq, gaps)):
            rows.append((conv, i, roles[s], base + datetime.timedelta(seconds=g)))
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, ts timestamp")
    got = {
        r.conv_id: (r.n_turns, r.n_within, r.first_within_turn)
        for r in cep_within(df, "ttu", 3600).collect()
    }
    assert got == {"A": (3, 1, 0), "C": (4, 1, 1)}
    got_tt = {
        r.conv_id: (r.n_within, r.first_within_turn)
        for r in cep_within(df, "tt", 3600).collect()
    }
    assert got_tt == {"A": (1, 0), "B": (1, 0), "C": (2, 0)}
    with pytest.raises(ValueError):
        cep_within(df, "t", 3600)  # spans need two ends
    with pytest.raises(ValueError):
        cep_within(df, "ttu", -1)


def test_stream_within_every_emission_equals_prefix_batch(spark):
    """Unit-drive the JVM core's within step over random timed role
    strings and every chunking: each emission must equal the brute-force
    sliding lead-chain scan of the consumed prefix (no end-of-stream
    fold exists in these semantics). A second pass draws null event
    times: as in the batch twin's lead chain, a window with a null end
    is no hit."""
    import random

    def brute(seq, mss, literal, span_ms):
        L = len(literal)
        n = first = 0
        first = -1
        for p in range(len(seq) - L + 1):
            t0, t1 = mss[p], mss[p + L - 1]
            if (
                seq[p : p + L] == literal
                and t0 is not None
                and t1 is not None
                and t1 - t0 <= span_ms
            ):
                n += 1
                if first < 0:
                    first = p
        return len(seq), n, first

    literal, span_ms = "ttu", 600_000
    core = JavaCep(spark, "within", [literal, span_ms])
    null_ends = 0  # literal windows with a timed start and a null end
    for null_share, n_trials in ((0.0, 60), (0.3, 200)):
        rng, null_rng = random.Random(9), random.Random(10)
        for trial in range(n_trials):
            n = rng.randrange(2, 9)
            seq = "".join(rng.choice("uat") for _ in range(n))
            base = 1_704_067_200_000
            mss = []
            t = base
            for _ in range(n):
                t += rng.choice([1_000, 120_000, 400_000, 700_000])
                mss.append(None if null_rng.random() < null_share else t)
            null_ends += sum(
                seq.startswith(literal, p) and mss[p] is not None and mss[p + 2] is None
                for p in range(n - 2)
            )
            cuts = sorted(rng.sample(range(1, n), k=min(2, n - 1))) + [n]
            state = KeyState()
            pos = 0
            for cut in cuts:
                for emitted in core.call("c", _rows(range(pos, cut), seq, mss), state):
                    got = emitted.n_turns, emitted.n_within, emitted.first_within_turn
                    assert got == brute(seq[:cut], mss[:cut], literal, span_ms), (
                        seq, mss, cuts, cut,
                    )
                pos = cut
            # carry bounded by L-1 symbols
            assert len(state.get[4] or "") <= len(literal) - 1
    assert null_ends, "null pass drew no window with a null end"


def test_stream_within_drain_equals_batch(spark, tmp_path):
    """Drain the streaming within detector over an out-of-order file
    stream; last emissions (n_within > 0) == the batch operator."""
    import os

    from vaero_spark.operators.cep import cep_within, stream_cep_within
    from vaero_spark.sinks.writers import MemorySink
    from vaero_spark.sources.transcripts import transcripts_stream
    from vaero_spark.testing.fixtures import write_transcripts_parquet

    src_dir = str(tmp_path / "src")
    write_transcripts_parquet(
        src_dir, n_files=5, n_turns=900, n_convs=18, seed=21, role_mode="hash"
    )
    stream = transcripts_stream(spark, src_dir, max_files_per_trigger=1)
    out = stream_cep_within(stream, "tu", 1800, watermark="60 days")
    sink = MemorySink()
    q = (
        out.writeStream.outputMode("update")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    q.processAllAvailable()
    q.stop()
    final = {}
    for _, rows in sorted(sink.batches):
        for r in rows:
            final[r.conv_id] = (r.n_turns, r.n_within, r.first_within_turn)
    got = {c: v for c, v in final.items() if v[1] > 0}
    batch = spark.read.parquet(src_dir).dropDuplicates(["conv_id", "turn_idx"])
    want = {
        r.conv_id: (r.n_turns, r.n_within, r.first_within_turn)
        for r in cep_within(batch, "tu", 1800).collect()
    }
    assert got == want
    assert want, "fixture produced no within-span matches"


def test_cep_match_multi_equals_per_pattern_runs(spark):
    """The one-pass library scan must equal N independent cep_match
    runs, pattern for pattern."""
    from vaero_spark.operators.cep import cep_match, cep_match_multi
    from vaero_spark.testing.fixtures import write_transcripts_parquet

    import tempfile

    d = tempfile.mkdtemp(prefix="cmm_")
    write_transcripts_parquet(d, n_files=1, n_turns=400, n_convs=12, seed=5, role_mode="hash")
    df = spark.read.parquet(d)
    pats = {"loop": "tt+u", "end_u": "u$", "sys": "s[ua]"}
    got = sorted(
        (r.pattern, r.conv_id, r.n_matches, r.first_match_turn)
        for r in cep_match_multi(df, pats).collect()
    )
    want = sorted(
        (name, r.conv_id, r.n_matches, r.first_match_turn)
        for name, pat in pats.items()
        for r in cep_match(df, pat).collect()
    )
    assert got == want and want


#: (step, args) of each pattern step behind the JVM reassembly core
_STEPS = {
    "kleene": ("kleene", ["t{2,3}?u", 3, 4]),
    "absence": ("absence", ["u", "a", 2]),
    "within": ("within", ["tu", 300_000]),
    "absence_time": ("absence_time", ["u", "a", 300_000]),
}


def _rows(idxs, seq, mss):
    """The core's input rows for turns ``idxs`` of symbol string ``seq``
    with event-time ms ``mss`` (``None``: a null ``ts``)."""
    return [(i, seq[i], None if mss[i] is None else mss[i] * 1000) for i in idxs]


def _feed(core, state, idxs, seq, mss):
    return [tuple(r) for r in core.call("c", _rows(idxs, seq, mss), state)]


@pytest.mark.parametrize("step", list(_STEPS))
def test_stream_step_out_of_order_equals_in_order(step, spark):
    """Every CEP step behind the JVM reassembly core: shuffled,
    duplicated arrival in random chunks ends in the same emission and
    the same stored state as in-order arrival in one batch."""
    import random

    core = JavaCep(spark, *_STEPS[step])
    rng = random.Random(17)
    for trial in range(40):
        n = rng.randrange(1, 25)
        seq = "".join(rng.choice("uats") for _ in range(n))
        mss, t = [], 1_704_067_200_000
        for _ in range(n):
            t += rng.choice([1_000, 120_000, 400_000])
            mss.append(t)

        ref = KeyState()
        want = _feed(core, ref, list(range(n)), seq, mss)[-1]

        arrivals = list(range(n)) + [rng.randrange(n) for _ in range(rng.randrange(1, 5))]
        rng.shuffle(arrivals)
        state = KeyState()
        got, pos = None, 0
        while pos < len(arrivals):
            chunk = arrivals[pos : pos + rng.randrange(1, 5)]
            pos += len(chunk)
            got = (_feed(core, state, chunk, seq, mss) or [got])[-1]
        assert got == want, (step, seq, arrivals)
        assert state.get == ref.get, (step, seq, arrivals)


@pytest.mark.parametrize("step", list(_STEPS))
def test_stream_step_timeout_removes_state_and_emits_nothing(step, spark):
    """An idle-timeout call drops the conversation's state and emits
    nothing, even when it carries new rows."""
    seq, mss = "uttua", [1_704_067_200_000 + i * 1_000 for i in range(5)]
    core, state = JavaCep(spark, *_STEPS[step]), KeyState()
    assert _feed(core, state, [0, 1, 3], seq, mss)
    assert state.exists
    state.hasTimedOut = True
    assert _feed(core, state, [2, 4], seq, mss) == []
    assert not state.exists and state.get is None


def test_stream_step_limits_above_int32(spark):
    """A ms limit above 2^31 reaches the JVM core whole: with a 30-day
    span (2.59e9 ms), turns 25 days apart complete a within window and
    answer a time-based absence trigger."""
    month_ms, later_us = 30 * 86_400_000, _T0_US + 25 * 86_400_000_000
    rows = [(0, "t", _T0_US), (1, "u", later_us)]
    within = JavaCep(spark, "within", ["tu", month_ms]).call("c", rows, KeyState())
    assert [tuple(r) for r in within] == [("c", 2, 1, 0)]
    rows = [(0, "u", _T0_US), (1, "a", later_us)]
    absence = JavaCep(spark, "absence_time", ["u", "a", month_ms]).call("c", rows, KeyState())
    assert [tuple(r) for r in absence] == [("c", 2, 1, 0, -1)]


#: every streaming CEP operator, as its gate builds it
_STREAM_OPS = {
    "stream_cep": lambda s: stream_cep_match(s, "ttu"),
    "stream_cep_kleene": lambda s: stream_cep_kleene(s, "t{1,3}u"),
    "stream_absence": lambda s: stream_cep_absence(s, k=3),
    "stream_within": lambda s: stream_cep_within(s, "ttu", 21600),
    "stream_absence_t": lambda s: stream_cep_absence_time(s, max_wait_s=3600),
}


@pytest.mark.parametrize("gate", list(_STREAM_OPS))
def test_stream_cep_runs_in_the_jvm_core(spark, tmp_path, capsys, gate):
    """Each streaming CEP operator plans one ``FlatMapGroupsWithState``
    (the JVM core) and no Python state operator."""
    from vaero_spark.sources.transcripts import transcripts_stream

    _STREAM_OPS[gate](transcripts_stream(spark, str(tmp_path))).explain()
    plan = capsys.readouterr().out
    assert plan.count("FlatMapGroupsWithState") == 1, plan
    assert "InPandas" not in plan and "Python" not in plan, plan


@pytest.mark.parametrize("gate", list(_STREAM_OPS))
def test_stream_cep_fails_fast_without_the_jar(gate):
    """JVM-free: without the jar py4j resolves ``vaero.state.Reassembly``
    to a package, and the query would fail mid-stream with "'JavaPackage'
    object is not callable". The operator refuses while it is built,
    naming the jar and ``spark.jars``, before it touches the stream."""
    from types import SimpleNamespace

    from py4j.java_gateway import JavaPackage

    missing = JavaPackage("vaero.state.Reassembly", None)
    jvm = SimpleNamespace(vaero=SimpleNamespace(state=SimpleNamespace(Reassembly=missing)))
    stream = SimpleNamespace(sparkSession=SimpleNamespace(_jvm=jvm))
    with pytest.raises(RuntimeError, match=r"vaero\.jar.*spark\.jars"):
        _STREAM_OPS[gate](stream)
