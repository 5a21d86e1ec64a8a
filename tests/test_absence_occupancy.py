"""CEP negation (absence) and interval-concurrency occupancy tests.

The absence state machine is verified exhaustively at the unit level
(every role string x every chunking, vs a brute-force prefix scan) and
end-to-end (drained == batch operator); the occupancy operator is
verified against a brute-force sweep over random spans.
"""

from __future__ import annotations

import itertools
import random

import pytest

from vaero_spark.operators.cep import cep_absence, stream_cep_absence
from vaero_spark.operators.state import unpack_longs
from vaero_spark.operators.windows import concurrency_by_hour
from vaero_spark.testing.jvm_state import JavaCep, KeyState

#: 2024-01-01 in µs, the event time of the count-based cases
_T0_US = 1_704_067_200_000_000


def _brute_absence(seq: str, k: int = 3, trig: str = "u", resp: str = "a"):
    """Brute-force batch semantics over a symbol string: a trigger at i
    is dangling iff no response occurs at positions (i, i+k] within the
    string (end of string = no response came)."""
    n_trig = n_dang = 0
    first = -1
    for i, s in enumerate(seq):
        if s != trig:
            continue
        n_trig += 1
        if not any(c == resp for c in seq[i + 1 : i + 1 + k]):
            n_dang += 1
            if first < 0:
                first = i
    return len(seq), n_trig, n_dang, first


def _drive(core: JavaCep, seq: str, splits: tuple[int, ...], memo: dict):
    """Feed ``seq`` to the JVM core's absence step in chunks (in order)
    and return every emission as (n_turns, n_triggers, n_dangling,
    first), with the key's state after the last chunk.

    The core is deterministic, so ``memo`` maps each chunk path already
    fed (the tuple of chunks) to its emissions and the state after them,
    and the feed resumes from the longest memoized prefix of this path."""
    chunks, pos = [], 0
    for ln in splits:
        chunks.append(seq[pos : pos + ln])
        pos += ln
    done = len(chunks)
    while done and tuple(chunks[:done]) not in memo:
        done -= 1
    out, state = memo.get(tuple(chunks[:done]), ((), KeyState()))
    out, state = list(out), state.copy()
    pos = sum(map(len, chunks[:done]))
    for i in range(done, len(chunks)):
        rows = [(j, seq[j], _T0_US) for j in range(pos, pos + len(chunks[i]))]
        out += [tuple(emitted[1:]) for emitted in core.call("c", rows, state)]
        pos += len(chunks[i])
        memo[tuple(chunks[: i + 1])] = (tuple(out), state.copy())
    return out, state


def _splits(n: int):
    """All ways to cut a length-n string into 1..3 contiguous chunks."""
    yield (n,)
    for a in range(1, n):
        yield (a, n - a)
    for a in range(1, n - 1):
        for b in range(1, n - a):
            yield (a, b, n - a - b)


def test_stream_absence_every_emission_equals_prefix_batch(spark):
    """Exhaustive: for every role string up to length 6 over {u,a,t}
    and every 1-3-chunk split, EVERY emission equals the brute-force
    batch scan of the prefix consumed so far, and open-trigger state
    stays <= k."""
    k = 2
    core = JavaCep(spark, "absence", ["u", "a", k])
    memo: dict = {}
    for n in range(1, 7):
        for seq in map("".join, itertools.product("uat", repeat=n)):
            want_final = _brute_absence(seq, k)
            for sp in _splits(n):
                out, state = _drive(core, seq, sp, memo)
                pos = 0
                for (n_turns, n_trig, n_dang, first), ln in zip(out, sp):
                    pos += ln
                    assert (n_turns, n_trig, n_dang, first) == _brute_absence(
                        seq[:pos], k
                    ), (seq, sp, pos)
                assert out[-1] == want_final, (seq, sp)
                # open triggers bounded: a trigger expires on the next
                # processed turn once its k-window is seen, so at most
                # k+1 are ever open (e.g. "uuu" with k=2 holds 0,1,2)
                assert len(unpack_longs(state.get[3]) or []) <= k + 1


def test_stream_absence_fn_out_of_order_and_dups(spark):
    """Out-of-order arrival buffers in pend until the contiguous prefix
    reaches it; duplicate turns drop (first arrival wins)."""
    core = JavaCep(spark, "absence", ["u", "a", 3])
    state = KeyState()
    seq = "utttaut"  # u@0 answered at 4 (gap 4 > 3 => dangling!), u@5 open

    def feed(idxs):
        return core.call("c", [(i, seq[i], _T0_US) for i in idxs], state)

    assert feed([2, 4, 6]) == []  # nothing contiguous yet
    out = feed([0, 1, 3, 5, 0])  # completes 0..6; dup of 0 drops
    assert len(out) == 1
    r = out[0]
    assert r.n_turns == 7
    assert r.n_triggers == 2
    # u@0: a arrives at 4, gap 4 > k=3 => dangling; u@5: no response
    # before prefix end => dangling-at-prefix-end
    assert r.n_dangling == 2
    assert r.first_dangling_turn == 0


def test_stream_absence_drain_equals_batch(spark, tmp_path):
    """Drain the streaming absence detector over a file stream; the
    last emission per conversation (filtered to n_dangling > 0) equals
    the batch operator row for row."""
    import os

    from vaero_spark.sinks.writers import MemorySink
    from vaero_spark.sources.transcripts import transcripts_stream
    from vaero_spark.testing.fixtures import write_transcripts_parquet

    src_dir = str(tmp_path / "src")
    write_transcripts_parquet(
        src_dir, n_files=5, n_turns=1000, n_convs=25, seed=7, role_mode="hash"
    )
    stream = transcripts_stream(spark, src_dir, max_files_per_trigger=1)
    out = stream_cep_absence(stream, k=2, watermark="60 days")
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
            final[r.conv_id] = (r.n_turns, r.n_triggers, r.n_dangling, r.first_dangling_turn)
    got = {c: v for c, v in final.items() if v[2] > 0}

    batch = spark.read.parquet(src_dir).dropDuplicates(["conv_id", "turn_idx"])
    want = {
        r.conv_id: (r.n_turns, r.n_triggers, r.n_dangling, r.first_dangling_turn)
        for r in cep_absence(batch, k=2).collect()
    }
    assert got == want
    assert want, "fixture produced no dangling triggers"


def test_cep_absence_rejects_bad_args():
    with pytest.raises(ValueError):
        cep_absence(None, trigger_role="user", response_role="user")
    with pytest.raises(ValueError):
        cep_absence(None, k=0)
    with pytest.raises(ValueError):
        stream_cep_absence(None, trigger_role="user", response_role="user")


def _brute_max_concurrency(spans, hour_ms=3_600_000):
    """Brute-force per-hour max concurrency: evaluate the open count at
    every span boundary instant (starts count before ends at a tie)."""
    events = sorted(
        [(s, 1) for s, _ in spans] + [(e, -1) for _, e in spans],
        key=lambda t: (t[0], -t[1]),
    )
    per_hour: dict[int, list[int]] = {}
    open_n = 0
    for ms, d in events:
        open_n += d
        per_hour.setdefault(ms // hour_ms * hour_ms, []).append(open_n)
    # occupancy persists between events: the carry INTO an hour is also
    # a candidate max (all-ends hours peak at their start)
    out = {}
    carry = 0
    for h in sorted(per_hour):
        vals = per_hour[h]
        out[h] = max([carry] + vals)
        carry = vals[-1]
    return out


def test_concurrency_by_hour_bruteforce(spark):
    rng = random.Random(42)
    base = 1_704_067_200_000  # 2024-01-01 UTC
    rows = []
    spans = []
    for i in range(300):
        start = base + rng.randrange(0, 48 * 3_600_000)
        end = start + rng.randrange(0, 6 * 3_600_000)
        spans.append((start, end))
        # two turns per conv pin its span exactly
        rows.append((f"c{i}", start))
        rows.append((f"c{i}", end))
    df = spark.createDataFrame(rows, "conv_id string, ms long").selectExpr(
        "conv_id", "timestamp_millis(ms) AS ts"
    )
    got = {
        r.hour_ms: (r.max_open, r.n_starts, r.n_ends)
        for r in concurrency_by_hour(df).collect()
    }
    want_max = _brute_max_concurrency(spans)
    assert set(got) == set(want_max)
    for h, m in want_max.items():
        assert got[h][0] == m, h
    assert sum(v[1] for v in got.values()) == 300
    assert sum(v[2] for v in got.values()) == 300


def test_stream_outer_join_drain_equals_batch_left_join(spark, tmp_path):
    """Left-outer stream-stream join: matches emit eagerly; unmatched
    user turns emit with null tool columns at state eviction (watermark
    past user_ts + lag, advanced by a both-sides sentinel). Drained ==
    the batch left join."""
    import datetime

    from pyspark.sql import functions as F

    from vaero_spark.operators.joins import streaming_user_tool_join, user_tool_join
    from vaero_spark.sinks.writers import MemorySink
    from vaero_spark.sources.transcripts import TRANSCRIPTS_SCHEMA
    from vaero_spark.testing.fixtures import write_transcripts_parquet

    src_dir = str(tmp_path / "src")
    write_transcripts_parquet(
        src_dir, n_files=1, n_turns=600, n_convs=20, seed=3, role_mode="hash"
    )
    batch = spark.read.parquet(src_dir)
    max_ts = batch.agg(F.max("ts")).first()[0]
    stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(src_dir)
    out = streaming_user_tool_join(
        stream, watermark="1 hour", max_lag="5 minutes", how="left_outer"
    )
    sink = MemorySink()
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    q.processAllAvailable()
    sentinel = spark.createDataFrame(
        [
            ("__sentinel__", 0, "user", "", "", max_ts + datetime.timedelta(days=1)),
            ("__sentinel__", 1, "tool", "", "calc", max_ts + datetime.timedelta(days=1)),
        ],
        TRANSCRIPTS_SCHEMA,
    )
    sentinel.write.mode("append").parquet(src_dir)
    q.processAllAvailable()
    q.stop()
    got = sorted(
        (r.conv_id, r.user_turn, r.tool_turn, r.tool_name)
        for _, b in sink.batches
        for r in b
        if not r.conv_id.startswith("__sentinel")
    )
    want = sorted(
        (r.conv_id, r.user_turn, r.tool_turn, r.tool_name)
        for r in user_tool_join(batch, max_lag="5 minutes", how="left_outer").collect()
    )
    assert got == want
    assert any(t[2] is None for t in want), "fixture produced no unmatched users"
    assert any(t[2] is not None for t in want), "fixture produced no matches"


def test_stream_absence_resumes_from_checkpoint(spark, tmp_path):
    """Stop the absence detector mid-stream, restart from the same
    checkpoint over a grown input, and the combined drained result must
    still equal the batch operator — the state store reloads the
    pending buffers and settled counters exactly."""
    import os

    from vaero_spark.sinks.writers import MemorySink
    from vaero_spark.sources.transcripts import TRANSCRIPTS_SCHEMA
    from vaero_spark.testing.fixtures import write_transcripts_parquet

    src_dir = str(tmp_path / "src")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    write_transcripts_parquet(
        src_dir, n_files=6, n_turns=900, n_convs=20, seed=13, role_mode="hash"
    )

    def run_until_drained(sink):
        stream = (
            spark.readStream.schema(TRANSCRIPTS_SCHEMA)
            .option("maxFilesPerTrigger", "2")
            .parquet(src_dir)
        )
        q = (
            stream_cep_absence(stream, k=2, watermark="60 days")
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink.foreach_batch())
            .start()
        )
        q.processAllAvailable()
        q.stop()

    sink1 = MemorySink()
    run_until_drained(sink1)  # phase 1: all 6 files
    # grow the input AFTER the first run stopped: replaying two of the
    # original files as "new" data exercises resume AND duplicate-drop
    # (the state machine ignores already-consumed turn indexes)
    import shutil

    for i, f in enumerate(sorted(os.listdir(src_dir))[:2]):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(src_dir, f), os.path.join(src_dir, f"re_{i}.parquet"))
    sink2 = MemorySink()
    run_until_drained(sink2)  # phase 2: resumes, sees the new files only
    final = {}
    for _, rows in sorted(sink1.batches) + sorted(sink2.batches):
        for r in rows:
            final[r.conv_id] = (r.n_turns, r.n_triggers, r.n_dangling, r.first_dangling_turn)
    got = {c: v for c, v in final.items() if v[2] > 0}
    batch = spark.read.parquet(src_dir).dropDuplicates(["conv_id", "turn_idx"])
    want = {
        r.conv_id: (r.n_turns, r.n_triggers, r.n_dangling, r.first_dangling_turn)
        for r in cep_absence(batch, k=2).collect()
    }
    assert got == want and want


def test_stream_absence_time_emissions_equal_prefix_batch(spark):
    """Time-based absence: random timed role strings x chunkings — every
    emission equals the brute-force time-window scan of the prefix. A
    second pass draws null event times with the batch twin's semantics
    (``MIN`` skips null response times; NULL arithmetic answers a
    null-time trigger by any later timed response)."""
    import random

    def brute(seq, mss, wait_ms):
        n_trig = n_dang = 0
        first = -1
        for i, s in enumerate(seq):
            if s != "u":
                continue
            n_trig += 1
            answered = any(
                seq[j] == "a"
                and mss[j] is not None
                and (mss[i] is None or mss[j] - mss[i] <= wait_ms)
                for j in range(i + 1, len(seq))
            )
            if not answered:
                n_dang += 1
                if first < 0:
                    first = i
        return len(seq), n_trig, n_dang, first

    wait_ms = 300_000
    core = JavaCep(spark, "absence_time", ["u", "a", wait_ms])
    for null_share in (0.0, 0.3):
        rng, null_rng = random.Random(31), random.Random(32)
        for trial in range(80):
            n = rng.randrange(2, 9)
            seq = "".join(rng.choice("uat") for _ in range(n))
            base = 1_704_067_200_000
            mss = []
            t = base
            for _ in range(n):
                t += rng.choice([1_000, 60_000, 200_000, 400_000])
                mss.append(None if null_rng.random() < null_share else t)
            cuts = sorted(rng.sample(range(1, n), k=min(2, n - 1))) + [n]
            state = KeyState()
            pos = 0
            for cut in cuts:
                rows = [
                    (i, seq[i], None if mss[i] is None else mss[i] * 1000)
                    for i in range(pos, cut)
                ]
                for emitted in core.call("c", rows, state):
                    got = tuple(emitted[1:])
                    assert got == brute(seq[:cut], mss[:cut], wait_ms), (
                        seq, mss, cuts, cut,
                    )
                pos = cut
