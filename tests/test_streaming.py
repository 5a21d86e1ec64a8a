"""Structured Streaming semantics tests (SURVEY.md §5.3-4):
watermark late-drop, windowed aggregation in streams, stream-stream
join, multi-sink fan-out, exactly-once checkpoint resume, lineage."""

from __future__ import annotations

import glob
import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from vaero_spark.operators.joins import streaming_user_tool_join
from vaero_spark.operators.windows import windowed_counts
from vaero_spark.sinks.writers import ExactlyOnceParquetSink, MemorySink
from vaero_spark.sources.transcripts import transcripts_stream
from vaero_spark.streaming.engine import run_streaming_fanout
from vaero_spark.streaming.lineage import MetricsListener
from vaero_spark.testing.fixtures import write_transcripts_parquet


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_src")
    pdf = write_transcripts_parquet(str(d), n_files=4, n_turns=2000, n_convs=50, seed=7)
    return str(d), pdf


def _run_to_memory(spark, df, tmp, mode="append", name="q"):
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


def test_stream_tumbling_window_matches_batch(spark, stream_dir, tmp_path):
    src_dir, _ = stream_dir
    stream = transcripts_stream(spark, src_dir, max_files_per_trigger=1)
    agg = windowed_counts(stream.withWatermark("ts", "1 hour"), "1 hour")
    sink = _run_to_memory(spark, agg, str(tmp_path), "append", "tumble")
    got = {(r.conv_id, r.win_start): r.n_turns for r in sink.rows()}

    batch = windowed_counts(spark.read.parquet(src_dir), "1 hour")
    want = {(r.conv_id, r.win_start): r.n_turns for r in batch.collect()}
    # append mode emits only windows finalized by the watermark; every
    # emitted window must exactly match its batch twin, and most windows
    # must have been emitted (the tail stays open at end of input)
    assert got, "no windows emitted"
    for k, v in got.items():
        assert want.get(k) == v, k
    assert len(got) >= 0.8 * len(want)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data gate (the principled version of the reference's Okta
    cursor drop, source_okta.py:91-113): once the watermark finalizes and
    emits a window, a late row targeting that window is discarded — it
    neither re-emits nor corrupts the count."""
    import time

    src = tmp_path / "late_src"
    src.mkdir()
    base = pd.Timestamp("2024-03-01 12:00:00")

    def mk(rows):
        conv, idx, txt, ts = zip(*rows)
        return pd.DataFrame(
            {
                "conv_id": conv,
                "turn_idx": pd.array(idx, dtype="int32"),
                "role": ["user"] * len(rows),
                "text": txt,
                "tool": [""] * len(rows),
                "ts": pd.Series(ts).astype("datetime64[us]"),
            }
        )

    files = [
        mk([("c1", 0, "a", base), ("c1", 1, "b", base + pd.Timedelta("1h"))]),
        # advances watermark to 15:50 → windows 12:00 and 13:00 finalized
        mk([("c1", 2, "c", base + pd.Timedelta("4h"))]),
        # late row into the already-emitted 12:00 window + an on-time row
        mk([("c1", 3, "late", base + pd.Timedelta("5 minutes")),
            ("c1", 4, "d", base + pd.Timedelta("5h"))]),
    ]
    for i, f in enumerate(files):
        f.to_parquet(src / f"f{i}.parquet", index=False)
        time.sleep(1.1)  # distinct mtimes: file source orders triggers by mtime

    stream = transcripts_stream(spark, str(src), max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("conv_id", F.window("ts", "30 minutes"))
        .count()
    )
    sink = _run_to_memory(spark, agg, str(tmp_path), "append", "late")
    by_window = {}
    for r in sink.rows():
        by_window.setdefault(r["window"].start, []).append(r["count"])
    w12 = pd.Timestamp("2024-03-01 12:00:00")
    # emitted exactly once, count 1 — the late row was dropped, not merged
    assert by_window.get(w12) == [1]


def test_stream_stream_join(spark, stream_dir, tmp_path):
    src_dir, pdf = stream_dir
    stream = transcripts_stream(spark, src_dir, max_files_per_trigger=2)
    joined = streaming_user_tool_join(stream, watermark="2 hours", max_lag="30 minutes")
    sink = _run_to_memory(spark, joined, str(tmp_path), "append", "join")
    got = {(r.conv_id, r.user_turn, r.tool_turn) for r in sink.rows()}

    # batch oracle of the same join
    from vaero_spark.operators.joins import user_tool_join

    batch = user_tool_join(spark.read.parquet(src_dir), "30 minutes")
    want = {(r.conv_id, r.user_turn, r.tool_turn) for r in batch.collect()}
    assert got == want


def test_exactly_once_resume(spark, tmp_path):
    """Kill the query mid-stream, restart from checkpoint: output row-set
    equals an uninterrupted run (no dupes, no loss) — SURVEY.md §5.4."""
    src = tmp_path / "src"
    write_transcripts_parquet(str(src), n_files=6, n_turns=1200, n_convs=30, seed=11)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    sink = ExactlyOnceParquetSink(out)

    def start():
        stream = transcripts_stream(spark, str(src), max_files_per_trigger=2)
        clean = stream.filter(F.col("role") != "system")
        return (
            clean.writeStream.option("checkpointLocation", ckpt)
            .foreachBatch(sink.foreach_batch())
            .start()
        )

    q = start()
    # let at least one micro-batch commit, then kill mid-stream
    while not q.recentProgress:
        q.awaitTermination(0.2)
    q.stop()

    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    got = sink.read_committed(spark)
    expected = (
        spark.read.parquet(str(src)).filter(F.col("role") != "system")
    )
    g = sorted((r.conv_id, r.turn_idx, r.text) for r in got.select("conv_id", "turn_idx", "text").collect())
    w = sorted((r.conv_id, r.turn_idx, r.text) for r in expected.select("conv_id", "turn_idx", "text").collect())
    assert g == w  # bit-for-bit per-turn text equality, no dupes/loss


def test_epoch_redelivery_is_idempotent(spark, tmp_path):
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"))
    from datetime import datetime

    df = spark.createDataFrame(
        [("c1", 0, "user", "hello", "", datetime(2024, 3, 1))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    m1 = sink.write(df, 7)
    m2 = sink.write(df, 7)  # re-delivery of same epoch
    assert m1["rows"] == 1 and m2["rows"] == 1
    assert sink.read_committed(spark).count() == 1
    # per-partition lineage: the manifest records what landed where
    (part,) = m1["partitions"].keys()
    assert part.startswith("prefix=2024-03-01")
    assert m1["partitions"][part]["files"] >= 1
    assert m1["partitions"][part]["bytes"] > 0


def test_multi_sink_fanout_exactly_once(spark, tmp_path):
    """Branch fan-out in one query: route errors/rest to two parquet
    sinks; both exactly-once; shared prefix computed once per epoch."""
    src = tmp_path / "src"
    write_transcripts_parquet(str(src), n_files=3, n_turns=900, n_convs=20, seed=13)
    stream = transcripts_stream(spark, str(src), max_files_per_trigger=1)

    sinks_dir = tmp_path / "sinks"
    branch_fns = {
        "users": lambda df: df.filter(F.col("role") == "user"),
        "tools": lambda df: df.filter(F.col("role") == "tool"),
    }
    pipe = run_streaming_fanout(
        spark,
        stream,
        branch_fns,
        sink_factory=lambda name: ExactlyOnceParquetSink(str(sinks_dir / name)),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    pipe.process_all()
    pipe.stop()

    full = spark.read.parquet(str(src))
    for name, cond in [("users", "user"), ("tools", "tool")]:
        got = pipe.sinks[name].read_committed(spark).count()
        want = full.filter(F.col("role") == cond).count()
        assert got == want, name


def test_multi_sink_dsl_plan_fanout(spark, tmp_path):
    """A branched DSL plan through run_streaming_plan: the common tn
    prefix (mask) must be applied once and visible in BOTH branches;
    each branch sees only its route; exactly-once sinks."""
    from vaero_spark.dsl import Vaero
    from vaero_spark.streaming.engine import run_streaming_plan

    src = tmp_path / "src"
    write_transcripts_parquet(str(src), n_files=3, n_turns=600, n_convs=15, seed=29)

    v = Vaero().source("transcripts", path=str(src), max_files_per_trigger=1)
    shared = v.mask("text", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>")
    shared.filter_regexp("role", "^user$").add("route", "users").sink("parquet", name="users")
    shared.filter_regexp("role", "^tool$").add("route", "tools").sink("parquet", name="tools")

    from vaero_spark.sinks.writers import default_sink_factory

    pipe = run_streaming_plan(
        spark,
        v.plan(),
        checkpoint_dir=str(tmp_path / "ckpt"),
        sink_factory=default_sink_factory(str(tmp_path / "sinks")),
    )
    pipe.process_all()
    pipe.stop()

    full = spark.read.parquet(str(src))
    for name, role in [("users", "user"), ("tools", "tool")]:
        got = pipe.sinks[name].read_committed(spark)
        assert got.count() == full.filter(F.col("role") == role).count(), name
        assert got.select("route").distinct().collect()[0].route == name
        # the shared mask ran before the fork: no raw emails survive
        assert got.filter(F.col("text").rlike("@[A-Za-z0-9.-]+[.]")).count() == 0
        assert got.filter(F.col("text").contains("<EMAIL>")).count() > 0, name


def _forked_plan(src_dir: str, prefix_op=None, branch_op=None):
    """source → [prefix_op] → fork(users / tools, each [branch_op] then
    its role filter) → two memory sinks."""
    from vaero_spark.dsl import Vaero

    v = Vaero().source("transcripts", path=src_dir, max_files_per_trigger=1)
    if prefix_op:
        v = prefix_op(v)
    for name, role in [("users", "user"), ("tools", "tool")]:
        b = branch_op(v) if branch_op else v
        b.filter_regexp("role", f"^{role}$").sink("memory", name=name)
    return v.plan()


def test_stateful_prefix_keeps_state_across_epochs(spark, tmp_path):
    """dedup before the fork runs stream-side: a row repeated in a later
    epoch is dropped in every branch, and each sink drains exactly what
    compile_batch computes for the same plan on the same input."""
    import collections
    import shutil

    from vaero_spark.compiler import compile_batch
    from vaero_spark.sources.transcripts import TRANSCRIPTS_SCHEMA
    from vaero_spark.streaming.engine import run_streaming_plan

    src = tmp_path / "src"
    write_transcripts_parquet(str(src), n_files=1, n_turns=300, n_convs=8, seed=37)
    # the same rows again in a second file: a second epoch
    shutil.copy(src / "part-0000.parquet", src / "part-0001.parquet")

    def plan():
        return _forked_plan(str(src), prefix_op=lambda v: v.dedup(["conv_id", "turn_idx"]))

    sinks = collections.defaultdict(MemorySink)
    pipe = run_streaming_plan(
        spark, plan(), str(tmp_path / "ckpt"), sink_factory=lambda n, node: sinks[n]
    )
    try:
        pipe.process_all()
    finally:
        pipe.stop()
    assert len(sinks["users"].batches) == 2  # one file per epoch

    batch = compile_batch(
        spark,
        plan(),
        source_resolver=lambda s, node: s.read.schema(TRANSCRIPTS_SCHEMA).parquet(
            str(src)
        ),
    )
    for name in ("users", "tools"):
        got = sinks[name].rows()
        keys = collections.Counter((r.conv_id, r.turn_idx) for r in got)
        assert got and max(keys.values()) == 1, name
        want = batch.sinks[name].collect()
        assert collections.Counter(map(tuple, got)) == collections.Counter(
            map(tuple, want)
        ), name


_BRANCH_STATEFUL = {
    "dedup": lambda v: v.dedup(["conv_id", "turn_idx"]),
    "watermark": lambda v: v.watermark("ts", "1 hour"),
    "window": lambda v: v.window("1 hour"),
    "session_window": lambda v: v.session_window("30 minutes"),
}


@pytest.mark.parametrize("op", list(_BRANCH_STATEFUL))
def test_stateful_op_after_fork_rejected(spark, tmp_path, op):
    """A stateful op in a branch suffix would run per epoch in batch
    mode; it is refused, naming the op and the sink, before any query
    starts or any checkpoint metadata is written."""
    from vaero_spark.streaming.engine import run_streaming_plan

    src = tmp_path / "src"
    write_transcripts_parquet(str(src), n_files=1, n_turns=50, n_convs=2, seed=3)
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match=f"sink 'users': stateful op '{op}'"):
        run_streaming_plan(
            spark,
            _forked_plan(str(src), branch_op=_BRANCH_STATEFUL[op]),
            str(tmp_path / "ckpt"),
            sink_factory=lambda n, node: MemorySink(),
        )
    assert len(spark.streams.active) == active
    assert not (tmp_path / "ckpt").exists()


def test_duplicate_sink_names_raise(spark, tmp_path):
    """compile_batch and run_streaming_plan share one plan walk: two
    sinks with one name are refused by both, not collapsed into one."""
    from vaero_spark.compiler import compile_batch
    from vaero_spark.dsl import Vaero
    from vaero_spark.streaming.engine import run_streaming_plan

    src = tmp_path / "src"
    write_transcripts_parquet(str(src), n_files=1, n_turns=50, n_convs=2, seed=5)
    v = Vaero().source("transcripts", path=str(src))
    v.filter_regexp("role", "^user$").sink("memory", name="out")
    v.filter_regexp("role", "^tool$").sink("memory", name="out")
    with pytest.raises(ValueError, match="duplicate sink name 'out'"):
        compile_batch(spark, v.plan(), source_resolver=lambda s, node: s.read.parquet(str(src)))
    with pytest.raises(ValueError, match="duplicate sink name 'out'"):
        run_streaming_plan(
            spark, v.plan(), str(tmp_path / "ckpt"), sink_factory=lambda n, node: MemorySink()
        )


def test_checkpoint_refuses_changed_plan(spark, tmp_path):
    """Resume with the SAME plan works; a semantically different plan on
    the same checkpoint is refused loudly (SURVEY §3: resume must
    validate plan compatibility — Spark alone would silently resume
    with changed transforms)."""
    import pytest as _pytest

    from vaero_spark.dsl import Vaero
    from vaero_spark.sinks.writers import MemorySink
    from vaero_spark.streaming.engine import run_streaming_plan

    src = tmp_path / "src"
    write_transcripts_parquet(str(src), n_files=2, n_turns=200, n_convs=5, seed=31)
    ckpt = str(tmp_path / "ckpt")

    def build(regexp: str):
        v = Vaero().source("transcripts", path=str(src), max_files_per_trigger=1)
        return v.mask("text", regexp, "<X>").sink("memory", name="out").plan()

    sink = MemorySink()
    pipe = run_streaming_plan(
        spark, build("error"), ckpt, sink_factory=lambda n, node: sink
    )
    pipe.process_all()
    pipe.stop()

    # same plan (rebuilt — identity differs, semantics equal): resumes
    pipe2 = run_streaming_plan(
        spark, build("error"), ckpt, sink_factory=lambda n, node: sink
    )
    pipe2.process_all()
    pipe2.stop()

    # changed transform arg: refused before any query starts
    with _pytest.raises(ValueError, match="different pipeline"):
        run_streaming_plan(
            spark, build("warning"), ckpt, sink_factory=lambda n, node: sink
        )


def test_metrics_listener_lineage(spark, tmp_path):
    src = tmp_path / "src"
    write_transcripts_parquet(str(src), n_files=2, n_turns=400, n_convs=10, seed=17)
    listener = MetricsListener(str(tmp_path / "metrics"))
    spark.streams.addListener(listener)
    try:
        stream = transcripts_stream(spark, str(src), max_files_per_trigger=1)
        sink = MemorySink()
        q = (
            stream.writeStream.option("checkpointLocation", str(tmp_path / "ckpt"))
            .foreachBatch(sink.foreach_batch())
            .start()
        )
        q.processAllAvailable()
        q.stop()
        # listener delivery is async
        import time

        for _ in range(50):
            if os.path.exists(listener.path) and any(
                '"progress"' in line for line in open(listener.path)
            ):
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    lines = [json.loads(line) for line in open(listener.path)]
    progress = [r for r in lines if r["event"] == "progress" and r["numInputRows"] > 0]
    assert progress, "no progress records"
    # lineage: every epoch records its source offsets
    assert all(r["sources"] and r["sources"][0]["endOffset"] for r in progress)
