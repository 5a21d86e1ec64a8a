"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline smoke check at sf0.001.
``queries()`` — one callable per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent SQL per query key.

The canonical ``transcripts`` table (BASELINE.json input_hint) is
derived deterministically from the driver's ``events`` parquet by
``vaero_spark.sources.transcripts`` — the Spark derivation and the
``TRANSCRIPTS_ORACLE_CTE`` DuckDB CTE are the same pure function, so
every transcript-operator oracle rebuilds the identical input.
"""

from __future__ import annotations

import datetime
import sys
from collections.abc import Callable
from functools import partial
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from vaero_spark.dsl import Vaero
from vaero_spark.compiler import compile_batch
from vaero_spark.operators.assemble import assemble_sql as _assemble_sql
from vaero_spark.functions import text as TXT
from vaero_spark.operators import dedup as DD
from vaero_spark.operators import cep as CEP
from vaero_spark.operators import multimodal as MM
from vaero_spark.operators import similarity as SIM
from vaero_spark.operators import transforms as TR
from vaero_spark.operators.joins import asof_join_last_user, user_tool_join
from vaero_spark.operators.skew import salted_agg
from vaero_spark.operators import windows as WINDOWS
from vaero_spark.operators.windows import session_windows, windowed_counts
from vaero_spark.sinks.writers import ExactlyOnceParquetSink, MemorySink
from vaero_spark.sources import corpus as CORPUS
from vaero_spark.sources.transcripts import (
    TRANSCRIPTS_ORACLE_CTE,
    TRANSCRIPTS_SCHEMA,
    TRANSCRIPTS_WITH_DUPES_ORACLE_CTE,
    load_table,
    load_transcripts,
    load_transcripts_with_dupes,
)

_T = f"WITH {TRANSCRIPTS_ORACLE_CTE}"
_TD = f"WITH {TRANSCRIPTS_WITH_DUPES_ORACLE_CTE}"

EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full tap→transform→window pipeline on sf0.001 — mask
    PII, drop system turns, session-windowed per-conversation rollup."""
    sf_dir = "/root/testdata/sf0.001"
    t = load_transcripts(spark, sf_dir)
    t = TR.mask(t, "text", EMAIL_RE, "<EMAIL>")
    t = TR.filter_regexp(t, "role", "^(user|assistant|tool)$")
    return session_windows(t, "30 minutes")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _dsl_pipeline(spark: SparkSession, sf_dir: str, build) -> DataFrame:
    """Build a single-sink pipeline through the DSL + compiler."""
    p = build(Vaero().source("transcripts", sf_dir=sf_dir))
    compiled = compile_batch(spark, p.sink("stdout", name="out").plan())
    return compiled.sinks["out"]


def q_t_add(spark, sf_dir):
    """Reference `add` (transform/add.go) via DSL→compiler."""
    return _dsl_pipeline(spark, sf_dir, lambda v: v.add("replay", True).add("pipeline", "p1"))


def q_t_rename_delete(spark, sf_dir):
    """Reference `rename` + `delete` (transform/rename.go, delete.go)."""
    return _dsl_pipeline(spark, sf_dir, lambda v: v.rename("text", "payload").delete("tool"))


def q_t_filter(spark, sf_dir):
    """Reference `filter_regexp` (transform/filter_regexp.go): unanchored match."""
    return _dsl_pipeline(spark, sf_dir, lambda v: v.filter_regexp("text", "error"))


def q_t_mask(spark, sf_dir):
    """Reference `mask` (transform/mask.go): replace-all with group expansion."""
    return _dsl_pipeline(
        spark, sf_dir, lambda v: v.mask("text", "user([0-9]+)@[A-Za-z0-9.-]+", "u$1@<MASKED>")
    )


def q_t_parse(spark, sf_dir):
    """Reference `parse_regexp` (transform/parse_regexp.go): named groups
    → new fields; no-match null-fills (documented divergence)."""
    return _dsl_pipeline(
        spark,
        sf_dir,
        lambda v: v.parse_regexp("text", "k=(?<kval>[0-9]+)").parse_regexp(
            "text", "contact (?<euser>user[0-9]+)@"
        ),
    )


def q_t_select(spark, sf_dir):
    """Reference `select` (transform/select.go): event becomes bare payload."""
    return _dsl_pipeline(spark, sf_dir, lambda v: v.select("text"))


def q_t_sample(spark, sf_dir):
    """North-star `sample`: deterministic md5-bucket sample (8/16)."""
    return _dsl_pipeline(spark, sf_dir, lambda v: v.sample(8, key="text"))


def q_t_annotate(spark, sf_dir):
    """Training-data annotation stages as first-class DSL transforms:
    quality columns + language-ID over each turn's text, tokenized once
    (the north-star 'per-event operators become vectorized stages')."""
    return _dsl_pipeline(
        spark, sf_dir, lambda v: v.annotate_quality().annotate_lang()
    )


def q_route(spark, sf_dir):
    """Route-by-condition: branch fan-out (transformNode.go:36-57) —
    errors to one sink, the rest to another; tagged union of both sinks."""
    v = Vaero().source("transcripts", sf_dir=sf_dir)
    v.filter_regexp("text", "error").add("route", "errors").sink("stdout", name="errors")
    v.filter_regexp("text", "^((?!error).)*$").add("route", "rest").sink("stdout", name="rest")
    compiled = compile_batch(spark, v.plan())
    return compiled.sinks["errors"].unionByName(compiled.sinks["rest"])


def q_w_tumbling(spark, sf_dir):
    """Tumbling 1h window per conv (generalizes sinkNode.go time-cap flush)."""
    return windowed_counts(load_transcripts(spark, sf_dir), "1 hour")


def q_w_sliding(spark, sf_dir):
    """Sliding 2h/1h window per conv."""
    return windowed_counts(load_transcripts(spark, sf_dir), "2 hours", "1 hour")


def q_w_session(spark, sf_dir):
    """Session windows, 30 min gap (F.session_window)."""
    return session_windows(load_transcripts(spark, sf_dir), "30 minutes")


def q_dedup_exact(spark, sf_dir):
    """dropDuplicates on (conv_id, turn_idx) over the duped fixture."""
    return load_transcripts_with_dupes(spark, sf_dir).dropDuplicates(["conv_id", "turn_idx"])


def q_j_user_tool(spark, sf_dir):
    """Time-range join: user turns ⋈ tool turns within 5 min, same conv."""
    return user_tool_join(load_transcripts(spark, sf_dir), "4 hours")


def q_j_asof(spark, sf_dir):
    """As-of join: latest user turn at/before each tool turn (window-pass
    composition — no native as-of in Spark)."""
    return asof_join_last_user(load_transcripts(spark, sf_dir))


def q_agg_salted(spark, sf_dir):
    """Two-phase salted aggregation per conv_id (hot-key safe); equals a
    direct GROUP BY."""
    return salted_agg(load_transcripts(spark, sf_dir), "conv_id", n_salts=8)


def q_pricing(spark, sf_dir):
    """TPC-H Q1-style pricing summary (gap-analysis aggregation op).
    Money in integer cents for cross-engine bit-stability."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(cents.cast("bigint")).alias("revenue_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_nation_revenue(spark, sf_dir):
    """Join orders⋈customer⋈nation with broadcast dims; revenue per nation."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(cents).alias("revenue_cents"), F.count(F.lit(1)).alias("n_orders"))
    )


def q_top_customers(spark, sf_dir):
    """Top-10 customers by spend (sort + limit with deterministic tiebreak)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    per_cust = orders.groupBy("o_custkey").agg(F.sum(cents).alias("spend_cents"))
    # Distributed top-k (TakeOrderedAndProject) — never a global window
    # over the full aggregate; rank only the 10 survivors.
    top = per_cust.orderBy(F.col("spend_cents").desc(), "o_custkey").limit(10)
    w = Window.orderBy(F.col("spend_cents").desc(), F.col("o_custkey"))
    return top.withColumn("rk", F.row_number().over(w)).select(
        "o_custkey", "spend_cents", "rk"
    )


# ---------------------------------------------------------------------------
# streaming pipelines surfaced through the correctness gate: each runs a
# REAL StreamingQuery (file-stream tap, checkpoint, exactly-once sinks,
# availableNow-style drain) and returns the committed output — the DuckDB
# oracle then verifies the streamed rows bit-for-bit, which is the
# north-rule parity claim ("same output rows for the same input stream").
# ---------------------------------------------------------------------------

_GATE_INPUT_VERSION = "v2"  # bump when the derivation changes


def _gate_stream_input(spark, sf_dir, variant: str) -> str:
    """Deterministic, CACHED stream-input directory for the gate's
    streaming queries (the driver replays the suite repeatedly; without
    caching every invocation re-writes the same parquet). Variants:

    - ``plain``   — transcripts, 8 files
    - ``dupes``   — transcripts_with_dupes, 8 files
    - ``session`` — transcripts in 7 files plus a far-future sentinel
      turn written LAST as its own file, so the file source (ordered by
      mtime) is GUARANTEED to deliver it in the final micro-batch: the
      watermark only jumps past every session's end after all real rows
      are in (the previous union+repartition landed the sentinel in a
      hash-arbitrary file — it worked, but by accident of hashing).
    - ``cdc``     — change events derived from documents (initial
      upsert per doc, a revision for %5, a tombstone for %7, an exact
      duplicate of %13's initial event for at-least-once replay), hash-
      partitioned on ``seq % 6`` so revisions/deletes can land in
      EARLIER micro-batches than the rows they supersede — the
      out-of-order delivery ``stream_upsert`` must absorb.
    """
    import os
    import tempfile

    # key the cache on the SOURCE parquet's identity too, so a
    # regenerated testdata dir can never serve a stale cached input
    import hashlib

    ev = Path(sf_dir) / "events.parquet"
    st = ev.stat()
    src_key = hashlib.md5(f"{st.st_size}:{st.st_mtime_ns}".encode()).hexdigest()[:10]
    base = os.path.join(
        tempfile.gettempdir(),
        f"vaero_gate_in_{_GATE_INPUT_VERSION}_{Path(sf_dir).name}_{variant}_{src_key}",
    )
    done = os.path.join(base, "_DONE")
    inp = os.path.join(base, "in")
    if os.path.exists(done):
        return inp
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    if variant == "plain":
        load_transcripts(spark, sf_dir).repartition(8).write.mode("overwrite").parquet(inp)
    elif variant == "dupes":
        load_transcripts_with_dupes(spark, sf_dir).repartition(8).write.mode(
            "overwrite"
        ).parquet(inp)
    elif variant == "session":
        t = load_transcripts(spark, sf_dir)
        t.repartition(7).write.mode("overwrite").parquet(inp)
        mx = t.agg(F.max("ts")).first()[0]
        sentinel = spark.createDataFrame(
            [("__sentinel__", 0, "system", "", "", mx + datetime.timedelta(days=62))],
            TRANSCRIPTS_SCHEMA,
        )
        # separate write AFTER the bulk → strictly later mtime → last batch
        import time as _time

        _time.sleep(1.1)  # distinct mtime second for the file source's ordering
        sentinel.coalesce(1).write.mode("append").parquet(inp)
    elif variant == "cdc":
        docs = CORPUS.load_documents(spark, sf_dir)
        seq0 = F.col("doc_id") * 3
        base = docs.select(
            "doc_id", seq0.alias("seq"), F.lit("upsert").alias("op"), "text"
        )
        rev = docs.filter(F.col("doc_id") % 5 == 0).select(
            "doc_id",
            (seq0 + 1).alias("seq"),
            F.lit("upsert").alias("op"),
            F.concat("text", F.lit(" [rev2]")).alias("text"),
        )
        dele = docs.filter(F.col("doc_id") % 7 == 0).select(
            "doc_id",
            (seq0 + 2).alias("seq"),
            F.lit("delete").alias("op"),
            F.lit(None).cast("string").alias("text"),
        )
        dup = base.filter(F.col("doc_id") % 13 == 0)  # at-least-once replay
        ev = base.unionByName(rev).unionByName(dele).unionByName(dup)
        ev.repartition(6, F.expr("seq % 6")).write.mode("overwrite").parquet(inp)
    else:
        raise ValueError(variant)
    with open(done, "w") as fh:
        fh.write(variant)
    return inp


class _pinned_state_partitions:
    """Context manager: pin ``spark.sql.shuffle.partitions`` (which fixes
    the streaming state-store partition count at query start) around a
    gate's drain, restoring the session value after.

    The count is SIZED TO STATE VOLUME rather than the session's batch
    shuffle width (guide §2: partitioning must be scale-adaptive, not a
    constant tuned to the local core count): one partition per 256 MB of
    stream input, floor ``min(8, slots)``, so gate inputs yield the floor
    and petabyte streams get width. The floor never exceeds the executor
    slots (``defaultParallelism``): each store pays a fixed commit and
    Python-worker cost per epoch, and stores beyond the slots run in
    extra task waves. The input is measured through Hadoop FS, so
    ``file://``, ``s3a://`` and ``hdfs://`` URIs size like local paths."""

    def __init__(self, spark, input_path: str):
        from vaero_spark.sinks.fs import _jvm_fs

        fs, jpath, _ = _jvm_fs(spark, input_path)
        self.spark = spark
        self.bytes = fs.getContentSummary(jpath).getLength()
        slots = spark.sparkContext.defaultParallelism
        self.n = max(min(8, slots), self.bytes // (256 << 20))

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
        return False


def _drain_gate(
    spark, build, *, mode, pin, inp=None, backlog=None, schema=TRANSCRIPTS_SCHEMA,
    max_files=4, sink=None, sentinel=None,
):
    """Drain one streaming gate: file source → ``build(src)`` → sink, the
    one runner every ``writeStream`` gate shares (the reference wires
    each pipeline as source → transform → sink the same way). Returns
    the sink; the gate reads it back.

    - ``inp``: the gate input directory (``_gate_stream_input``), read
      with ``schema``, ``max_files`` files per trigger (``None``: the
      whole directory as one batch).
    - ``backlog``: instead of ``inp``, a DataFrame written to
      ``<work>/in`` first. Its files are still read with ``schema``,
      not the frame's own: transcripts' NTZ ``ts`` cannot carry an
      event-time watermark.
    - ``sentinel(max_ts)``: rows in ``schema`` appended to a backlog
      after the first drain (``max_ts`` = the backlog's max ``ts``),
      then drained again — the watermark jumps and every held window,
      session or unmatched join row flushes.
    - ``sink``: called with ``<work>/out`` to build the sink (e.g.
      ``ExactlyOnceParquetSink``); default a fresh :class:`MemorySink`.
    - ``pin``: pin the state-store partitions with
      :class:`_pinned_state_partitions` for the drain; otherwise the
      session width applies (``get_spark``'s default: the slot count).
      On a host with 8 or fewer slots the two coincide by default, so
      the split below matters on wider hosts. Measured r7 on 32 slots
      (ABBA, order-balanced, CPU probes healthy): JVM-native state ops
      (dropDuplicates, window/session aggs, stream-stream joins) are
      per-store-fixed-cost bound and speed up 1.2-1.7x at 8 partitions
      (w_distinct 8.7→5.3 s, session_native 10.1→8.6 s; r6: the outer
      join 26.6 s at 32 partitions vs 6.3 s at 8, same rows), so they
      pin. ``applyInPandasWithState`` gates are bound by per-GROUP
      Python invocation cost, which executor width amortizes — the same
      pin makes them 2-3x SLOWER (open_sessions 26→50-61 s, counters
      13.6→30-45 s) — and ``stream_trending``'s per-batch JVM
      tokenize+explode is compute-bound (pinned 14.4 vs 11.6 s): both
      keep the session width. The five streaming CEP gates measured
      like the pandas ones (cep 13.3→30-39 s) while they ran there; they
      now run in the JVM core (``flatMapGroupsWithState``) and keep the
      session width until re-measured at 32 slots.
    """
    import contextlib
    import tempfile

    work = tempfile.mkdtemp(prefix="vaero_gate_")
    if backlog is not None:
        inp = f"{work}/in"
        backlog.write.parquet(inp)
        if sentinel is not None:
            max_ts = backlog.agg(F.max("ts")).first()[0]
    reader = spark.readStream.schema(schema)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    src = reader.parquet(inp)
    sink = MemorySink() if sink is None else sink(f"{work}/out")
    with _pinned_state_partitions(spark, inp) if pin else contextlib.nullcontext():
        q = (
            build(src)
            .writeStream.outputMode(mode)
            .option("checkpointLocation", f"{work}/ckpt")
            .foreachBatch(sink.foreach_batch())
            .start()
        )
        try:
            q.processAllAvailable()
            if sentinel is not None:
                spark.createDataFrame(sentinel(max_ts), schema).write.mode(
                    "append"
                ).parquet(inp)
                q.processAllAvailable()
        finally:
            q.stop()
    return sink


def _last_emission(sink, *key) -> list:
    """Update-mode collapse of a drained :class:`MemorySink`: for each
    ``key`` value, the rows of the latest epoch that emitted it (one row
    for the single-row gates: ``applyInPandasWithState`` and
    ``flatMapGroupsWithState`` call the state function at most once per
    key per micro-batch)."""
    final: dict = {}
    for _, rows in sorted(sink.batches):
        epoch: dict = {}
        for r in rows:
            epoch.setdefault(tuple(r[k] for k in key), []).append(r)
        final.update(epoch)
    return [r for rs in final.values() for r in rs]


def q_stream_pipeline(spark, sf_dir):
    """Full streaming tap→transform→route→sink pipeline, drained through
    checkpointed exactly-once parquet sinks; output must match the pure
    SQL oracle — streamed rows == batch rows, the parity invariant."""
    import tempfile

    from vaero_spark.sources.transcripts import transcripts_stream
    from vaero_spark.streaming.engine import run_streaming_fanout

    def common(df):
        df = TR.mask(df, "text", EMAIL_RE, "<EMAIL>")
        df = TR.parse_regexp(df, "text", "k=(?<kval>[0-9]+)")
        return df

    branches = {
        "tools": lambda b: TR.add(b.filter(F.col("role") == "tool"), "route", "tools"),
        "rest": lambda b: TR.add(b.filter(F.col("role") != "tool"), "route", "rest"),
    }
    work = tempfile.mkdtemp(prefix="vaero_q_stream_")
    inp = _gate_stream_input(spark, sf_dir, "plain")
    src = transcripts_stream(spark, inp, max_files_per_trigger=4)  # >1 epoch
    sinks = {n: ExactlyOnceParquetSink(f"{work}/{n}") for n in branches}
    with _pinned_state_partitions(spark, inp):
        pipe = run_streaming_fanout(
            spark, common(src), branches, lambda n: sinks[n], f"{work}/ckpt"
        )
        try:
            pipe.process_all()
        finally:
            pipe.stop()
    tools, rest = (
        s.read_committed(spark).drop("prefix", "epoch") for s in sinks.values()
    )
    return tools.unionByName(rest)


def q_stream_dedup(spark, sf_dir):
    """Streaming dropDuplicates over the duped fixture: state-store dedup
    across micro-batches (a duplicate arriving in a later epoch than its
    original must still be dropped)."""
    sink = _drain_gate(
        spark, lambda src: src.dropDuplicates(["conv_id", "turn_idx"]),
        mode="append", pin=True, inp=_gate_stream_input(spark, sf_dir, "dupes"),
        sink=ExactlyOnceParquetSink,
    )
    return sink.read_committed(spark).drop("prefix", "epoch")


def q_stream_dedup_wm(spark, sf_dir):
    """Streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark
    evicts seen-keys once the watermark passes their event time + delay —
    the shape that survives 10^12 turns, vs dropDuplicates' forever-state
    (`stream_dedup`). On the gate fixture every duplicate arrives within
    the horizon, so the result equals full dedup bit-for-bit."""
    sink = _drain_gate(
        spark,
        lambda src: src.withWatermark("ts", "60 days").dropDuplicatesWithinWatermark(
            ["conv_id", "turn_idx"]
        ),
        mode="append", pin=True, inp=_gate_stream_input(spark, sf_dir, "dupes"),
        sink=ExactlyOnceParquetSink,
    )
    return sink.read_committed(spark).drop("prefix", "epoch")


def q_stream_session(spark, sf_dir):
    """Streaming session windows (30 min gap) with an event-time
    watermark, emitted in append mode through an exactly-once sink.

    A single sentinel turn far in the future advances the final
    watermark past every real session's end, so ALL sessions close and
    the streamed result equals the batch/oracle result — the time-cap
    flush semantics (sinkNode.go:242-254) under real watermark
    mechanics. Watermark delay (60 days) exceeds the corpus time span,
    so no real row is ever late-dropped regardless of file→batch order.
    """
    sink = _drain_gate(
        spark,
        lambda src: session_windows(src.withWatermark("ts", "60 days"), "30 minutes"),
        mode="append", pin=True, inp=_gate_stream_input(spark, sf_dir, "session"),
        sink=partial(ExactlyOnceParquetSink, ts_col="min_ts", order_cols=("conv_id",)),
    )
    return (
        sink.read_committed(spark)
        .drop("epoch", "prefix")
        .filter(F.col("conv_id") != "__sentinel__")
    )


def q_stream_join(spark, sf_dir):
    """Stateful stream-stream join: user turns ⋈ tool turns of the same
    conversation within 4 h, BOTH sides watermarked (state-store rows
    evicted past watermark − range). Inner joins emit matches eagerly,
    so the drained streamed result equals the batch range join — checked
    bit-for-bit against the same oracle as `j_user_tool`. The 60-day
    watermark exceeds the corpus span: nothing is late-dropped, state
    eviction mechanics still run."""
    from vaero_spark.operators.joins import streaming_user_tool_join

    sink = _drain_gate(
        spark,
        lambda src: streaming_user_tool_join(
            src, watermark="60 days", max_lag="4 hours"
        ),
        mode="append", pin=True, inp=_gate_stream_input(spark, sf_dir, "plain"),
        sink=partial(
            ExactlyOnceParquetSink,
            ts_col="user_ts",
            order_cols=("conv_id", "user_turn", "tool_turn"),
        ),
    )
    return sink.read_committed(spark).select(
        "conv_id", "user_turn", "user_ts", "tool_turn", "tool_name", "tool_ts"
    )


def q_stream_counters(spark, sf_dir):
    """Per-conversation routing counters in CUSTOM state
    (applyInPandasWithState, update mode — the 'routing counters' state
    of the north star): drain the stream, keep each conversation's LAST
    emission; the final counters must equal a batch GROUP BY —
    bit-for-bit against the SQL oracle."""
    from vaero_spark.operators.state import routing_counters

    sink = _drain_gate(
        spark, lambda src: routing_counters(src, watermark="60 days"),
        mode="update", pin=False, inp=_gate_stream_input(spark, sf_dir, "plain"),
    )
    return spark.createDataFrame(
        _last_emission(sink, "conv_id"),
        "conv_id string, n_total long, n_user long, n_tool long, n_error long",
    )


def q_stream_cep(spark, sf_dir):
    """Streaming CEP (operators/cep.stream_cep_match): detect the
    literal tool-churn sequence 'ttu' per conversation AS TURNS ARRIVE
    — sequence reassembly over out-of-order micro-batches, bounded
    carry state, update-mode emissions. After the drain the last
    emission per conversation must equal the batch regex operator —
    an EXACT SQL oracle for the streaming state machine."""
    sink = _drain_gate(
        spark,
        lambda src: CEP.stream_cep_match(src, CEP_STREAM_LITERAL, watermark="60 days"),
        mode="update", pin=False, inp=_gate_stream_input(spark, sf_dir, "plain"),
    )
    matched = [
        (r.conv_id, r.n_turns, r.n_matches, r.first_match_turn)
        for r in _last_emission(sink, "conv_id")
        if r.n_matches > 0
    ]
    return spark.createDataFrame(
        matched, "conv_id string, n_turns long, n_matches long, first_match_turn long"
    )


def q_stream_cep_kleene(spark, sf_dir):
    """Streaming CEP with BOUNDED KLEENE quantifiers (operators/cep.
    stream_cep_kleene, VERDICT r5 #5): earliest-completion matches of
    't{1,3}u' per conversation as turns arrive — settled decisions in
    bounded state plus a per-emission end-of-stream scan of the carry,
    so the drained last emission equals the batch regex operator with
    the reluctant pattern 't{1,3}?u' EXACTLY (hash-gated SQL oracle
    for a stateful Kleene matcher)."""
    sink = _drain_gate(
        spark,
        lambda src: CEP.stream_cep_kleene(src, CEP_KLEENE_PATTERN, watermark="60 days"),
        mode="update", pin=False, inp=_gate_stream_input(spark, sf_dir, "plain"),
    )
    matched = [
        (r.conv_id, r.n_turns, r.n_matches, r.first_match_turn)
        for r in _last_emission(sink, "conv_id")
        if r.n_matches > 0
    ]
    return spark.createDataFrame(
        matched, "conv_id string, n_turns long, n_matches long, first_match_turn long"
    )


def q_stream_open_sessions(spark, sf_dir):
    """Open-session tracking in CUSTOM state (applyInPandasWithState,
    EventTimeTimeout — the reference's time-cap flush timer,
    sinkNode.go:242-254, as real event-time state): a far-future
    sentinel closes every session via watermark timeout; the emitted
    closed=True rows must equal the batch session windows — an exact
    SQL oracle for the stateful operator itself."""
    from vaero_spark.operators.state import track_open_sessions

    sink = _drain_gate(
        spark,
        lambda src: track_open_sessions(src, gap_seconds=1800, watermark="60 days"),
        mode="append", pin=False, inp=_gate_stream_input(spark, sf_dir, "session"),
    )
    closed = [
        (r.conv_id, r.session_start, r.session_end, r.n_turns)
        for r in sink.rows()
        if r.closed and r.conv_id != "__sentinel__"
    ]
    return spark.createDataFrame(
        closed, "conv_id string, session_start timestamp, session_end timestamp, n_turns long"
    )


HTTP_INGEST_TS = "2024-03-02T00:00:00Z"  # pinned replay clock
HTTP_INGEST_ADDR = "127.0.0.1:0"

API_SINCE = "2024-01-02T00:00:00.000000"  # pinned initial cursor


def q_api_paginated(spark, sf_dir):
    """Cursor-paginated API source, batch-replay form: a deterministic
    stub endpoint (pages derived from the events table, served
    time-ordered with the okta-style 1 s sloppy lower bound) is drained
    through the REAL connector — persistent cursor, pagination,
    max-events-per-poll, late/duplicate gate — into the spool, then
    read back. The oracle is simply the events table at/after the
    initial cursor: the gate must drop exactly the pre-cursor slop and
    multi-poll pagination must neither lose nor duplicate a page
    (reference vaero_cdk/api_cursor.py:20-31, source_okta.py:91-130).
    The poller is a driver-side ingestion shim BY DESIGN — the same
    role as the reference's Python subprocess feeding the Go channel;
    the distributed path is the exactly-once file stream over its
    spool (resume-from-kill pytest in tests/test_paginated_api.py)."""
    import tempfile

    from vaero_spark.sources.paginated_api import (
        ISO,
        ApiCursor,
        PaginatedApiSource,
        pages_from_rows,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    rows = [
        {
            "event_id": r.event_id,
            "ts": r.ts.strftime(ISO),
            "user_id": r.user_id,
            "event_type": r.event_type,
        }
        for r in ev.collect()
    ]
    work = tempfile.mkdtemp(prefix="vaero_api_")
    cur = ApiCursor()
    cur.cursor = {"since": API_SINCE}
    cur.store(f"{work}/cursor.json")
    src = PaginatedApiSource(
        pages_from_rows(rows, page_size=500),
        spool_dir=f"{work}/spool",
        cursor_path=f"{work}/cursor.json",
        max_events_per_poll=2000,
    )
    src.poll_until_exhausted()
    return spark.read.schema(
        "event_id long, ts string, user_id long, event_type string"
    ).json(f"{work}/spool")


def q_http_ingest(spark, sf_dir):
    """HTTP push source, batch-replay form: request bodies = one JSON
    array per conversation; the Spark-side jsonarray breaker
    (from_json + explode) plus the automatic timestamp/remoteaddr
    enrichment must round-trip every turn (reference
    source_http_server.go:57-96, breaker source_python.go:71-103).
    The live server path (HTTP POST → spool → file stream) is
    integration-tested in tests/test_http_source.py; here the clock and
    remote address are pinned so the oracle is bit-exact."""
    from vaero_spark.sources.http_server import replay_json_array_batch

    t = load_transcripts(spark, sf_dir)
    payload = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp_ntz"
    )
    from vaero_spark.sources.http_server import JSON_TS_OPTIONS

    bodies = t.groupBy("conv_id").agg(
        F.to_json(
            F.collect_list(
                F.struct("conv_id", "turn_idx", "role", "text", "tool", "ts")
            ),
            JSON_TS_OPTIONS,
        ).alias("body")
    )
    return replay_json_array_batch(bodies, payload, HTTP_INGEST_TS, HTTP_INGEST_ADDR)


def q_s3_ingest(spark, sf_dir):
    """Object-store (S3-shape) sink+source END-TO-END through the real
    client code (``sources/object_store.py``; reference
    ``source_s3.go:25-85`` list→GET→newline-split, ``sink_s3.go:30-63``
    PutObject): the transcripts corpus is PUT into a
    ``LocalDirObjectStore`` by ``ObjectLineSink`` (executor-side,
    prefix-grouped, deterministic keys), then ``ObjectLineSource``
    lists the prefix, GETs every object version, splits on newline and
    spools atomically; the spooled corpus read back must round-trip
    every turn bit-for-bit against the identity oracle. Timestamps ride
    the 6-digit-micro JSON options both ways (the to_json/from_json
    truncation trap)."""
    import tempfile

    from pyspark.sql import types as T

    from vaero_spark.sources.http_server import JSON_TS_OPTIONS
    from vaero_spark.sources.object_store import (
        LocalDirObjectStore,
        ObjectLineSink,
        ObjectLineSource,
    )

    work = tempfile.mkdtemp(prefix="vaero_q_s3ing_")
    store = LocalDirObjectStore(f"{work}/bucket")
    t = load_transcripts(spark, sf_dir)
    ObjectLineSink(store, prefix_format="yyyy/MM/dd", ts_col="ts").write(t, 0)
    src = ObjectLineSource(
        store=store,
        prefix="",
        spool_dir=f"{work}/spool",
        seen_path=f"{work}/seen.json",
    )
    src.poll()
    payload = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp_ntz"
    )
    return (
        spark.read.schema(T.StructType.fromDDL(payload))
        .options(**JSON_TS_OPTIONS)
        .json(f"{work}/spool")
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    )


# ---------------------------------------------------------------------------
# training-data pipeline operators (documents / embeddings / media)
# ---------------------------------------------------------------------------

def q_txt_tokens(spark, sf_dir):
    """Token counting: whitespace tokens + BPE-ish regex tokens."""
    d = CORPUS.load_documents(spark, sf_dir)
    cols = TXT.token_counts("text")
    return d.select("doc_id", *[c.alias(n) for n, c in cols.items()])


def q_txt_quality(spark, sf_dir):
    """Quality scoring: stopword/punct ratios + length prior (basis points)."""
    d = CORPUS.load_documents(spark, sf_dir)
    cols = TXT.quality_columns("text")
    return d.select("doc_id", *[c.alias(n) for n, c in cols.items()])


def q_txt_langid(spark, sf_dir):
    """Language ID: stopword-profile argmax + CJK char class."""
    d = CORPUS.load_documents(spark, sf_dir)
    return d.select(
        "doc_id",
        "lang",
        TXT.lang_id("text").alias("pred_lang"),
        (TXT.lang_id("text") == F.col("lang")).cast("int").alias("agree"),
    )


def q_txt_fingerprint(spark, sf_dir):
    """Winnowing document fingerprint (Schleimer et al. SIGMOD'03)."""
    d = CORPUS.load_documents(spark, sf_dir)
    return TXT.fingerprint_agg(d, "doc_id", "text")


def q_fingerprint_search(spark, sf_dir):
    """Winnowing-fingerprint RETRIEVAL (operators/search.
    fingerprint_search, the MOSS query shape): the planted near-dup
    copies act as suspect documents and must retrieve their originals
    via shared winnow-selected hashes — inverted index on the sampled
    hash space with a boilerplate document-frequency cap, one (query,
    doc) groupBy, never doc×doc."""
    from vaero_spark.operators.search import fingerprint_search

    corpus = CORPUS.documents_with_neardups(spark, sf_dir)
    suspects = corpus.filter(F.col("doc_id") >= CORPUS.ND_OFFSET)
    return fingerprint_search(corpus, suspects)


def q_tok_fertility(spark, sf_dir):
    """Per-language tokenizer fertility audit (functions/text.
    tokenizer_fertility): subword tokens per whitespace word in basis
    points — the multilingual-tokenizer health check; tokenize-once
    narrow projection, one map-side-combined groupBy(lang)."""
    return TXT.tokenizer_fertility(CORPUS.load_documents(spark, sf_dir))


def q_conv_quality(spark, sf_dir):
    """Conversation-level quality gate (operators/curate.
    conversation_quality): per-conversation floor-mean/min quality_bp
    rollup + keep flag — the transcript-native curation decision (whole
    conversations are kept or dropped, not turns); one shuffle on
    conv_id."""
    from vaero_spark.operators.curate import conversation_quality

    return conversation_quality(load_transcripts(spark, sf_dir))


def q_rollup_multires(spark, sf_dir):
    """Hypertable-style multi-resolution rollup (operators/windows.
    multires_rollup): minute → hour → day traffic ladder where each
    coarser level re-aggregates the previous level's output — ONE
    corpus-sized shuffle total; the coarse branches plan as
    ReusedExchange of the minutely aggregate (audited)."""
    from vaero_spark.operators.windows import multires_rollup

    return multires_rollup(load_transcripts(spark, sf_dir))


def q_j_interval(spark, sf_dir):
    """Binned interval join (operators/joins.interval_join_binned):
    turns × UNKEYED incident windows (30 min after every 25th error
    event) as an equi-join on time bucket — the range-join rewrite that
    replaces BroadcastNestedLoopJoin/cartesian at scale; exact
    containment re-checked post-join, oracle = DuckDB IEJoin."""
    from vaero_spark.operators.joins import interval_join_binned

    ev_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    intervals = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_type") == "error") & (F.col("event_id") % 25 == 0))
        .select(
            F.col("event_id").alias("interval_id"),
            ev_ms.alias("start_ms"),
            (ev_ms + 1_800_000).alias("end_ms"),
        )
    )
    return interval_join_binned(load_transcripts(spark, sf_dir), intervals, bucket_s=1800)


_J_INTERVAL_SQL = f"""{_T},
            iv AS (SELECT event_id AS interval_id,
                          epoch_ms(CAST(ts AS TIMESTAMP)) AS start_ms,
                          epoch_ms(CAST(ts AS TIMESTAMP)) + 1800000 AS end_ms
                   FROM events
                   WHERE event_type = 'error' AND event_id % 25 = 0)
            SELECT iv.interval_id, t.conv_id, t.turn_idx,
                   epoch_ms(CAST(t.ts AS TIMESTAMP)) AS ts_ms
            FROM transcripts t JOIN iv
              ON epoch_ms(CAST(t.ts AS TIMESTAMP)) >= iv.start_ms
             AND epoch_ms(CAST(t.ts AS TIMESTAMP)) < iv.end_ms"""


def q_stream_interval(spark, sf_dir):
    """Streaming interval enrichment: the binned range join as a
    STREAM-STATIC equi-join on the time bucket — STATELESS (the static
    side is a table, no watermark state, append mode), so the drained
    stream equals the batch `j_interval` bit-for-bit (same oracle).
    100 TB shape: each micro-batch hash-joins its turns against the
    pre-exploded interval table on the bucket id — broadcast when the
    table is small, shuffle when not (AQE per micro-batch)."""
    from vaero_spark.operators.joins import interval_join_binned

    ev_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    intervals = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_type") == "error") & (F.col("event_id") % 25 == 0))
        .select(
            F.col("event_id").alias("interval_id"),
            ev_ms.alias("start_ms"),
            (ev_ms + 1_800_000).alias("end_ms"),
        )
    )
    sink = _drain_gate(
        spark, lambda src: interval_join_binned(src, intervals, bucket_s=1800),
        mode="append", pin=True, inp=_gate_stream_input(spark, sf_dir, "plain"),
        sink=partial(
            ExactlyOnceParquetSink,
            ts_col="_no_prefix",
            order_cols=("interval_id", "conv_id", "turn_idx"),
        ),
    )
    return sink.read_committed(spark).select(
        "interval_id", "conv_id", "turn_idx", "ts_ms"
    )


def _derived_snapshot(docs):
    """The deterministic NEXT corpus snapshot both engines rebuild from
    documents: drop %7, revise %5, add %11 under a shifted id (the
    ``newsnap`` CTE is its SQL twin)."""
    return (
        docs.filter(F.col("doc_id") % 7 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
                F.concat(F.lit("added doc "), F.col("doc_id").cast("string")).alias(
                    "text"
                ),
            )
        )
    )


def q_snapshot_diff(spark, sf_dir):
    """Snapshot changeset (operators/dedup.snapshot_diff): added /
    removed / changed docs between two corpus snapshots via ONE
    full-outer equi-join on doc_id moving only 16-byte md5s; the new
    snapshot is derived deterministically from documents (drop %7,
    revise %5, add %11 under a shifted id) so both engines rebuild it."""
    docs = CORPUS.load_documents(spark, sf_dir)
    return DD.snapshot_diff(docs.select("doc_id", "text"), _derived_snapshot(docs))


def q_changeset_apply(spark, sf_dir):
    """Changeset APPLY (operators/dedup.apply_changeset): fold the
    snapshot_diff changeset (+ the new texts for added/changed) back
    into the base snapshot — the applied result must equal the derived
    new snapshot's own manifest, so the oracle is simply
    ``SELECT doc_id, md5(text) FROM newsnap``: the round-trip identity
    ``apply(old, diff(old, new)) == new`` IS the correctness check."""
    docs = CORPUS.load_documents(spark, sf_dir)
    old = docs.select("doc_id", "text")
    new = _derived_snapshot(docs)
    changes = DD.snapshot_diff(old, new).join(
        new.withColumnRenamed("text", "_newtext"), "doc_id", "left"
    ).select("doc_id", "status", F.col("_newtext").alias("text"))
    return DD.apply_changeset(old, changes)


def q_stream_upsert(spark, sf_dir):
    """CDC upsert materialization (operators/state.stream_upsert):
    last-writer-wins per-entity view over an out-of-order, duplicate-
    bearing change stream (the `cdc` fixture hash-partitions events on
    seq%6 so supersession arrives across micro-batch boundaries in both
    directions); state = one scalar tuple per entity (the view itself),
    drained last emission per id == the batch argmax(seq) exactly."""
    from vaero_spark.operators.state import stream_upsert

    sink = _drain_gate(
        spark, stream_upsert, mode="update", pin=False,
        inp=_gate_stream_input(spark, sf_dir, "cdc"),
        schema="doc_id bigint, seq bigint, op string, text string", max_files=2,
    )
    final = [
        (r.doc_id, r.cur_seq, r.deleted, r.text_md5)
        for r in _last_emission(sink, "doc_id")
    ]
    return spark.createDataFrame(
        final, "doc_id long, cur_seq long, deleted int, text_md5 string"
    )


def q_ann_eval(spark, sf_dir):
    """In-engine retrieval evaluation (operators/similarity.
    ann_recall_at_k): per-query recall@5 of the sign-bucketed ANN vs
    the exact brute ranking, in basis points — one (query, neighbor)
    equi-join + one groupBy over k·|Q| rows; the rankings themselves
    are the existing oracle-exact ann_brute / ann_bucketed plans."""
    e = CORPUS.load_embeddings(spark, sf_dir)
    q = _ann_queries(e)
    exact = SIM.cosine_topk_brute(e, q, k=5)
    approx = SIM.cosine_topk_bucketed(e, q, k=5)
    return SIM.ann_recall_at_k(exact, approx, k=5)


def q_stream_trending(spark, sf_dir):
    """STREAMING windowed token counts (operators/analytics.
    stream_windowed_token_counts): watermark → tokenize → groupBy
    (window, token) in APPEND mode — each (window, token) finalized
    exactly once at watermark passage, state bounded by the horizon.
    Bounded-replay drain: one-batch backlog + a zero-token sentinel 3 h
    past max_ts flushes every real window; ranking the drained counts
    with group_topk must equal batch trending_tokens (same oracle)."""
    from vaero_spark.operators.analytics import stream_windowed_token_counts

    t = load_transcripts(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    sink = _drain_gate(
        spark, stream_windowed_token_counts, mode="append", pin=False,
        backlog=t, max_files=None,
        sentinel=lambda max_ts: [
            ("__sentinel__", 0, "system", "", "", max_ts + datetime.timedelta(hours=3))
        ],
    )
    rows = [(r.win_start, r.token, r.n) for r in sink.rows()]
    counts = spark.createDataFrame(rows, "win_start timestamp, token string, n long")
    return TR.group_topk(counts, "win_start", "n", "token", k=5)


def q_conv_stats(spark, sf_dir):
    """Dialogue-structure profile (operators/analytics.conv_turn_stats):
    per-conversation role mix, same-role run lengths, and the
    role-alternation rate in basis points — agent-loop / monologue
    detection; one conv shuffle, gaps-and-islands windows partitioned
    by conv, two map-side-combined aggs."""
    from vaero_spark.operators.analytics import conv_turn_stats

    return conv_turn_stats(load_transcripts(spark, sf_dir))


def q_cluster_stats(spark, sf_dir):
    """Duplication-mass report (operators/dedup.cluster_stats): the
    near-dup cluster size histogram over the planted-near-dup corpus —
    two model-sized aggregates on top of the checkpointed
    min-label-propagation clustering."""
    return DD.cluster_stats(CORPUS.documents_with_neardups(spark, sf_dir))


def q_neardup_cross(spark, sf_dir):
    """Cross-snapshot NEAR-dup (operators/dedup.minhash_cross_pairs):
    new×ref band-key equi-join only (never re-runs ref×ref), exact
    Jaccard verify over the shared shingle index. The new snapshot
    plants %9 docs as one-token-appended near-dups (must be caught)
    and %17 docs as fresh content (must not pair)."""
    docs = CORPUS.load_documents(spark, sf_dir).select("doc_id", "text")
    new = (
        docs.filter(F.col("doc_id") % 9 == 0)
        .select(
            (F.col("doc_id") + F.lit(5_000_000)).alias("doc_id"),
            F.concat("text", F.lit(" vaero2")).alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 17 == 0).select(
                (F.col("doc_id") + F.lit(6_000_000)).alias("doc_id"),
                F.concat(
                    F.lit("fresh doc "),
                    F.col("doc_id").cast("string"),
                    F.lit(" unrelated content entirely"),
                ).alias("text"),
            )
        )
    )
    return DD.minhash_cross_pairs(docs, new)


def q_trending_tokens(spark, sf_dir):
    """Windowed heavy hitters (operators/analytics.trending_tokens):
    exact top-5 tokens per hour, count DESC / token ASC tiebreak; one
    map-side-combined groupBy(window, token) + the salted two-phase
    group_topk — the audit rejects a Window in the plan."""
    from vaero_spark.operators.analytics import trending_tokens

    return trending_tokens(load_transcripts(spark, sf_dir))


def q_skew_profile(spark, sf_dir):
    """Pre-join hot-key audit (operators/analytics.key_skew_profile):
    top-10 conv_id keys with share in basis points + key-space totals —
    the report that decides whether a key needs salting before a
    100 TB join; ONE groupBy(key), salted global top-k, 1-row broadcast
    totals, guarded BIGINT math."""
    from vaero_spark.operators.analytics import key_skew_profile

    return key_skew_profile(load_transcripts(spark, sf_dir), "conv_id")


def q_corpus_split(spark, sf_dir):
    """Deterministic stratified train/val/test split (operators/
    transforms.stratified_split): salted-md5 first-byte thresholds
    (≈80/10/10), stable under re-partitioning and corpus growth;
    pure narrow projection, shuffle-free (audited)."""
    return TR.stratified_split(CORPUS.load_documents(spark, sf_dir)).select(
        "doc_id", "lang", "split"
    )


def q_dedup_exact_docs(spark, sf_dir):
    """Exact text dedup: hash-groupBy on md5(text)."""
    return DD.exact_dedup(CORPUS.documents_with_neardups(spark, sf_dir))


def q_dedup_minhash(spark, sf_dir):
    """MinHash+LSH near-dup pairs (banding → bucket join → exact-Jaccard
    verify) over the planted-near-dup corpus. The op manages its own
    shingle-index cache: each invocation releases the previous op's
    (operators/dedup._persist_managed), so the driver's full-suite
    replay never accumulates storage memory."""
    return DD.minhash_lsh_pairs(CORPUS.documents_with_neardups(spark, sf_dir))


def q_dedup_simhash(spark, sf_dir):
    """64-bit SimHash signature per doc (md5-derived bit votes)."""
    return DD.simhash_docs(CORPUS.documents_with_neardups(spark, sf_dir))


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: 16-bit-band candidates + Hamming ≤ 3 verify."""
    return DD.simhash_pairs(CORPUS.documents_with_neardups(spark, sf_dir))


def q_dedup_simhash_auto(spark, sf_dir):
    """SimHash pairs with CORPUS-SCALE-AWARE banding: ``n_estimate``
    routes through ``functions/lsh_tuning.auto_band_bits`` (bits =
    smallest divisor of 64 keeping expected bucket occupancy ≤ 1024,
    clamped to the 16-bit recall floor). At the fixture estimate the
    auto choice reproduces the pinned 4×16 default bit-for-bit — the
    driver-gated proof that auto-sizing never perturbs small corpora
    (at 10⁹ docs the same call widens to 2×32, unit-tested)."""
    return DD.simhash_pairs(
        CORPUS.documents_with_neardups(spark, sf_dir), n_estimate=1000
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard pairs via shingle inverted index (cache
    self-managed, see q_dedup_minhash)."""
    return DD.ngram_jaccard_pairs(CORPUS.documents_with_neardups(spark, sf_dir))


def q_dedup_clusters(spark, sf_dir):
    """Near-dup canonicalization: connected components over the
    MinHash+LSH pair graph via iterative min-label propagation (lazy
    joins + groupBy-min; no driver actions) — doc_id == cluster_id
    marks the canonical keeper per cluster."""
    return DD.neardup_clusters(CORPUS.documents_with_neardups(spark, sf_dir))


def q_dedup_keep(spark, sf_dir):
    """APPLY the near-dup dedup decision (operators/curate.py): drop
    every non-canonical cluster member, keep canonicals and
    non-participants — the kept-corpus manifest a training run would
    actually consume. One broadcast left-anti join on top of the
    cluster pipeline."""
    from vaero_spark.operators.curate import neardup_keep

    return neardup_keep(CORPUS.documents_with_neardups(spark, sf_dir))


def q_corpus_curate(spark, sf_dir):
    """Composed training-data curation gate (operators/curate.py):
    quality_bp ≥ 3000 AND predicted language = en AND ≥ 10 tokens —
    the keep/reject decision over one shared tokenize pass,
    shuffle-free."""
    from vaero_spark.operators.curate import curate_documents

    return curate_documents(CORPUS.load_documents(spark, sf_dir))


def q_txt_repetition(spark, sf_dir):
    """Within-doc repetition/boilerplate signals (functions/text.py
    repetition_columns): distinct-token / distinct-shingle /
    distinct-line ratios in basis points; the token array is
    materialized once before the shingle HOF touches it."""
    d = CORPUS.load_documents(spark, sf_dir)
    d = d.withColumn("_tok", TXT.tokens("text"))
    cols = TXT.repetition_columns("text", tok=F.col("_tok"))
    return d.select("doc_id", *[c.alias(n) for n, c in cols.items()])


def q_corpus_decontam(spark, sf_dir):
    """Eval-set decontamination (operators/curate.decontaminate_flags):
    flag training docs sharing ≥ 25 distinct k-word shingles with any
    eval doc. Fixture split: the planted near-dup copies (doc_id ≥
    ND_OFFSET) play the eval set, so their originals — the truly
    contaminated docs, overlapping at 85-96 shingles — get flagged,
    while formulaic boilerplate overlap (fixture median 6, p75 9) stays
    below the threshold: the threshold choice IS the op's precision
    knob on boilerplate-heavy corpora."""
    from vaero_spark.operators.curate import decontaminate_flags

    d = CORPUS.documents_with_neardups(spark, sf_dir)
    return decontaminate_flags(
        d.filter(F.col("doc_id") < CORPUS.ND_OFFSET),
        d.filter(F.col("doc_id") >= CORPUS.ND_OFFSET),
        min_overlap=25,
    )


def q_dedup_passage(spark, sf_dir):
    """Per-doc duplicate-passage coverage (operators/dedup.
    dup_passage_coverage): the exact-substring dedup signal of Lee et
    al. ACL'22 at 8-token passage granularity — the share of each
    document's distinct passages that appear in other docs, in basis
    points. On the near-dup fixture the planted originals read ~9800 bp
    while the non-planted p75 is 0 — the per-doc copy-fraction signal a
    curation pass thresholds on."""
    return DD.dup_passage_coverage(CORPUS.documents_with_neardups(spark, sf_dir))


def q_quality_gate(spark, sf_dir):
    """Per-language EXACT percentile quality gate (operators/curate.
    quality_percentile_gate): drop each language's bottom 25% by
    quality_bp via the bounded-histogram two-pass — exact percentile
    semantics (ties at the threshold survive) with no corpus sort and
    no approxQuantile, partition- and cluster-size-independent."""
    from vaero_spark.operators.curate import quality_percentile_gate

    return quality_percentile_gate(CORPUS.load_documents(spark, sf_dir))


def q_vocab_merges(spark, sf_dir):
    """BPE merge induction (functions/text.pair_merge_topk): top-50
    adjacent-token pairs by corpus occurrence count — the
    merge-candidate scoring step of tokenizer training; deterministic
    (count DESC, pair ASC) tiebreak, distributed top-k."""
    return TXT.pair_merge_topk(CORPUS.load_documents(spark, sf_dir))


def q_chunk_rag(spark, sf_dir):
    """Token-window chunking (operators/assemble.chunk_tokens):
    overlapping 64-token chunks at stride 48 — the long-doc splitting
    step of RAG indexing / context-window prep (corpus_pack's inverse);
    shuffle-free narrow expressions, one chunk minimum per doc."""
    from vaero_spark.operators.assemble import chunk_tokens

    return chunk_tokens(CORPUS.load_documents(spark, sf_dir))


def q_dedup_incremental(spark, sf_dir):
    """Cross-snapshot exact dedup (operators/dedup.dedup_against): drop
    documents whose text already exists by md5 in a reference snapshot
    — the incremental-crawl step. Fixture: the near-dup table plays
    today's crawl, every 4th base doc plays the ingested snapshot, so
    exactly those originals drop while their appended-token near-dup
    copies (different text, different hash) survive."""
    new = CORPUS.documents_with_neardups(spark, sf_dir)
    snap = CORPUS.load_documents(spark, sf_dir).filter(F.col("doc_id") % 4 == 0)
    return DD.dedup_against(new, snap)


def q_group_topk(spark, sf_dir):
    """Skew-proof per-group top-k (operators/transforms.group_topk):
    top-5 docs per language by quality score WITHOUT a per-group sort —
    two-phase salted map-side top-k whose result is provably identical
    to the row_number window plan (the oracle runs the window form, so
    the gate IS the equivalence check)."""
    d = CORPUS.load_documents(spark, sf_dir)
    d = d.withColumn("_tok", TXT.tokens("text"))
    scored = d.select(
        "doc_id",
        "lang",
        TXT.quality_columns("text", tok=F.col("_tok"))["quality_bp"].alias(
            "quality_bp"
        ),
    )
    return TR.group_topk(scored, "lang", "quality_bp", "doc_id", k=5)


def q_events_sessions(spark, sf_dir):
    """Gap-based sessionization (operators/windows.sessionize): assign
    30-minute-gap sessions over the event log per user and aggregate
    them — the row-level ELT sessionization with stable per-key session
    numbering; millisecond-integer arithmetic end to end."""
    from vaero_spark.operators.windows import sessionize

    return sessionize(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_corpus_quantiles(spark, sf_dir):
    """Exact per-language token-length quantiles (functions/text.
    length_quantiles): p25/p50/p75/p95 via the bounded-histogram
    machinery — the corpus length report behind chunk/pack/truncation
    decisions; inverted-CDF definition, integer cross-multiplication,
    partition-independent."""
    return TXT.length_quantiles(CORPUS.load_documents(spark, sf_dir))


def q_conv_latency(spark, sf_dir):
    """Per-conversation assistant response latency (operators/analytics.
    response_latency): user→assistant adjacent-turn event-time deltas in
    integer milliseconds, aggregated per conversation — the transcript
    QoS metric; one conv-keyed window + aggregate."""
    from vaero_spark.operators.analytics import response_latency

    return response_latency(load_transcripts(spark, sf_dir))


def q_corpus_index(spark, sf_dir):
    """Inverted-index build (operators/search.build_postings): exact
    per-token document frequency + the k lowest doc ids as capped
    postings — built with the salted two-phase top-k so no partial
    aggregation state ever holds a stop token's corpus-sized posting
    list; the oracle runs the window form (equivalence check)."""
    from vaero_spark.operators.search import build_postings

    return build_postings(CORPUS.load_documents(spark, sf_dir))


def q_pii_scrub(spark, sf_dir):
    """Composed PII scrub (operators/curate.pii_scrub): mask emails /
    IPv4 / long digit runs with per-category removal counts — narrow
    per-row expressions, shuffle-free."""
    from vaero_spark.operators.curate import pii_scrub

    t = load_transcripts(spark, sf_dir)
    return pii_scrub(t).select(
        "conv_id", "turn_idx", "email_n", "ipv4_n", "longnum_n", "text"
    )


def q_corpus_pack(spark, sf_dir):
    """Greedy token-budget sequence packing into training sequences
    (operators/assemble.pack_sequences): shards pack independently
    (the parallel dimension), docs pack in doc_id order within a
    shard; exact recursive-CTE oracle."""
    from vaero_spark.operators.assemble import pack_sequences

    return pack_sequences(CORPUS.load_documents(spark, sf_dir))


def q_emb_kmeans(spark, sf_dir):
    """Corpus clustering: distributed Lloyd's k-means on the unit
    sphere (operators/cluster.py) — vectorized assignment per Arrow
    batch, k·dim driver model update, observe-based convergence, per
    -round localCheckpoint. Spark-only (iterative float math has no
    bit-stable SQL twin — no_oracle by design); pytest pins exact
    assignment parity with a same-seed numpy reference."""
    from vaero_spark.operators.cluster import embed_kmeans

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embed_kmeans(emb, k=8)


PAGE_FOOTER = "generated by corpus export v1"
BM25_TERMS = ["spark", "vector", "window", "hash"]


def _doc_pages(spark, sf_dir):
    """Deterministic multi-line 'web page' fixture derived from the
    single-line documents table (both engines build the identical
    corpus): page = 4 consecutive docs as lines, prefixed by one of 7
    rotating section headers (df ≈ 18 pages) and suffixed by a constant
    export footer (df = all pages) — the two boilerplate classes a
    line-df threshold of 10 must strip while keeping every unique doc
    line."""
    agg = (
        CORPUS.load_documents(spark, sf_dir)
        .groupBy(F.expr("doc_id div 4").alias("page_id"))
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "text"))).alias("_docs"))
    )
    header = F.concat(
        F.lit("section "), F.pmod(F.col("page_id"), F.lit(7)).cast("string")
    )
    body = F.array_join(F.transform("_docs", lambda s: s["text"]), "\n")
    return agg.select(
        "page_id",
        F.concat(header, F.lit("\n"), body, F.lit("\n"), F.lit(PAGE_FOOTER)).alias(
            "page_text"
        ),
    )


def q_txt_boilerplate(spark, sf_dir):
    """CCNet/RefinedWeb-style line-level boilerplate removal
    (operators/curate.strip_boilerplate_lines): lines occurring in more
    than max_line_df distinct documents are dropped, survivors rejoin
    in original order — run over the derived multi-line page fixture
    (headers + footer stripped, unique doc lines kept)."""
    from vaero_spark.operators.curate import strip_boilerplate_lines

    return strip_boilerplate_lines(
        _doc_pages(spark, sf_dir), max_line_df=10,
        id_col="page_id", text_col="page_text",
    )


def q_corpus_bm25(spark, sf_dir):
    """Corpus keyword search (operators/search.bm25_topk): top-25 docs
    for a mixed-frequency term set, BM25 with the log-free RSJ-odds idf
    (correctly-rounded ops only — bit-exact across engines; see the
    module docstring for the trade)."""
    from vaero_spark.operators.search import bm25_topk

    return bm25_topk(CORPUS.load_documents(spark, sf_dir), BM25_TERMS, k=25)


MIX_BUDGETS = {"en": 6000, "zh": 1500}  # token budgets per language
MIX_DEFAULT_BUDGET = 2500


def q_corpus_mix(spark, sf_dir):
    """EXACT-budget corpus mixing (operators/transforms.mix_by_budget):
    per-language token budgets realized as a deterministic-hash-ordered
    greedy prefix per stratum — the mixture-weights → concrete-selection
    step of a pretraining data pipeline; integer-exact window cumsum in
    both engines."""
    return TR.mix_by_budget(
        CORPUS.load_documents(spark, sf_dir), MIX_BUDGETS, MIX_DEFAULT_BUDGET
    )


CORPUS_SAMPLE_RATES = {"en": 64, "zh": 256}  # keep 1/4 of en, all zh
CORPUS_SAMPLE_DEFAULT = 128  # other languages: half


def q_corpus_sample(spark, sf_dir):
    """Corpus BALANCING: per-language deterministic hash sample
    (operators/transforms.sample_stratified) — downsample the dominant
    language, keep all of the rare one, halve the rest; selection is a
    pure row function (md5 last byte vs per-stratum hex threshold), so
    the result is identical across engines, partitionings, and cluster
    sizes."""
    return TR.sample_stratified(
        CORPUS.load_documents(spark, sf_dir).select("doc_id", "lang"),
        CORPUS_SAMPLE_RATES,
        default_256ths=CORPUS_SAMPLE_DEFAULT,
    )


def q_conv_assemble(spark, sf_dir):
    """Conversation-document assembly: turns → one role-tagged training
    document per conversation with integrity columns (the canonical
    last step of a transcript training-data pipeline)."""
    from vaero_spark.operators.assemble import assemble_conversations

    return assemble_conversations(load_transcripts(spark, sf_dir))


CEP_PATTERN = "tt+u"  # >=2 consecutive tool turns, then a user interrupt
CEP_STREAM_LITERAL = "ttu"  # fixed-length form for the streaming state machine
# bounded-Kleene streaming pattern (VERDICT r5 #5): 1-3 tool turns then
# a user interrupt; max_len - min_len = 2 deliberately exercises the
# settled/tail split (a viable-incomplete position can sit ahead of a
# completed shorter match)
CEP_KLEENE_PATTERN = "t{1,3}u"


def q_cep_role_seq(spark, sf_dir):
    """CEP sequence-pattern match (operators/cep.cep_match): find
    conversations where a tool-call loop (>=2 consecutive tool turns)
    is interrupted by the user — a regex over the per-conversation
    role-symbol sequence, the MATCH_RECOGNIZE/Flink-CEP primitive the
    reference engine lacks; non-overlapping count + first-match turn,
    integer-exact in both engines."""
    return CEP.cep_match(load_transcripts(spark, sf_dir), CEP_PATTERN)


FUNNEL_ROLES = ["user", "assistant", "tool", "system"]
# blocklist phrases that occur in the transcripts' event-type vocabulary
# ("turn <i> of <conv>: <event_type> k=<n>") so the streaming monitor
# sees real hits; production passes its own safety lexicon
STREAM_LEXICON = ("error", "purchase")
SPIKE_PARAMS = dict(baseline_buckets=3, factor_bp=20000, min_baseline=3)


def q_conv_funnel(spark, sf_dir):
    """Ordered-stage funnel (operators/analytics.funnel): conversations
    progressing user → assistant → tool → system, each stage strictly
    after the previous stage's first hit — the event-analytics
    primitive; chained conv-keyed min-aggregates, integer-exact."""
    from vaero_spark.operators.analytics import funnel

    stages = [(r, F.col("role") == r) for r in FUNNEL_ROLES]
    return funnel(load_transcripts(spark, sf_dir), stages)


def q_stream_funnel(spark, sf_dir):
    """Streaming funnel (operators/analytics.stream_funnel): track each
    conversation's user → assistant → tool → system stage progression
    AS TURNS ARRIVE, out-of-order micro-batches included. Stage
    predicates evaluate JVM-side into one bitmask per turn; state per
    conversation is its stage-relevant (ord, mask) pairs with idle
    eviction. The drained last emission per conversation must equal the
    batch funnel_membership rows — an EXACT SQL oracle for the stateful
    op (the stream_cep / stream_spikes pairing)."""
    from vaero_spark.operators.analytics import stream_funnel

    sink = _drain_gate(
        spark,
        lambda src: stream_funnel(
            src, [F.col("role") == r for r in FUNNEL_ROLES], watermark="60 days"
        ),
        mode="update", pin=False, inp=_gate_stream_input(spark, sf_dir, "plain"),
    )
    out = [(r.conv_id, r.stage, r.first_ord) for r in _last_emission(sink, "conv_id")]
    return spark.createDataFrame(out, "conv_id string, stage int, first_ord long")


def q_rate_spikes(spark, sf_dir):
    """Rate-spike detection (operators/analytics.rate_spikes): per-user
    daily event counts vs the trailing 3-day baseline, flagged by
    integer cross-multiplication (cur·3·10⁴ > 2·10⁴·sum_prev) — one
    map-side-combined aggregate + one per-key integer-RANGE window."""
    from vaero_spark.operators.analytics import rate_spikes

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return rate_spikes(ev, **SPIKE_PARAMS)


def q_cohort_retention(spark, sf_dir):
    """Day-cohort retention matrix (operators/analytics.cohort_retention):
    each user's cohort is their first active day; cells count users
    active at each (cohort_day, offset_day) — ONE key shuffle
    (map-side-combined collect_set of day indices, horizon-bounded) +
    narrow explode + small final aggregate; integer-exact."""
    from vaero_spark.operators.analytics import cohort_retention

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cohort_retention(ev)


def q_stream_spikes(spark, sf_dir):
    """Streaming rate-spike detection: the same rule on a LIVE stream
    (applyInPandasWithState, watermark-bounded per-key bucket state,
    update-mode re-emission); the drained final emission equals the
    batch operator — an EXACT SQL oracle for the stateful op."""
    from vaero_spark.operators.analytics import stream_rate_spikes

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sink = _drain_gate(
        spark, lambda src: stream_rate_spikes(src, watermark="90 days", **SPIKE_PARAMS),
        mode="update", pin=False, backlog=ev.repartition(6, "event_id"),
        schema=ev.schema, max_files=2,
    )
    spikes = [
        (r.key, r.bucket_idx, r.n_events, r.baseline_sum)
        for r in _last_emission(sink, "key", "bucket_idx")
        if r.is_spike
    ]
    return spark.createDataFrame(
        spikes, "key long, bucket_idx long, n_events long, baseline_sum long"
    )


def q_txt_topk_tokens(spark, sf_dir):
    """Corpus vocabulary heavy hitters: top-100 tokens by frequency,
    deterministic tiebreak; distributed top-k (TakeOrderedAndProject)."""
    return TXT.token_topk(CORPUS.load_documents(spark, sf_dir))


def q_corpus_stats(spark, sf_dir):
    """Per-language corpus composition report (docs, token/char volume,
    mean quality) — tokenized once, one hash-groupBy on lang."""
    return TXT.corpus_stats(CORPUS.load_documents(spark, sf_dir))


def q_dedup_embedding(spark, sf_dir):
    """Embedding dedup: md5 of int-quantized vectors, hash-groupBy."""
    return DD.embedding_dup_groups(CORPUS.embeddings_with_dups(spark, sf_dir))


def q_dedup_embedding_cos(spark, sf_dir):
    """Embedding near-dup pairs: cosine ≥ 0.99 via sign-bit LSH bucket
    join + exact int-quantized cosine verification."""
    return DD.embedding_neardup_pairs(CORPUS.embeddings_with_dups(spark, sf_dir))


def q_dedup_embedding_wide(spark, sf_dir):
    """Wide-band LSH end-to-end (VERDICT r5 #6): the same near-dup
    mining with ``n_estimate=1e8``, forcing ``auto_band_bits`` to the
    2×32-bit banding whose BIGINT band keys overflowed int32 in r4 —
    the driver now exercises the exact key-build the sizing targets
    (previously pytest-pinned at the key level only)."""
    return DD.embedding_neardup_pairs(
        CORPUS.embeddings_with_dups(spark, sf_dir), n_estimate=100_000_000
    )


def q_emb_clusters(spark, sf_dir):
    """SEMANTIC near-dup canonicalization (operators/dedup.
    embedding_clusters): connected components over the embedding
    cosine>=0.99 pair graph — banded sign-LSH pair mining, then the
    shared min-label propagation loop (per-round localCheckpoint,
    observe-ridden convergence); oracle = recursive-CTE reachability
    over the same verified pair set."""
    return DD.embedding_clusters(CORPUS.embeddings_with_dups(spark, sf_dir))


def _emb_cos_pairs_body(bands: int, bits: int, min_sim_e4: int = 9900) -> str:
    """CTE chain ending in ``epairs`` (id_a, id_b, sim_e4 >= threshold)
    — the DuckDB twin of embedding_neardup_pairs at a given banding,
    shared by the pair gates and the embedding-clusters closure."""
    return f"""{CORPUS.EMBEDDINGS_ND_ORACLE_CTE},
            q AS (SELECT vec_id, {CORPUS.quantized_sql()} AS qv FROM embeddings_nd),
            el AS (SELECT vec_id, i, qv[i] AS v
                   FROM q, unnest(generate_series(1, len(qv))) t(i)),
            nn AS (SELECT vec_id, SUM(v * v) AS nsq FROM el GROUP BY vec_id),
            bk AS (SELECT vec_id, unnest({SIM.sign_band_keys_sql('qv', bands, bits)}) AS bk FROM q),
            cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                     FROM bk a JOIN bk b ON a.bk = b.bk
                                        AND a.vec_id < b.vec_id),
            dots AS (SELECT c.id_a, c.id_b, SUM(ea.v * eb.v) AS dot
                     FROM cand c
                     JOIN el ea ON ea.vec_id = c.id_a
                     JOIN el eb ON eb.vec_id = c.id_b AND eb.i = ea.i
                     GROUP BY c.id_a, c.id_b),
            epairs AS (SELECT * FROM (
              SELECT d.id_a, d.id_b,
                     CAST(floor(10000.0 * d.dot / (sqrt(CAST(na.nsq AS DOUBLE))
                          * sqrt(CAST(nb.nsq AS DOUBLE)))) AS BIGINT) AS sim_e4
              FROM dots d JOIN nn na ON na.vec_id = d.id_a
                          JOIN nn nb ON nb.vec_id = d.id_b
            ) WHERE sim_e4 >= {min_sim_e4})"""


def _emb_cos_pairs_sql(bands: int, bits: int) -> str:
    return f"WITH {_emb_cos_pairs_body(bands, bits)} SELECT * FROM epairs"


def _emb_clusters_sql(bands: int, bits: int) -> str:
    """Recursive min-label reachability over the embedding pair graph
    (the dedup_clusters closure, on epairs instead of MinHash pairs)."""
    return f"""WITH RECURSIVE {_emb_cos_pairs_body(bands, bits)},
            esym AS (SELECT id_a AS a, id_b AS b FROM epairs
                     UNION ALL SELECT id_b, id_a FROM epairs),
            ereach AS (
              SELECT a AS node, a AS lab FROM esym
              UNION
              SELECT s.b, r.lab FROM ereach r JOIN esym s ON s.a = r.node
            )
            SELECT node AS vec_id, MIN(lab) AS cluster_id
            FROM ereach GROUP BY node"""


def _ann_queries(df):
    return df.filter(F.col("vec_id") % 25 == 0)


def q_ann_brute(spark, sf_dir):
    """Brute-force cosine top-5 (broadcast queries, int-quantized math)."""
    e = CORPUS.load_embeddings(spark, sf_dir)
    return SIM.cosine_topk_brute(e, _ann_queries(e), k=5)


def q_ann_bucketed(spark, sf_dir):
    """Sign-bit LSH-bucketed approximate top-5 (the 100 TB shape)."""
    e = CORPUS.load_embeddings(spark, sf_dir)
    return SIM.cosine_topk_bucketed(e, _ann_queries(e), k=5)


def q_ann_hyperplane(spark, sf_dir):
    """Random-hyperplane LSH ANN via vectorized pandas UDF (production
    path; no SQL oracle — verified against brute force in tests)."""
    e = CORPUS.load_embeddings(spark, sf_dir)
    return SIM.cosine_topk_hyperplane(e, _ann_queries(e), k=5)


def q_ann_ivf(spark, sf_dir):
    """IVF coarse-quantizer ANN: probe n nearest cells per query, exact
    re-rank within their inverted lists (the other production scale
    path next to LSH; no SQL oracle — float matmul — verified against
    brute force in tests)."""
    e = CORPUS.load_embeddings(spark, sf_dir)
    return SIM.cosine_topk_ivf(e, _ann_queries(e), k=5)


def q_mm_meta(spark, sf_dir):
    """Multimodal metadata extraction over binary payloads (mapInPandas)."""
    return MM.extract_metadata(CORPUS.load_media(spark, sf_dir))


def q_mm_frames(spark, sf_dir):
    """Frame sampling: every 4th 16-byte window per payload (1→N rows)."""
    return MM.sample_frames(CORPUS.load_media(spark, sf_dir))


def q_mm_features(spark, sf_dir):
    """Feature extraction: byte-stat vector per payload (mapInPandas)."""
    return MM.extract_features(CORPUS.load_media(spark, sf_dir))


def q_cooccur_lift(spark, sf_dir):
    """Top-100 windowed token co-occurrence pairs by integer lift
    (operators/cooccur) — PMI-rank-equivalent phrase detection, pure
    BIGINT arithmetic; one doc-keyed window + one pair groupBy."""
    from vaero_spark.operators.cooccur import cooccur_lift

    return cooccur_lift(CORPUS.load_documents(spark, sf_dir))


def q_bpe_encode(spark, sf_dir):
    """BPE tokenizer APPLICATION (functions/bpe): encode every document
    under a pinned 16-merge vocab via chained builtin replaces —
    shuffle-free, codegen'd; per-doc unit counts, compression bp, and
    the encoded-string md5 as the cross-engine witness."""
    from vaero_spark.functions.bpe import bpe_stats

    return bpe_stats(CORPUS.load_documents(spark, sf_dir))


def q_lexicon_filter(spark, sf_dir):
    """Phrase-blocklist curation pass (operators/curate.lexicon_flags):
    count lexicon-phrase occurrences per doc (builtin string arithmetic,
    no regex) and flag docs over the hit budget; narrow, shuffle-free."""
    from vaero_spark.operators.curate import lexicon_flags

    return lexicon_flags(CORPUS.load_documents(spark, sf_dir))


def q_tool_transitions(spark, sf_dir):
    """Agent tool-call transition matrix (operators/analytics.
    tool_transitions): per-conversation lag window over tool turns →
    (prev_tool, tool) counts + basis-point transition probabilities."""
    from vaero_spark.operators.analytics import tool_transitions

    return tool_transitions(load_transcripts(spark, sf_dir))


def q_stream_w_distinct(spark, sf_dir):
    """STREAMING exact hourly distinct users (operators/windows.
    stream_windowed_distinct): chained stateful operators — watermark →
    dropDuplicates(window, user) → windowed count, APPEND mode, each
    window emitted exactly once when the watermark passes its end.
    Bounded-replay drain: the backlog feeds as ONE batch (the watermark
    advances only between batches, so nothing is late) and a sentinel
    event past max_ts + watermark + 2 windows flushes every real
    window; the sentinel's own window stays held, so emitted rows ==
    the batch aggregate exactly."""
    from vaero_spark.operators.windows import stream_windowed_distinct

    # events.ts is parquet NTZ; watermarks need TIMESTAMP (UTC session
    # => same wall time, the house convention from stream_lexicon)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    sink = _drain_gate(
        spark, stream_windowed_distinct, mode="append", pin=True,
        backlog=ev, schema=ev.schema, max_files=None,
        sentinel=lambda max_ts: [(max_ts + datetime.timedelta(hours=3), -1)],
    )
    rows = [(r.win_start, r.n_users) for r in sink.rows()]
    return spark.createDataFrame(rows, "win_start timestamp, n_users long")


def q_w_distinct(spark, sf_dir):
    """Hourly EXACT distinct-user counts over events (operators/windows.
    windowed_distinct_users): the two-phase expand/partial-agg distinct
    plan — the shuffle carries one row per distinct (window, user)."""
    from vaero_spark.operators.windows import windowed_distinct_users

    return windowed_distinct_users(load_table(spark, sf_dir, "events"))


def q_emb_centroids(spark, sf_dir):
    """Per-class centroid sufficient statistics (operators/cluster.
    centroid_sums): exact per-(label, dim) sums of quantized embeddings
    in long format — one map-side-combined groupBy, model-sized result."""
    from vaero_spark.operators.cluster import centroid_sums

    return centroid_sums(CORPUS.load_embeddings(spark, sf_dir))


def q_corpus_novelty(spark, sf_dir):
    """Cross-document shingle novelty (operators/dedup.shingle_novelty):
    per doc, the fraction of its distinct 3-shingles first seen in THIS
    doc by ingestion order — the corpus-growth curve; shingle-keyed
    min-groupBy + same-key join back, no doc×doc pairs."""
    return DD.shingle_novelty(CORPUS.load_documents(spark, sf_dir))


def q_json_profile(spark, sf_dir):
    """Semi-structured schema discovery (operators/analytics.
    json_profile): per JSON path across events.props — presence count,
    integer-typed count, object count, scalar-only lexicographic value
    range; keys explode narrow, one map-side-combined groupBy,
    schema-sized result."""
    from vaero_spark.operators.analytics import json_profile

    return json_profile(load_table(spark, sf_dir, "events"))


# The nested-payload fixture (VERDICT r5 #8): a 3-deep JSON document
# built by IDENTICAL string concatenation from events columns in both
# engines — object recursion (actor.geo.city), an embedded flat object
# (the real props), an array value, and a JSON null all exercised.
_NESTED_PROPS_SPARK = [
    '{"actor":{"id":', ("user_id", "string"),
    ',"geo":{"city":"c', ("user_id % 7", "string"),
    '"}},"evt":"', ("event_type", None),
    '","props":', ("props", None),
    ',"tags":[', ("event_id % 3", "string"),
    '],"z":null}',
]
_NESTED_PROPS_CTE = """nested AS (
      SELECT '{"actor":{"id":' || user_id || ',"geo":{"city":"c'
             || (user_id % 7) || '"}},"evt":"' || event_type
             || '","props":' || props || ',"tags":[' || (event_id % 3)
             || '],"z":null}' AS props
      FROM events), """


def q_json_profile_nested(spark, sf_dir):
    """Nested schema discovery (VERDICT r5 #8): json_profile over a
    3-deep payload — dotted paths (actor.geo.city), object counts, and
    the ADVICE r5 scalar-only min/max guard (the array + embedded
    object never reach val_min/val_max), oracle-exact."""
    from pyspark.sql import functions as F

    from vaero_spark.operators.analytics import json_profile

    ev = load_table(spark, sf_dir, "events")
    parts = [
        F.lit(p) if isinstance(p, str)
        else (F.expr(p[0]).cast(p[1]) if p[1] else F.expr(p[0]))
        for p in _NESTED_PROPS_SPARK
    ]
    return json_profile(ev.select(F.concat(*parts).alias("props")))


def q_stream_lexicon(spark, sf_dir):
    """Streaming blocklist monitor (operators/curate.stream_lexicon):
    cumulative per-conversation lexicon hits as turns arrive, duplicate
    and out-of-order safe; the drained last emission per conversation
    must equal the batch per-conversation aggregate — an EXACT SQL
    oracle for the stateful op (the stream_funnel pairing). Lexicon
    phrases live in the transcripts' event-type vocabulary so real
    hits flow."""
    from vaero_spark.operators.curate import stream_lexicon

    sink = _drain_gate(
        spark,
        lambda src: stream_lexicon(src, lexicon=STREAM_LEXICON, watermark="60 days"),
        mode="update", pin=False, inp=_gate_stream_input(spark, sf_dir, "plain"),
    )
    return spark.createDataFrame(
        [(r.conv_id, r.lex_hits, r.flagged) for r in _last_emission(sink, "conv_id")],
        "conv_id string, lex_hits long, flagged int",
    )


def q_sketch_countmin(spark, sf_dir):
    """Count-Min heavy hitters (operators/sketch.countmin_report): the
    d x w mergeable grid (map-side combine bounds the shuffle at d*w
    rows per partition) graded against the exact top-20 tokens —
    n_cms >= n_exact always; the gap is the collision load."""
    from vaero_spark.operators.sketch import countmin_report

    return countmin_report(CORPUS.load_documents(spark, sf_dir))


def q_sketch_hll(spark, sf_dir):
    """HyperLogLog distinct-token summary (operators/sketch.hll_summary)
    over transcripts: 64 max-rank registers (the exact mergeable state),
    the integer raw estimate, and its error vs the exact count — all
    BIGINT, the estimate evaluated as (alpha_bp*m^2*2^R) div (10^4*S)."""
    from vaero_spark.operators.sketch import hll_summary

    return hll_summary(load_transcripts(spark, sf_dir))


def q_graph_textrank(spark, sf_dir):
    """Integer fixed-point TextRank (operators/graph.textrank): 6 damped
    power-iteration rounds over the token-adjacency graph, vocab-sized
    state, per-round localCheckpoint, self-loop-completed node set; the
    DuckDB twin replays the identical recurrence in a recursive CTE."""
    from vaero_spark.operators.graph import textrank

    return textrank(CORPUS.load_documents(spark, sf_dir))


def q_w_hll(spark, sf_dir):
    """Batch windowed HyperLogLog (operators/sketch.windowed_hll):
    per-hour register maxima completed against a broadcast 64-row
    dimension, the integer raw estimate, and the exact per-window
    distinct count + err_bp grading it — the report that sizes the
    sketch before a stream trusts it."""
    from vaero_spark.operators.sketch import windowed_hll

    return windowed_hll(load_transcripts(spark, sf_dir))


def q_stream_hll(spark, sf_dir):
    """STREAMING windowed HLL registers (operators/sketch.
    stream_windowed_hll): watermark → route/rank (narrow) → groupBy
    (window, register) MAX in APPEND mode — state is AT MOST 64
    register rows per open window whatever the corpus does (the exact
    sibling stream_w_distinct holds one row per open distinct key).
    Drained registers + the stateless summary layer must equal the
    batch windowed sketch (same oracle minus the exact grading side)."""
    from vaero_spark.operators.sketch import stream_windowed_hll, windowed_hll_summary

    t = load_transcripts(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    sink = _drain_gate(
        spark, stream_windowed_hll, mode="append", pin=True,
        backlog=t, max_files=None,
        sentinel=lambda max_ts: [
            ("__sentinel__", 0, "system", "", "", max_ts + datetime.timedelta(hours=3))
        ],
    )
    rows = [(r.win_start, r.register, r.max_rank) for r in sink.rows()]
    regs = spark.createDataFrame(
        rows, "win_start timestamp, register int, max_rank int"
    )
    return windowed_hll_summary(regs)


def q_w_concurrency(spark, sf_dir):
    """Interval-concurrency occupancy (operators/windows.
    concurrency_by_hour): max simultaneously-open conversations per
    hour — the classic sweep-line (+1/−1, running max) decomposed as a
    two-level parallel prefix-max (minute buckets → hour combine) so a
    hot hour never funnels through one task; pure integer sweep in
    both engines."""
    return WINDOWS.concurrency_by_hour(load_transcripts(spark, sf_dir))


def q_cep_absence(spark, sf_dir):
    """CEP negation (operators/cep.cep_absence): user turns with no
    assistant response within the next 3 turns — the notFollowedBy
    pattern class a positive regex scan cannot count (dangling
    triggers overlap); reversed-window next-response index, exact in
    both engines."""
    return CEP.cep_absence(load_transcripts(spark, sf_dir))


def q_stream_absence(spark, sf_dir):
    """STREAMING absence detection (operators/cep.stream_cep_absence):
    unanswered-user alerts as turns arrive — negation needs state that
    settles on what does NOT arrive (the k-turn window filling); open
    triggers bounded by k+1, every emission equals the batch scan of
    the seen prefix, drained == the batch operator's SQL oracle."""
    sink = _drain_gate(
        spark, lambda src: CEP.stream_cep_absence(src, k=3, watermark="60 days"),
        mode="update", pin=False, inp=_gate_stream_input(spark, sf_dir, "plain"),
    )
    flagged = [
        (r.conv_id, r.n_turns, r.n_triggers, r.n_dangling, r.first_dangling_turn)
        for r in _last_emission(sink, "conv_id")
        if r.n_dangling > 0
    ]
    return spark.createDataFrame(
        flagged,
        "conv_id string, n_turns long, n_triggers long, n_dangling long, "
        "first_dangling_turn long",
    )


def q_stream_within(spark, sf_dir):
    """STREAMING time-bounded CEP (operators/cep.stream_cep_within):
    'ttu' completing inside six hours, detected live — a sliding start
    settles the instant its window completes (symbols consumed, span
    pure ms arithmetic), so state is the last 2 turns + the disorder
    buffer and every emission equals the batch lead-chain on the seen
    prefix. Drained == cep_within's SQL oracle row for row."""
    sink = _drain_gate(
        spark, lambda src: CEP.stream_cep_within(src, "ttu", 21600, watermark="60 days"),
        mode="update", pin=False, inp=_gate_stream_input(spark, sf_dir, "plain"),
    )
    hits = [
        (r.conv_id, r.n_turns, r.n_within, r.first_within_turn)
        for r in _last_emission(sink, "conv_id")
        if r.n_within > 0
    ]
    return spark.createDataFrame(
        hits, "conv_id string, n_turns long, n_within long, first_within_turn long"
    )


def q_stream_session_native(spark, sf_dir):
    """JVM-NATIVE streaming session windows (operators/windows.
    session_windows on a stream): watermark → groupBy(conv,
    session_window) in APPEND mode — Spark's native session-merge state
    operator (sessions merge as gap-bridging events arrive; each merged
    session finalized exactly ONCE when the watermark passes its end).
    Both session gates run native `session_windows`: `stream_session`
    drains a multi-trigger stream into the exactly-once parquet sink;
    this one drains a single-batch backlog into a memory sink, against
    the SAME gaps-and-islands SQL oracle as batch `w_session`. Drain: one-batch
    backlog + a watermark-advancing sentinel (the watermark node sits
    on the raw stream, so one system row suffices)."""
    sink = _drain_gate(
        spark,
        lambda src: session_windows(src.withWatermark("ts", "1 hour"), "30 minutes"),
        mode="append", pin=True, backlog=load_transcripts(spark, sf_dir), max_files=None,
        sentinel=lambda max_ts: [
            ("__sentinel__", 0, "system", "", "", max_ts + datetime.timedelta(days=60))
        ],
    )
    rows = [tuple(r) for r in sink.rows() if not r.conv_id.startswith("__sentinel")]
    return spark.createDataFrame(
        rows,
        "conv_id string, win_start timestamp, win_end timestamp, "
        "n_turns long, n_user long, n_tool long, first_turn int, "
        "last_turn int, min_ts timestamp, max_ts timestamp",
    )


def q_cep_absence_t(spark, sf_dir):
    """TIME-based CEP negation (operators/cep.cep_absence_time — the
    true Flink notFollowedBy().within(Time)): user turns with no
    assistant response within ONE HOUR of wall-clock — the count-based
    sibling asks 'within k turns', operations asks in time; ms-integer
    reversed-running-min over response timestamps."""
    return CEP.cep_absence_time(load_transcripts(spark, sf_dir), max_wait_s=3600)


def q_stream_absence_t(spark, sf_dir):
    """STREAMING time-based absence (operators/cep.
    stream_cep_absence_time): a trigger settles as dangling the moment
    a later turn's EVENT TIME proves the hour elapsed unanswered (event
    time drives the decision, not wall clock); open state bounded by
    one wait window of triggers; drained == the batch operator's SQL
    oracle."""
    sink = _drain_gate(
        spark,
        lambda src: CEP.stream_cep_absence_time(
            src, max_wait_s=3600, watermark="60 days"
        ),
        mode="update", pin=False, inp=_gate_stream_input(spark, sf_dir, "plain"),
    )
    flagged = [
        (r.conv_id, r.n_turns, r.n_triggers, r.n_dangling, r.first_dangling_turn)
        for r in _last_emission(sink, "conv_id")
        if r.n_dangling > 0
    ]
    return spark.createDataFrame(
        flagged,
        "conv_id string, n_turns long, n_triggers long, n_dangling long, "
        "first_dangling_turn long",
    )


def q_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve (functions/text.vocab_coverage): the
    token-occurrence share of the top-10/100/1000 distinct tokens —
    the Zipf head-mass probe behind vocab sizing; one token groupBy +
    TakeOrderedAndProject survivors, coverage in basis points."""
    return TXT.vocab_coverage(CORPUS.load_documents(spark, sf_dir))


CEP_LIBRARY = {
    "tool_loop": "tt+u",  # tool churn until the user interrupts
    "unanswered_end": "u$",  # conversation ends on a user turn
    "sys_restart": "s[ua]",  # system turn mid-conversation
}


def q_cep_multi(spark, sf_dir):
    """Multi-pattern CEP library scan (operators/cep.cep_match_multi):
    three named behavioral signatures evaluated over ONE conversation
    assembly — N patterns cost one shuffle, not N (the production CEP
    monitoring shape); same per-pattern semantics as cep_role_seq."""
    return CEP.cep_match_multi(load_transcripts(spark, sf_dir), CEP_LIBRARY)


def q_corpus_cube(spark, sf_dir):
    """CUBE aggregation (operators/analytics.corpus_cube): doc counts
    and char volume by language x source with ALL margins from one
    pass (single scan feeding Spark's Expand); grouping_id bitmask
    separates margin rows from genuinely-null dims — bit-identical to
    DuckDB's GROUPING()."""
    from vaero_spark.operators.analytics import corpus_cube

    return corpus_cube(CORPUS.load_documents(spark, sf_dir))


def q_j_salted(spark, sf_dir):
    """Salted hot-key equi-join (operators/skew.salted_join): enrich
    every turn with its conversation's turn count by joining the
    Zipf-skewed fact on (conv_id, salt) against a salt-exploded dim —
    the hot conversation spreads over 16 reducers; result row-identical
    to the plain join (the oracle IS the plain join)."""
    from vaero_spark.operators.skew import salted_join

    t = load_transcripts(spark, sf_dir)
    dim = t.groupBy("conv_id").agg(F.count(F.lit(1)).alias("conv_turns"))
    return salted_join(
        t.select("conv_id", "turn_idx", "role"), dim, "conv_id"
    ).select("conv_id", "turn_idx", "role", "conv_turns")


LAYOUT_BOX_A, LAYOUT_BOX_B = (20, 52), (45, 109)  # deliberately tile-misaligned


def q_layout_zorder(spark, sf_dir):
    """Z-order layout pruning report (operators/layout.
    layout_prune_report): Morton-interleave (user bucket, hour bucket)
    and compare min-max file pruning for a 2-D query box against the
    time-partitioned status quo — the Delta/Iceberg OPTIMIZE ZORDER
    mechanism as a measurable funnel (same matching rows, fewer files
    opened, fewer rows scanned); pure div/mod arithmetic, no global
    sort (files are layout-key prefix buckets)."""
    from vaero_spark.operators.layout import layout_prune_report

    ev = load_table(spark, sf_dir, "events").select(
        F.pmod(F.col("user_id"), F.lit(256)).alias("ub"),
        F.pmod(
            F.expr("timestampdiff(HOUR, timestamp'1970-01-01 00:00:00', ts)"),
            F.lit(256),
        ).alias("hb"),
    )
    return layout_prune_report(ev, "ub", "hb", LAYOUT_BOX_A, LAYOUT_BOX_B)


def q_corpus_bottomk(spark, sf_dir):
    """Per-stratum FIXED-SIZE deterministic sample (operators/
    transforms.sample_bottomk): the 10 smallest-md5 docs per language —
    the bottom-k sketch (mergeable, size-pinned, pure row function);
    skew-proof two-phase salted build, window-form oracle proves
    row-identity."""
    return TR.sample_bottomk(
        CORPUS.load_documents(spark, sf_dir).select("doc_id", "lang"), k=10
    )


def q_cep_within(spark, sf_dir):
    """Time-bounded CEP (operators/cep.cep_within, the Flink-CEP
    within() clause): 'ttu' completing inside six hours — event time in
    the match predicate, which the symbol-regex cannot express; sliding
    per-start counts via a conv-partitioned lead chain, ms-integer
    exact."""
    return CEP.cep_within(load_transcripts(spark, sf_dir), "ttu", 21600)


def q_stream_outer_join(spark, sf_dir):
    """Streaming LEFT OUTER stream-stream join (operators/joins.
    streaming_user_tool_join(how='left_outer')): matches emit eagerly,
    but an unmatched user turn emits (null tool columns) only when the
    watermark passes user_ts + max_lag and the state store evicts it —
    the hardest streaming-join semantics. Drain: one-batch backlog
    (nothing late) + a user+tool sentinel pair at max_ts + 60 days
    (both per-side watermark nodes sit after the role filters, so the
    sentinel must survive both) to advance the watermark and flush the
    tail. Drained == the batch LEFT JOIN bit for bit."""
    from vaero_spark.operators.joins import streaming_user_tool_join

    def sentinel(max_ts):
        ts = max_ts + datetime.timedelta(days=60)
        return [
            ("__sentinel__", 0, "user", "", "", ts),
            ("__sentinel__", 1, "tool", "", "calc", ts),
        ]

    sink = _drain_gate(
        spark,
        lambda src: streaming_user_tool_join(
            src, watermark="1 hour", max_lag="4 hours", how="left_outer"
        ),
        mode="append", pin=True, backlog=load_transcripts(spark, sf_dir), max_files=None,
        sentinel=sentinel,
    )
    rows = [
        (r.conv_id, r.user_turn, r.user_ts, r.tool_turn, r.tool_name, r.tool_ts)
        for r in sink.rows()
        if not r.conv_id.startswith("__sentinel")
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, user_turn int, user_ts timestamp, "
        "tool_turn int, tool_name string, tool_ts timestamp",
    )


def q_cusum_drift(spark, sf_dir):
    """Two-sided CUSUM drift alarms (operators/analytics.cusum_drift):
    sustained per-tool hourly rate shifts via the windowed identity
    S_t = C_t - min(0, running-min C) — the recurrence as two ordinary
    cumulative windows, densified hour grid so silent hours count as
    rate-drop evidence; integer-exact in both engines."""
    from vaero_spark.operators.analytics import cusum_drift

    tools = load_transcripts(spark, sf_dir).where(F.col("tool") != "")
    return cusum_drift(tools, key_col="tool")


UPSAMPLE_WEIGHTS = {"zh": 25_000, "en": 7_500}  # zh x2.5, en x0.75
UPSAMPLE_DEFAULT = 10_000  # other languages: exactly once


def q_corpus_upsample(spark, sf_dir):
    """Fractional-epoch corpus mixing by REPETITION (operators/
    transforms.upsample_by_weight): repeat the scarce stratum 2.5x,
    fractionally keep the dominant one — integer copies always, the
    fractional copy by a deterministic per-doc hash draw, so the
    realized (doc, copy_idx) multiset is a pure row function and
    hash-exact across engines."""
    return TR.upsample_by_weight(
        CORPUS.load_documents(spark, sf_dir).select("doc_id", "lang"),
        UPSAMPLE_WEIGHTS,
        default_bp=UPSAMPLE_DEFAULT,
    )


def q_bloom_prune(spark, sf_dir):
    """Bloom-filter semijoin pruning (operators/prune.
    bloom_semijoin_stats): prefilter the transcript fact table against
    the PII-conversation key set with a deterministic seeded Bloom
    bitset (m=4096 so false positives are LIVE at gate scale), then
    run the exact semijoin on survivors — reports the whole funnel
    (n_keys, n_fact, n_pass, n_match, fp_bp) in one row; the oracle
    replays the identical hash arithmetic including the collisions."""
    from vaero_spark.operators.prune import bloom_semijoin_stats

    tx = load_transcripts(spark, sf_dir)
    keys = tx.where(F.col("text").contains("@")).select("conv_id")
    return bloom_semijoin_stats(tx, keys, "conv_id", m_bits=4096)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """ORDER MATTERS: the driver's correctness harness checks the FIRST
    50 entries. Coverage ROTATES per the standing r4 #2 rule, and this
    round executes VERDICT r5 #2 verbatim: the 39 queries whose last
    driver-green row is r3/r4 LEAD the window, the new round-6 ops sit
    in-window for their first correctness row, and the remaining slots
    hold the newest round-6 ops. The rotated-out r5 queries carry one
    round of driver history (not the usual 2 — the r5 cohort was 28 new
    ops and the window only holds 50); every one keeps an in-window
    family sibling AND stays in the full local replay
    (``tools/check_oracle.py`` runs everything — this round's full
    sf0.001 AND sf0.01 replays are ALL OK across all 134, including the
    late-added cep_absence_t/stream_absence_t pair). The round-6
    ops born after position 50 (``corpus_split`` through
    ``vocab_coverage``, including the second-half cohort: CEP
    negation/within/multi batch+stream, streaming outer join, native
    sessions, occupancy, bloom prune, z-order, CUSUM, upsample,
    bottom-k, salted join, cube, coverage) get their first driver row
    in r7 — rotate them to the front then.

    r7 STATUS: round 7 was the optimization round with FROZEN
    queries/oracles and a per-query r6-vs-r7 comparison keyed on suite
    position, so the rotation was deliberately deferred (reordering
    would alias warm-up/session-history effects onto individual queries
    in that comparison — OPTIMIZATION_r07.md "Left alone"). The 34
    driver-untested round-6 ops still pass the full local replays
    (sf0.001 + sf0.01, re-verified in r7); execute the rotation in the
    next BUILD round."""
    return {
        # -- rotated IN (VERDICT r5 #2: last driver-green row r3/r4) --
        "t_add": q_t_add,
        "t_select": q_t_select,
        "t_mask": q_t_mask,
        "t_parse_regexp": q_t_parse,
        "http_ingest": q_http_ingest,
        "stream_open_sessions": q_stream_open_sessions,
        "mm_frames": q_mm_frames,
        "w_sliding": q_w_sliding,
        "stream_counters": q_stream_counters,
        "t_sample": q_t_sample,
        "t_annotate": q_t_annotate,
        "dedup_exact": q_dedup_exact,
        "j_user_tool": q_j_user_tool,
        "q_nation_revenue": q_nation_revenue,
        "q_top_customers": q_top_customers,
        "stream_dedup": q_stream_dedup,
        "stream_session": q_stream_session,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "txt_tokens": q_txt_tokens,
        "txt_langid": q_txt_langid,
        "dedup_minhash": q_dedup_minhash,
        "w_session": q_w_session,
        "txt_fingerprint": q_txt_fingerprint,
        "stream_pipeline": q_stream_pipeline,
        "api_paginated": q_api_paginated,
        "dedup_exact_docs": q_dedup_exact_docs,
        "t_rename_delete": q_t_rename_delete,
        "txt_quality": q_txt_quality,
        "agg_salted": q_agg_salted,
        "txt_topk_tokens": q_txt_topk_tokens,
        "corpus_stats": q_corpus_stats,
        "conv_assemble": q_conv_assemble,
        "dedup_clusters": q_dedup_clusters,
        "j_asof": q_j_asof,
        "q_pricing": q_pricing,
        "stream_dedup_wm": q_stream_dedup_wm,
        "w_tumbling": q_w_tumbling,
        "t_filter_regexp": q_t_filter,
        # -- NEW this round (first correctness row must be in-window) --
        "json_profile_nested": q_json_profile_nested,
        "stream_cep_kleene": q_stream_cep_kleene,
        "dedup_embedding_wide": q_dedup_embedding_wide,
        "emb_clusters": q_emb_clusters,
        "fingerprint_search": q_fingerprint_search,
        "tok_fertility": q_tok_fertility,
        "conv_quality": q_conv_quality,
        "stream_w_distinct": q_stream_w_distinct,
        "rollup_multires": q_rollup_multires,
        "j_interval": q_j_interval,
        "snapshot_diff": q_snapshot_diff,
        # ==== position 51+: rotated OUT this round (r5 driver-green;
        # the three r5 family-rep fillers route_branch/s3_ingest/
        # conv_funnel yielded their slots to the newest ops — they stay
        # exactly 1 round old after r6, like every other r5-green query;
        # corpus_split leads here so it heads the r7 window ============
        "corpus_split": q_corpus_split,
        "stream_interval": q_stream_interval,
        "changeset_apply": q_changeset_apply,
        "stream_upsert": q_stream_upsert,
        "trending_tokens": q_trending_tokens,
        "skew_profile": q_skew_profile,
        "neardup_cross": q_neardup_cross,
        "conv_stats": q_conv_stats,
        "cluster_stats": q_cluster_stats,
        "stream_trending": q_stream_trending,
        "ann_eval": q_ann_eval,
        "sketch_countmin": q_sketch_countmin,
        "sketch_hll": q_sketch_hll,
        "graph_textrank": q_graph_textrank,
        "w_hll": q_w_hll,
        "stream_hll": q_stream_hll,
        "w_concurrency": q_w_concurrency,
        "cep_absence": q_cep_absence,
        "stream_absence": q_stream_absence,
        "bloom_prune": q_bloom_prune,
        "corpus_upsample": q_corpus_upsample,
        "cusum_drift": q_cusum_drift,
        "stream_outer_join": q_stream_outer_join,
        "corpus_bottomk": q_corpus_bottomk,
        "cep_within": q_cep_within,
        "stream_session_native": q_stream_session_native,
        "layout_zorder": q_layout_zorder,
        "j_salted": q_j_salted,
        "stream_within": q_stream_within,
        "cep_multi": q_cep_multi,
        "corpus_cube": q_corpus_cube,
        "vocab_coverage": q_vocab_coverage,
        "cep_absence_t": q_cep_absence_t,
        "stream_absence_t": q_stream_absence_t,
        "route_branch": q_route,
        "s3_ingest": q_s3_ingest,
        "conv_funnel": q_conv_funnel,
        # ---- (r5 driver-green;
        # family siblings in-window: stream_join→stream_dedup_wm/
        # stream_lexicon, dedup_keep+dedup_ngram_jaccard+dedup_passage+
        # corpus_novelty→dedup_clusters/dedup_minhash/dedup_incremental,
        # corpus_curate+corpus_sample+corpus_mix+corpus_decontam+
        # pii_scrub+txt_boilerplate+lexicon_filter→quality_gate/
        # txt_quality/stream_lexicon, emb_kmeans+ann_*+dedup_embedding*
        # →emb_centroids, chunk_rag→corpus_pack, stream_cep→cep_role_seq
        # (+ the new stream_cep family work this round), rate_spikes+
        # stream_spikes+cohort_retention+conv_latency+tool_transitions+
        # json_profile→conv_funnel/json_profile_nested, vocab_merges+
        # bpe_encode+cooccur_lift+txt_repetition→txt_topk_tokens/
        # txt_fingerprint, corpus_quantiles→corpus_stats, corpus_index
        # →corpus_bm25, group_topk→agg_salted, events_sessions→
        # w_session, w_distinct→w_tumbling, stream_funnel→
        # stream_lexicon, dedup_simhash_auto→dedup_simhash/_pairs,
        # mm_meta+mm_features→mm_frames) ===============================
        "cep_role_seq": q_cep_role_seq,
        "quality_gate": q_quality_gate,
        "corpus_bm25": q_corpus_bm25,
        "emb_centroids": q_emb_centroids,
        "corpus_pack": q_corpus_pack,
        "dedup_incremental": q_dedup_incremental,
        "stream_lexicon": q_stream_lexicon,
        "stream_join": q_stream_join,
        "dedup_keep": q_dedup_keep,
        "corpus_curate": q_corpus_curate,
        "corpus_sample": q_corpus_sample,
        "emb_kmeans": q_emb_kmeans,
        "corpus_decontam": q_corpus_decontam,
        "pii_scrub": q_pii_scrub,
        "txt_repetition": q_txt_repetition,
        "dedup_simhash_auto": q_dedup_simhash_auto,
        "txt_boilerplate": q_txt_boilerplate,
        "corpus_mix": q_corpus_mix,
        "stream_cep": q_stream_cep,
        "rate_spikes": q_rate_spikes,
        "stream_spikes": q_stream_spikes,
        "cohort_retention": q_cohort_retention,
        "dedup_passage": q_dedup_passage,
        "stream_funnel": q_stream_funnel,
        "vocab_merges": q_vocab_merges,
        "chunk_rag": q_chunk_rag,
        "group_topk": q_group_topk,
        "events_sessions": q_events_sessions,
        "corpus_quantiles": q_corpus_quantiles,
        "conv_latency": q_conv_latency,
        "corpus_index": q_corpus_index,
        "cooccur_lift": q_cooccur_lift,
        "bpe_encode": q_bpe_encode,
        "lexicon_filter": q_lexicon_filter,
        "tool_transitions": q_tool_transitions,
        "corpus_novelty": q_corpus_novelty,
        "json_profile": q_json_profile,
        "w_distinct": q_w_distinct,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_embedding": q_dedup_embedding,
        "dedup_embedding_cos": q_dedup_embedding_cos,
        "ann_brute": q_ann_brute,
        "ann_bucketed": q_ann_bucketed,
        "ann_hyperplane": q_ann_hyperplane,
        "ann_ivf": q_ann_ivf,
        "mm_meta": q_mm_meta,
        "mm_features": q_mm_features,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect)
# ---------------------------------------------------------------------------

# --- corpus / dedup / ANN oracle fragments (DuckDB dialect) ----------------

_D = f"WITH {CORPUS.DOCUMENTS_ND_ORACLE_CTE}"
_E = f"WITH {CORPUS.EMBEDDINGS_ND_ORACLE_CTE}"
_M = f"WITH {CORPUS.MEDIA_ORACLE_CTE}"

_SHINGLES = TXT.shingles_sql(TXT.tokens_sql())


def _jaccard_cte(min_pct: int) -> str:
    """Shared verification CTEs: exact Jaccard from `cand` (id_a, id_b)
    and `shingle_rows` (doc_id, shingle) → `vpairs`."""
    return f"""
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingle_rows GROUP BY doc_id),
        inter AS (
          SELECT c.id_a, c.id_b, count(*) AS inter
          FROM cand c
          JOIN shingle_rows sa ON sa.doc_id = c.id_a
          JOIN shingle_rows sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
          GROUP BY c.id_a, c.id_b),
        vpairs AS (
          SELECT i.id_a, i.id_b, i.inter,
                 za.n_sh + zb.n_sh - i.inter AS union_n
          FROM inter i
          JOIN sizes za ON za.doc_id = i.id_a
          JOIN sizes zb ON zb.doc_id = i.id_b
          WHERE 100 * i.inter >= {min_pct} * (za.n_sh + zb.n_sh - i.inter))"""


def _jaccard_tail(min_pct: int) -> str:
    return f"{_jaccard_cte(min_pct)} SELECT id_a, id_b, inter, union_n FROM vpairs"



_NGRAM_SQL = f"""{_D},
    sh AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents_nd),
    shingle_rows AS (SELECT DISTINCT doc_id, unnest(sh) AS shingle FROM sh),
    informative AS (
      SELECT shingle FROM shingle_rows GROUP BY shingle
      HAVING count(*) <= {DD.STOP_SHINGLE_MAX_DF}),
    sh_i AS (SELECT s.doc_id, s.shingle FROM shingle_rows s JOIN informative USING (shingle)),
    dsizes AS (SELECT doc_id, count(*) AS n_sh FROM sh_i GROUP BY doc_id),
    cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
             FROM sh_i a JOIN sh_i b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             JOIN dsizes za ON za.doc_id = a.doc_id
             JOIN dsizes zb ON zb.doc_id = b.doc_id
             GROUP BY 1, 2
             HAVING count(*) >= least(2, min(za.n_sh), min(zb.n_sh))),
    {_jaccard_tail(50)}"""

# MinHash pairs → symmetric edges → connected components by recursive
# min-label reachability (cluster id = min reachable doc id), the DuckDB
# twin of the iterative label propagation in operators/dedup.py.
_MINHASH_BODY = f"""
    sh AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents_nd),
    shingle_rows AS (SELECT DISTINCT doc_id, unnest(sh) AS shingle FROM sh),
    sig AS ({TXT.minhash_sig_select_sql('shingle_rows')}),
    bands AS (SELECT doc_id, unnest({TXT.band_keys_sql('sig')}) AS bk FROM sig),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id),
    {_jaccard_cte(50)}"""

_CLUSTERS_SQL = f"""WITH RECURSIVE {CORPUS.DOCUMENTS_ND_ORACLE_CTE},
    {_MINHASH_BODY},
    sym AS (SELECT id_a AS a, id_b AS b FROM vpairs
            UNION ALL SELECT id_b, id_a FROM vpairs),
    reach AS (
      SELECT a AS node, a AS lab FROM sym
      UNION
      SELECT s.b, r.lab FROM reach r JOIN sym s ON s.a = r.node
    )
    SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node"""

_MINHASH_SQL = f"{_D}, {_MINHASH_BODY} SELECT id_a, id_b, inter, union_n FROM vpairs"

# kept-corpus manifest: drop non-canonical cluster members (same
# recursive reachability as _CLUSTERS_SQL, then an anti-membership
# filter over the full corpus)
_DEDUP_KEEP_SQL = f"""WITH RECURSIVE {CORPUS.DOCUMENTS_ND_ORACLE_CTE},
    {_MINHASH_BODY},
    sym AS (SELECT id_a AS a, id_b AS b FROM vpairs
            UNION ALL SELECT id_b, id_a FROM vpairs),
    reach AS (
      SELECT a AS node, a AS lab FROM sym
      UNION
      SELECT s.b, r.lab FROM reach r JOIN sym s ON s.a = r.node
    ),
    labels AS (SELECT node AS doc_id, MIN(lab) AS cluster_id
               FROM reach GROUP BY node)
    SELECT d.doc_id, md5(d.text) AS text_md5 FROM documents_nd d
    WHERE d.doc_id NOT IN
          (SELECT doc_id FROM labels WHERE doc_id != cluster_id)"""

# greedy token-budget packing, recursive-CTE twin of pack_sequences
from vaero_spark.operators.assemble import pack_sequences_sql as _pack_sql
from vaero_spark.operators.assemble import chunk_tokens_sql as _chunk_sql
from vaero_spark.operators.analytics import response_latency_sql as _latency_sql
from vaero_spark.operators.analytics import trending_tokens_sql as _trending_sql
from vaero_spark.operators.analytics import key_skew_profile_sql as _skew_sql
from vaero_spark.operators.analytics import conv_turn_stats_sql as _convstats_sql

from vaero_spark.operators.analytics import cusum_drift_sql as _cusum_sql

AN_CUSUM_SQL = _cusum_sql("cd_src", key_col="tool")
AN_TRENDING_SQL = _trending_sql("transcripts")
AN_SKEW_SQL = _skew_sql("transcripts", "conv_id")
AN_CONVSTATS_SQL = _convstats_sql("transcripts")

# duplication-mass histogram: the recursive clustering twin + two aggs
_CLUSTER_STATS_SQL = f"""WITH RECURSIVE {CORPUS.DOCUMENTS_ND_ORACLE_CTE},
    {_MINHASH_BODY},
    sym AS (SELECT id_a AS a, id_b AS b FROM vpairs
            UNION ALL SELECT id_b, id_a FROM vpairs),
    reach AS (
      SELECT a AS node, a AS lab FROM sym
      UNION
      SELECT s.b, r.lab FROM reach r JOIN sym s ON s.a = r.node
    ),
    labels AS (SELECT node, MIN(lab) AS cluster_id FROM reach GROUP BY node),
    csz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM labels GROUP BY 1)
    SELECT cluster_size, COUNT(*) AS n_clusters,
           cluster_size * COUNT(*) AS n_docs
    FROM csz GROUP BY cluster_size"""
from vaero_spark.operators.search import build_postings_sql as _postings_sql
from vaero_spark.operators.prune import bloom_semijoin_stats_sql as _bloom_sql
from vaero_spark.operators.layout import layout_prune_report_sql as _layout_sql
from vaero_spark.operators.analytics import corpus_cube_sql as _cube_sql
from vaero_spark.operators.search import fingerprint_search_sql as _fpsearch_sql
from vaero_spark.operators.curate import conversation_quality_sql as _convq_sql
from vaero_spark.operators.windows import sessionize_sql as _sessionize_sql
from vaero_spark.operators.curate import decontaminate_sql as _decontam_sql
from vaero_spark.operators.curate import pii_scrub_sql as _pii_sql
from vaero_spark.operators.curate import quality_percentile_gate_sql as _qgate_sql
from vaero_spark.operators.curate import strip_boilerplate_sql as _boiler_sql
from vaero_spark.operators.search import bm25_sql as _bm25_sql
from vaero_spark.operators.analytics import cohort_retention_sql as _retention_sql
from vaero_spark.operators.analytics import funnel_membership_sql as _funnel_mem_sql
from vaero_spark.operators.analytics import funnel_sql as _funnel_sql
from vaero_spark.operators.analytics import rate_spikes_sql as _spikes_sql
from vaero_spark.operators.analytics import tool_transitions_sql as _tooltrans_sql
from vaero_spark.operators.analytics import json_profile_sql as _jprofile_sql
from vaero_spark.operators.cooccur import cooccur_lift_sql as _cooccur_sql
from vaero_spark.functions.bpe import bpe_stats_sql as _bpe_sql
from vaero_spark.operators.curate import lexicon_flags_sql as _lexicon_sql
from vaero_spark.operators.curate import stream_lexicon_oracle_sql as _slex_sql
from vaero_spark.operators.windows import windowed_distinct_users_sql as _wdistinct_sql
from vaero_spark.operators.cluster import centroid_sums_sql as _centroids_sql

_CORPUS_PACK_SQL = f"WITH RECURSIVE {_pack_sql('documents')}"

# composed curation gate over one tokenize pass; thresholds mirror
# operators/curate.curate_documents defaults
_CURATE_SQL = f"""
    SELECT doc_id, pred_lang, n_tokens, quality_bp FROM (
      SELECT doc_id, {TXT.lang_id_sql()} AS pred_lang, {TXT.quality_sql()}
      FROM documents) q
    WHERE quality_bp >= 3000 AND pred_lang = 'en' AND n_tokens >= 10"""

_SIMHASH_BANDS_DUCK = ", ".join(
    f"CAST({i} AS VARCHAR) || ':' || "
    f"CAST((simhash >> {TXT.SIMHASH_BAND_BITS * i}) & {(1 << TXT.SIMHASH_BAND_BITS) - 1} AS VARCHAR)"
    for i in range(TXT.SIMHASH_BANDS)
)

_SIMHASH_PAIRS_SQL = f"""{_D},
    sh AS ({TXT.simhash_sql('documents_nd')}),
    bands AS (SELECT doc_id, simhash, unnest([{_SIMHASH_BANDS_DUCK}]) AS band FROM sh),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                    a.simhash AS sh_a, b.simhash AS sh_b
             FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3"""

_QUANT = CORPUS.quantized_sql("embedding")

_ANN_ELEMENTS = f"""
    q AS (SELECT vec_id AS q_id, {_QUANT} AS qv FROM embeddings WHERE vec_id % 25 = 0),
    c AS (SELECT vec_id AS n_id, {_QUANT} AS nv FROM embeddings),
    qel AS (SELECT q_id, i, qv[i] AS v FROM q, unnest(generate_series(1, len(qv))) t(i)),
    cel AS (SELECT n_id, i, nv[i] AS v FROM c, unnest(generate_series(1, len(nv))) t(i)),
    qn AS (SELECT q_id, SUM(v * v) AS nsq FROM qel GROUP BY q_id),
    cn AS (SELECT n_id, SUM(v * v) AS nsq FROM cel GROUP BY n_id)"""


def _ann_sql(bucketed: bool) -> str:
    band_ctes = ""
    pair_filter = ""
    if bucketed:
        band_ctes = f"""
    qb AS (SELECT q_id, unnest({SIM.sign_band_keys_sql('qv', SIM.ANN_SIGN_BANDS, SIM.ANN_SIGN_BAND_BITS)}) AS bk FROM q),
    cb AS (SELECT n_id, unnest({SIM.sign_band_keys_sql('nv', SIM.ANN_SIGN_BANDS, SIM.ANN_SIGN_BAND_BITS)}) AS bk FROM c),
    cand AS (SELECT DISTINCT qb.q_id, cb.n_id
             FROM qb JOIN cb ON qb.bk = cb.bk AND qb.q_id != cb.n_id),"""
        pair_filter = "JOIN cand ON cand.q_id = qel.q_id AND cand.n_id = cel.n_id"
    return f"""WITH {_ANN_ELEMENTS.lstrip()},{band_ctes}
    dots AS (
      SELECT qel.q_id, cel.n_id, SUM(qel.v * cel.v) AS dot
      FROM qel JOIN cel ON qel.i = cel.i AND qel.q_id != cel.n_id
      {pair_filter}
      GROUP BY qel.q_id, cel.n_id),
    scored AS (
      SELECT d.q_id AS query_id, d.n_id AS neighbor_id,
             CAST(floor(10000.0 * d.dot / (sqrt(CAST(qn.nsq AS DOUBLE))
                  * sqrt(CAST(cn.nsq AS DOUBLE)))) AS BIGINT) AS sim_e4
      FROM dots d JOIN qn ON qn.q_id = d.q_id JOIN cn ON cn.n_id = d.n_id)
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim_e4 DESC, neighbor_id) AS INTEGER) AS rank, sim_e4
    FROM scored QUALIFY rank <= 5"""


_WIN_AGGS = """
  COUNT(*) AS n_turns,
  CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
  CAST(SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool,
  MIN(turn_idx) AS first_turn,
  MAX(turn_idx) AS last_turn,
  MIN(ts) AS min_ts,
  MAX(ts) AS max_ts
"""


_J_USER_TOOL_SQL = f"""{_T}
    SELECT u.conv_id, u.turn_idx AS user_turn, u.ts AS user_ts,
           t.turn_idx AS tool_turn, t.tool AS tool_name, t.ts AS tool_ts
    FROM transcripts u JOIN transcripts t
      ON u.conv_id = t.conv_id AND u.role = 'user' AND t.role = 'tool'
     AND t.ts > u.ts AND t.ts <= u.ts + INTERVAL '4 hours'"""

_W_SESSION_SQL = f"""{_T},
    flagged AS (
      SELECT *, CASE WHEN ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                     OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      FROM transcripts
      WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
    ),
    sessioned AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    )
    SELECT conv_id, MIN(ts) AS win_start,
           MAX(ts) + INTERVAL '30 minutes' AS win_end,
           {_WIN_AGGS}
    FROM sessioned GROUP BY conv_id, sess_id"""


def oracle_sql() -> dict[str, str]:
    from vaero_spark.operators.graph import textrank_sql
    from vaero_spark.operators.sketch import (
        countmin_report_sql,
        hll_summary_sql,
        windowed_hll_sql,
    )

    return {
        "t_add": f"{_T} SELECT *, TRUE AS replay, 'p1' AS pipeline FROM transcripts",
        "t_rename_delete": f"""{_T}
            SELECT conv_id, turn_idx, role, text AS payload, ts FROM transcripts""",
        "t_filter_regexp": f"{_T} SELECT * FROM transcripts WHERE regexp_matches(text, 'error')",
        "t_mask": f"""{_T}
            SELECT conv_id, turn_idx, role,
                   regexp_replace(text, 'user([0-9]+)@[A-Za-z0-9.-]+', 'u\\1@<MASKED>', 'g') AS text,
                   tool, ts
            FROM transcripts""",
        "t_parse_regexp": f"""{_T}
            SELECT conv_id, turn_idx, role, text, tool, ts,
                   CASE WHEN regexp_matches(text, 'k=([0-9]+)')
                        THEN regexp_extract(text, 'k=([0-9]+)', 1) END AS kval,
                   CASE WHEN regexp_matches(text, 'contact (user[0-9]+)@')
                        THEN regexp_extract(text, 'contact (user[0-9]+)@', 1) END AS euser
            FROM transcripts""",
        "t_select": f"{_T} SELECT text AS value FROM transcripts",
        "t_sample": f"""{_T}
            SELECT * FROM transcripts
            WHERE substr(md5(text), 32, 1) IN ('0','1','2','3','4','5','6','7')""",
        "t_annotate": f"""{_T}
            SELECT conv_id, turn_idx, role, text, tool, ts,
                   {TXT.quality_sql()},
                   {TXT.lang_id_sql()} AS lang
            FROM transcripts""",
        "route_branch": f"""{_T}
            SELECT *, 'errors' AS route FROM transcripts WHERE regexp_matches(text, 'error')
            UNION ALL
            SELECT *, 'rest' AS route FROM transcripts WHERE NOT regexp_matches(text, 'error')""",
        "w_tumbling": f"""{_T}
            SELECT conv_id,
                   time_bucket(INTERVAL '1 hour', ts) AS win_start,
                   time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS win_end,
                   {_WIN_AGGS}
            FROM transcripts GROUP BY 1, 2, 3""",
        "w_sliding": f"""{_T}
            SELECT conv_id,
                   time_bucket(INTERVAL '1 hour', ts) - k * INTERVAL '1 hour' AS win_start,
                   time_bucket(INTERVAL '1 hour', ts) - k * INTERVAL '1 hour' + INTERVAL '2 hours' AS win_end,
                   {_WIN_AGGS}
            FROM transcripts CROSS JOIN (SELECT unnest([0, 1]) AS k)
            GROUP BY 1, 2, 3""",
        "w_session": _W_SESSION_SQL,
        "dedup_exact": f"{_TD} SELECT DISTINCT * FROM transcripts_dup",
        "j_user_tool": _J_USER_TOOL_SQL,
        # streamed (watermarked stream-stream join) == batch range join
        "stream_join": _J_USER_TOOL_SQL,
        "j_asof": f"""{_T},
            marked AS (
              SELECT *,
                LAST_VALUE(CASE WHEN role = 'user' THEN turn_idx END IGNORE NULLS)
                  OVER (PARTITION BY conv_id ORDER BY ts, turn_idx ROWS UNBOUNDED PRECEDING) AS last_user_turn,
                LAST_VALUE(CASE WHEN role = 'user' THEN ts END IGNORE NULLS)
                  OVER (PARTITION BY conv_id ORDER BY ts, turn_idx ROWS UNBOUNDED PRECEDING) AS last_user_ts
              FROM transcripts
            )
            SELECT conv_id, turn_idx AS tool_turn, tool AS tool_name, ts AS tool_ts,
                   last_user_turn, last_user_ts
            FROM marked WHERE role = 'tool'""",
        "agg_salted": f"""{_T}
            SELECT conv_id, COUNT(*) AS n_turns,
                   CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
                   MAX(turn_idx) AS last_turn, MIN(ts) AS min_ts, MAX(ts) AS max_ts
            FROM transcripts GROUP BY conv_id""",
        "q_pricing": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
                   COUNT(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus""",
        "q_nation_revenue": """
            SELECT n_name,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
                   COUNT(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name""",
        "q_top_customers": """
            WITH per_cust AS (
              SELECT o_custkey,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS spend_cents
              FROM orders GROUP BY o_custkey
            )
            SELECT o_custkey, spend_cents,
                   CAST(ROW_NUMBER() OVER (ORDER BY spend_cents DESC, o_custkey) AS INTEGER) AS rk
            FROM per_cust QUALIFY rk <= 10""",
        # two CTE stages so evaluation order is explicit: Spark applies
        # parse_regexp AFTER masking, so the oracle must extract kval
        # from the MASKED text, not the raw column (a single-SELECT
        # form would resolve `text` to the raw column).
        "stream_pipeline": f"""{_T},
            masked AS (
              SELECT conv_id, turn_idx, role,
                     regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g') AS text,
                     tool, ts
              FROM transcripts
            ),
            tx AS (
              SELECT *, CASE WHEN regexp_matches(text, 'k=([0-9]+)')
                             THEN regexp_extract(text, 'k=([0-9]+)', 1) END AS kval
              FROM masked
            )
            SELECT *, 'tools' AS route FROM tx WHERE role = 'tool'
            UNION ALL
            SELECT *, 'rest' AS route FROM tx WHERE role != 'tool'""",
        "stream_dedup": f"{_TD} SELECT DISTINCT * FROM transcripts_dup",
        # bounded-state dedup == full dedup on the gate fixture (every
        # dup arrives inside the watermark horizon)
        "stream_dedup_wm": f"{_TD} SELECT DISTINCT * FROM transcripts_dup",
        # push ingestion round-trip: break(join(events)) == events + the
        # two automatic fields
        "http_ingest": f"""{_T}
            SELECT conv_id, turn_idx, role, text, tool, ts,
                   '{HTTP_INGEST_TS}' AS "timestamp",
                   '{HTTP_INGEST_ADDR}' AS remoteaddr
            FROM transcripts""",
        # object-store PUT → list → GET → newline-split → spool is an
        # exact identity round-trip of the corpus
        "s3_ingest": f"""{_T}
            SELECT conv_id, turn_idx, role, text, tool, ts
            FROM transcripts""",
        # cursor gate: exactly the events at/after the initial cursor,
        # each exactly once across polls/pages
        "api_paginated": f"""
            SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') AS ts,
                   user_id, event_type
            FROM events WHERE ts >= TIMESTAMP '{API_SINCE.replace("T", " ")}'""",
        # identical result set to the batch w_session oracle — streamed
        # (watermark + state-store session merge) == batch
        "stream_session": _W_SESSION_SQL,
        # custom state (applyInPandasWithState): final routing counters
        # per conversation == batch GROUP BY
        "stream_counters": f"""{_T}
            SELECT conv_id, COUNT(*) AS n_total,
                   CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
                   CAST(SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool,
                   CAST(SUM(CASE WHEN strpos(text, 'error') > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_error
            FROM transcripts GROUP BY conv_id""",
        # custom state session assembly == batch sessionization
        "stream_open_sessions": f"""{_T},
            flagged AS (
              SELECT *, CASE WHEN ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                             OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
              FROM transcripts
              WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
            ),
            sessioned AS (
              SELECT *, SUM(new_sess) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                                            ROWS UNBOUNDED PRECEDING) AS sess_id
              FROM flagged
            )
            SELECT conv_id, MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL '30 minutes' AS session_end,
                   COUNT(*) AS n_turns
            FROM sessioned GROUP BY conv_id, sess_id""",
        "txt_tokens": f"SELECT doc_id, {TXT.token_counts_sql()} FROM documents",
        "txt_quality": f"SELECT doc_id, {TXT.quality_sql()} FROM documents",
        "txt_langid": f"""
            SELECT doc_id, lang, {TXT.lang_id_sql()} AS pred_lang,
                   CAST({TXT.lang_id_sql()} = lang AS INTEGER) AS agree
            FROM documents""",
        "txt_fingerprint": f"SELECT doc_id, {TXT.fingerprint_sql()} AS fingerprint FROM documents",
        "fingerprint_search": f"""{_D}, {_fpsearch_sql(
            'documents_nd', f'doc_id >= {CORPUS.ND_OFFSET}'
        )}""",
        "tok_fertility": TXT.tokenizer_fertility_sql("documents"),
        "conv_quality": f"{_T} {_convq_sql('transcripts')}",
        "txt_topk_tokens": TXT.token_topk_sql("documents"),
        "corpus_stats": TXT.corpus_stats_sql("documents"),
        "conv_assemble": f"{_T} {_assemble_sql('transcripts')}",
        "dedup_exact_docs": f"""{_D}
            SELECT min(doc_id) AS doc_id, md5(text) AS text_md5,
                   count(*) AS n_copies
            FROM documents_nd GROUP BY md5(text)""",
        "dedup_minhash": _MINHASH_SQL,
        "dedup_clusters": _CLUSTERS_SQL,
        "dedup_keep": _DEDUP_KEEP_SQL,
        "corpus_curate": _CURATE_SQL,
        "corpus_sample": f"""
            SELECT doc_id, lang FROM documents
            WHERE {TR.sample_stratified_sql(CORPUS_SAMPLE_RATES,
                                            default_256ths=CORPUS_SAMPLE_DEFAULT)}""",
        "corpus_pack": _CORPUS_PACK_SQL,
        "corpus_decontam": f"""{_D},
            {_decontam_sql('documents_nd', f'doc_id >= {CORPUS.ND_OFFSET}',
                           min_overlap=25)}""",
        "pii_scrub": f"""{_T}
            SELECT conv_id, turn_idx, {_pii_sql()}
            FROM transcripts""",
        "txt_repetition": f"SELECT doc_id, {TXT.repetition_sql()} FROM documents",
        # derived multi-line page fixture (see _doc_pages) → line-df
        # boilerplate strip; the oracle rebuilds the identical pages
        "txt_boilerplate": f"""WITH pages AS (
              SELECT doc_id // 4 AS page_id,
                     'section ' || CAST((doc_id // 4) % 7 AS VARCHAR) || chr(10) ||
                     string_agg(text, chr(10) ORDER BY doc_id) || chr(10) ||
                     '{PAGE_FOOTER}' AS page_text
              FROM documents GROUP BY (doc_id // 4)),
            plines AS (
              SELECT page_id AS _id, i - 1 AS pos, l[i] AS line
              FROM (SELECT page_id, string_split(page_text, chr(10)) AS l
                    FROM pages),
                   unnest(generate_series(1, len(l))) t(i)),
            {_boiler_sql('plines', max_line_df=10, id_col='page_id')}""",
        "corpus_bm25": f"WITH {_bm25_sql('documents', BM25_TERMS, k=25)}",
        "corpus_mix": TR.mix_by_budget_sql(
            "documents", MIX_BUDGETS, MIX_DEFAULT_BUDGET
        ),
        "cep_role_seq": f"{_T} {CEP.cep_match_sql('transcripts', CEP_PATTERN)}",
        # streaming CEP drains to the SAME result as the batch regex op
        # on the literal pattern — the state machine gets an exact oracle
        "stream_cep": f"{_T} {CEP.cep_match_sql('transcripts', CEP_STREAM_LITERAL)}",
        # the reluctant form IS the earliest-completion semantics the
        # streaming Kleene machine implements (cep.py docstring)
        "stream_cep_kleene": f"""{_T} {CEP.cep_match_sql(
            'transcripts',
            CEP.parse_kleene_pattern(CEP_KLEENE_PATTERN, CEP.ROLE_SYMBOLS)[2],
        )}""",
        "conv_funnel": f"{_T},\n"
        + _funnel_sql("transcripts", [(r, f"role = '{r}'") for r in FUNNEL_ROLES]),
        # streaming funnel drains to the batch per-conversation
        # membership rows — the stateful op gets an exact oracle
        "stream_funnel": f"{_T},\n"
        + _funnel_mem_sql("transcripts", [(r, f"role = '{r}'") for r in FUNNEL_ROLES]),
        "rate_spikes": f"WITH {_spikes_sql('events', **SPIKE_PARAMS)}",
        # streaming spikes drain to the SAME rows as the batch window op
        # — the watermark-bounded bucket state gets an exact oracle
        "stream_spikes": f"WITH {_spikes_sql('events', **SPIKE_PARAMS)}",
        "cohort_retention": f"WITH {_retention_sql('events')}",
        "dedup_passage": f"{_D}, {DD.dup_passage_coverage_sql('documents_nd')}",
        "corpus_quantiles": f"WITH {TXT.length_quantiles_sql('documents')}",
        "conv_latency": f"{_T}, {_latency_sql('transcripts')}",
        "corpus_index": f"WITH {_postings_sql('documents')}",
        "cooccur_lift": _cooccur_sql("documents"),
        "bpe_encode": _bpe_sql("documents"),
        "lexicon_filter": _lexicon_sql("documents"),
        "tool_transitions": f"{_T}, {_tooltrans_sql('transcripts')}",
        "corpus_novelty": DD.shingle_novelty_sql("documents"),
        "json_profile": _jprofile_sql("events"),
        "json_profile_nested": _jprofile_sql(
            "nested", extra_cte=_NESTED_PROPS_CTE
        ),
        "stream_lexicon": f"{_T}, {_slex_sql('transcripts', STREAM_LEXICON)}",
        "w_distinct": _wdistinct_sql("events"),
        "stream_w_distinct": """
            SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events GROUP BY 1""",
        "emb_centroids": _centroids_sql("embeddings"),
        "dedup_incremental": f"""{_D},
            snap AS (SELECT * FROM documents WHERE doc_id % 4 = 0)
            {DD.dedup_against_sql('documents_nd', 'snap')}""",
        "group_topk": f"""WITH scored AS (
              SELECT doc_id, lang, quality_bp
              FROM (SELECT doc_id, lang, {TXT.quality_sql()} FROM documents))
            {TR.group_topk_sql('scored', 'lang', 'quality_bp', 'doc_id', k=5)}""",
        "events_sessions": f"WITH {_sessionize_sql('events')}",
        "quality_gate": "WITH " + _qgate_sql(),
        "vocab_merges": TXT.pair_merge_topk_sql("documents"),
        "chunk_rag": "WITH " + _chunk_sql(),
        "dedup_simhash": f"{_D} {TXT.simhash_sql('documents_nd')}",
        "dedup_simhash_pairs": _SIMHASH_PAIRS_SQL,
        # auto-banded run at the fixture estimate must equal the pinned
        # default banding exactly (small-N invariance, driver-gated)
        "dedup_simhash_auto": _SIMHASH_PAIRS_SQL,
        "dedup_ngram_jaccard": _NGRAM_SQL,
        "dedup_embedding": f"""{_E},
            sigs AS (SELECT vec_id,
                     md5(array_to_string({CORPUS.quantized_sql()}, ',')) AS vec_sig
                     FROM embeddings_nd)
            SELECT min(vec_id) AS keep_id, count(*) AS n_copies,
                   array_to_string(list_sort(list(vec_id)), ',') AS members
            FROM sigs GROUP BY vec_sig HAVING count(*) > 1""",
        "dedup_embedding_cos": _emb_cos_pairs_sql(
            SIM.SIGN_BANDS, SIM.SIGN_BAND_BITS
        ),
        # the auto-sized wide-band path (n_estimate=1e8 → 2×32-bit
        # bands, VERDICT r5 #6): the exact key build that overflowed
        # int32 in r4, now driver-exercised end-to-end
        "dedup_embedding_wide": _emb_cos_pairs_sql(2, 32),
        "emb_clusters": _emb_clusters_sql(SIM.SIGN_BANDS, SIM.SIGN_BAND_BITS),
        "ann_brute": _ann_sql(bucketed=False),
        "ann_bucketed": _ann_sql(bucketed=True),
        # ann_hyperplane: intentionally no oracle (float matmul in a
        # pandas UDF has no bit-stable SQL twin; tested vs brute force)
        "mm_meta": f"""{_M}
            SELECT doc_id, kind, CAST(length(text) AS BIGINT) AS n_bytes,
                   md5(text) AS checksum, width, height
            FROM media""",
        "mm_frames": f"""{_M}
            SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
                   md5(substr(text, f * {MM.FRAME_BYTES} + 1, {MM.FRAME_BYTES})) AS frame_md5
            FROM media, unnest(list_filter(
                 generate_series(0, CAST(floor(length(text) / {MM.FRAME_BYTES}) AS INTEGER) - 1),
                 f -> f % {MM.FRAME_STRIDE} = 0)) t(f)""",
        # LEFT JOIN LATERAL so an empty payload still yields one row of
        # zeroed stats, matching the mapInPandas side (a plain cross
        # join with an empty generate_series would drop the doc).
        "mm_features": f"""{_M}
            SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
                   CAST(COALESCE(SUM(ascii(substr(text, i, 1))), 0) AS BIGINT) AS byte_sum,
                   CAST(COALESCE(MIN(ascii(substr(text, i, 1))), 0) AS INTEGER) AS byte_min,
                   CAST(COALESCE(MAX(ascii(substr(text, i, 1))), 0) AS INTEGER) AS byte_max
            FROM media LEFT JOIN LATERAL (
                 SELECT unnest(generate_series(1, length(text))) AS i) t ON TRUE
            GROUP BY doc_id, length(text)""",
        # hypertable rollup ladder: each level re-aggregates the previous
        "rollup_multires": f"""{_T},
            {WINDOWS.multires_rollup_sql('transcripts')}""",
        # binned interval join's oracle is the plain inequality join
        # (DuckDB plans IEJoin natively); the binning is Spark-side only
        "j_interval": _J_INTERVAL_SQL,
        # the streaming form is stateless (stream-static), so drained == batch
        "stream_interval": _J_INTERVAL_SQL,
        "snapshot_diff": f"""WITH newsnap AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]'
                          ELSE text END AS text
              FROM documents WHERE doc_id % 7 <> 0
              UNION ALL
              SELECT doc_id + 1000000000 AS doc_id,
                     'added doc ' || CAST(doc_id AS VARCHAR) AS text
              FROM documents WHERE doc_id % 11 = 0)
            {DD.snapshot_diff_sql('documents', 'newsnap')}""",
        "corpus_split": f"""
            SELECT doc_id, lang, {TR.stratified_split_sql()} AS split
            FROM documents""",
        # the round-trip identity: apply(old, diff(old,new)) == new,
        # so the oracle is the new snapshot's own manifest
        "changeset_apply": """WITH newsnap AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]'
                          ELSE text END AS text
              FROM documents WHERE doc_id % 7 <> 0
              UNION ALL
              SELECT doc_id + 1000000000 AS doc_id,
                     'added doc ' || CAST(doc_id AS VARCHAR) AS text
              FROM documents WHERE doc_id % 11 = 0)
            SELECT doc_id, md5(text) AS text_md5 FROM newsnap""",
        # last-writer-wins == batch argmax(seq); duplicates change nothing
        "stream_upsert": """WITH ev AS (
              SELECT doc_id, doc_id * 3 AS seq, 'upsert' AS op, text
              FROM documents
              UNION ALL
              SELECT doc_id, doc_id * 3 + 1, 'upsert', text || ' [rev2]'
              FROM documents WHERE doc_id % 5 = 0
              UNION ALL
              SELECT doc_id, doc_id * 3 + 2, 'delete', NULL
              FROM documents WHERE doc_id % 7 = 0),
            w AS (
              SELECT doc_id, seq, op, text,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY seq DESC) AS rn
              FROM ev)
            SELECT doc_id, seq AS cur_seq,
                   CAST(CASE WHEN op = 'delete' THEN 1 ELSE 0 END AS INTEGER)
                     AS deleted,
                   CASE WHEN op = 'delete' THEN ''
                        ELSE md5(text) END AS text_md5
            FROM w WHERE rn = 1""",
        "trending_tokens": f"""{_T},
            {AN_TRENDING_SQL}""",
        "skew_profile": f"""{_T},
            {AN_SKEW_SQL}""",
        "conv_stats": f"""{_T},
            {AN_CONVSTATS_SQL}""",
        "cluster_stats": _CLUSTER_STATS_SQL,
        # streamed windowed counts + batch ranking == batch trending
        "stream_trending": f"""{_T},
            {AN_TRENDING_SQL}""",
        # recall@5 of the bucketed ranking vs brute — both rankings are
        # the existing hash-exact ANN oracles, composed as subqueries
        "ann_eval": f"""
            SELECT e.query_id,
                   COUNT(a.neighbor_id) AS n_hits,
                   (10000 * COUNT(a.neighbor_id)) // 5 AS recall_bp
            FROM ({_ann_sql(bucketed=False)}) e
            LEFT JOIN ({_ann_sql(bucketed=True)}) a
              ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
            GROUP BY e.query_id""",
        # same md5-derived Carter-Wegman grid in both engines; the exact
        # top-20 grades the sketch (n_cms >= n_exact by construction)
        "sketch_countmin": f"WITH {countmin_report_sql('documents')}",
        # same register routing + integer raw estimate; regs array is the
        # exact mergeable sketch state
        "sketch_hll": f"""{_T},
            {hll_summary_sql('transcripts')}""",
        # the identical integer recurrence replayed as a recursive CTE
        # (self-loops keep the working table complete round over round)
        "graph_textrank": f"WITH RECURSIVE {textrank_sql('documents')}",
        # per-window register routing + integer estimate, graded by the
        # exact windowed distinct (the one corpus-sized shuffle)
        "w_hll": f"""{_T},
            {windowed_hll_sql('transcripts', include_exact=True)}""",
        # the drained streaming registers + summary layer == the batch
        # windowed sketch (same SQL minus the exact grading side)
        "stream_hll": f"""{_T},
            {windowed_hll_sql('transcripts', include_exact=False)}""",
        # two-level sweep-line: minute prefix-max + hour combine; the
        # unpartitioned carry window is one row per minute (time-range
        # bounded by construction)
        "w_concurrency": f"""{_T},
            {WINDOWS.concurrency_by_hour_sql('transcripts')}""",
        # reversed-window next-response index: dangling = trigger with
        # no response within k turns (or none before conversation end)
        "cep_absence": f"{_T} {CEP.cep_absence_sql('transcripts')}",
        # drained streaming absence == the batch operator row for row
        "stream_absence": f"{_T} {CEP.cep_absence_sql('transcripts')}",
        # deterministic bloom funnel: membership-in-inserted-positions
        # == bit-set-in-bitset, same CW arithmetic, same collisions
        "bloom_prune": f"""{_T},
            bl_keysrc AS (SELECT conv_id FROM transcripts
                          WHERE contains(text, '@')),
            {_bloom_sql('transcripts', 'bl_keysrc', 'conv_id', m_bits=4096)}""",
        # integer copies + deterministic fractional draw == Spark's
        # sequence explode (generate_series(1,0) is empty in DuckDB)
        "corpus_upsample": TR.upsample_by_weight_sql(
            "documents", UPSAMPLE_WEIGHTS, default_bp=UPSAMPLE_DEFAULT
        ),
        # the CUSUM recurrence as two cumulative windows via
        # S_t = C_t - min(0, running-min C), densified hour grid
        "cusum_drift": f"""{_T},
            cd_src AS (SELECT * FROM transcripts WHERE tool != ''),
            {AN_CUSUM_SQL}""",
        # drained native session-window stream == the batch gaps-and-
        # islands oracle (same SQL as w_session)
        "stream_session_native": _W_SESSION_SQL,
        # Zipf head mass: top-N cum share over one token groupBy
        "vocab_coverage": TXT.vocab_coverage_sql("documents"),
        # ms-space reversed running min over response timestamps
        "cep_absence_t": f"{_T} {CEP.cep_absence_time_sql('transcripts', max_wait_s=3600)}",
        # drained time-based streaming absence == the batch operator
        "stream_absence_t": f"{_T} {CEP.cep_absence_time_sql('transcripts', max_wait_s=3600)}",
        # one symbol-string CTE, N regex branches — same amortized scan
        "cep_multi": f"{_T}, {CEP.cep_match_multi_sql('transcripts', CEP_LIBRARY)}",
        # GROUPING(a,b) emits Spark's grouping_id bitmask (first dim MSB)
        "corpus_cube": _cube_sql("documents"),
        # the salted plan is row-identical to the plain join by
        # construction — the plain join IS the oracle
        "j_salted": f"""{_T}
            SELECT t.conv_id, t.turn_idx, t.role, d.conv_turns
            FROM transcripts t
            JOIN (SELECT conv_id, COUNT(*) AS conv_turns
                  FROM transcripts GROUP BY conv_id) d
              ON t.conv_id = d.conv_id""",
        # same rows, two layouts: the funnel gap is the clustering win
        "layout_zorder": f"""WITH lz AS (
              SELECT user_id % 256 AS ub,
                     CAST(datediff('hour', TIMESTAMP '1970-01-01 00:00:00',
                                   CAST(ts AS TIMESTAMP)) AS BIGINT) % 256
                       AS hb
              FROM events)
            {_layout_sql('lz', 'ub', 'hb', LAYOUT_BOX_A, LAYOUT_BOX_B)}""",
        # bottom-k sketch: the window form IS the salted-plan identity
        "corpus_bottomk": TR.sample_bottomk_sql("documents", k=10),
        # lead-chain within-clause: event time inside the match predicate
        "cep_within": f"{_T} {CEP.cep_within_sql('transcripts', 'ttu', 21600)}",
        # drained streaming within == the batch lead-chain oracle
        "stream_within": f"{_T} {CEP.cep_within_sql('transcripts', 'ttu', 21600)}",
        # drained streaming left-outer == the batch LEFT JOIN (matches
        # eager, unmatched users emitted at state eviction)
        "stream_outer_join": f"""{_T}
            SELECT u.conv_id, u.turn_idx AS user_turn, u.ts AS user_ts,
                   t.turn_idx AS tool_turn, t.tool AS tool_name,
                   t.ts AS tool_ts
            FROM (SELECT * FROM transcripts WHERE role = 'user') u
            LEFT JOIN (SELECT * FROM transcripts WHERE role = 'tool') t
              ON u.conv_id = t.conv_id
             AND t.ts > u.ts AND t.ts <= u.ts + INTERVAL '4 hours'""",
        # cross-snapshot near-dup: per-side signatures (same seeded hash
        # family), band join new×ref only, exact Jaccard over the union
        "neardup_cross": f"""WITH newdocs AS (
              SELECT doc_id + 5000000 AS doc_id, text || ' vaero2' AS text
              FROM documents WHERE doc_id % 9 = 0
              UNION ALL
              SELECT doc_id + 6000000 AS doc_id,
                     'fresh doc ' || CAST(doc_id AS VARCHAR)
                       || ' unrelated content entirely' AS text
              FROM documents WHERE doc_id % 17 = 0),
            shr0 AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
            sh_ref AS (SELECT DISTINCT doc_id, unnest(sh) AS shingle FROM shr0),
            shn0 AS (SELECT doc_id, {_SHINGLES} AS sh FROM newdocs),
            sh_new AS (SELECT DISTINCT doc_id, unnest(sh) AS shingle FROM shn0),
            sig_ref AS ({TXT.minhash_sig_select_sql('sh_ref')}),
            sig_new AS ({TXT.minhash_sig_select_sql('sh_new')}),
            bands_ref AS (SELECT doc_id, unnest({TXT.band_keys_sql('sig')}) AS bk
                          FROM sig_ref),
            bands_new AS (SELECT doc_id, unnest({TXT.band_keys_sql('sig')}) AS bk
                          FROM sig_new),
            cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                     FROM bands_ref a JOIN bands_new b ON a.bk = b.bk),
            shingle_rows AS (SELECT * FROM sh_ref UNION ALL SELECT * FROM sh_new),
            {_jaccard_tail(50)}""",
    }
