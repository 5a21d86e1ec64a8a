"""One benchmark run in a fresh JVM.

Started by ``run.py`` as its own process, so every run gets a new JVM and
the measuring parent never holds a SparkSession. It builds the workload's
pipeline through the public API and feeds it in three phases:

1. the source directory holds one small priming file; the first
   committed epoch ends set-up;
2. the warm-up files are moved in and drained (JIT and caches settle);
3. the measured backlog is moved in as several releases of one epoch's
   files each; each release is drained before the next is moved in.

It records when each sink write starts and returns, and for each release
when it was moved in, when the query had drained it and the CPU time of
its own process tree in between. After the last release it reads the
live Java heap. The raw records go to ``<work>/child.json``; the parent
turns them into metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import threading
import time

from measure import tree_usage

EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
NUMBER_RE = "[0-9]{4,}"
K_RE = "k=(?<kval>[0-9]+)"
CEP_LITERAL = "ttu"
WATERMARK = "10 minutes"
FILES_PER_TRIGGER = 30


class Recorder:
    """Spans kept in memory and written once at the end."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def call(self, name: str, fn, *args, epoch=None, **kw):
        parent = getattr(self._local, "span", None)
        span = {"name": name, "epoch": epoch, "parent": parent}
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        if epoch is None and parent is not None:
            span["epoch"] = self.spans[parent]["epoch"]
        self._local.span = span["id"]
        span["start"] = time.time()
        try:
            result = fn(*args, **kw)
            if isinstance(result, dict) and "rows" in result:
                span["rows"] = result["rows"]
            return result
        finally:
            span["end"] = time.time()
            self._local.span = parent


def wrap_sink(rec: Recorder, name: str, sink):
    """Record each ``write`` of one sink as a span."""
    inner = sink.write

    def write(df, epoch_id):
        return rec.call(f"sink.write.{name}", inner, df, epoch_id, epoch=epoch_id)

    sink.write = write
    return sink


def wrap_sinkfs(rec: Recorder) -> None:
    """Traced runs: time the marker commit of ``ExactlyOnceParquetSink``."""
    from vaero_spark.sinks import fs

    for attr in ("partition_stats", "write_json_atomic"):
        inner = getattr(fs.SinkFS, attr)

        def method(self, *a, _inner=inner, _name=f"sink.commit.{attr}", **kw):
            return rec.call(_name, _inner, self, *a, **kw)

        setattr(fs.SinkFS, attr, method)


def flagship_plan(src_dir: str):
    """mask e-mail and long numbers → parse ``k=`` → quality and language
    annotation → route error / rest into two DSL parquet sinks."""
    from vaero_spark.dsl import Vaero

    v = (
        Vaero()
        .source("transcripts", path=src_dir, max_files_per_trigger=FILES_PER_TRIGGER)
        .mask("text", EMAIL_RE, "<EMAIL>")
        .mask("text", NUMBER_RE, "<NUM>")
        .parse_regexp("text", K_RE)
        .annotate_quality()
        .annotate_lang()
    )
    v.filter_regexp("text", "error").sink("parquet", name="errors")
    v.filter_regexp("text", "^(?!.*error)").sink("parquet", name="rest")
    return v.plan()


def start_query(spark, rec: Recorder, args):
    """Start the workload's query. Returns (query, sink names, dumper)."""
    ckpt = os.path.join(args.work, "ckpt")
    if args.workload == "drain":
        from vaero_spark.sinks.writers import default_sink_factory
        from vaero_spark.streaming.engine import run_streaming_plan

        base = default_sink_factory(os.path.join(args.work, "sinks"))
        plan = flagship_plan(args.src)
        pipe = rec.call(
            "engine.run_streaming_plan", run_streaming_plan, spark, plan, ckpt,
            lambda name, node: wrap_sink(rec, name, base(name, node)),
            trigger_seconds=None,
        )
        return pipe.query, ("errors", "rest"), lambda: None

    from vaero_spark.sinks.writers import MemorySink
    from vaero_spark.sources.transcripts import transcripts_stream

    sink = MemorySink()
    collect = wrap_sink(rec, "out", _Collect(sink))

    def start():
        from vaero_spark.operators.cep import stream_cep_match

        stream = transcripts_stream(spark, args.src, FILES_PER_TRIGGER)
        return (
            stream_cep_match(stream, CEP_LITERAL, WATERMARK)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(collect.write)
            .start()
        )

    query = rec.call("engine.run_streaming_plan", start)
    return query, ("out",), lambda: dump_rows(args, sink)


class _Collect:
    """``MemorySink`` with a ``write`` that reports the rows it received."""

    def __init__(self, sink):
        self.sink = sink
        self._fb = sink.foreach_batch()

    def write(self, df, epoch_id):
        self._fb(df, epoch_id)
        return {"rows": len(self.sink.batches[-1][1])}


def dump_rows(args, sink) -> None:
    """The last emission per conversation (update mode: later epochs win)."""
    final = {}
    for _, batch in sorted(sink.batches, key=lambda b: b[0]):
        for r in batch:
            final[r.conv_id] = [r.conv_id, r.n_turns, r.n_matches, r.first_match_turn]
    with open(os.path.join(args.work, "rows.json"), "w") as f:
        json.dump(list(final.values()), f)


def move_in(src: str, names: list[str], dst: str) -> None:
    for name in names:
        os.rename(os.path.join(src, name), os.path.join(dst, name))


def live_heap_bytes(spark) -> int:
    """Java heap in use after a full collection: what the JVM still holds
    (state store maps, cached plans, buffers) rather than garbage."""
    jvm = spark.sparkContext._jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return rt.totalMemory() - rt.freeMemory()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--src", required=True)
    ap.add_argument("--warmup", required=True)
    ap.add_argument("--window", required=True)
    ap.add_argument("--master", default="local[3]")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    rec = Recorder()
    tmp = os.path.join(args.work, "tmp")
    conf = {
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.ui.showConsoleProgress": "false",
        # heap committed and touched up front, so resident memory does not
        # follow the collector's adaptive heap growth from run to run
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
    }
    if args.trace:
        log_dir = os.path.join(args.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false"})
        wrap_sinkfs(rec)
    from vaero_spark.session import get_spark

    spark = rec.call("session.get_spark", get_spark, "perfbench", master=args.master,
                     extra_conf=conf)
    query, sinks, dump = start_query(spark, rec, args)

    # set-up ends when every sink has written epoch 0
    while sum(s["epoch"] == 0 and "end" in s and s["name"].startswith("sink.write.")
              for s in list(rec.spans)) < len(sinks):
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        time.sleep(0.05)
    move_in(args.warmup, sorted(os.listdir(args.warmup)), args.src)
    query.processAllAvailable()
    window = sorted(os.listdir(args.window))
    releases = []
    for i in range(0, len(window), FILES_PER_TRIGGER):
        names = window[i : i + FILES_PER_TRIGGER]
        cpu0, _ = tree_usage(os.getpid(), memory=False)
        t_release = time.time()
        move_in(args.window, names, args.src)
        query.processAllAvailable()
        t_done = time.time()
        cpu1, _ = tree_usage(os.getpid(), memory=False)
        releases.append({"files": names, "t_release": t_release, "t_done": t_done, "cpu_s": cpu1 - cpu0})
    heap_live = live_heap_bytes(spark)
    progress = [json.loads(p.json) for p in query.recentProgress]
    query.stop()
    dump()
    out = {"spans": rec.spans, "progress": progress, "releases": releases, "heap_live_bytes": heap_live}
    with open(os.path.join(args.work, "child.json"), "w") as f:
        json.dump(out, f)
    spark.stop()


if __name__ == "__main__":
    main()
