#!/usr/bin/env python
"""spark-submit entry point for a vaero_spark streaming pipeline.

Cluster usage (the north-rule deployment shape)::

    cd /root/repo && zip -r /tmp/vaero_spark.zip vaero_spark
    spark-submit --master <cluster> --py-files /tmp/vaero_spark.zip \
        jobs/run_pipeline.py \
        --input  <iceberg-table-or-parquet-dir> \
        --output <sink-root> \
        --checkpoint <checkpoint-dir> \
        [--available-now] [--trigger-seconds 10] [--max-files-per-trigger 32]

The job identity IS the checkpoint dir (reference analog: the SQLite
``jobs`` table, ``/root/reference/cmd/util.go:144-177``): resubmitting
with the same checkpoint resumes exactly-once from committed offsets.

The pipeline run here is the flagship tap→transform→route→sink DAG:
mask PII → parse k= → route errors/rest → two exactly-once partitioned
parquet (Iceberg-shaped) sinks, with per-epoch lineage manifests and a
metrics listener. In the sandbox this same file is executed by
``spark-submit --master local[N]`` in tests and by bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# When shipped via --py-files the package is importable as-is; when run
# from the repo checkout, add the repo root.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"


def transform(df):
    """The shared prefix, applied to the source stream once: mask PII →
    parse k= → tag."""
    from vaero_spark.operators import transforms as TR

    df = TR.mask(df, "text", EMAIL_RE, "<EMAIL>")
    df = TR.parse_regexp(df, "text", "k=(?<kval>[0-9]+)")
    return TR.add(df, "pipeline", "flagship")


BRANCHES = {
    "errors": lambda b: b.filter(F.col("text").rlike("error")),
    "rest": lambda b: b.filter(~F.col("text").rlike("error")),
}


def run_spec(spark, spec_path: str, output: str, checkpoint: str,
             trigger: float | str | None = "auto"):
    """The reference's ``vaero add <spec.py>`` lifecycle (SURVEY §3):
    execute the user's pipeline spec as a subprocess — its
    ``Vaero...start()`` prints the task-graph JSON, stdout is the IR
    channel (``/root/reference/vaero/stream.py:127-132``,
    ``cmd/util.go:192-210``) — decode it, and run it as one streaming
    query with exactly-once sinks. Spec sources must be JSON-arg
    sources (transcripts / http_server / rate), same constraint as the
    reference's config-only specs."""
    import subprocess

    from vaero_spark.plans.plan import plan_from_json
    from vaero_spark.sinks.writers import default_sink_factory
    from vaero_spark.streaming.engine import run_streaming_plan

    proc = subprocess.run(
        [sys.executable, spec_path], capture_output=True, text=True, check=True
    )
    from vaero_spark.plans.plan import task_graph_from_stdout

    try:
        graph = task_graph_from_stdout(proc.stdout)
    except ValueError as e:
        raise ValueError(f"spec {spec_path!r}: {e}") from e
    plan = plan_from_json(graph)
    return run_streaming_plan(
        spark,
        plan,
        checkpoint_dir=checkpoint,
        sink_factory=default_sink_factory(output),
        trigger_seconds=trigger,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=False, default=None)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--spec", default=None,
                    help="run a user pipeline spec file (prints its task "
                         "graph JSON via Vaero().…start()) instead of the "
                         "flagship DAG")
    ap.add_argument("--available-now", action="store_true",
                    help="drain what exists, then exit (batch-style run)")
    ap.add_argument("--trigger-seconds", type=float, default=None)
    ap.add_argument("--max-files-per-trigger", type=int, default=32)
    args = ap.parse_args()

    from vaero_spark.sinks.writers import ExactlyOnceParquetSink
    from vaero_spark.sources.transcripts import transcripts_stream
    from vaero_spark.streaming.engine import run_streaming_fanout
    from vaero_spark.streaming.lineage import attach_metrics_listener

    # spark-submit owns master/executors; only semantics confs here.
    spark = (
        SparkSession.builder.appName("vaero_pipeline")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    metrics = attach_metrics_listener(spark)

    if args.spec:
        # a drain run must not wait out the DSL's 300 s batch_max_time
        # trigger between micro-batches — ASAP triggers for availableNow;
        # an explicit --trigger-seconds overrides the plan-derived value
        # (the job registry's per-job interval rides this flag)
        pipe = run_spec(
            spark, args.spec, args.output, args.checkpoint,
            trigger=None if args.available_now else (args.trigger_seconds or "auto"),
        )
        if args.available_now:
            pipe.process_all()
            pipe.stop()
            print(json.dumps({"status": "drained", "sinks": sorted(pipe.sinks)}))
        else:
            pipe.query.awaitTermination()
        return

    if not args.input:
        ap_err = "--input is required unless --spec is given"
        raise SystemExit(ap_err)
    src = transcripts_stream(spark, args.input, args.max_files_per_trigger)
    sinks = {
        name: ExactlyOnceParquetSink(os.path.join(args.output, name))
        for name in BRANCHES
    }
    t0 = time.perf_counter()
    pipe = run_streaming_fanout(
        spark,
        transform(src),
        BRANCHES,
        sink_factory=lambda name: sinks[name],
        checkpoint_dir=args.checkpoint,
        trigger_seconds=args.trigger_seconds,
    )
    if args.available_now:
        pipe.process_all()
        pipe.stop()
        elapsed = time.perf_counter() - t0
        out = sum(s.read_committed(spark).count() for s in sinks.values())
        print(json.dumps({"status": "drained", "out_rows": out,
                          "elapsed_sec": round(elapsed, 2)}))
    else:
        pipe.query.awaitTermination()


if __name__ == "__main__":
    main()
