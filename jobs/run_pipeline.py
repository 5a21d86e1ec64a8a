#!/usr/bin/env python
"""Run a vaero_spark pipeline spec as one streaming query: the job that
``jobs/vaeroctl.py start`` spawns, and a ``spark-submit`` entry point.

Usage::

    python jobs/run_pipeline.py --spec <spec.py> \
        --output <sink-root> --checkpoint <checkpoint-dir> \
        [--available-now] [--trigger-seconds 10]

    zip -r vaero_spark.zip vaero_spark
    spark-submit --master <cluster> --py-files vaero_spark.zip \
        jobs/run_pipeline.py --spec <spec.py> \
        --output <sink-root> --checkpoint <checkpoint-dir>

A spec is a Python file whose ``Vaero(...)....start()`` prints the
pipeline's task-graph JSON; every DAG, the flagship
tap→transform→route→sink one included, is a spec. The job identity IS
the checkpoint dir (reference analog: vaero's SQLite ``jobs`` table,
``cmd/util.go:144-177``): resubmitting with the same checkpoint resumes
exactly-once from committed offsets.

The session is ``get_spark``'s. Once it is up, the job prints one JSON
line, ``{"session": {...}}``, with its master, shuffle width (a new
checkpoint's state-store count), local filesystem class, Python worker
daemon module, state store provider and the JVM's JIT policy
(``spark.driver.defaultJavaOptions``). Per-epoch metrics go to
``./vaero_metrics/metrics.jsonl``; ``vaeroctl start`` runs each job in its
own job home, so every job has its own file.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# When shipped via --py-files the package is importable as-is; when run
# from the repo checkout, add the repo root.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

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
    from vaero_spark.plans.plan import plan_from_json, task_graph_from_spec
    from vaero_spark.sinks.writers import default_sink_factory
    from vaero_spark.streaming.engine import run_streaming_plan

    return run_streaming_plan(
        spark,
        plan_from_json(task_graph_from_spec(spec_path)),
        checkpoint_dir=checkpoint,
        sink_factory=default_sink_factory(output),
        trigger_seconds=trigger,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spec", required=True,
                    help="pipeline spec file (prints its task graph JSON "
                         "via Vaero().…start())")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--available-now", action="store_true",
                    help="drain what exists, then exit (batch-style run)")
    ap.add_argument("--trigger-seconds", type=float, default=None)
    args = ap.parse_args()

    from vaero_spark.session import get_spark
    from vaero_spark.streaming.lineage import attach_metrics_listener

    spark = get_spark("vaero_pipeline")
    session = {
        "master": spark.sparkContext.master,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        **{k: spark.conf.get(k, None)  # None: unset
           for k in ("spark.hadoop.fs.file.impl", "spark.python.daemon.module",
                     "spark.sql.streaming.stateStore.providerClass",
                     "spark.driver.defaultJavaOptions")},
    }
    print(json.dumps({"session": session}), flush=True)
    attach_metrics_listener(spark, os.path.abspath("vaero_metrics"))

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


if __name__ == "__main__":
    main()
