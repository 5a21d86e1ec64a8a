"""Streaming pipeline runner.

The reference runs every pipeline one way: source → one transformNode
that feeds every sink (``execute/execute.go:35-47``,
``transformNode.go:58-62``). Ours is one ``StreamingQuery`` per
pipeline, also run one way:

- the longest tn prefix that every sink shares is applied to the
  source stream once, stream-side, so stateful ops there (dedup,
  watermark, windows) keep their state across epochs;
- one ``foreachBatch`` fans each epoch out to every sink, and each
  branch applies its own suffix to the epoch's batch. Suffixes run
  batch-mode per epoch, so they must be stateless;
  :func:`run_streaming_plan` rejects a stateful op after the fork
  before any query starts. With more than one sink the batch is
  persisted once and the branches write concurrently.

Checkpoint dir = job identity (reference: SQLite jobs table,
``cmd/util.go:144-177``). Restart with the same checkpoint resumes from
committed offsets; sinks dedup epoch re-delivery via commit markers.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from vaero_spark.compiler import _apply_chain, sink_chains
from vaero_spark.plans.plan import OpNode, Plan
from vaero_spark.sources.transcripts import transcripts_stream


@dataclass
class StreamingPipeline:
    """A started pipeline: the query handle + its sinks (+ any push
    servers / pollers owned by the source)."""

    query: object  # StreamingQuery
    sinks: dict[str, object]
    servers: list = None  # push servers / pollers to stop with the query

    def process_all(self) -> None:
        self.query.processAllAvailable()

    def stop(self) -> None:
        self.query.stop()
        for s in self.servers or []:
            s.stop()


def _resolve_stream_source(spark: SparkSession, node: OpNode) -> DataFrame:
    if node.op == "transcripts":
        return transcripts_stream(
            spark, node.args["path"], node.args.get("max_files_per_trigger")
        )
    if node.op == "rate":
        return (
            spark.readStream.format("rate")
            .option("rowsPerSecond", str(node.args.get("rows_per_second", 1000)))
            .load()
        )
    if node.op == "http_server":
        # push source (ref source_http_server.go:30-96): start the
        # server now; its spool feeds an exactly-once file stream. The
        # live handle is stashed on the node so run_streaming_plan can
        # stop it with the query.
        from vaero_spark.sources.http_server import HttpPushSource

        src = HttpPushSource(
            port=int(node.args.get("port", 0)),
            endpoint=node.args.get("endpoint", "/"),
            spool_dir=node.args["spool_dir"],
        ).start()
        node.args["_server"] = src
        node.args["port"] = src.port  # resolved port for port=0
        return src.stream(spark, node.args["schema"])
    if node.op in ("paginated_api", "okta", "google_workspace"):
        # pull source (ref vaero_cdk + source_okta.py): a driver-side
        # poller with persistent cursor / rate limit / backoff / late
        # gate, spooling into an exactly-once file stream. okta and
        # google_workspace get a CONCRETE fetch_page preset (HTTP GET,
        # header auth via the secrets-resolved args, link/body-token
        # pagination — sources/connectors.py) unless the plan supplies
        # its own callable; `paginated_api` requires one.
        from vaero_spark.sources.connectors import (
            PRESET_EVENT_TIME_KEY,
            PRESET_FETCH_PAGE,
        )
        from vaero_spark.sources.paginated_api import (
            PaginatedApiSource,
            SteadyRateLimiter,
        )

        if node.op == "google_workspace" and node.args.get("apps"):
            # reference multi-app round-robin: one cursor per app, one
            # shared spool/stream (connectors.GoogleWorkspaceMultiAppSource)
            from vaero_spark.sources.connectors import (
                build_google_workspace_multi_source,
            )

            src = build_google_workspace_multi_source(
                node.args,
                event_time_key=node.args.get(
                    "event_time_key", PRESET_EVENT_TIME_KEY["google_workspace"]
                ),
                max_events_per_poll=node.args.get("max_events_per_poll"),
                rate=SteadyRateLimiter(float(node.args.get("rate_increment", 0.0))),
                secret_resolver=node.args.get("_secret_resolver"),
            )
        else:
            fetch = node.args.get("fetch_page")
            if fetch is None:
                if node.op not in PRESET_FETCH_PAGE:
                    raise ValueError("paginated_api source requires fetch_page=")
                fetch = PRESET_FETCH_PAGE[node.op](node.args)
            src = PaginatedApiSource(
                fetch_page=fetch,
                spool_dir=node.args["spool_dir"],
                cursor_path=node.args["cursor_path"],
                event_time_key=node.args.get(
                    "event_time_key", PRESET_EVENT_TIME_KEY.get(node.op, "ts")
                ),
                max_events_per_poll=node.args.get("max_events_per_poll"),
                rate=SteadyRateLimiter(float(node.args.get("rate_increment", 0.0))),
                secret_resolver=node.args.get("_secret_resolver"),
            )
    elif node.op in ("s3", "object_store"):
        # pull source (ref source_s3.go:25-85: list prefix → GET → split
        # on newline): a driver-side poller over a ListingObjectStore
        # client, spooling object versions into an exactly-once file
        # stream. The sandbox store is LocalDirObjectStore; a real S3
        # deployment swaps the client (args["store"]) — the listing /
        # change-detection / spool logic is identical.
        from vaero_spark.sources.object_store import (
            LocalDirObjectStore,
            ObjectLineSource,
        )

        store = node.args.get("store")
        if store is None:
            store = LocalDirObjectStore(node.args["bucket_dir"])
        src = ObjectLineSource(
            store=store,
            prefix=node.args.get("prefix", ""),
            spool_dir=node.args["spool_dir"],
            seen_path=node.args["seen_path"],
        )
    else:
        raise ValueError(f"unknown stream source {node.op!r}")
    # every pull source: start its poller and stash the live handle on
    # the node, like http_server
    src.start_polling(float(node.args.get("interval", 10.0)))
    node.args["_server"] = src
    return src.stream(spark, node.args["schema"])


def derive_trigger_seconds(plan: Plan) -> float | None:
    """Trigger policy from the DSL args: the source's poll ``interval``
    (``/root/reference/execute/execute.go:99-110``) CLAMPED by the
    smallest sink ``batch_max_time`` (the reference's time-cap flush
    fires ``batch_max_time`` after buffer creation,
    ``sinkNode.go:242-254`` — our epoch IS the flush unit, so the query
    must trigger at least that often). None when the plan carries no
    timing args (ASAP triggers — the default in tests).
    """
    bounds = [
        float(node.args["batch_max_time"])
        for _, node, _ in sink_chains(plan)
        if node.args.get("batch_max_time")
    ]
    interval = plan.root.args.get("interval")
    if interval:
        bounds.append(float(interval))
    return min(bounds) if bounds else None


# ops whose result depends on earlier epochs: they only work stream-side
_STATEFUL_OPS = ("dedup", "watermark", "window", "session_window")


def run_streaming_plan(
    spark: SparkSession,
    plan: Plan,
    checkpoint_dir: str,
    sink_factory: Callable[[str, OpNode], object],
    trigger_seconds: float | str | None = None,
    query_name: str = "vaero_pipeline",
) -> StreamingPipeline:
    """Start the pipeline as ONE streaming query with multi-sink fan-out.

    The longest tn prefix common to every sink chain
    (:func:`~vaero_spark.compiler.sink_chains`) is applied to the source
    stream, stream-side, so stateful ops (watermarks, dedup, windows)
    work there and keep their state across epochs. The query then hands
    off to :func:`run_streaming_fanout`, and each branch applies only
    its suffix per epoch. A single sink is one branch with an empty
    suffix.

    Branch suffixes run batch-mode per epoch, so they must be stateless
    (the reference's branches are exactly that): a ``dedup``,
    ``watermark``, ``window`` or ``session_window`` after the fork
    raises ValueError, naming the op and the sink, before any query
    starts. Put it before the fork instead.

    Secrets specs run at query start. The prefix is planned then, so
    secrets in its args are read once; suffix args and pull sources see
    the per-epoch refresh.

    ``trigger_seconds="auto"`` derives the trigger from the plan's DSL
    timing args (source interval clamped by sink batch_max_time) via
    :func:`derive_trigger_seconds`; None keeps ASAP triggers.
    """
    if trigger_seconds == "auto":
        trigger_seconds = derive_trigger_seconds(plan)
    chains = sink_chains(plan)
    if not chains:
        raise ValueError("plan has no sinks")
    # the longest common tn prefix, by node identity
    prefix_len = 0
    shortest = min(len(ops) for _, _, ops in chains)
    while prefix_len < shortest and all(
        ops[prefix_len] is chains[0][2][prefix_len] for _, _, ops in chains
    ):
        prefix_len += 1
    for name, _, ops in chains:
        for node in ops[prefix_len:]:
            if node.op in _STATEFUL_OPS:
                raise ValueError(
                    f"sink {name!r}: stateful op {node.op!r} after the fork "
                    "would run per epoch in batch mode and lose its state "
                    "between epochs; move it before the fork"
                )
    # Plan-compatibility gate BEFORE any resolution mutates args:
    # Spark's checkpoint protects offsets/state, not transform
    # semantics — resuming a checkpoint with a changed op chain would
    # silently alter outputs mid-stream (SURVEY §3 lifecycle contract).
    from vaero_spark.plans.plan import plan_fingerprint

    _validate_checkpoint_plan(checkpoint_dir, plan_fingerprint(plan), plan)
    # Execute secrets specs now and keep resolvers for per-epoch refresh
    # (reference: getSecrets at job start + the execute.go:84-96 loop).
    from vaero_spark.secrets import resolve_plan_secrets

    resolvers = resolve_plan_secrets(plan)
    src = _resolve_stream_source(spark, plan.root)
    sinks = {name: sink_factory(name, node) for name, node, _ in chains}
    pipe = run_streaming_fanout(
        spark,
        _apply_chain(chains[0][2][:prefix_len])(src),
        {name: _apply_chain(ops[prefix_len:]) for name, _, ops in chains},
        sink_factory=lambda name: sinks[name],
        checkpoint_dir=checkpoint_dir,
        trigger_seconds=trigger_seconds,
        query_name=query_name,
        resolvers=resolvers,
    )
    if plan.root.args.get("_server"):
        pipe.servers = [plan.root.args["_server"]]
    return pipe


def run_streaming_fanout(
    spark: SparkSession,
    source_stream: DataFrame,
    branch_fns: dict[str, Callable[[DataFrame], DataFrame]],
    sink_factory: Callable[[str], object],
    checkpoint_dir: str,
    trigger_seconds: float | None = None,
    query_name: str = "vaero_fanout",
    resolvers: list | tuple = (),
) -> StreamingPipeline:
    """Fan one streaming query out to every sink: per epoch, apply each
    branch's transform to the batch and write it to its sink
    idempotently keyed by (epoch, sink). This is the Spark shape of the
    reference's branch construct (``transformNode.go:36-62``) with
    exactly-once instead of fire-and-forget.

    ``source_stream`` already carries the shared transform prefix (the
    reference's single transformNode feeding every sink,
    ``transformNode.go:58-62``), applied stream-side: stateful ops
    belong there. ``branch_fns`` run batch-mode per epoch, so they must
    be stateless. ``resolvers`` (secrets) are refreshed at the start of
    every epoch.

    One branch writes the batch straight to its sink. With more, the
    batch is persisted once, so N branches never recompute the shared
    prefix, and branch writes run CONCURRENTLY (one thread per sink
    submitting its Spark job): the branches are independent jobs over
    the same persisted batch, and serial submission left the cluster
    idle during each write's scheduling/commit tail — the reference gets
    the same overlap from its per-sink flush goroutines
    (``sinkNode.go:133-173``). Exactly-once is unaffected: each sink's
    epoch commit is independent and idempotent, and a failed branch
    fails the whole batch (so the epoch is redelivered and the
    already-committed sinks dedup it)."""
    sinks = {name: sink_factory(name) for name in branch_fns}
    writes = {name: sink.foreach_batch() for name, sink in sinks.items()}

    def fan_out(batch_df: DataFrame, epoch_id: int) -> None:
        from concurrent.futures import ThreadPoolExecutor

        for r in resolvers:
            r.refresh_if_stale()

        def run_branch(item):
            name, fn = item
            writes[name](fn(batch_df), epoch_id)

        if len(branch_fns) == 1:
            run_branch(next(iter(branch_fns.items())))
            return
        # concurrent branches do NOT double-compute the persisted batch:
        # the block manager's per-partition cache locks make the second
        # job's tasks wait for in-flight computation instead of redoing it
        batch_df.persist()
        try:
            with ThreadPoolExecutor(max_workers=len(branch_fns)) as pool:
                # list() re-raises the first branch exception
                list(pool.map(run_branch, branch_fns.items()))
        finally:
            batch_df.unpersist()

    writer = (
        source_stream.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(fan_out)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return StreamingPipeline(writer.start(), sinks)


def _validate_checkpoint_plan(checkpoint_dir: str, fp: str, plan: Plan) -> None:
    """First start: record {fingerprint, plan} beside the checkpoint.
    Resume: refuse a semantically different plan (the control-plane
    analog of the reference's task_graph column — its SQLite row IS the
    job identity, ``cmd/util.go:144-177``)."""
    import json as _json

    meta_path = os.path.join(checkpoint_dir, "_vaero_plan.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            stored = _json.load(f)
        if stored["fingerprint"] != fp:
            raise ValueError(
                f"checkpoint {checkpoint_dir!r} belongs to a different pipeline "
                f"(stored plan fingerprint {stored['fingerprint']}, this plan "
                f"{fp}): resuming would silently change semantics mid-stream. "
                "Use a fresh checkpoint dir for the new plan, or rerun the "
                "original plan."
            )
        return
    os.makedirs(checkpoint_dir, exist_ok=True)
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        _json.dump({"fingerprint": fp, "plan": plan.serialize()}, f, default=str)
    os.replace(tmp, meta_path)
