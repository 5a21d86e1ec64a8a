"""Sink implementations.

The reference's sink interface is ``Init(config)`` / ``Flush(filename,
prefix, eventList)`` (``/root/reference/integrations/sinks/sink.go:13-16``)
with in-memory buffers that are lost on crash (at-most/at-least-once,
``execute/sinkNode.go:105-125``). Ours are ``foreachBatch`` writers with
**idempotent per-epoch commits**: re-delivery of an epoch after restart
overwrites the same epoch directory and the commit marker dedups it —
end-to-end exactly-once on top of checkpointed offsets.

:class:`ExactlyOnceParquetSink` is the exactly-once sink: parquet data
plus per-epoch manifests, the marker written last as the commit point.
:func:`default_sink_factory` routes every table-like DSL sink op to it
(``s3``, ``parquet``, ``file`` and ``iceberg``); an Iceberg table sink
needs the Iceberg Spark runtime jar, which the repository does not ship.
The parquet sink is object-store-ready: give it an ``s3a://`` or
``hdfs://`` root and the marker/manifest I/O rides the JVM Hadoop
FileSystem client (``sinks/fs.py`` documents per-store commit
atomicity); only the hadoop-aws jars + credentials are cluster-side
concerns.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class ExactlyOnceParquetSink:
    """Partitioned, epoch-committed parquet sink.

    Layout::

        <path>/data/epoch=<id>/prefix=<yyyy/MM/dd>/part-*.parquet
        <path>/_epochs/<id>.json      # commit marker + lineage

    ``write(batch_df, epoch_id)`` is idempotent: a re-run of a failed
    epoch overwrites its own directory and the marker is rewritten last
    (marker presence = committed). ``filename_prefix`` reproduces the
    reference's strftime prefix partitioning (``sinkNode.go:63-102``;
    default ``%Y/%m/%d`` ⇒ ``yyyy-MM-dd`` here), and rows with null ts
    are dropped + counted, mirroring its silent unparseable-ts drop
    (``sinkNode.go:86-89``) but observable in the manifest.

    Optional reference-parity flush semantics (wired from DSL sink args
    by :func:`default_sink_factory`):

    - ``batch_max_bytes`` (``sinkNode.go:105-125``): events are packed
      into byte-capped files per prefix — ``file_seq`` = which
      ``batch_max_bytes`` block the event's running JSON-byte total
      falls into (one window pass reusing the prefix partitioning;
      deterministic block packing, vs the reference's greedy
      reset-on-flush — boundaries may differ by at most one event per
      file, documented divergence; this packing is the one byte-cap
      implementation).
    - ``filename_format`` (``sinkNode.go:190-225``): ``window_file``
      column = strftime of the LAST event's ts in the (prefix,
      file_seq) buffer — ``%s`` = epoch seconds like the reference's
      strftime.WithUnixSeconds. Fallback name is deterministic
      (epoch/prefix/seq) instead of a UUID so re-delivered epochs stay
      idempotent (documented divergence).
    """

    path: str
    prefix_format: str = "yyyy-MM-dd"
    ts_col: str = "ts"
    order_cols: tuple = ("conv_id", "turn_idx")
    filename_format: str | None = None  # strftime; e.g. "%s.log"
    batch_max_bytes: int | None = None  # byte-cap file splitting

    def write(self, batch_df: DataFrame, epoch_id: int) -> dict:
        # marker I/O goes through the scheme-aware shim, so the same
        # sink runs against s3a://, hdfs://, or a local dir (sinks/fs.py
        # documents the per-store commit-atomicity mechanism)
        from vaero_spark.sinks.fs import SinkFS

        fs = SinkFS(self.path, batch_df.sparkSession)
        marker = fs.join(self.path, "_epochs", f"{epoch_id}.json")
        if fs.exists(marker):
            return fs.read_json(marker)  # already committed — dedup re-delivery

        # Single-pass accounting: piggyback row/null-ts counters on the
        # write job itself via `observe` — no extra count() passes over
        # the batch (they'd recompute the whole transform chain).
        from pyspark.sql import Observation

        df = batch_df
        has_ts = self.ts_col in df.columns
        if has_ts and dict(df.dtypes)[self.ts_col] == "string":
            # sources that deliver event time as an ISO string (e.g. an
            # API's `published` field through a JSON spool): the lenient
            # string→timestamp cast mirrors the reference's sink-side
            # parse, and unparseable values become null — the same
            # silent-drop path as unparseable timestamps (sinkNode.go:86-89)
            df = df.withColumn(self.ts_col, F.col(self.ts_col).cast("timestamp"))
        obs = Observation(f"sink_epoch_{epoch_id}")
        if has_ts:
            df = df.observe(
                obs,
                F.count(F.lit(1)).alias("total"),
                F.count(self.ts_col).alias("kept"),
            )
            df = df.filter(F.col(self.ts_col).isNotNull())
            df = df.withColumn("prefix", F.date_format(self.ts_col, self.prefix_format))
        else:
            df = df.observe(obs, F.count(F.lit(1)).alias("total"))

        # stable turn ordering within each output partition (the
        # north-star per-turn ordering invariant): sort within partitions
        # before write — cheap, no extra shuffle beyond the partitioner.
        order = [c for c in self.order_cols if c in df.columns]
        epoch_dir = fs.join(self.path, "data", f"epoch={epoch_id}")
        if has_ts:
            # One shuffle on the prefix before the partitioned write:
            # without it every task writes a file per prefix it happens
            # to contain (tasks × prefixes files per epoch — thousands of
            # tiny files whose per-file Hadoop Configuration setup
            # serializes on a class lock and whose commit the driver
            # processes one by one). With it, file count = distinct
            # prefixes. At cluster scale small-files pressure on the
            # table store makes this right too.
            df = df.repartition(F.col("prefix"))

        part_cols = ["prefix"] if has_ts else []
        if has_ts and (self.batch_max_bytes or self.filename_format):
            # both windows partition by prefix, so they reuse the
            # repartition above — no additional shuffle, one sort.
            from pyspark.sql import Window

            from vaero_spark.functions.timefmt import ts_strftime_column

            data_cols = [c for c in batch_df.columns]
            if self.batch_max_bytes:
                ev_bytes = F.octet_length(
                    F.to_json(
                        F.struct(*[F.col(c) for c in data_cols]),
                        {"ignoreNullFields": "false"},
                    )
                ) + F.lit(1)  # + newline, like the reference's "\n".join
                wseq = Window.partitionBy("prefix").orderBy(
                    F.col(self.ts_col), *[F.col(c) for c in order]
                )
                cum = F.sum(ev_bytes.cast("long")).over(wseq)
                df = df.withColumn(
                    "file_seq",
                    F.floor((cum - F.lit(1)) / F.lit(self.batch_max_bytes)).cast("int"),
                )
                part_cols.append("file_seq")
            else:
                df = df.withColumn("file_seq", F.lit(0).cast("int"))
            if self.filename_format:
                wmax = Window.partitionBy("prefix", "file_seq")
                fallback = F.concat_ws(
                    "-", F.lit(f"epoch-{epoch_id}"), F.col("prefix"), F.col("file_seq")
                )
                df = df.withColumn(
                    "window_file",
                    F.coalesce(
                        ts_strftime_column(
                            F.max(self.ts_col).over(wmax), self.filename_format
                        ),
                        fallback,
                    ),
                )
            if not self.batch_max_bytes:
                df = df.drop("file_seq")

        writer = df.sortWithinPartitions(*part_cols, *order) if order else df
        # Parquet dictionary encoding is a pure loss on high-cardinality
        # text (every transcript turn is unique): the encoder hashes every
        # string, overflows the dictionary page, and falls back to plain
        # anyway — measured ~1.5x slower writes.
        w = writer.write.mode("overwrite").option("parquet.enable.dictionary", "false")
        if part_cols:
            w = w.partitionBy(*part_cols)
        w.parquet(epoch_dir)

        try:
            metrics = obs.get
            total = metrics["total"]
            kept = metrics.get("kept", total)
        except Exception:  # noqa: BLE001
            # a zero-task write (empty branch batch) never materializes
            # the observation row; the epoch is then empty by definition
            total = kept = 0
        dropped = total - kept

        # Per-partition lineage: what landed where this epoch, from the
        # committed files themselves (no extra Spark job); the epoch
        # manifest carries it, as a table format's snapshot manifest would.
        manifest = {
            "epoch": epoch_id,
            "rows": kept,
            "dropped_null_ts": dropped,
            "committed_at": time.time(),
            "path": epoch_dir,
            "partitions": fs.partition_stats(epoch_dir),
        }
        fs.write_json_atomic(marker, manifest)  # the commit point
        return manifest

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        return lambda df, epoch_id: self.write(df, epoch_id)

    def read_committed(self, spark) -> DataFrame:
        """Read back only committed epochs (uncommitted partial data is
        invisible — snapshot-isolation semantics like Iceberg)."""
        from vaero_spark.sinks.fs import SinkFS

        fs = SinkFS(self.path, spark)
        epochs_dir = fs.join(self.path, "_epochs")
        paths = []
        for m in fs.list_json(epochs_dir):
            mf = fs.read_json(fs.join(epochs_dir, m))
            if mf["rows"] > 0:
                paths.append(mf["path"])
        if not paths:
            return spark.createDataFrame([], "conv_id string")
        return spark.read.option("basePath", fs.join(self.path, "data")).parquet(*paths)


@dataclass
class MemorySink:
    """Collects batches driver-side — test/debug analog of the reference's
    stdout sink (``sink_stdout.go:23-26``)."""

    batches: list = field(default_factory=list)

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        def fn(df: DataFrame, epoch_id: int) -> None:
            self.batches.append((epoch_id, df.collect()))

        return fn

    def rows(self) -> list:
        return [r for _, rows in self.batches for r in rows]


@dataclass
class StdoutSink:
    """Print joined events (``sink_stdout.go:23-26``)."""

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        def fn(df: DataFrame, epoch_id: int) -> None:
            for row in df.collect():
                print(row)

        return fn


@dataclass
class HttpStubSink:
    """Stub HTTP sink — the shape of the reference's datadog/elastic/
    splunk sinks, which are themselves stubs that log and print
    (``sink_datadog.go:23-30``, ``sink_elastic.go:23-30``,
    ``sink_splunk.go:23-30``, each marked ``/* Replace here */``).

    Production wires an HTTP POST per partition batch here; in the
    sandbox the delivery job is a ``noop`` write with the per-epoch row
    count piggybacked via ``observe`` — ONE job per epoch (a separate
    ``count()`` would re-run the branch's whole transform chain a second
    time). Exactly-once is the TARGET system's job for HTTP sinks
    (idempotency keys) — same caveat as the reference."""

    service: str
    epochs: list = field(default_factory=list)

    def write(self, batch_df: DataFrame, epoch_id: int) -> dict:
        from pyspark.sql import Observation

        obs = Observation(f"http_stub_{self.service}_{epoch_id}")
        df = batch_df.observe(obs, F.count(F.lit(1)).alias("rows"))
        # the delivery action (per-partition POST in production); the
        # observation rides this job instead of a second count() pass
        df.write.format("noop").mode("overwrite").save()
        try:
            n = obs.get["rows"]
        except Exception:  # noqa: BLE001 — zero-task batch: no observation row
            n = 0
        rec = {"service": self.service, "epoch": epoch_id, "rows": n}
        self.epochs.append(rec)
        return rec

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        return lambda df, epoch_id: self.write(df, epoch_id)


def default_sink_factory(base_dir: str) -> Callable[[str, object], object]:
    """Map DSL sink ops to sink implementations (reference sink registry:
    ``execute/sinkNode.go`` switch + ``integrations/sinks/*``), wiring
    the DSL's sink args through: strftime ``filename_prefix`` /
    ``filename_format`` are translated for the writer, ``timestamp_key``
    picks the event-time column, ``batch_max_bytes`` switches on
    byte-capped file splitting. (``batch_max_time`` is a flush-interval
    bound — it clamps the query trigger, see
    ``streaming.engine.derive_trigger_seconds``.)"""
    from vaero_spark.functions.timefmt import strftime_to_java

    def factory(name: str, node=None) -> object:
        op = getattr(node, "op", None) or name.split("#")[0]
        args = dict(getattr(node, "args", None) or {})
        if op in ("s3", "parquet", "iceberg", "file"):
            return ExactlyOnceParquetSink(
                os.path.join(base_dir, name),
                prefix_format=strftime_to_java(args.get("filename_prefix", "%Y/%m/%d")),
                ts_col=args.get("timestamp_key", "ts"),
                filename_format=args.get("filename_format", "%s.log"),
                batch_max_bytes=args.get("batch_max_bytes"),
            )
        if op == "s3_lines":
            # line-oriented object-store PUT (sink_s3.go:30-63 shape)
            # behind the ListingObjectStore interface; heavy columnar
            # egress should keep using the parquet sink above
            from vaero_spark.functions.timefmt import strftime_to_java as s2j
            from vaero_spark.sources.object_store import (
                LocalDirObjectStore,
                ObjectLineSink,
            )

            store = args.get("store") or LocalDirObjectStore(
                args.get("bucket_dir") or os.path.join(base_dir, name)
            )
            return ObjectLineSink(
                store=store,
                prefix_format=s2j(args.get("filename_prefix", "%Y/%m/%d")),
                ts_col=args.get("timestamp_key", "ts"),
            )
        if op in ("datadog", "elastic", "splunk", "http"):
            return HttpStubSink(op)
        if op == "memory":
            return MemorySink()
        return StdoutSink()

    return factory
