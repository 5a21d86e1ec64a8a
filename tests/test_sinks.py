"""Sink registry + stub-sink parity (reference: integrations/sinks/*)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from vaero_spark.dsl import Vaero
from vaero_spark.sinks.writers import (
    ExactlyOnceParquetSink,
    HttpStubSink,
    MemorySink,
    StdoutSink,
    default_sink_factory,
)
from vaero_spark.sources.transcripts import load_transcripts
from vaero_spark.streaming.engine import run_streaming_plan

SF = "/root/testdata/sf0.001"


def test_default_sink_factory_mapping(tmp_path):
    f = default_sink_factory(str(tmp_path))

    class N:  # minimal OpNode stand-in
        def __init__(self, op):
            self.op = op

    assert isinstance(f("out", N("s3")), ExactlyOnceParquetSink)
    assert isinstance(f("out", N("datadog")), HttpStubSink)
    assert isinstance(f("out", N("memory")), MemorySink)
    assert isinstance(f("out", N("stdout")), StdoutSink)


def test_dsl_pipeline_to_stub_sink(spark, tmp_path):
    """Full DSL → streaming plan → datadog-style stub sink: rows that
    pass the route filter must be delivered per epoch (reference:
    route_pipe.py fan-out to a stub sink)."""
    inp = str(tmp_path / "in")
    load_transcripts(spark, SF).repartition(2).write.parquet(inp)

    v = Vaero().source("transcripts", path=inp, max_files_per_trigger=1)
    v.filter_regexp("role", "^user$").sink("datadog", name="dd")
    plan = v.plan()

    sinks = {}

    def factory(name, node):
        sinks[name] = default_sink_factory(str(tmp_path))(name, node)
        return sinks[name]

    pipe = run_streaming_plan(
        spark, plan, str(tmp_path / "ckpt"), sink_factory=factory
    )
    pipe.process_all()
    pipe.stop()

    dd = sinks["dd"]
    assert isinstance(dd, HttpStubSink)
    expected = (
        load_transcripts(spark, SF).filter(F.col("role") == "user").count()
    )
    assert sum(e["rows"] for e in dd.epochs) == expected
    assert len(dd.epochs) == 2  # one epoch per input file


def test_sink_via_hadoop_filesystem_uri(spark, transcripts_df, tmp_path):
    """The exactly-once sink must run against a scheme-qualified root
    (s3a:// / hdfs:// in production): with a `file:` URI every marker
    and manifest operation goes through the JVM Hadoop FileSystem API —
    the exact remote code path minus the network. Epoch re-delivery
    must still dedup and read_committed must see only committed rows."""
    root = f"file://{tmp_path}/sink"
    sink = ExactlyOnceParquetSink(root)

    def rows(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "concat('c', cast(id as string)) AS conv_id",
            "cast(id AS int) AS turn_idx",
            "'user' AS role",
            "'x' AS text",
            "'' AS tool",
            "timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts",
        )

    m1 = sink.write(rows(0, 50), epoch_id=0)
    assert m1["rows"] == 50
    assert m1["partitions"], "lineage missing from hadoop-path manifest"
    # re-delivery of the same epoch: deduped via the remote marker
    m2 = sink.write(rows(0, 3), epoch_id=0)
    assert m2["rows"] == 50  # the ORIGINAL manifest, not a rewrite
    assert sink.read_committed(spark).count() == 50
    # a second epoch lands beside the first
    sink.write(rows(50, 60), epoch_id=1)
    assert sink.read_committed(spark).count() == 60


def test_stub_sink_never_counts(spark, transcripts_df):
    """HttpStubSink must run ONE delivery job per epoch with the row
    count observed on it — a separate count() would re-run the branch's
    whole transform chain a second time per epoch."""
    sink = HttpStubSink("datadog")
    df = transcripts_df.limit(7)
    _DF = type(df)
    saved = {m: getattr(_DF, m) for m in ("count", "collect", "toPandas")}

    def banned(name):
        def _f(self, *a, **k):
            raise AssertionError(f"stub sink called .{name}()")

        return _f

    for m in saved:
        setattr(_DF, m, banned(m))
    try:
        rec = sink.write(df, epoch_id=0)
    finally:
        for m, fn in saved.items():
            setattr(_DF, m, fn)
    assert rec["rows"] == 7
    assert sink.epochs == [{"service": "datadog", "epoch": 0, "rows": 7}]
