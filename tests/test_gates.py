"""Every streaming gate of ``__spark_entry__.queries()`` drained end to end
at sf0.001 and compared with its DuckDB twin the way
``tools/check_oracle.py`` compares them: row count, column names and the
order-insensitive value hash. After each drain no streaming query may be
left running and the session's shuffle width must be back where it was
(the state-partition pin restores it)."""

from __future__ import annotations

import json
import shutil

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from tools.check_oracle import TABLES, value_hash
from vaero_spark.sinks.writers import MemorySink
from vaero_spark.sources.transcripts import TRANSCRIPTS_SCHEMA
from vaero_spark.testing.fixtures import write_transcripts_parquet

STREAM_GATES = [name for name in E.queries() if name.startswith("stream_")]
PROVIDER = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
HDFS = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def test_every_stream_gate_is_covered():
    assert len(STREAM_GATES) == 22
    assert set(STREAM_GATES) <= set(E.oracle_sql())


@pytest.mark.parametrize("name", STREAM_GATES)
def test_stream_gate_matches_oracle(spark, sf_dir, duck, name):
    width = spark.conf.get("spark.sql.shuffle.partitions")
    got = E.queries()[name](spark, sf_dir).toPandas()
    assert spark.streams.active == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == width
    want = duck.sql(E.oracle_sql()[name]).df()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want)
    assert value_hash(got) == value_hash(want)


def test_pinned_input_size_reads_uris(spark, tmp_path):
    """The pin sizes its input through Hadoop FS, so a ``file://`` URI
    counts the same bytes as the bare path (``os.walk`` read 0 bytes for
    any URI)."""
    d = str(tmp_path / "in")
    spark.range(100).write.parquet(d)
    n_bytes = E._pinned_state_partitions(spark, d).bytes
    assert n_bytes > 0
    assert E._pinned_state_partitions(spark, f"file://{d}").bytes == n_bytes
    slots = spark.sparkContext.defaultParallelism
    assert E._pinned_state_partitions(spark, d).n == min(8, slots)


class _StubSession:
    """The parts of a session the pin touches: four executor slots and a
    conf holding a session width (7) that no pin here takes."""

    class sparkContext:  # noqa: N801
        defaultParallelism = 4

    def __init__(self):
        self.settings = {"spark.sql.shuffle.partitions": "7"}
        self.conf = self

    def get(self, key):
        return self.settings[key]

    def set(self, key, value):
        self.settings[key] = value


@pytest.mark.parametrize(
    "n_bytes, want", [(3 << 30, 12), (100_000_000, min(8, 4))], ids=["3GiB", "100MB"]
)
def test_pin_widens_with_remote_input(monkeypatch, n_bytes, want):
    """Above its floor the pin takes one partition per 256 MB of input,
    sized through Hadoop FS for a remote URI as for a local path, and
    gives the session its own width back on exit. JVM-free: the content
    summary is stubbed."""
    import vaero_spark.sinks.fs as sink_fs

    paths = []

    class _Summary:
        def getLength(self):  # noqa: N802
            return n_bytes

    class _FS:
        def getContentSummary(self, jpath):  # noqa: N802
            paths.append(jpath)
            return _Summary()

    monkeypatch.setattr(sink_fs, "_jvm_fs", lambda spark, path: (_FS(), path, None))
    spark = _StubSession()
    with E._pinned_state_partitions(spark, "s3a://bucket/in") as pin:
        assert (pin.bytes, pin.n) == (n_bytes, want)
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(want)
    assert paths == ["s3a://bucket/in"]
    assert spark.conf.get("spark.sql.shuffle.partitions") == "7"


def test_state_width_survives_a_narrower_resume(spark, tmp_path):
    """A stateful query keeps the state-store count and provider it
    started with: a checkpoint begun at width 8 on the HDFS-backed store
    and resumed in a session at width 4 on ``get_spark``'s RocksDB store
    still runs 8 HDFS-backed stores (Spark restores both confs from the
    offset log), and its drained result equals an uninterrupted run's."""
    staged = tmp_path / "staged"
    pdf = write_transcripts_parquet(str(staged), n_files=6, n_turns=1200, n_convs=30, seed=5)
    files = sorted(staged.iterdir())
    src = tmp_path / "src"
    src.mkdir()

    def drain(inp, ckpt, sink, width, provider=ROCKSDB):
        """(state-store count, engine) of each stateful operator; the
        engine is told by its metrics: only HDFS reports map-cache hits."""
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        spark.conf.set(PROVIDER, provider)
        q = (
            spark.readStream.schema(TRANSCRIPTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(inp))
            .groupBy("conv_id")
            .agg(F.count("*").alias("n"), F.max("turn_idx").alias("last"))
            .writeStream.outputMode("update")
            .option("checkpointLocation", str(ckpt))
            .foreachBatch(sink.foreach_batch())
            .start()
        )
        try:
            q.processAllAvailable()
            return [(op["numShufflePartitions"],
                     "hdfs" if "loadedMapCacheHitCount" in op["customMetrics"] else "rocksdb")
                    for op in q.lastProgress["stateOperators"]]
        finally:
            q.stop()

    old = spark.conf.get("spark.sql.shuffle.partitions")
    assert spark.conf.get(PROVIDER) == ROCKSDB
    try:
        resumed = MemorySink()
        for f in files[:3]:
            shutil.copy(f, src)
        assert drain(src, tmp_path / "ckpt", resumed, 8, HDFS) == [(8, "hdfs")]
        for f in files[3:]:
            shutil.copy(f, src)
        assert drain(src, tmp_path / "ckpt", resumed, 4) == [(8, "hdfs")]
        assert len(resumed.batches) == 6
        whole = MemorySink()
        assert drain(staged, tmp_path / "ckpt_whole", whole, 4) == [(4, "rocksdb")]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.conf.set(PROVIDER, ROCKSDB)
    offsets = tmp_path / "ckpt" / "offsets"
    last = max((f for f in offsets.iterdir() if f.name.isdigit()), key=lambda f: int(f.name))
    assert json.loads(last.read_text().splitlines()[1])["conf"][PROVIDER] == HDFS
    got = sorted(tuple(r) for r in E._last_emission(resumed, "conv_id"))
    assert got == sorted(tuple(r) for r in E._last_emission(whole, "conv_id"))
    assert sum(r[1] for r in got) == len(pdf)
