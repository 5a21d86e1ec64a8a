"""Object-store (S3-shape) source/sink through the ListingObjectStore
interface (reference ``source_s3.go:25-85`` list→GET→newline-split,
``sink_s3.go:30-63`` join→PutObject), driven end-to-end with the
filesystem-backed store fake — the real listing / change-detection /
spool / PUT logic minus only the AWS client."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from vaero_spark.sources.object_store import (
    LocalDirObjectStore,
    ObjectInfo,
    ObjectLineSink,
    ObjectLineSource,
)

SCHEMA = "event_id INT, msg STRING, ts TIMESTAMP_NTZ"


def _put_lines(store, key, rows):
    store.put_object(
        key, "\n".join(json.dumps(r) for r in rows).encode() + b"\n"
    )


def _mk_rows(lo, hi):
    return [
        {"event_id": i, "msg": f"m{i}", "ts": f"2024-03-01T00:00:{i % 60:02d}.000000"}
        for i in range(lo, hi)
    ]


def test_local_store_list_get_put_roundtrip(tmp_path):
    store = LocalDirObjectStore(str(tmp_path / "bucket"))
    store.put_object("logs/2024/a.log", b"one\ntwo")
    store.put_object("logs/2024/b.log", b"three")
    store.put_object("other/c.log", b"x")
    keys = [o.key for o in store.list_objects("logs/")]
    assert keys == ["logs/2024/a.log", "logs/2024/b.log"]  # prefix + key order
    assert store.get_object("logs/2024/a.log") == b"one\ntwo"
    # overwrite is the PUT semantic
    store.put_object("logs/2024/a.log", b"new")
    assert store.get_object("logs/2024/a.log") == b"new"
    # path traversal is rejected
    with pytest.raises(ValueError):
        store.get_object("../../etc/passwd")


class _CountingStore(LocalDirObjectStore):
    """Wraps GET with a call counter to prove the no-refetch guarantees."""

    def __init__(self, root):
        super().__init__(root)
        self.gets = []

    def get_object(self, key):
        self.gets.append(key)
        return super().get_object(key)


def test_source_polls_only_new_and_changed_versions(tmp_path):
    store = _CountingStore(str(tmp_path / "bucket"))
    src = ObjectLineSource(
        store=store,
        prefix="logs/",
        spool_dir=str(tmp_path / "spool"),
        seen_path=str(tmp_path / "seen.json"),
    )
    _put_lines(store, "logs/a.jsonl", _mk_rows(0, 3))
    _put_lines(store, "logs/b.jsonl", _mk_rows(3, 5))
    assert src.poll() == 2
    assert sorted(store.gets) == ["logs/a.jsonl", "logs/b.jsonl"]
    # steady state: same listing → zero fetches (the reference re-reads
    # the whole prefix every poll; the seen-set is the documented upgrade)
    assert src.poll() == 0
    assert len(store.gets) == 2
    # a changed object (new size/mtime) is re-ingested as a NEW version
    _put_lines(store, "logs/a.jsonl", _mk_rows(0, 6))
    assert src.poll() == 1
    assert store.gets[-1] == "logs/a.jsonl"
    spools = sorted(os.listdir(tmp_path / "spool"))
    assert len(spools) == 3  # a.v1, b.v1, a.v2 — distinct spool files


def test_redelivered_identical_object_is_not_reingested(tmp_path):
    """Content-based versioning (ADVICE r4): the sink's idempotent epoch
    re-delivery rewrites an object with byte-identical content — that
    bumps mtime (os.replace / S3 LastModified) but NOT the content ETag,
    so the paired source must skip it. Under the old (size, mtime)
    versioning every re-delivery duplicated the whole object's events
    downstream."""
    import time as _time

    store = _CountingStore(str(tmp_path / "bucket"))
    src = ObjectLineSource(
        store=store,
        prefix="",
        spool_dir=str(tmp_path / "spool"),
        seen_path=str(tmp_path / "seen.json"),
    )
    _put_lines(store, "a.jsonl", _mk_rows(0, 4))
    assert src.poll() == 1
    # re-deliver byte-identical content; ensure the mtime really moves
    data = store.get_object("a.jsonl")
    _time.sleep(0.01)
    store.put_object("a.jsonl", data)
    old_info = store.list_objects("")[0]
    assert src.poll() == 0  # same content version → skipped
    assert len(os.listdir(tmp_path / "spool")) == 1
    # sanity: the listing did observe a NEW mtime but the SAME etag
    new_info = store.list_objects("")[0]
    assert new_info.mtime_ns == old_info.mtime_ns and new_info.etag == old_info.etag


def test_object_version_prefers_etag_falls_back_to_mtime():
    """Stores whose listing carries no content version still get
    change detection (the documented mtime fallback)."""
    with_etag = ObjectInfo("k", 10, 111, etag="abc")
    without = ObjectInfo("k", 10, 111)
    assert with_etag.version == [10, "abc"]
    assert without.version == [10, 111]
    # an mtime-only bump is invisible under etag versioning...
    assert ObjectInfo("k", 10, 222, etag="abc").version == with_etag.version
    # ...but IS a new version under the fallback
    assert ObjectInfo("k", 10, 222).version != without.version


def test_sink_rewrite_is_byte_identical(spark, tmp_path):
    """Sorted lines per object: a shuffle re-run may permute partition-
    internal row order, so without sorting a re-delivered object could
    carry the same rows in different byte order — a phantom new version
    under content ETags."""
    store = LocalDirObjectStore(str(tmp_path / "bucket"))
    sink = ObjectLineSink(store=store, prefix_format="yyyy/MM/dd", ts_col="ts")
    df = spark.createDataFrame(
        [(i, f"m{i}", "2024-03-01T10:00:00") for i in range(20)],
        ["event_id", "msg", "raw_ts"],
    ).withColumn("ts", F.to_timestamp("raw_ts")).drop("raw_ts")
    sink.write(df, epoch_id=3)
    before = {o.key: store.get_object(o.key) for o in store.list_objects("")}
    # re-deliver from a differently-ordered frame (simulates re-run order)
    sink.write(df.orderBy(F.col("event_id").desc()).coalesce(1).repartition(4), 3)
    after = {o.key: store.get_object(o.key) for o in store.list_objects("")}
    assert after == before  # byte-identical, not just row-set-identical


def test_source_crash_between_spool_and_seen_never_refetches(tmp_path):
    store = _CountingStore(str(tmp_path / "bucket"))
    src = ObjectLineSource(
        store=store,
        prefix="",
        spool_dir=str(tmp_path / "spool"),
        seen_path=str(tmp_path / "seen.json"),
    )
    _put_lines(store, "a.jsonl", _mk_rows(0, 4))
    assert src.poll() == 1
    # simulate the crash window: spool file survived, seen-set write lost
    os.remove(tmp_path / "seen.json")
    n_gets = len(store.gets)
    assert src.poll() == 1  # recovered: marked seen from the spool file
    assert len(store.gets) == n_gets  # NO re-fetch (file-source path dedup)
    assert len(os.listdir(tmp_path / "spool")) == 1


def test_source_crash_before_spool_rename_delivers_once(spark, tmp_path, monkeypatch):
    """A crash between the spool write and its rename leaves the temp file
    in the spool directory. The file stream must not read it: the retried
    poll writes and renames the same lines, and those are the ones read."""
    from vaero_spark.sinks.writers import MemorySink

    store = LocalDirObjectStore(str(tmp_path / "bucket"))
    _put_lines(store, "a.jsonl", _mk_rows(0, 6))
    src = ObjectLineSource(
        store=store,
        prefix="",
        spool_dir=str(tmp_path / "spool"),
        seen_path=str(tmp_path / "seen.json"),
    )
    real_replace = os.replace
    crashes = []

    def replace_crashing_once(a, b):
        if not crashes:
            crashes.append(a)
            raise OSError("crash before rename")
        real_replace(a, b)

    monkeypatch.setattr(os, "replace", replace_crashing_once)
    with pytest.raises(OSError, match="crash before rename"):
        src.poll()
    sink = MemorySink()
    q = (
        src.stream(spark, SCHEMA)
        .writeStream.option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    try:
        q.processAllAvailable()
        assert src.poll() == 1
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(r.event_id for r in sink.rows()) == list(range(6))


def test_source_stream_end_to_end(spark, tmp_path):
    store = LocalDirObjectStore(str(tmp_path / "bucket"))
    _put_lines(store, "logs/a.jsonl", _mk_rows(0, 10))
    _put_lines(store, "logs/b.jsonl", _mk_rows(10, 25))
    src = ObjectLineSource(
        store=store,
        prefix="logs/",
        spool_dir=str(tmp_path / "spool"),
        seen_path=str(tmp_path / "seen.json"),
    )
    src.poll()
    from vaero_spark.sinks.writers import MemorySink

    sink = MemorySink()
    q = (
        src.stream(spark, SCHEMA)
        .writeStream.option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    q.processAllAvailable()
    # late-arriving object lands in the running stream exactly once
    _put_lines(store, "logs/c.jsonl", _mk_rows(25, 30))
    src.poll()
    q.processAllAvailable()
    q.stop()
    ids = sorted(r.event_id for r in sink.rows())
    assert ids == list(range(30))


def test_sink_flush_reference_parity(tmp_path):
    store = LocalDirObjectStore(str(tmp_path / "bucket"))
    sink = ObjectLineSink(store=store)
    sink.flush("f.log", "2024/03/01", ["e1", "e2", "e3"])
    assert store.get_object("2024/03/01/f.log") == b"e1\ne2\ne3"


def test_sink_write_groups_by_prefix_and_redelivery_is_idempotent(spark, tmp_path):
    store = LocalDirObjectStore(str(tmp_path / "bucket"))
    sink = ObjectLineSink(store=store, prefix_format="yyyy/MM/dd", ts_col="ts")
    df = spark.createDataFrame(
        [(1, "a", "2024-03-01T10:00:00"), (2, "b", "2024-03-01T11:00:00"),
         (3, "c", "2024-03-02T09:00:00")],
        ["event_id", "msg", "raw_ts"],
    ).withColumn("ts", F.to_timestamp("raw_ts")).drop("raw_ts")
    sink.write(df, epoch_id=7)
    objs = store.list_objects("")
    by_prefix = {}
    for o in objs:
        by_prefix.setdefault(os.path.dirname(o.key), []).append(o.key)
    assert set(by_prefix) == {"2024/03/01", "2024/03/02"}
    day1 = store.get_object(by_prefix["2024/03/01"][0]).decode().splitlines()
    assert sorted(json.loads(l)["event_id"] for l in day1) == [1, 2]
    # epoch re-delivery (restart replays the uncommitted epoch):
    # deterministic keys → same objects overwritten, no duplicates
    before = {o.key: store.get_object(o.key) for o in objs}
    sink.write(df, epoch_id=7)
    after = {o.key: store.get_object(o.key) for o in store.list_objects("")}
    assert set(after) == set(before)
    for k in before:
        assert sorted(after[k].splitlines()) == sorted(before[k].splitlines())


def test_engine_wiring_s3_source_and_line_sink(spark, tmp_path):
    """DSL plan with op='s3' source through the streaming engine."""
    from vaero_spark.plans.plan import OpNode
    from vaero_spark.streaming.engine import _resolve_stream_source

    store = LocalDirObjectStore(str(tmp_path / "bucket"))
    _put_lines(store, "in/a.jsonl", _mk_rows(0, 8))
    node = OpNode(
        type="source",
        op="s3",
        args={
            "bucket_dir": str(tmp_path / "bucket"),
            "prefix": "in/",
            "spool_dir": str(tmp_path / "spool"),
            "seen_path": str(tmp_path / "seen.json"),
            "schema": SCHEMA,
            "interval": 0.05,
        },
    )
    df = _resolve_stream_source(spark, node)
    try:
        from vaero_spark.sinks.writers import default_sink_factory

        out_sink = default_sink_factory(str(tmp_path / "sinks"))(
            "out", OpNode(type="sink", op="s3_lines", args={
                "bucket_dir": str(tmp_path / "out_bucket"),
                "filename_prefix": "%Y/%m",
            })
        )
        q = (
            df.writeStream.option("checkpointLocation", str(tmp_path / "ckpt"))
            .foreachBatch(out_sink.foreach_batch())
            .start()
        )
        import time as _t
        deadline = _t.time() + 20
        while _t.time() < deadline:
            q.processAllAvailable()
            if sum(e["objects"] for e in out_sink.epochs) and not os.path.exists(
                str(tmp_path / "spool") + "/.tmp"
            ):
                total = []
                out_store = out_sink.store
                for o in out_store.list_objects(""):
                    total += out_store.get_object(o.key).decode().splitlines()
                if len(total) == 8:
                    break
            _t.sleep(0.05)
        q.stop()
        out_store = out_sink.store
        got = []
        for o in out_store.list_objects(""):
            got += [json.loads(l)["event_id"] for l in
                    out_store.get_object(o.key).decode().splitlines()]
        assert sorted(got) == list(range(8))
        assert all(o.key.startswith("2024/03/") for o in out_store.list_objects(""))
    finally:
        node.args["_server"].stop()
