"""Object-store (S3-shape) source/sink behind a listing interface.

Reference semantics (mirrored, not ported):

- **source** (``/root/reference/integrations/sources/source_s3.go:25-85``):
  per poll, ``ListObjectsV2(bucket, prefix)`` → for each key,
  ``GetObject`` → split the body on ``"\\n"`` → append every line to the
  event list. The reference has NO listing memory: every poll re-reads
  and re-emits the whole prefix.
- **sink** (``/root/reference/integrations/sinks/sink_s3.go:30-63``):
  ``Flush(filename, prefix, eventList)`` joins the events with ``"\\n"``
  and ``PutObject``\\ s the blob at ``join(prefix, filename)``.

Spark mapping: the client is an explicit :class:`ListingObjectStore`
interface (list / get / put) so the real listing, change-detection, and
spool logic runs against ANY store; the sandbox has no object store or
credentials, so :class:`LocalDirObjectStore` implements the interface on
a local directory (the fake drives the exact same code the S3-backed
implementation would — swap one class when boto/s3a credentials exist).
Heavy columnar egress at scale should use ``ExactlyOnceParquetSink``
over ``s3a://`` (``sinks/fs.py``); this module is the reference-parity
*line-oriented* path.

Documented divergences (each an upgrade over the reference, flagged):

- The source keeps a persistent **seen-set** keyed by (key, size,
  etag) — the reference re-emits every object on every poll, which
  duplicates the entire prefix per cycle; a changed object (new
  size/etag) is re-ingested as a new version. Versioning is by CONTENT
  (the listing's ETag — S3 ListObjectsV2 returns it for free), not
  mtime: the sink's idempotent epoch re-delivery overwrites an object
  with byte-identical content, which bumps LastModified but not the
  ETag, so a paired source correctly skips it instead of duplicating
  every event downstream (mtime is the fallback only for stores whose
  listing carries no ETag).
- Go's ``strings.Split(body, "\\n")`` emits an empty string for a
  trailing newline; empty lines are dropped here (an empty string is
  not an event).
- The sink PUT runs **executor-side** per partition (the DataFrame is
  repartitioned by prefix first — tasks × prefixes tiny-object storms
  are the measured failure mode, see CLAUDE.md), with deterministic
  keys ``(epoch, partition)`` AND lines sorted within each object, so
  epoch re-delivery overwrites the same object with BYTE-identical
  content even when a shuffle re-run permutes partition-internal row
  order: a single-object PUT is atomic-visible, making the re-delivery
  idempotent (same contract as the parquet sink's commit markers) and
  ETag-stable (so the paired source never re-ingests it).

Exactly-once ingestion: one spool file per object **version**, named
deterministically from (key, size, version) — the version is the ETag,
or mtime only when the listing has no ETag (:attr:`ObjectInfo.version`).
A crash between spool-write and seen-set store is recovered by the
file's existence — never a re-fetch (Spark's file source dedups by
path; re-fetching a key that grew upstream would silently lose the
delta — same invariant as ``paginated_api.poll``'s crash-replay guard).
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field
from typing import Callable, Iterable, Protocol

from pyspark.sql import DataFrame

from vaero_spark.sources.spool import PollUnit, SpoolPoller, read_spool, write_atomic


@dataclass(frozen=True)
class ObjectInfo:
    """One listing entry (the ``Contents`` element of ListObjectsV2).

    ``etag`` is the content version from the listing (S3 returns it in
    ListObjectsV2 at no extra cost; any opaque content-derived string
    works). Stores whose listing has no content version leave it empty
    and the source falls back to mtime-based versioning."""

    key: str
    size: int
    mtime_ns: int
    etag: str = ""

    @property
    def version(self) -> list:
        """The change-detection version: content-based when available
        (module docstring: mtime false-positives on idempotent
        re-delivery), else (size, mtime)."""
        return [self.size, self.etag] if self.etag else [self.size, self.mtime_ns]


class ListingObjectStore(Protocol):
    """The client surface the reference holds an AWS SDK client for:
    list a prefix, GET a key, PUT a blob. Implementations must be
    picklable (the sink PUTs from executors)."""

    def list_objects(self, prefix: str) -> list[ObjectInfo]: ...

    def get_object(self, key: str) -> bytes: ...

    def put_object(self, key: str, data: bytes) -> None: ...


@dataclass
class LocalDirObjectStore:
    """Filesystem-backed :class:`ListingObjectStore`: keys are paths
    under ``root``; listing a prefix walks it recursively (S3 prefixes
    are flat-namespace string prefixes — ``a/b`` matches ``a/b/c/d``);
    PUT is atomic via tmp + rename (S3 PUT is atomic-visible)."""

    root: str

    def _path(self, key: str) -> str:
        p = os.path.normpath(os.path.join(self.root, key))
        if not p.startswith(os.path.normpath(self.root) + os.sep):
            raise ValueError(f"key escapes store root: {key!r}")
        return p

    def list_objects(self, prefix: str) -> list[ObjectInfo]:
        out: list[ObjectInfo] = []
        root = os.path.normpath(self.root)
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if f.endswith(".tmp"):
                    continue  # in-flight PUT: not yet visible
                full = os.path.join(dirpath, f)
                key = os.path.relpath(full, root)
                if not key.startswith(prefix):
                    continue
                st = os.stat(full)
                # content ETag, like S3's listing (md5 of the bytes —
                # the fake re-hashes per list, which is O(data) but
                # test-fake-only; a real S3 client reads the ETag
                # straight out of the ListObjectsV2 response)
                with open(full, "rb") as fh:
                    etag = hashlib.md5(fh.read()).hexdigest()
                out.append(ObjectInfo(key, st.st_size, st.st_mtime_ns, etag))
        return sorted(out, key=lambda o: o.key)  # S3 lists in key order

    def get_object(self, key: str) -> bytes:
        with open(self._path(key), "rb") as f:
            return f.read()

    def put_object(self, key: str, data: bytes) -> None:
        path = self._path(key)
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)


# ---------------------------------------------------------------------------
# source
# ---------------------------------------------------------------------------


@dataclass
class ObjectLineSource(PollUnit, SpoolPoller):
    """Driver-side ingestion shim (the role of the reference's pull
    goroutine): poll the store, fetch new/changed objects, split on
    newline, spool atomically; the pipeline reads the spool with the
    checkpointed file stream (``stream()``). ``start_polling`` runs the
    shared guarded loop (``spool.SpoolPoller``): one bad object (store
    hiccup, undecodable blob) is logged and retried next interval."""

    store: ListingObjectStore
    prefix: str
    spool_dir: str
    seen_path: str  # JSON registry of ingested object versions

    def _spool_name(self, obj: ObjectInfo) -> str:
        """One spool file per (key, VERSION): the version token is
        digested so arbitrary ETag formats (quoted, multipart `-N`
        suffixed) stay filesystem-safe."""
        digest = hashlib.sha1(obj.key.encode()).hexdigest()[:16]
        vtok = hashlib.sha1(repr(obj.version).encode()).hexdigest()[:12]
        return f"obj-{digest}-{obj.size}-{vtok}.jsonl"

    def _load_seen(self) -> dict:
        try:
            with open(self.seen_path) as f:
                return json.load(f)
        except OSError:
            return {}

    def poll(self) -> int:
        """One cycle: list → diff against the seen-set → GET + spool new
        versions. Returns the number of newly-spooled objects."""
        seen = self._load_seen()
        os.makedirs(self.spool_dir, exist_ok=True)
        new = 0
        for obj in self.store.list_objects(self.prefix):
            version = obj.version  # content-based when the listing has an ETag
            if seen.get(obj.key) == version:
                continue
            spool = os.path.join(self.spool_dir, self._spool_name(obj))
            if not os.path.exists(spool):
                # reference split semantics minus empty lines (module doc)
                lines = [
                    ln for ln in self.store.get_object(obj.key).decode().split("\n")
                    if ln.strip()
                ]
                write_atomic(spool, "".join(ln + "\n" for ln in lines))
            # spool existed → crash between spool and seen-store: recover
            # by marking seen, NEVER re-fetching (module docstring)
            seen[obj.key] = version
            new += 1
        if new:
            write_atomic(self.seen_path, json.dumps(seen))
        return new

    def stream(self, spark, payload_schema: str) -> DataFrame:
        """Checkpointed exactly-once file stream over the spool."""
        from vaero_spark.sources.http_server import JSON_TS_OPTIONS

        self.check_health()
        return read_spool(spark, self.spool_dir, payload_schema, **JSON_TS_OPTIONS)


# ---------------------------------------------------------------------------
# sink
# ---------------------------------------------------------------------------


@dataclass
class ObjectLineSink:
    """Line-oriented object-store sink (``sink_s3.go`` Flush shape).

    :meth:`flush` is the exact reference signature — join events with
    newline, PUT at ``prefix/filename``. :meth:`write` is the Spark
    adapter: rows → JSON lines (micro-pinned timestamp options), grouped
    by a strftime prefix of the event time, repartitioned BY PREFIX
    (CLAUDE.md: tasks × prefixes tiny-file storms), then PUT from the
    executors with deterministic ``(epoch, partition)`` keys AND sorted
    lines per object — partition-internal row order is not stable across
    shuffle re-runs, so sorting is what makes epoch re-delivery
    BYTE-identical (idempotent overwrite, stable ETag; the paired
    source's content versioning depends on it)."""

    store: ListingObjectStore
    prefix_format: str = "yyyy/MM/dd"  # Java pattern (strftime_to_java)
    ts_col: str = "ts"
    epochs: list = field(default_factory=list)

    def flush(self, filename: str, prefix: str, event_list: list[str]) -> None:
        """Reference-parity single-object flush (sink_s3.go:30-63)."""
        self.store.put_object(
            os.path.join(prefix, filename), "\n".join(event_list).encode()
        )

    def write(self, batch_df: DataFrame, epoch_id: int) -> int:
        from pyspark.sql import functions as F

        from vaero_spark.sources.http_server import JSON_TS_OPTIONS

        store = self.store  # capture the picklable client, not self
        cols = [c for c in batch_df.columns]
        lines = batch_df.select(
            F.date_format(F.col(self.ts_col), self.prefix_format).alias("_prefix"),
            F.to_json(F.struct(*cols), JSON_TS_OPTIONS).alias("_line"),
        ).repartition("_prefix")

        def put_partition(it: Iterable) -> Iterable:
            import collections

            by_prefix = collections.defaultdict(list)
            pid = None
            for row in it:
                by_prefix[row["_prefix"]].append(row["_line"])
            if by_prefix:
                from pyspark import TaskContext

                pid = TaskContext.get().partitionId()
            for prefix, ev in by_prefix.items():
                # sorted: byte-identical bytes on re-delivery (class doc)
                store.put_object(
                    f"{prefix}/part-{epoch_id:010d}-{pid:05d}.log",
                    "\n".join(sorted(ev)).encode(),
                )
            yield len(by_prefix)

        n_objects = sum(lines.rdd.mapPartitions(put_partition).collect())
        self.epochs.append({"epoch": epoch_id, "objects": n_objects})
        return n_objects

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        return lambda df, epoch_id: self.write(df, epoch_id)
