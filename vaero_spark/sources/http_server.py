"""HTTP push source — the reference's only push ingestion.

Reference shape (``/root/reference/integrations/sources/
source_http_server.go:30-96``): an HTTP server on ``port``/``endpoint``;
each request body is broken into events with the ``jsonarray`` breaker
(``source_python.go:71-103``: strip the outer ``[ ]``, split on
top-level commas tracked by brace depth), every event is enriched with
``timestamp`` (ingest time, RFC3339) and ``remoteaddr``
(``:76-88``), and the batch is pushed straight into the pipeline.

Sandbox shape (Spark has no production push socket source): the same
HTTP server writes each request's broken+enriched events to a **spool
directory** as an atomically-renamed JSON-lines file, and the pipeline
reads the spool with the file stream source — which is exactly what
makes it exactly-once (checkpointed file tracking), unlike the
reference's fire-and-forget channel push. The batch-replay path
(:func:`replay_json_array_batch`) runs the same break+enrich as a
DataFrame transform for oracle-checked parity.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vaero_spark.sources.spool import read_spool, write_atomic


def break_json_array(body: str) -> list[str]:
    """The reference's jsonarray breaker
    (``source_python.go:EventBreakJSONArray``): strip the outer
    brackets, split on commas at brace level 0 — hardened with JSON
    string-awareness. DOCUMENTED DIVERGENCE (an improvement): the
    reference counts braces inside string values too, so an event like
    ``{"msg": "}"}`` corrupts the split for the whole request; we skip
    brace/comma tracking inside strings (honoring backslash escapes),
    which yields the reference's exact splits on every body it handles
    correctly and the RIGHT splits on the bodies it mangles."""
    import re

    body = re.sub(r"(?s)^\s*\[", "", body)
    body = re.sub(r"(?s)\]\s*$", "", body)
    events: list[str] = []
    level = 0
    start = 0
    in_str = False
    escaped = False
    for idx, c in enumerate(body):
        if in_str:
            if escaped:
                escaped = False
            elif c == "\\":
                escaped = True
            elif c == '"':
                in_str = False
            continue
        if c == '"':
            in_str = True
        elif c == "{":
            level += 1
        elif c == "}":
            level -= 1
        elif c == "," and level == 0:
            events.append(body[start:idx])
            start = idx + 1
    if start < len(body):
        events.append(body[start:])
    return events


def rfc3339_now() -> str:
    """Ingest timestamp, RFC3339 (``time.Now().Format(time.RFC3339)``)."""
    return datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


@dataclass
class HttpPushSource:
    """HTTP server → spool directory → Spark file stream.

    ``clock`` is injectable so tests (and the oracle-checked batch
    replay) can pin the ingest timestamp.
    """

    port: int
    endpoint: str = "/"
    spool_dir: str = "/tmp/vaero_http_spool"
    clock: Callable[[], str] = field(default=rfc3339_now)
    _server: ThreadingHTTPServer | None = field(default=None, repr=False)
    _thread: threading.Thread | None = field(default=None, repr=False)
    n_requests: int = 0
    n_events: int = 0

    def start(self) -> "HttpPushSource":
        os.makedirs(self.spool_dir, exist_ok=True)
        src = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self) -> None:  # noqa: N802 (stdlib casing)
                if self.path != src.endpoint:
                    self.send_response(404)
                    self.end_headers()
                    return
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n).decode("utf-8", errors="replace")
                remote = f"{self.client_address[0]}:{self.client_address[1]}"
                src._ingest(body, remote)
                self.send_response(200)
                self.end_headers()

            def log_message(self, *a) -> None:  # quiet
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", self.port), Handler)
        if self.port == 0:
            self.port = self._server.server_address[1]
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def _ingest(self, body: str, remoteaddr: str) -> None:
        """Break + enrich + spool one request body. The spool file is
        written to a temp name and renamed, so the Spark file source
        never lists a partial file."""
        now = self.clock()
        lines = []
        for ev in break_json_array(body):
            try:
                obj = json.loads(ev)
                if not isinstance(obj, dict):
                    obj = {"raw": obj}
            except json.JSONDecodeError:
                obj = {"raw": ev}
            # automatic fields, like sjson.Set in the reference handler
            obj["timestamp"] = now
            obj["remoteaddr"] = remoteaddr
            lines.append(json.dumps(obj))
        if not lines:
            return
        write_atomic(
            os.path.join(self.spool_dir, f"req-{uuid.uuid4().hex}.jsonl"),
            "".join(ln + "\n" for ln in lines),
        )
        self.n_requests += 1
        self.n_events += len(lines)

    def stop(self) -> None:
        if self._server:
            self._server.shutdown()
            self._server.server_close()
            self._server = None

    def stream(self, spark: SparkSession, payload_schema: str) -> DataFrame:
        """The pipeline-facing stream: spool files as an exactly-once
        file source. ``payload_schema`` is the DDL of the event fields;
        the enrichment columns are appended automatically."""
        return read_spool(
            spark,
            self.spool_dir,
            f"{payload_schema}, timestamp string, remoteaddr string",
        )


# to_json's default timestamp formats truncate to milliseconds; the
# round trip (bodies → break → events) must preserve full microsecond
# event time, so both directions pin these formats (NTZ columns read
# the timestampNTZFormat option, zoned ones timestampFormat).
JSON_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
JSON_TSNTZ_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
JSON_TS_OPTIONS = {
    "timestampFormat": JSON_TS_FORMAT,
    "timestampNTZFormat": JSON_TSNTZ_FORMAT,
}


def replay_json_array_batch(
    bodies: DataFrame,
    payload_schema: str,
    ingest_ts: str,
    remoteaddr: str,
    body_col: str = "body",
) -> DataFrame:
    """Batch-replay of the push path over a DataFrame of request bodies:
    ``from_json(body, array<struct>)`` + ``explode`` IS the jsonarray
    breaker in Spark-land, followed by the same automatic-field
    enrichment (deterministic clock/addr so the DuckDB oracle can check
    it bit-for-bit)."""
    arr = F.from_json(
        F.col(body_col), f"array<struct<{payload_schema}>>", JSON_TS_OPTIONS
    )
    return (
        bodies.select(F.explode(arr).alias("ev"))
        .select("ev.*")
        .withColumn("timestamp", F.lit(ingest_ts))
        .withColumn("remoteaddr", F.lit(remoteaddr))
    )
