"""Per-epoch lineage + metrics (north-star requirement).

A ``StreamingQueryListener`` that appends one JSON line per completed
micro-batch to ``<dir>/metrics.jsonl``: epoch, input rows, processed
rows/sec, watermark, state-store rows, per-source start/end offsets
(the lineage: which input files/offsets produced which epoch — the
principled replacement for the reference's pickled cursor,
``/root/reference/vaero_cdk/api_cursor.py:20-31``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql.streaming import StreamingQueryListener


class MetricsListener(StreamingQueryListener):
    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        os.makedirs(out_dir, exist_ok=True)
        self.path = os.path.join(out_dir, "metrics.jsonl")

    def onQueryStarted(self, event) -> None:
        self._append({"event": "started", "id": str(event.id), "name": event.name})

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "event": "progress",
            "id": str(p.id),
            "epoch": p.batchId,
            "timestamp": p.timestamp,
            "numInputRows": p.numInputRows,
            "processedRowsPerSecond": p.processedRowsPerSecond,
            "watermark": p.eventTime.get("watermark") if p.eventTime else None,
            "stateRows": [s.numRowsTotal for s in (p.stateOperators or [])],
            "sources": [
                {
                    "description": s.description,
                    "startOffset": s.startOffset,
                    "endOffset": s.endOffset,
                    "numInputRows": s.numInputRows,
                }
                for s in (p.sources or [])
            ],
        }
        self._append(rec)

    def onQueryTerminated(self, event) -> None:
        self._append({"event": "terminated", "id": str(event.id)})

    def onQueryIdle(self, event) -> None:
        pass

    def _append(self, rec: dict) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps(rec, default=str) + "\n")


def attach_metrics_listener(spark, out_dir: str) -> MetricsListener:
    """Register a MetricsListener on the session; metrics land in
    ``<out_dir>/metrics.jsonl``."""
    listener = MetricsListener(out_dir)
    spark.streams.addListener(listener)
    return listener
