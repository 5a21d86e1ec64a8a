"""The spool contract shared by every ingestion source.

Spark has no production push socket or REST source, so each ingestion
source is a driver-side shim that writes JSON-lines files into a spool
directory, and the pipeline reads that directory with the checkpointed
file stream source — exactly-once by file path. The reference feeds
every source into one source node driven by one pull loop
(``execute/execute.go:35-47, 99-110``); here the sources share:

- :func:`write_atomic` — every spool file, cursor and seen-set is
  written to a dot-prefixed temp file in the same directory, then
  ``os.replace``\\ d. Spark's file stream skips names starting with
  ``.`` or ``_``, so neither a listing that races the write nor a crash
  before the rename ever shows the stream a temp file (whose lines the
  retried poll would spool — and the stream read — a second time).
- :func:`read_spool` — the one spool reader.
- :class:`SpoolPoller` — the one guarded daemon poll loop.
"""

from __future__ import annotations

import logging
import os
import threading
import time

log = logging.getLogger(__name__)


class TransientApiError(RuntimeError):
    """Retryable failure (429 / connection reset analog)."""


class PermanentApiError(RuntimeError):
    """Non-retryable failure (non-429 4xx analog) — give up."""


def write_atomic(path: str, text: str) -> None:
    """Write ``text`` to ``path`` through ``.<name>.tmp`` + ``os.replace``
    (module docstring: the dot keeps the temp file out of the stream)."""
    folder, name = os.path.split(path)
    os.makedirs(folder or ".", exist_ok=True)
    tmp = os.path.join(folder, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def read_spool(spark, spool_dir: str, schema_ddl: str, **options):
    """The exactly-once file stream over a spool directory."""
    from pyspark.sql import types as T

    return (
        spark.readStream.schema(T.StructType.fromDDL(schema_ddl))
        .options(**options)
        .option("maxFilesPerTrigger", "16")
        .json(spool_dir)
    )


class PollUnit:
    """One polled unit (a source with ``poll()``) and the health the
    poll loop records on it."""

    poll_error: BaseException | None = None  # the PermanentApiError that halted the loop
    last_transient_error: BaseException | None = None
    consecutive_failures: int = 0


class SpoolPoller:
    """The daemon poll loop of every pull source.

    Each tick polls every unit of :meth:`poll_units` in order (a single
    source is its own one unit), then waits ``interval − elapsed``
    (``execute/execute.go:99-110``). The poll is guarded: a
    :class:`PermanentApiError` (bad credentials, revoked scope) is
    recorded on its unit, halts the loop and is raised by
    :meth:`check_health`; any other failure (transient exhaustion, IO, a
    secret-refresh hiccup) is counted on its unit, logged and retried
    next tick — the unit's cursor did not advance, so nothing is lost."""

    def poll_units(self) -> tuple:
        return (self,)

    def start_polling(self, interval: float):
        self._stop_evt = threading.Event()
        self._thread = threading.Thread(
            target=self._poll_loop, args=(interval,), daemon=True
        )
        self._thread.start()
        return self

    def _poll_loop(self, interval: float) -> None:
        while not self._stop_evt.is_set():
            started = time.time()
            for unit in self.poll_units():
                if self._stop_evt.is_set() or not _poll_guarded(unit):
                    return
            remaining = interval - (time.time() - started)
            if remaining > 0:
                self._stop_evt.wait(remaining)

    def stop(self) -> None:
        evt = getattr(self, "_stop_evt", None)
        if evt is not None:
            evt.set()
            self._thread.join(timeout=30)

    def check_health(self) -> None:
        """Fail fast if the poll loop halted on a permanent error.

        Without this a dead poller is invisible: the stream over the
        spool stays 'healthy' and simply sees no new files. Call sites:
        ``stream()`` (setup) and any monitoring loop (per epoch)."""
        for unit in self.poll_units():
            if unit.poll_error is not None:
                raise RuntimeError(
                    "API polling halted on a permanent error; the spool is "
                    "no longer being fed"
                ) from unit.poll_error


def _poll_guarded(unit: PollUnit) -> bool:
    """Poll one unit under the loop's error policy; False halts the loop."""
    try:
        unit.poll()
    except PermanentApiError as exc:
        unit.poll_error = exc
        log.error("polling halted (permanent API error): %s", exc)
        return False
    except Exception as exc:  # noqa: BLE001 — transient exhaustion, IO, secrets
        unit.consecutive_failures += 1
        unit.last_transient_error = exc
        log.warning(
            "poll failed (%d consecutive), retrying next interval: %s",
            unit.consecutive_failures, exc,
        )
        return True
    unit.consecutive_failures = 0
    unit.last_transient_error = None
    return True
