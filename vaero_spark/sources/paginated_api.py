"""Generic cursor-paginated API source (okta / google_workspace shape).

The reference's flagship real connectors are Python CDK subprocesses
that paginate a REST API with:

- a persistent **cursor** pickled to disk between polls
  (``/root/reference/vaero_cdk/api_cursor.py:20-31``),
- a **steady rate limiter** that sleeps until ``last_call + increment``
  (``vaero_cdk/rate_limiter_steady.py:6-21``),
- **exponential backoff** on transient failures
  (``vaero_cdk/rate_limiter_backoff.py:18-42``: expo, give up on
  non-429 4xx),
- a **late/duplicate gate** dropping events older than the cursor
  (``integrations/python/source_okta.py:91-113``), and
- cursor advance = max(event time) + 1 tick
  (``source_okta.py:122-130``: +1 ms; we use +1 µs, our native
  resolution).

Spark mapping (SURVEY.md §2.3): the poller is a driver-side ingestion
shim — exactly the role of the reference's Python subprocess feeding the
Go channel — that spools each poll's events as an **atomically-renamed
JSON-lines file named after the pre-poll cursor**, and the pipeline
reads the spool with the checkpointed file stream source. The
deterministic filename makes crash re-delivery idempotent: a poll
re-run after a crash between spool-write and cursor-store finds its
own spool file already present and recovers the cursor FROM it instead
of re-fetching (a re-fetch could pick up events that arrived upstream
in between — the file source dedups by path, so extended contents of
an already-committed file would be silently lost). No duplicates, no
loss — the exactly-once upgrade over the reference's pickle-only
persistence. ``max_events_per_poll`` is the
``maxOffsetsPerTrigger`` analog; the rate limiter paces request fan-out
to the upstream API.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from typing import Callable

from vaero_spark.sources.spool import (
    PermanentApiError,  # noqa: F401 — re-exported, raised by fetch_page callables
    PollUnit,
    SpoolPoller,
    TransientApiError,
    read_spool,
    write_atomic,
)

ISO = "%Y-%m-%dT%H:%M:%S.%f"


@dataclass
class SteadyRateLimiter:
    """Sleep until ``last_call + increment`` (rate_limiter_steady.py)."""

    increment: float
    _last_call: float = 0.0
    sleeps: list = field(default_factory=list)  # observability (bounded)
    _MAX_SLEEP_LOG = 1000  # a long-lived poller must not grow this forever

    def wait(self, now: Callable[[], float] = time.time, sleep=time.sleep) -> None:
        current = now()
        while current < self._last_call + self.increment:
            delta = self._last_call + self.increment - current
            if len(self.sleeps) < self._MAX_SLEEP_LOG:
                self.sleeps.append(delta)
            sleep(delta)
            current = now()
        self._last_call = current


def call_with_backoff(
    fn: Callable,
    max_tries: int = 5,
    factor: float = 0.1,
    sleep=time.sleep,
):
    """Exponential backoff on :class:`TransientApiError`
    (backoff.expo semantics: wait = factor · 2^(try−1)); permanent
    errors and exhaustion raise."""
    for attempt in range(1, max_tries + 1):
        try:
            return fn()
        except TransientApiError:
            if attempt == max_tries:
                raise
            sleep(factor * (2 ** (attempt - 1)))


class ApiCursor:
    """Persistent cursor (api_cursor.py shape, JSON instead of pickle —
    auditable and concurrency-safe via atomic rename)."""

    def __init__(self) -> None:
        self.cursor: dict = {}

    def load(self, path: str) -> None:
        try:
            with open(path) as f:
                self.cursor = json.load(f)
        except OSError:
            pass  # first run: empty cursor, like the reference

    def store(self, path: str) -> None:
        write_atomic(path, json.dumps(self.cursor))


@dataclass
class PaginatedApiSource(PollUnit, SpoolPoller):
    """Driver-side poller: fetch pages from ``fetch_page(cursor_since,
    page_token)`` → ``(events, next_page_token)`` with rate limiting +
    backoff, gate late events, spool, advance + persist the cursor.

    ``events`` are dicts carrying ``event_time_key`` as an ISO string
    (the okta ``published`` field). One poll = one spool file named
    after the pre-poll cursor — idempotent under crash re-delivery.
    """

    fetch_page: Callable[[str | None, int | None], tuple[list[dict], int | None]]
    spool_dir: str
    cursor_path: str
    event_time_key: str = "ts"
    max_events_per_poll: int | None = None  # maxOffsetsPerTrigger analog
    rate: SteadyRateLimiter = field(default_factory=lambda: SteadyRateLimiter(0.0))
    max_tries: int = 5
    backoff_factor: float = 0.1
    secret_resolver: object = None  # refreshed per poll (execute.go:84-96)
    # Distinguishes spool files when several pollers share one spool
    # directory (e.g. the google_workspace multi-app round-robin: one
    # cursor AND one filename namespace per app, same stream).
    spool_prefix: str = ""
    _sleep: Callable = time.sleep

    def _parse(self, s: str) -> datetime:
        return datetime.strptime(s, ISO) if "." in s else datetime.strptime(s, ISO[:-3])

    def _spool_name(self, since_s: str | None) -> str:
        cur = (since_s or "start").replace(":", "_").replace(".", "_")
        return f"{self.spool_prefix}poll-{cur}.jsonl"

    def poll(self) -> int:
        """One poll cycle; returns the number of NEW events spooled."""
        if self.secret_resolver is not None:
            self.secret_resolver.refresh_if_stale()
        cur = ApiCursor()
        cur.load(self.cursor_path)
        since_s = cur.cursor.get("since")
        since = self._parse(since_s) if since_s else None

        # Crash-replay guard: a spool file for THIS cursor means the
        # previous run died between spool-write and cursor-store. Do NOT
        # re-fetch — events that arrived upstream since then would extend
        # the re-run's contents, but Spark's file source dedups by PATH:
        # if the original file was already committed the delta rows would
        # never be read, while the cursor advance skipped past them
        # forever. Instead recover the cursor from the file we already
        # wrote (max spooled event time + 1 µs); the next poll fetches
        # anything newer into its own file. A deferred max-ts group (see
        # below) stays safe: every spooled time is strictly below the
        # deferred timestamp, so max+1 µs never overshoots it and the
        # ``>=`` gate still re-fetches the group.
        spool_path = os.path.join(self.spool_dir, self._spool_name(since_s))
        if os.path.exists(spool_path):
            with open(spool_path) as f:
                spooled = [json.loads(line) for line in f if line.strip()]
            last = max(self._parse(ev[self.event_time_key]) for ev in spooled)
            cur.cursor = {"since": (last + timedelta(microseconds=1)).strftime(ISO)}
            cur.store(self.cursor_path)
            return len(spooled)

        events: list[dict] = []
        times: list[datetime] = []  # parsed once, reused for the cursor
        page_token: int | None = None
        truncated = False
        while True:
            self.rate.wait(sleep=self._sleep)
            page, page_token = call_with_backoff(
                lambda: self.fetch_page(since_s, page_token),
                max_tries=self.max_tries,
                factor=self.backoff_factor,
                sleep=self._sleep,
            )
            # late/duplicate gate: the API may return events at or
            # before the cursor (okta returns up to 1 s earlier) —
            # drop strictly-earlier ones (source_okta.py:91-113; the
            # cursor itself is already +1 tick past the last event)
            for ev in page:
                t = self._parse(ev[self.event_time_key])
                if since is None or t >= since:
                    events.append(ev)
                    times.append(t)
            if page_token is None:
                break
            if self.max_events_per_poll and len(events) >= self.max_events_per_poll:
                truncated = True
                break

        if not events:
            return 0

        # Cap-boundary safety: when pagination stopped at the cap, the
        # max-timestamp group may be INCOMPLETE — advancing the cursor
        # past it would make the late gate drop its unseen members
        # forever. Defer the whole max-ts group to the next poll (cursor
        # lands ON max_t, the gate's >= refetches the group, the
        # deterministic spool name dedups what we did keep). Degenerate
        # case: every buffered event shares one timestamp — then the
        # group cannot be split and we accept the okta-style +1-tick
        # advance (only reachable when > max_events_per_poll events
        # carry the same timestamp).
        deferred_to: datetime | None = None
        if truncated:
            max_t = max(times)
            kept = [(e, t) for e, t in zip(events, times) if t < max_t]
            if kept:
                events, times = [list(x) for x in zip(*kept)]
                deferred_to = max_t
        # spool first, cursor second; the filename is the PRE-poll
        # cursor, so a crash between the two is recovered by the replay
        # guard above (never a re-fetch) — no dup, no loss
        write_atomic(spool_path, "".join(json.dumps(ev) + "\n" for ev in events))

        # cursor advance = max(event time) + 1 µs (source_okta.py:122-130);
        # a deferred max-ts group pins the cursor ON its timestamp instead
        if deferred_to is not None:
            cur.cursor = {"since": deferred_to.strftime(ISO)}
        else:
            last = max(times)
            cur.cursor = {"since": (last + timedelta(microseconds=1)).strftime(ISO)}
        cur.store(self.cursor_path)
        return len(events)

    def poll_until_exhausted(self, max_polls: int = 1000) -> int:
        total = 0
        for _ in range(max_polls):
            n = self.poll()
            total += n
            if n == 0:
                return total
        return total

    def stream(self, spark, payload_schema: str):
        """The pipeline-facing exactly-once stream over the spool."""
        self.check_health()
        return read_spool(spark, self.spool_dir, payload_schema)


def pages_from_rows(
    rows: list[dict], page_size: int, event_time_key: str = "ts"
) -> Callable:
    """Build a deterministic stub endpoint from in-memory rows — the
    test/replay stand-in for a real REST API. Serves time-ordered pages
    filtered by ``since`` (like the okta System Log API). Timestamps
    are parsed ONCE and the ``since`` lower bound is a bisect, so a
    fetch is O(page_size) — a naive per-fetch rescan made the sf0.1
    replay O(pages × corpus) and dominated the whole bench suite."""
    from bisect import bisect_left

    ordered = sorted(rows, key=lambda r: (r[event_time_key], json.dumps(r, sort_keys=True)))
    times = [datetime.strptime(r[event_time_key], ISO) for r in ordered]

    def fetch_page(since_s, page_token):
        lo = 0
        if since_s:
            # APIs are imprecise at the boundary: return events from 1 s
            # BEFORE the cursor too (the okta behavior the gate fixes)
            cutoff = datetime.strptime(since_s, ISO) - timedelta(seconds=1)
            lo = bisect_left(times, cutoff)
        start = lo + (page_token or 0)
        page = ordered[start : start + page_size]
        next_token = (
            (page_token or 0) + page_size
            if start + page_size < len(ordered)
            else None
        )
        return page, next_token

    return fetch_page
