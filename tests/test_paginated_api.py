"""Cursor-paginated API source (reference vaero_cdk shape): steady rate
limit, exponential backoff, persistent cursor, late/duplicate gate,
resume-from-kill with no duplicate or lost pages, DSL/engine wiring."""

from __future__ import annotations

import json
from datetime import datetime, timedelta

import pytest

from vaero_spark.sources.paginated_api import (
    ISO,
    ApiCursor,
    PaginatedApiSource,
    PermanentApiError,
    SteadyRateLimiter,
    TransientApiError,
    call_with_backoff,
    pages_from_rows,
)


def _mk_rows(n: int, start: str = "2024-03-01T00:00:00.000000") -> list[dict]:
    t0 = datetime.strptime(start, ISO)
    return [
        {"event_id": i, "ts": (t0 + timedelta(seconds=17 * i)).strftime(ISO)}
        for i in range(n)
    ]


def _spooled_ids(spool_dir) -> list[int]:
    ids = []
    for f in sorted(spool_dir.glob("*.jsonl")):
        for line in f.read_text().splitlines():
            ids.append(json.loads(line)["event_id"])
    return ids


def test_steady_rate_limiter_sleeps_to_increment():
    clock = {"t": 100.0}
    sleeps = []

    def now():
        return clock["t"]

    def sleep(d):
        sleeps.append(d)
        clock["t"] += d

    rl = SteadyRateLimiter(increment=0.5)
    rl.wait(now=now, sleep=sleep)  # first call: no wait
    rl.wait(now=now, sleep=sleep)  # immediate second call: sleeps 0.5
    assert sleeps == [0.5]
    clock["t"] += 10
    rl.wait(now=now, sleep=sleep)  # long since last call: no sleep
    assert sleeps == [0.5]


def test_backoff_expo_then_success_and_permanent_giveup():
    calls = {"n": 0}
    waits = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise TransientApiError("429")
        return "ok"

    assert call_with_backoff(flaky, factor=0.1, sleep=waits.append) == "ok"
    assert waits == [0.1, 0.2]  # factor * 2^(try-1)

    def perma():
        raise PermanentApiError("403")

    with pytest.raises(PermanentApiError):
        call_with_backoff(perma, sleep=waits.append)

    def always():
        raise TransientApiError("flappy")

    with pytest.raises(TransientApiError):
        call_with_backoff(always, max_tries=3, sleep=lambda d: None)


def test_resume_from_kill_no_dup_no_loss(tmp_path):
    """Kill the poller between polls; a NEW source instance with the
    same cursor file continues exactly where it left off."""
    rows = _mk_rows(100)
    fetch = pages_from_rows(rows, page_size=10)
    spool, cursor = tmp_path / "spool", str(tmp_path / "cursor.json")

    src1 = PaginatedApiSource(
        fetch, str(spool), cursor, max_events_per_poll=30, _sleep=lambda d: None
    )
    # cap 30 → 29 spooled: the (possibly incomplete) max-ts group of a
    # truncated poll defers to the next poll
    assert src1.poll() == 29
    # one bounded poll done, then "kill"

    src2 = PaginatedApiSource(
        fetch, str(spool), cursor, max_events_per_poll=30, _sleep=lambda d: None
    )
    src2.poll_until_exhausted()

    ids = _spooled_ids(spool)
    assert sorted(ids) == list(range(100))  # no loss
    assert len(ids) == len(set(ids))  # no duplicates


def test_crash_between_spool_and_cursor_is_idempotent(tmp_path):
    """A poll that spooled but died before storing the cursor recovers
    the cursor FROM its existing spool file — never a second fetch, so
    the possibly-already-committed file is never rewritten."""
    rows = _mk_rows(40)
    fetch = pages_from_rows(rows, page_size=10)
    spool, cursor = tmp_path / "spool", str(tmp_path / "cursor.json")
    src = PaginatedApiSource(
        fetch, str(spool), cursor, max_events_per_poll=20, _sleep=lambda d: None
    )
    src.poll()
    saved = (tmp_path / "cursor.json").read_text()
    src.poll()
    n_files = len(list(spool.glob("*.jsonl")))
    # simulate the crash: roll the cursor back to the pre-second-poll
    # value and re-run the "lost" poll
    (tmp_path / "cursor.json").write_text(saved)
    src.poll()
    assert len(list(spool.glob("*.jsonl"))) == n_files  # overwrote, no new file
    src.poll_until_exhausted()  # drain the deferred tail
    ids = _spooled_ids(spool)
    assert sorted(ids) == list(range(40))
    assert len(ids) == len(set(ids))


def test_crash_replay_with_new_upstream_events_loses_nothing(tmp_path):
    """THE dangerous replay window: events arrive upstream between the
    original poll and its crash re-run. A naive re-fetch would write the
    SAME filename with EXTENDED contents — and since Spark's file source
    dedups by path, the delta rows would never be read while the cursor
    advance skips past them forever. The replay guard must instead leave
    the original file byte-identical and pick the new events up in the
    NEXT poll's own file."""
    rows = _mk_rows(20)
    spool, cursor = tmp_path / "spool", str(tmp_path / "cursor.json")

    src1 = PaginatedApiSource(
        pages_from_rows(rows, page_size=10), str(spool), cursor, _sleep=lambda d: None
    )
    assert src1.poll() == 20
    original = {f.name: f.read_bytes() for f in spool.glob("*.jsonl")}
    assert len(original) == 1
    # crash BEFORE the cursor store: roll the cursor file back to
    # nonexistent (the pre-poll state) …
    (tmp_path / "cursor.json").unlink()
    # … and meanwhile 5 NEW events arrive upstream
    late = [
        {"event_id": 100 + r["event_id"], "ts": r["ts"]}
        for r in _mk_rows(5, start="2024-03-01T12:00:00.000000")
    ]
    src2 = PaginatedApiSource(
        pages_from_rows(rows + late, page_size=10), str(spool), cursor, _sleep=lambda d: None
    )
    assert src2.poll() == 20  # replay: recovered from the spool, no re-fetch
    for f in spool.glob("*.jsonl"):
        if f.name in original:
            assert f.read_bytes() == original[f.name], "committed file rewritten"
    src2.poll_until_exhausted()
    ids = _spooled_ids(spool)
    assert sorted(ids) == list(range(20)) + [100, 101, 102, 103, 104]  # delta picked up
    assert len(ids) == len(set(ids))  # exactly once each


def test_cap_boundary_with_duplicate_timestamps_loses_nothing(tmp_path):
    """Events sharing the max timestamp of a cap-truncated poll must NOT
    be lost: the incomplete max-ts group defers to the next poll (the
    cursor lands ON the timestamp, not past it)."""
    t0 = datetime.strptime("2024-03-01T00:00:00.000000", ISO)
    rows = []
    for i in range(50):
        # five events per timestamp → cap=12 always cuts mid-group
        ts = (t0 + timedelta(seconds=i // 5)).strftime(ISO)
        rows.append({"event_id": i, "ts": ts})
    fetch = pages_from_rows(rows, page_size=4)
    spool, cursor = tmp_path / "spool", str(tmp_path / "cursor.json")
    src = PaginatedApiSource(
        fetch, str(spool), cursor, max_events_per_poll=12, _sleep=lambda d: None
    )
    src.poll_until_exhausted()
    ids = _spooled_ids(spool)
    assert sorted(ids) == list(range(50))  # no loss at any boundary
    assert len(ids) == len(set(ids))  # no duplicates


def test_late_gate_drops_pre_cursor_slop(tmp_path):
    """The stub endpoint (like okta) returns events up to 1 s BEFORE the
    cursor; the gate must drop them (source_okta.py:91-113)."""
    rows = _mk_rows(10)
    fetch = pages_from_rows(rows, page_size=100)
    spool, cursor_path = tmp_path / "spool", str(tmp_path / "cursor.json")
    cur = ApiCursor()
    cur.cursor = {"since": rows[5]["ts"]}  # start mid-stream
    cur.store(cursor_path)
    src = PaginatedApiSource(fetch, str(spool), cursor_path, _sleep=lambda d: None)
    src.poll_until_exhausted()
    assert sorted(_spooled_ids(spool)) == [5, 6, 7, 8, 9]


def test_paginated_source_via_dsl_engine(spark, tmp_path):
    """DSL wiring: a polling connector feeding an exactly-once file
    stream through run_streaming_plan; stop() stops the poller."""
    import time

    from vaero_spark.dsl import Vaero
    from vaero_spark.sinks.writers import MemorySink
    from vaero_spark.streaming.engine import run_streaming_plan

    rows = _mk_rows(50)
    v = Vaero().source(
        "paginated_api",
        fetch_page=pages_from_rows(rows, page_size=20),
        spool_dir=str(tmp_path / "spool"),
        cursor_path=str(tmp_path / "cursor.json"),
        schema="event_id long, ts string",
        interval=0.1,
    )
    plan = v.add("route", "api").sink("memory", name="out").plan()
    sink = MemorySink()
    pipe = run_streaming_plan(
        spark,
        plan,
        checkpoint_dir=str(tmp_path / "ckpt"),
        sink_factory=lambda name, node: sink,
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and not list((tmp_path / "spool").glob("*.jsonl")):
            time.sleep(0.1)
        pipe.process_all()
    finally:
        pipe.stop()
    got = sorted(r.event_id for r in sink.rows())
    assert got == list(range(50))
    assert plan.root.args["_server"]._stop_evt.is_set()


def test_polling_loop_survives_transient_and_halts_on_permanent(tmp_path):
    """The daemon poll loop must not die silently: transient exhaustion
    (>max_tries 429s) is retried next interval with the failure counter
    visible; a permanent error (bad credentials) halts polling AND
    surfaces from check_health()/stream() instead of leaving the spool
    stream looking healthy while nothing feeds it."""
    import time as _time

    mode = {"m": "transient"}
    rows = _mk_rows(3)
    pages = pages_from_rows(rows, 10)

    def fetch_page(since_s, tok):
        if mode["m"] == "transient":
            raise TransientApiError("429 forever")
        if mode["m"] == "permanent":
            raise PermanentApiError("401 bad token")
        return pages(since_s, tok)

    src = PaginatedApiSource(
        fetch_page=fetch_page,
        spool_dir=str(tmp_path / "spool"),
        cursor_path=str(tmp_path / "cursor.json"),
        max_tries=2,
        backoff_factor=0.0,
        _sleep=lambda s: None,
    )
    src.start_polling(0.01)
    try:
        deadline = _time.time() + 10
        while src.consecutive_failures < 2 and _time.time() < deadline:
            _time.sleep(0.01)
        # transient exhaustion did NOT kill the loop; failures are counted
        assert src.consecutive_failures >= 2
        assert src._thread.is_alive()
        assert src.poll_error is None
        src.check_health()  # transient trouble is not fatal

        mode["m"] = "ok"
        while len(_spooled_ids(tmp_path / "spool")) < 3 and _time.time() < deadline:
            _time.sleep(0.01)
        assert _spooled_ids(tmp_path / "spool") == [0, 1, 2]  # recovered
        while src.consecutive_failures and _time.time() < deadline:
            _time.sleep(0.01)
        assert src.consecutive_failures == 0  # reset on success

        mode["m"] = "permanent"
        while src.poll_error is None and _time.time() < deadline:
            _time.sleep(0.01)
        assert isinstance(src.poll_error, PermanentApiError)
        src._thread.join(timeout=5)
        assert not src._thread.is_alive()  # loop halted deliberately
        with pytest.raises(RuntimeError, match="polling halted"):
            src.check_health()
    finally:
        src.stop()


def test_multi_app_polling_loop_isolates_transient_and_halts_on_permanent(tmp_path):
    """The multi-app source runs the same guarded loop over its per-app
    sources: a transient failure on one app does not hold back another
    app's events in the same run, and a permanent error on any app halts
    the loop and surfaces from check_health()."""
    import time as _time

    from vaero_spark.sources.connectors import GoogleWorkspaceMultiAppSource

    mode = {"m": "transient"}
    admin_pages = pages_from_rows(_mk_rows(3), 10)
    login_rows = [{**r, "event_id": r["event_id"] + 100} for r in _mk_rows(4)]

    def admin_fetch(since_s, tok):
        if mode["m"] == "transient":
            raise TransientApiError("429 forever")
        if mode["m"] == "permanent":
            raise PermanentApiError("401 bad token")
        return admin_pages(since_s, tok)

    def app_source(app, fetch_page):
        return PaginatedApiSource(
            fetch_page=fetch_page,
            spool_dir=str(tmp_path / "spool"),
            cursor_path=str(tmp_path / f"cursor-{app}.json"),
            spool_prefix=f"{app}-",
            max_tries=2,
            backoff_factor=0.0,
            _sleep=lambda s: None,
        )

    admin = app_source("admin", admin_fetch)
    login = app_source("login", pages_from_rows(login_rows, 10))
    src = GoogleWorkspaceMultiAppSource([admin, login])
    src.start_polling(0.01)
    try:
        deadline = _time.time() + 10
        while (
            admin.consecutive_failures < 2 or not _spooled_ids(tmp_path / "spool")
        ) and _time.time() < deadline:
            _time.sleep(0.01)
        # admin (polled first every tick) keeps failing; login still spools
        assert admin.consecutive_failures >= 2
        assert sorted(_spooled_ids(tmp_path / "spool")) == [100, 101, 102, 103]
        assert src._thread.is_alive()
        src.check_health()

        mode["m"] = "ok"
        while len(_spooled_ids(tmp_path / "spool")) < 7 and _time.time() < deadline:
            _time.sleep(0.01)
        assert sorted(_spooled_ids(tmp_path / "spool")) == [0, 1, 2, 100, 101, 102, 103]

        mode["m"] = "permanent"
        while admin.poll_error is None and _time.time() < deadline:
            _time.sleep(0.01)
        assert isinstance(admin.poll_error, PermanentApiError)
        src._thread.join(timeout=5)
        assert not src._thread.is_alive()
        with pytest.raises(RuntimeError, match="polling halted"):
            src.check_health()
    finally:
        src.stop()
