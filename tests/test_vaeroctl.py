"""Job-control CLI lifecycle (reference `vaero add/start/stop/list/
detail/delete` over its SQLite jobs table): add a spec, start it as a
detached pipeline subprocess, list shows running, stop terminates it,
restart resumes exactly-once from the same checkpoint."""

from __future__ import annotations

import json
import os
import textwrap
import time

import pytest

from jobs import vaeroctl
from vaero_spark.session import host_cpus
from vaero_spark.testing.fixtures import write_transcripts_parquet


def _write_spec(tmp_path, src_dir: str) -> str:
    spec = tmp_path / "ctl_pipe.py"
    spec.write_text(
        textwrap.dedent(
            f"""\
            import sys
            sys.path.insert(0, "/root/repo")
            from vaero_spark.dsl import Vaero

            v = (
                Vaero()
                .source("transcripts", path={src_dir!r}, max_files_per_trigger=1)
                .add("pipeline", "ctl")
                .sink("s3", name="out", batch_max_time=1)
            )
            v.start()
            """
        )
    )
    return str(spec)


def _committed_rows(home: str, job_id: str) -> int:
    return sum(
        s["rows"] for s in vaeroctl.detail(home, job_id)["sinks"].values()
    )


def _wait_rows(home, job_id, want, deadline_s=120):
    deadline = time.time() + deadline_s
    while time.time() < deadline:
        if _committed_rows(home, job_id) >= want:
            return
        time.sleep(1.0)
    raise AssertionError(
        f"timed out waiting for {want} committed rows "
        f"(have {_committed_rows(home, job_id)})"
    )


def _session_record(log_path: str) -> dict:
    """The ``{"session": ...}`` line the job prints once its session is up."""
    with open(log_path) as f:
        for line in f:
            if line.startswith('{"session"'):
                return json.loads(line)["session"]
    raise AssertionError(f"no session record in {log_path}")


def test_job_lifecycle_add_start_stop_resume_delete(spark, tmp_path, monkeypatch):
    # the job's own JVM, beside the test session's: a fixed small heap, not
    # half of the host's memory
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "1g")
    # the CLI runs from a directory of its own: the job must write nothing here
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    home = str(tmp_path / "home")
    src = tmp_path / "src"
    pdf1 = write_transcripts_parquet(str(src), n_files=3, n_turns=600, n_convs=12, seed=7)

    # ---- add: spec runs, task graph captured, status=staged ----
    job = vaeroctl.add(home, _write_spec(tmp_path, str(src)))
    jid = job["id"]
    assert job["status"] == "staged"
    assert json.loads(job["task_graph"])[0]["op"] == "transcripts"

    # double-add allocates a distinct id
    other = vaeroctl.add(home, _write_spec(tmp_path, str(src)))
    assert other["id"] != jid

    # ---- start: detached subprocess, list shows running ----
    job = vaeroctl.start(home, jid)
    try:
        assert job["status"] == "running" and job["pid"]
        listed = {j["id"]: j for j in vaeroctl.list_jobs(home)}
        assert listed[jid]["status"] == "running"
        with pytest.raises(vaeroctl.JobError, match="is running"):
            vaeroctl.start(home, jid)
        with pytest.raises(vaeroctl.JobError, match="no job"):
            vaeroctl.start(home, "99")  # missing id → JobError, not KeyError
        with pytest.raises(vaeroctl.JobError, match="stop it first"):
            vaeroctl.delete(home, jid)

        # first run drains the 3 initial files
        _wait_rows(home, jid, len(pdf1))
    except BaseException:
        vaeroctl.stop(home, jid)  # a failed check must not leave the job running
        raise

    # ---- stop: subprocess terminated, status=stopped ----
    pid = job["pid"]
    job = vaeroctl.stop(home, jid)
    assert job["status"] == "stopped" and job["pid"] is None
    assert not vaeroctl._pid_alive(pid)

    # the job's session is get_spark's: one store per host CPU, the java.nio
    # local filesystem, the Python worker daemon and the RocksDB state store
    cpus = host_cpus()
    assert _session_record(job["log"]) == {
        "master": f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.hadoop.fs.file.impl": "vaero.fs.NioLocalFileSystem",
        "spark.python.daemon.module": "vaero_spark.worker_daemon",
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    }

    # per-job metrics: the job's epochs land under its own job home
    metrics = os.path.join(os.path.dirname(job["log"]), "vaero_metrics", "metrics.jsonl")
    with open(metrics) as f:
        epochs = [r["epoch"] for r in map(json.loads, f) if r["event"] == "progress"]
    assert epochs and min(epochs) == 0

    # ---- resume: more input, same checkpoint → exactly-once total ----
    pdf2 = write_transcripts_parquet(
        str(src), n_files=3, n_turns=600, n_convs=12, seed=8, start_file_idx=3
    )
    vaeroctl.start(home, jid)
    try:
        _wait_rows(home, jid, len(pdf1) + len(pdf2))
    finally:
        vaeroctl.stop(home, jid)

    out_dir = os.path.join(vaeroctl.detail(home, jid)["output"], "out")
    from vaero_spark.sinks.writers import ExactlyOnceParquetSink

    got = ExactlyOnceParquetSink(out_dir).read_committed(spark)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    out_rows = sorted(tuple(r) for r in got.select(*cols).collect())
    import pandas as pd

    want = pd.concat([pdf1, pdf2], ignore_index=True)
    want_rows = sorted(
        (r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts.to_pydatetime())
        for r in want.itertuples()
    )
    # exactly-once across the stop/restart: output multiset == input
    # multiset (the fixture's injected duplicate ROWS pass through — the
    # spec has no dedup stage — so equality is exact, not distinct-based)
    assert out_rows == want_rows, "resume lost or duplicated rows"

    # ---- detail: lineage visible ----
    det = vaeroctl.detail(home, jid)
    assert det["sinks"]["out"]["rows"] == len(pdf1) + len(pdf2)
    assert det["sinks"]["out"]["epochs_committed"] >= 2

    # ---- delete: stopped job removable; registry shrinks ----
    vaeroctl.delete(home, jid)
    assert jid not in {j["id"] for j in vaeroctl.list_jobs(home)}
    vaeroctl.delete(home, other["id"], purge=True)
    assert not os.path.isdir(os.path.dirname(other["checkpoint"]))
    assert os.listdir(cwd) == []


def test_add_rejects_bad_spec(tmp_path):
    home = str(tmp_path / "home")
    bad = tmp_path / "bad.py"
    bad.write_text("print('no graph here')\n")
    with pytest.raises(vaeroctl.JobError, match="no task-graph"):
        vaeroctl.add(home, str(bad))
    with pytest.raises(vaeroctl.JobError, match="not found"):
        vaeroctl.add(home, str(tmp_path / "missing.py"))


def test_stop_bounds_post_sigkill_wait_on_unkillable_pid(tmp_path, monkeypatch):
    """A pipeline stuck in uninterruptible D-state survives SIGKILL until
    its syscall returns; stop() must not hang the CLI forever — it bounds
    the wait, reports the pid as unkillable, and leaves the job in
    'stopping' so the next stop/_refresh reconciles once the process
    finally dies."""
    import subprocess
    import sys as _sys

    home = str(tmp_path / "home")
    proc = subprocess.Popen(
        [_sys.executable, "-c", "import time; time.sleep(600)"],
        start_new_session=True,
    )
    try:
        with vaeroctl._locked_registry(home) as jobs:
            jobs["1"] = {
                "id": "1", "spec": "x.py", "task_graph": "[]", "interval": None,
                "status": "running", "pid": proc.pid, "output": str(tmp_path / "o"),
                "checkpoint": str(tmp_path / "c"), "log": str(tmp_path / "l"),
                "added_at": time.time(),
            }
        # simulate unkillable: liveness always true during this stop call
        monkeypatch.setattr(vaeroctl, "_pid_alive", lambda pid: True)
        t0 = time.time()
        out = vaeroctl.stop(home, "1", timeout=0.3, kill_timeout=0.5)
        assert time.time() - t0 < 10  # bounded, no infinite loop
        assert out["status"] == "stopping"
        assert "unkillable" in out.get("warning", "") or "survived SIGKILL" in out.get("warning", "")
        monkeypatch.undo()
        # once the process actually dies, _refresh reconciles to stopped
        proc.kill()
        proc.wait()
        assert vaeroctl.list_jobs(home)[0]["status"] == "stopped"
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
