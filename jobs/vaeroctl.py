#!/usr/bin/env python
"""Job-control CLI: the reference's multi-job lifecycle over a file
registry.

Reference shape (``/root/reference/cmd/``): ``vaero add/start/stop/
list/detail/delete`` over a SQLite ``jobs`` table (id, interval,
task_graph, spec, status ∈ {staged, running, stopping, stopped},
alive — ``cmd/util.go:144-177``) with an adminRoutine poller applying
staged→running and stopping→stopped transitions
(``cmd/util.go:363-400``).

Spark mapping: the registry is a JSON file under ``--home`` (atomic
rename + flock — auditable, no DB dependency), one entry per job. A
job's durable identity is its **checkpoint dir** (restart with the same
checkpoint resumes exactly-once from committed offsets; sinks dedup
epoch re-delivery via commit markers), so there is no adminRoutine:
``start`` directly spawns a detached ``run_pipeline.py --spec``
subprocess (the spark-submit analog) and ``stop`` signals it — the
state machine is the same, the poller indirection is unnecessary when
the control plane can exec directly.

Usage::

    python jobs/vaeroctl.py [--home DIR] add <spec.py> [--interval N]
    python jobs/vaeroctl.py [--home DIR] start <id>
    python jobs/vaeroctl.py [--home DIR] stop <id>
    python jobs/vaeroctl.py [--home DIR] list
    python jobs/vaeroctl.py [--home DIR] detail <id>
    python jobs/vaeroctl.py [--home DIR] delete <id> [--purge]
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import signal
import subprocess
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_HOME = "./data"
RUN_PIPELINE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run_pipeline.py")

STATUSES = ("staged", "running", "stopping", "stopped")


class JobError(RuntimeError):
    pass


@contextmanager
def _locked_registry(home: str):
    """flock'd read-modify-write of <home>/jobs.json (single-writer; the
    reference gets this from SQLite)."""
    os.makedirs(home, exist_ok=True)
    lock_path = os.path.join(home, ".lock")
    reg_path = os.path.join(home, "jobs.json")
    with open(lock_path, "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        jobs = {}
        if os.path.exists(reg_path):
            with open(reg_path) as f:
                jobs = json.load(f)
        yield jobs
        tmp = reg_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(jobs, f, indent=1)
        os.replace(tmp, reg_path)  # atomic commit of the registry


def _pid_alive(pid: int | None) -> bool:
    if not pid:
        return False
    try:
        os.kill(pid, 0)
    except (ProcessLookupError, PermissionError):
        return False
    # an exited-but-unreaped child (library callers like tests ARE the
    # parent) still answers kill(pid, 0) — a zombie is dead for our
    # purposes, and signaling-then-polling it would spin forever
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return True


def _reap(pid: int) -> None:
    """Collect the child's exit status if WE are its parent (no-op with
    ECHILD when the CLI signals a job started by another process)."""
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass


def _refresh(job: dict) -> dict:
    """Reconcile recorded status with process liveness (the reference's
    ``alive`` column): a 'running' OR 'stopping' job whose pid died is
    'stopped' (an interrupted `stop` must not wedge the job in
    'stopping' forever)."""
    if job["status"] in ("running", "stopping") and not _pid_alive(job.get("pid")):
        job["status"] = "stopped"
        job["pid"] = None
    return job


def _get(jobs: dict, job_id) -> dict:
    """Look up + liveness-reconcile; a missing id is a JobError, never a
    KeyError out of _refresh."""
    job = jobs.get(str(job_id))
    if not job:
        raise JobError(f"no job {job_id}")
    return _refresh(job)


def add(home: str, spec_path: str, interval: float | None = None) -> dict:
    """Register the job as 'staged' with the task graph its spec prints —
    same stdout IR channel as ``vaero add`` (cmd/util.go:178-210)."""
    from vaero_spark.plans.plan import task_graph_from_spec

    try:
        graph = task_graph_from_spec(spec_path)
    except ValueError as e:
        raise JobError(str(e)) from e
    with _locked_registry(home) as jobs:
        job_id = str(max((int(k) for k in jobs), default=0) + 1)
        job_home = os.path.join(os.path.abspath(home), f"job-{job_id}")
        jobs[job_id] = {
            "id": job_id,
            "spec": os.path.abspath(spec_path),
            "task_graph": graph,
            "interval": interval,
            "status": "staged",
            "pid": None,
            "output": os.path.join(job_home, "sinks"),
            "checkpoint": os.path.join(job_home, "ckpt"),
            "log": os.path.join(job_home, "job.log"),
            "added_at": time.time(),
        }
        return dict(jobs[job_id])


def start(home: str, job_id: str) -> dict:
    """Spawn the detached pipeline subprocess (spark-submit analog).
    Restarting a stopped job reuses its checkpoint — exactly-once
    resume is the engine's plan-compat + commit-marker contract."""
    with _locked_registry(home) as jobs:
        job = _get(jobs, job_id)
        if job["status"] in ("running", "stopping"):
            # 'stopping' with a live pid means an interrupted stop — a
            # second start would run two streaming queries against ONE
            # checkpoint (state/offset corruption) and orphan the first
            raise JobError(
                f"job {job_id} is {job['status']} (pid {job['pid']}); "
                "stop it before starting again"
            )
        os.makedirs(os.path.dirname(job["log"]), exist_ok=True)
        argv = [
            sys.executable, RUN_PIPELINE,
            "--spec", job["spec"],
            "--output", job["output"],
            "--checkpoint", job["checkpoint"],
        ]
        if job.get("interval"):
            # the per-job interval recorded at add() rides the trigger
            argv += ["--trigger-seconds", str(job["interval"])]
        with open(job["log"], "a") as log:
            proc = subprocess.Popen(
                argv,
                cwd=os.path.dirname(job["log"]),  # job home: its metrics land there
                stdout=log,
                stderr=log,
                start_new_session=True,  # survives this CLI's exit
            )
        job.update(status="running", pid=proc.pid, started_at=time.time())
        jobs[str(job_id)] = job
        return dict(job)


def stop(home: str, job_id: str, timeout: float = 60.0,
         kill_timeout: float = 5.0) -> dict:
    """staged→stopped / running→stopping→stopped: SIGTERM the subprocess,
    escalate to SIGKILL after ``timeout``. Committed epochs stay durable;
    an epoch cut mid-write is re-delivered on resume and deduped by the
    sink's commit marker."""
    with _locked_registry(home) as jobs:
        job = _get(jobs, job_id)
        pid = job.get("pid")
        if job["status"] == "running" and pid:
            job["status"] = "stopping"
            jobs[str(job_id)] = dict(job)
    if job["status"] == "stopping" and pid:
        try:
            os.killpg(os.getpgid(pid), signal.SIGTERM)
        except (ProcessLookupError, PermissionError):
            pass
        deadline = time.time() + timeout
        while _pid_alive(pid) and time.time() < deadline:
            _reap(pid)
            time.sleep(0.2)
        if _pid_alive(pid):
            try:
                os.killpg(os.getpgid(pid), signal.SIGKILL)
            except (ProcessLookupError, PermissionError):
                pass
            # Bounded post-SIGKILL wait: a process stuck in uninterruptible
            # D-state survives SIGKILL until its syscall returns — an
            # unbounded loop here would hang the CLI forever. On expiry,
            # leave the job 'stopping' (pid intact) so the next
            # stop/_refresh reconciles once the process finally dies.
            kill_deadline = time.time() + kill_timeout
            while _pid_alive(pid) and time.time() < kill_deadline:
                _reap(pid)
                time.sleep(0.1)
        _reap(pid)
        if _pid_alive(pid):
            with _locked_registry(home) as jobs:
                job = jobs[str(job_id)]
                job["status"] = "stopping"
                out = dict(job)
            out["warning"] = (
                f"pid {pid} survived SIGKILL (uninterruptible state?); "
                "left status=stopping — rerun stop once it exits"
            )
            return out
    with _locked_registry(home) as jobs:
        job = jobs[str(job_id)]
        job.update(status="stopped", pid=None)
        return dict(job)


def list_jobs(home: str) -> list[dict]:
    with _locked_registry(home) as jobs:
        return [dict(_refresh(jobs[k])) for k in sorted(jobs, key=int)]


def detail(home: str, job_id: str) -> dict:
    """Full entry + per-sink committed-epoch lineage (rows, epochs) read
    from the sink commit manifests — the observability the reference
    gets from `vaero detail` + its jobs row."""
    with _locked_registry(home) as jobs:
        job = _get(jobs, job_id)
    sinks = {}
    out_root = job["output"]
    if os.path.isdir(out_root):
        for sink_name in sorted(os.listdir(out_root)):
            epochs_dir = os.path.join(out_root, sink_name, "_epochs")
            if not os.path.isdir(epochs_dir):
                continue
            rows = epochs = 0
            for m in os.listdir(epochs_dir):
                if m.endswith(".json"):
                    with open(os.path.join(epochs_dir, m)) as f:
                        rows += json.load(f).get("rows", 0)
                    epochs += 1
            sinks[sink_name] = {"epochs_committed": epochs, "rows": rows}
    return {**job, "sinks": sinks}


def delete(home: str, job_id: str, purge: bool = False) -> dict:
    """Remove a non-running job from the registry. ``purge`` also
    deletes its sink/checkpoint dirs (default keeps them: the checkpoint
    IS the job's durable identity)."""
    with _locked_registry(home) as jobs:
        job = _get(jobs, job_id)
        if job["status"] in ("running", "stopping"):
            raise JobError(f"job {job_id} is {job['status']}; stop it first")
        del jobs[str(job_id)]
    if purge:
        import shutil

        shutil.rmtree(os.path.dirname(job["checkpoint"]), ignore_errors=True)
    return job


def main() -> None:
    ap = argparse.ArgumentParser(prog="vaeroctl")
    ap.add_argument("--home", default=DEFAULT_HOME, help="registry dir (default ./data)")
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("add"); p.add_argument("spec"); p.add_argument("--interval", type=float)
    p = sub.add_parser("start"); p.add_argument("id")
    p = sub.add_parser("stop"); p.add_argument("id")
    sub.add_parser("list")
    p = sub.add_parser("detail"); p.add_argument("id")
    p = sub.add_parser("delete"); p.add_argument("id"); p.add_argument("--purge", action="store_true")
    args = ap.parse_args()

    try:
        if args.cmd == "add":
            print(json.dumps(add(args.home, args.spec, args.interval)))
        elif args.cmd == "start":
            print(json.dumps(start(args.home, args.id)))
        elif args.cmd == "stop":
            print(json.dumps(stop(args.home, args.id)))
        elif args.cmd == "list":
            rows = list_jobs(args.home)
            print(f"{'Id':<4}{'Status':<10}{'Pid':<8}{'Spec':<40}Checkpoint")
            for j in rows:
                print(
                    f"{j['id']:<4}{j['status']:<10}{str(j.get('pid') or '-'):<8}"
                    f"{os.path.basename(j['spec']):<40}{j['checkpoint']}"
                )
        elif args.cmd == "detail":
            print(json.dumps(detail(args.home, args.id), indent=2))
        elif args.cmd == "delete":
            print(json.dumps(delete(args.home, args.id, args.purge)))
    except JobError as e:
        print(f"error: {e}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
