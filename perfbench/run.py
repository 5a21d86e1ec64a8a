"""Streaming benchmark for vaero_spark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload drain --seed 1 --seconds 15 --trace 0

Workloads (``perfbench/NOTES.md`` says why each exists):

- ``drain``: the flagship DSL pipeline over a backlog in large epochs;
- ``cep``: ``operators.cep.stream_cep_match`` over skewed conversations
  with a share of turns out of order.

Each run stages its input from ``--seed`` (cached per seed under
``.perfbench/``), starts ``child.py`` in a fresh process, samples that
process tree's memory from ``/proc``, checks the committed output
against an independent reference and prints one JSON line: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pandas as pd

import gen
import layers
import reference
from child import CEP_LITERAL, FILES_PER_TRIGGER
from measure import commit_times, descendants, file_epochs, tree_usage

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
MASTER = "local[3]"  # one of the 4 cores stays free for the Spark driver and the sampler
HEAP_MB = 2048  # the Java heap, pinned and pre-touched (SPARK_DRIVER_MEMORY)
WINDOW_FILES = 180  # 6 releases of one epoch's files each
WARMUP_EPOCHS = 2
PRIME_TURNS = 1000
CHILD_TIMEOUT_S = 170
EXIT_GRACE_S = 10  # for the JVM and Python workers to end on their own after the child
PR_SET_CHILD_SUBREAPER = 36

# Window turns per second of --seconds. drain's window lasts about
# --seconds on a 4-vCPU host; cep's time is mostly a fixed ~5 s per epoch,
# so its window lasts about twice that whatever the epoch size.
RATE = {"drain": 12_000, "cep": 520}


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def stage(workload: str, seed: int, seconds: int) -> str:
    """Generate the workload's files once per (workload, seed, seconds,
    generator and sizing): ``prime/`` (epoch 0), ``warmup/``, ``window/``
    and ``truth.parquet``."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha1(f.read() + json.dumps([RATE[workload], WINDOW_FILES, WARMUP_EPOCHS,
                                                  FILES_PER_TRIGGER, PRIME_TURNS]).encode())
    out = os.path.join(STATE, "cache", f"{workload}-s{seed}-t{seconds}-{key.hexdigest()[:10]}")
    if os.path.exists(os.path.join(out, "meta.json")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    file_turns = max(1, RATE[workload] * seconds // WINDOW_FILES)
    n_warm = WARMUP_EPOCHS * FILES_PER_TRIGGER
    cols = gen.make_turns(seed, PRIME_TURNS + (n_warm + WINDOW_FILES) * file_turns)
    files = [(os.path.join(tmp, "prime", "part-prime.parquet"), 0, PRIME_TURNS)]
    lo = PRIME_TURNS
    for phase, count in (("warmup", n_warm), ("window", WINDOW_FILES)):
        for i in range(count):
            files.append((os.path.join(tmp, phase, f"part-{phase}-{i:04d}.parquet"), lo, lo + file_turns))
            lo += file_turns
    gen.write_files(cols, files)
    pd.DataFrame({c: cols[c] for c in ("conv_id", "turn_idx", "role", "k", "has_error")}).to_parquet(
        os.path.join(tmp, "truth.parquet"), index=False
    )
    meta = {
        "file_turns": file_turns,
        "window_turns": WINDOW_FILES * file_turns,
        "window_files": [os.path.basename(p) for p, _, _ in files if "/window/" in p],
        "file_rows": {os.path.basename(p): [a, b] for p, a, b in files},
        "out_of_order_share": float(cols["out_of_order"].mean()),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    os.replace(tmp, out)
    return out


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def adopt_orphans() -> None:
    """Make this process the reaper of every process orphaned below it.
    The child's JVM outlives the child by a moment, and the Python
    workers' daemon runs in a process group of its own; without this they
    would be reparented to init, out of reach of ``stop_tree``, and left
    behind as zombies where init does not reap."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def stop_tree(grace_s: float) -> None:
    """Wait up to ``grace_s`` for every process below this one to end,
    kill what is left, and reap them all."""
    deadline = time.time() + grace_s
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                break
        left = descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline + 30:
            raise RuntimeError(f"processes {left} did not end after SIGKILL")
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def link_tree(src: str, dst: str, names: list[str] | None = None) -> None:
    os.makedirs(dst)
    for name in os.listdir(src) if names is None else names:
        os.link(os.path.join(src, name), os.path.join(dst, name))


def run_child(workload: str, staged: str, work: str, trace: int, master: str,
              window_files: list[str] | None = None) -> dict:
    """Run one child to completion, sampling its process tree. Returns the
    child's records plus the spawn time and the ``/proc`` samples.
    ``window_files`` limits the measured backlog to those files."""
    link_tree(os.path.join(staged, "prime"), os.path.join(work, "src"))
    link_tree(os.path.join(staged, "warmup"), os.path.join(work, "warmup"))
    link_tree(os.path.join(staged, "window"), os.path.join(work, "window"), window_files)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d))
    env = dict(
        os.environ,
        SPARK_DRIVER_MEMORY=f"{HEAP_MB}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=master[6:-1],
        TMPDIR=os.path.join(work, "tmp"),
        TZ="UTC",
        # the child, its JVM and the JVM's Python workers import vaero_spark
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", workload, "--work", work, "--src", os.path.join(work, "src"),
        "--warmup", os.path.join(work, "warmup"), "--window", os.path.join(work, "window"),
        "--master", master, "--trace", str(trace),
    ]
    adopt_orphans()
    samples = []
    # write back what staging and the previous run left dirty, so the disk
    # is not flushing it during this run's window
    os.sync()
    steal0, total0 = host_ticks()
    with open(os.path.join(work, "child.log"), "w") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            # memory once a second: reading PSS walks the page tables of the
            # whole tree, and sampling must stay a small load beside the child
            while proc.poll() is None:
                if time.time() - t_spawn > CHILD_TIMEOUT_S:
                    raise TimeoutError(f"child ran over {CHILD_TIMEOUT_S} s")
                _, mem = tree_usage(proc.pid)
                samples.append(mem)
                time.sleep(1.0)
        finally:
            exited = proc.poll() is not None
            if not exited:
                proc.kill()
            proc.wait()
            stop_tree(EXIT_GRACE_S if exited else 0)
    steal1, total1 = host_ticks()
    # a host whose hypervisor took CPU from this VM runs everything slower;
    # the share is printed so a slow run can be told from a slow program
    print(f"perfbench: host steal {100 * (steal1 - steal0) / max(1, total1 - total0):.1f}% "
          "of CPU time during the run", file=sys.stderr)
    if proc.returncode != 0:
        with open(os.path.join(work, "child.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"child exited {proc.returncode}:\n{tail}")
    with open(os.path.join(work, "child.json")) as f:
        rec = json.load(f)
    rec.update(t_spawn=t_spawn, mem_samples=samples)
    return rec


def end_to_end(workload: str, rec: dict, meta: dict, work: str) -> dict:
    """Set-up time, medians over the window's releases, and memory."""
    commits = commit_times(rec["spans"])
    epoch_of = file_epochs(os.path.join(work, "ckpt"))
    rels = rec["releases"]
    for r in rels:
        # every file of a release was read by an epoch that committed
        # before the query reported the release drained
        late = [n for n in r["files"] if commits.get(epoch_of.get(n), math.inf) > r["t_done"]]
        if late:
            raise RuntimeError(f"{len(late)} window files not committed when drained, e.g. {late[0]}")
    kturns = meta["file_turns"] * FILES_PER_TRIGGER / 1000
    walls = [r["t_done"] - r["t_release"] for r in rels]
    print(
        f"perfbench: {workload}: set-up {commits[0] - rec['t_spawn']:.1f} s, warm-up "
        f"{rels[0]['t_release'] - commits[0]:.1f} s, window {rels[-1]['t_done'] - rels[0]['t_release']:.1f} s "
        f"({len(rels)} releases of {1000 * kturns:.0f} turns: "
        + " ".join(f"{w:.2f}" for w in walls) + " s)",
        file=sys.stderr,
    )
    # a memory reading counts once it holds for two samples in a row (1 s
    # apart): while a JVM vforks a command the child shares its address
    # space, and a sample caught in that instant counts the heap twice
    mem = rec["mem_samples"]
    peak_mem = max(min(a, b) for a, b in zip(mem, mem[1:]))
    return {
        "setup_s": (commits[0] - rec["t_spawn"], "s"),
        "turns_per_s": (statistics.median(1000 * kturns / w for w in walls), "turns/s"),
        "cpu_s_per_kturn": (statistics.median(r["cpu_s"] / kturns for r in rels), "s"),
        "mem_outside_heap_mb": (peak_mem / 2**20 - HEAP_MB, "MB"),
        "heap_live_mb": (rec["heap_live_bytes"] / 2**20, "MB"),
    }


def check(workload: str, staged: str, work: str) -> tuple[int, int]:
    truth = pd.read_parquet(os.path.join(staged, "truth.parquet"))
    if workload == "drain":
        return reference.check_drain(truth, os.path.join(work, "sinks"))
    with open(os.path.join(work, "rows.json")) as f:
        rows = json.load(f)
    return reference.check_cep(truth, rows, CEP_LITERAL)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(RATE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops every process below it (finally in run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "vaero_spark", "streaming", "engine.py")):
        fail(f"no vaero_spark package under {ROOT}: run from a checkout of the repository")
    sys.path.insert(0, ROOT)

    staged = stage(args.workload, args.seed, args.seconds)
    with open(os.path.join(staged, "meta.json")) as f:
        meta = json.load(f)
    work = os.path.join(STATE, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        rec = run_child(args.workload, staged, work, args.trace, MASTER)
        attempted, failed = check(args.workload, staged, work)
        if args.trace:
            trace_path = os.path.join(STATE, "traces", f"{args.workload}-s{args.seed}.jsonl")
            metrics = layers.per_layer(args.workload, rec, meta, work, staged, trace_path)
            local1 = 0.0
            if args.workload == "drain":
                # single-thread baseline of the same job, on the first half
                # of the backlog so the traced run stays well inside 180 s
                half = meta["window_files"][: WINDOW_FILES // 2]
                shutil.rmtree(work)
                base = run_child(args.workload, staged, work, 0, "local[1]", half)
                local1 = end_to_end(args.workload, base, meta, work)["turns_per_s"][0]
            metrics["baseline.local1_turns_per_s"] = (local1, "turns/s")
        else:
            metrics = end_to_end(args.workload, rec, meta, work)
            metrics["ops_ok_frac"] = ((attempted - failed) / attempted, "ratio")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    missing = [k for k, (v, _) in metrics.items() if v is None or not math.isfinite(v)]
    if missing:
        fail(f"metrics without a finite value (failed turns: {failed}): {missing}", 1)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
