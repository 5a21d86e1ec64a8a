"""Measurement helpers shared by ``run.py``, ``child.py``, ``layers.py``
and the tests: the file → epoch map read from the checkpoint, epoch
commit times and process-tree walks and sampling from ``/proc``."""

from __future__ import annotations

import json
import os
import re

_LOG_NAME = re.compile(r"^(\d+)(\.compact)?$")


def _log_lines(path: str) -> list[str]:
    with open(path) as f:
        return [line for line in f.read().splitlines()[1:] if line.strip()]  # line 0 is "v1"


def file_epochs(ckpt: str) -> dict[str, int]:
    """``{file name: query batchId}`` for every file the query's file
    source has read.

    Two checkpoint logs are needed. ``sources/0`` assigns each file to a
    *source* batch; every tenth source batch is written as
    ``<n>.compact`` holding all earlier entries, and Spark may delete the
    deltas it replaced, so every file is read, compact or not. Source
    batches count only batches that brought files: a no-data batch (one
    that only advances the watermark) takes a query batchId but no source
    batch. ``offsets/<batchId>`` records the source's ``logOffset`` at
    each query batch, and a file belongs to the first query batch whose
    ``logOffset`` reaches its source batch."""
    source_batch: dict[str, int] = {}
    src_dir = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(src_dir):
        if _LOG_NAME.match(name):
            for line in _log_lines(os.path.join(src_dir, name)):
                entry = json.loads(line)
                source_batch[entry["path"].rsplit("/", 1)[-1]] = int(entry["batchId"])
    off_dir = os.path.join(ckpt, "offsets")
    log_offset = sorted(
        (int(name), json.loads(_log_lines(os.path.join(off_dir, name))[1])["logOffset"])
        for name in os.listdir(off_dir)
        if name.isdigit()
    )
    out = {}
    for name, s in source_batch.items():
        batch = next((b for b, off in log_offset if off >= s), None)
        if batch is not None:
            out[name] = batch
    return out


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return int(fields[1]), ticks / os.sysconf("SC_CLK_TCK")


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident pages, each shared page
    split among the processes that map it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    """Pids of every process below ``root``, zombies included."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            s = _stat(int(d))
            if s is not None:
                kids.setdefault(s[0], []).append(int(d))
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_usage(root: int, memory: bool = True) -> tuple[float, int | None]:
    """CPU seconds and resident bytes (None unless ``memory``) of ``root``
    and all its descendants. A process that ended was reaped by an
    ancestor in the tree, so its time sits in that ancestor's
    ``cutime``/``cstime``. Memory is the sum of PSS, not RSS: forked
    Python workers share most of their pages with the daemon they fork
    from, and a JVM that spawns a command briefly has a child mapping its
    whole heap; RSS would count those pages twice. Reading PSS walks the
    page tables (~50 ms for a 2 GB heap), so a caller that needs only CPU
    passes ``memory=False``."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            s = _stat(int(d))
            if s is not None:
                stats[int(d)] = s
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    cpu, mem, todo = 0.0, 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            cpu += stats[pid][1]
            mem += _pss(pid) if memory else 0
            todo.extend(kids.get(pid, []))
    return cpu, mem if memory else None


def commit_times(spans: list[dict]) -> dict[int, float]:
    """Epoch → return time of its last sink write, for epochs that every
    sink (every ``sink.write.<name>`` seen) has written."""
    writes = [s for s in spans if s["name"].startswith("sink.write.") and "end" in s]
    sinks = len({s["name"] for s in writes})
    ends: dict[int, list[float]] = {}
    for s in writes:
        ends.setdefault(s["epoch"], []).append(s["end"])
    return {e: max(v) for e, v in ends.items() if len(v) == sinks}
