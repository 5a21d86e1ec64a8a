"""Per-layer metrics of one traced run.

Everything is timed from outside the program:

- spans from ``child.py``'s wrappers (``session.get_spark``,
  ``engine.run_streaming_plan``, each ``sink.write.<branch>`` and the
  ``SinkFS`` marker commit inside it);
- child spans synthesized from each epoch's
  ``StreamingQueryProgress.durationMs`` parts;
- task metrics from the Spark event log the traced session writes.

Window metrics are medians over the epochs that read the window's
releases (the same window as the end-to-end metrics), unless the name
says otherwise. A layer a workload does not run reads 0. The merged spans are
written to ``.perfbench/traces/<workload>-s<seed>.jsonl``.
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime
from statistics import median

import pandas as pd

from measure import commit_times, file_epochs

# durationMs parts in the order MicroBatchExecution runs them
PARTS = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
UNACCOUNTED_TOLERANCE = 0.10  # the parts must cover 90% of triggerExecution


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def epoch_spans(progress: list[dict], first_id: int) -> list[dict]:
    """One span per epoch (``triggerExecution``) with one child per
    ``durationMs`` part, laid end to end from the trigger start."""
    spans = []
    for p in progress:
        d = p["durationMs"]
        start = _ts(p["timestamp"])
        top = {"id": first_id + len(spans), "name": "epoch", "epoch": p["batchId"], "parent": None,
               "start": start, "end": start + d.get("triggerExecution", 0) / 1000}
        spans.append(top)
        t = start
        for part in PARTS:
            if part in d:
                spans.append({"id": first_id + len(spans), "name": f"epoch.{part}", "epoch": p["batchId"],
                              "parent": top["id"], "start": t, "end": t + d[part] / 1000})
                t += d[part] / 1000
    return spans


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def self_times(spans: list[dict]) -> dict[tuple[str, int], float]:
    """``{(layer, epoch): self seconds}``: each span's duration minus the
    part of it that its children cover, summed per layer and epoch.
    Sink-write spans are linked to the ``addBatch`` span of their epoch."""
    by_id = {s["id"]: s for s in spans}
    add_batch = {s["epoch"]: s["id"] for s in spans if s["name"] == "epoch.addBatch"}
    children: dict[int, list[dict]] = {}
    for s in spans:
        parent = s["parent"]
        if s["name"].startswith("sink.write.") and s["epoch"] in add_batch:
            parent = add_batch[s["epoch"]]
        if parent is not None and parent in by_id:
            children.setdefault(parent, []).append(s)
    out: dict[tuple[str, int], float] = {}
    for s in spans:
        if s["epoch"] is None:
            continue
        kids = children.get(s["id"], [])
        own = (s["end"] - s["start"]) - _union([(k["start"], k["end"]) for k in kids])
        layer = "sink.write" if s["name"].startswith("sink.write.") else s["name"]
        out[(layer, s["epoch"])] = out.get((layer, s["epoch"]), 0.0) + own
    return out


def event_log_totals(log_dir: str, t0: float, t1: float) -> dict[str, float]:
    """Executor CPU, GC, shuffle bytes written, and the time and output
    bytes of Python workers, over tasks launched in ``[t0, t1]``. (Spark
    4.1 leaves "data sent to Python workers" at 0 for the pandas-state
    node, so the bytes returned stand in for it.)"""
    sql = {"time to run Python workers": ("python_s", 1000), "data returned from Python workers": ("python_bytes", 1)}
    totals = {"cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0.0, "python_s": 0.0, "python_bytes": 0.0}
    paths = [os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names]
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                if not t0 <= info.get("Launch Time", 0) / 1000 <= t1:
                    continue
                totals["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                totals["gc_s"] += m.get("JVM GC Time", 0) / 1000
                totals["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") in sql:
                        key, div = sql[acc["Name"]]
                        totals[key] += float(acc.get("Update", 0)) / div
    return totals


def per_layer(workload: str, rec: dict, meta: dict, work: str, staged: str, trace_path: str) -> dict:
    progress = rec["progress"]
    t_release = rec["releases"][0]["t_release"]
    due = {n: r["t_release"] for r in rec["releases"] for n in r["files"]}
    commits = commit_times(rec["spans"])
    epoch_of = file_epochs(os.path.join(work, "ckpt"))
    # the epochs that read the window files; later no-data epochs (the
    # watermark catching up) are not part of the window
    first = min(epoch_of[n] for n in meta["window_files"])
    last = max(epoch_of[n] for n in meta["window_files"])
    t_end = commits[last]
    window = [p for p in progress if first <= p["batchId"] <= last]
    wids = {p["batchId"] for p in window}
    spans = rec["spans"] + epoch_spans(progress, len(rec["spans"]))
    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
    with open(trace_path, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")

    def dur(part: str) -> float:
        return median([p["durationMs"].get(part, 0) / 1000 for p in window])

    def span_s(name: str) -> float:
        return next(s["end"] - s["start"] for s in rec["spans"] if s["name"] == name)

    selfs = self_times(spans)

    def self_s(layer: str) -> float:
        return median([selfs.get((layer, e), 0.0) for e in wids])

    trig = [p["durationMs"]["triggerExecution"] / 1000 for p in window]
    unaccounted = [
        1 - sum(p["durationMs"].get(k, 0) for k in PARTS) / p["durationMs"]["triggerExecution"]
        for p in window
    ]
    if median(unaccounted) > UNACCOUNTED_TOLERANCE:
        print(f"perfbench: durationMs parts cover only {1 - median(unaccounted):.0%} of "
              "triggerExecution", file=sys.stderr)
    t_last = max(_ts(p["timestamp"]) + t for p, t in zip(window, trig))
    backlog = [
        sum(t_due <= _ts(p["timestamp"]) < commits.get(epoch_of.get(n), float("inf"))
            for n, t_due in due.items())
        for p in window
    ]
    truth = pd.read_parquet(os.path.join(staged, "truth.parquet"), columns=["conv_id"])
    groups = []
    for e in wids:
        names = [n for n, b in epoch_of.items() if b == e and n in meta["file_rows"]]
        if names:
            idx = [i for n in names for i in range(*meta["file_rows"][n])]
            groups.append(truth["conv_id"].iloc[idx].nunique())
    writes = [s for s in rec["spans"] if s["name"].startswith("sink.write.") and s["epoch"] in wids]
    rows_out = sum(s.get("rows", 0) for s in writes)
    files_per_epoch = [
        sum(v["files"] for name in ("errors", "rest") for v in _manifest(work, name, e)["partitions"].values())
        for e in wids
    ] if workload == "drain" else [0]
    ops = [o for p in window for o in p.get("stateOperators", [])]
    ev = event_log_totals(os.path.join(work, "eventlog"), t_release, t_end)
    kturns = meta["window_turns"] / 1000
    return {
        "session.start_s": (span_s("session.get_spark"), "s"),
        "engine.query_start_s": (span_s("engine.run_streaming_plan"), "s"),
        "engine.first_epoch_s": (progress[0]["durationMs"]["triggerExecution"] / 1000, "s"),
        "engine.epochs": (len(window), "count"),
        "engine.epoch_s.p50": (median(trig), "s"),
        "engine.epoch_s.max": (max(trig), "s"),
        "engine.turns_per_epoch": (median([p["numInputRows"] for p in window if p["numInputRows"]]), "count"),
        "engine.idle_frac": (1 - sum(trig) / (t_last - min(t_release, _ts(window[0]["timestamp"]))), "ratio"),
        "epoch.unaccounted_frac": (median(unaccounted), "ratio"),
        "source.latest_offset_s": (dur("latestOffset"), "s"),
        "source.get_batch_s": (dur("getBatch"), "s"),
        "source.backlog_files_max": (max(backlog), "count"),
        "plan.query_planning_s": (dur("queryPlanning"), "s"),
        "ckpt.wal_commit_s": (dur("walCommit"), "s"),
        "ckpt.commit_offsets_s": (dur("commitOffsets"), "s"),
        "epoch.add_batch_s": (dur("addBatch"), "s"),
        "self.epoch_s": (self_s("epoch"), "s"),
        "self.add_batch_s": (self_s("epoch.addBatch"), "s"),
        "self.sink_write_s": (self_s("sink.write"), "s"),
        "sink.write_s.p50": (median([s["end"] - s["start"] for s in writes]), "s"),
        "sink.commit_s": (median([selfs.get(("sink.commit.partition_stats", e), 0.0)
                                  + selfs.get(("sink.commit.write_json_atomic", e), 0.0) for e in wids]), "s"),
        "sink.files_per_epoch": (median(files_per_epoch), "count"),
        "sink.rows_out": (rows_out, "count"),
        "exec.cpu_s_per_kturn": (ev["cpu_s"] / kturns, "s"),
        "exec.gc_s": (ev["gc_s"], "s"),
        "shuffle.write_bytes_per_turn": (ev["shuffle_bytes"] / meta["window_turns"], "B"),
        "python.bytes_returned_per_turn": (ev["python_bytes"] / meta["window_turns"], "B"),
        "python.run_s_per_epoch": (ev["python_s"] / len(window), "s"),
        "state.groups_per_epoch": (median(groups) if groups else 0, "count"),
        "state.rows_total": (max((o["numRowsTotal"] for o in ops), default=0), "count"),
        "state.memory_mb": (max((o["memoryUsedBytes"] for o in ops), default=0) / 2**20, "MB"),
        "state.rows_updated": (median([sum(o["numRowsUpdated"] for o in p.get("stateOperators", []))
                                       for p in window]), "count"),
        "state.commit_s": (median([sum(o.get("commitTimeMs", 0) for o in p.get("stateOperators", []))
                                   for p in window]) / 1000, "s"),
        "state.rows_dropped_by_watermark": (sum(o.get("numRowsDroppedByWatermark", 0) for o in ops), "count"),
        "gen.out_of_order_share": (meta["out_of_order_share"], "ratio"),
    }


def _manifest(work: str, sink: str, epoch: int) -> dict:
    with open(os.path.join(work, "sinks", sink, "_epochs", f"{epoch}.json")) as f:
        return json.load(f)
