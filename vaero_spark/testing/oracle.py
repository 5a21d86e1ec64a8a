"""Pure-Python oracle interpreter — TEST-ONLY.

Interprets a pipeline plan over a list of JSON-string events with the
reference's literal per-event semantics (gjson/sjson path rewrites,
its ``transform/*.go`` and ``execute/transformNode.go``).
The pytest parity suite runs every pipeline through this oracle AND the
Spark compiler and asserts equal output. Never used in the data path:
:func:`random_events_json` is the oracle's input form of the fixture
source, and :func:`rows_as_json` renders the compiler's sink frames in
the oracle's output form.
"""

from __future__ import annotations

import json
import re
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vaero_spark.plans.plan import OpNode, Plan
from vaero_spark.sources.random_events import random_events_rows


def to_python_regex(pattern: str) -> str:
    """Normalize to Python syntax (named groups ``(?P<name>...)``)."""
    return re.sub(r"\(\?<([A-Za-z][A-Za-z0-9_]*)>", r"(?P<\1>", pattern)


def random_events_json(batch: int = 0) -> list[str]:
    """JSON-string form of ``random_events_rows`` for the interpreter."""
    out = []
    for host, t, f, msg, sev, ts in random_events_rows(batch):
        out.append(
            json.dumps(
                {"hostname": host, "t": t, "f": f, "msg": msg, "severity": sev, "timestamp": ts},
                separators=(", ", ": "),
            )
        )
    return out


def rows_as_json(df: DataFrame) -> DataFrame:
    """Render rows back to JSON strings (for parity with the oracle's
    event-string output)."""
    if df.columns == ["value"]:
        return df
    # keep null fields: the oracle's sjson semantics serialize them
    return df.select(
        F.to_json(F.struct(*df.columns), {"ignoreNullFields": "false"}).alias("value")
    )


# ---- gjson/sjson-style path ops over parsed dicts ----

def _get(obj: Any, path: str) -> Any:
    cur = obj
    for p in path.split("."):
        if isinstance(cur, dict) and p in cur:
            cur = cur[p]
        else:
            return None
    return cur


def _set(obj: dict, path: str, value: Any) -> None:
    parts = path.split(".")
    cur = obj
    for p in parts[:-1]:
        if not isinstance(cur.get(p), dict):
            cur[p] = {}
        cur = cur[p]
    cur[parts[-1]] = value


def _delete(obj: dict, path: str) -> None:
    parts = path.split(".")
    cur = obj
    for p in parts[:-1]:
        if not isinstance(cur.get(p), dict):
            return
        cur = cur[p]
    cur.pop(parts[-1], None)


def _string_form(v: Any) -> str:
    """gjson ``value.String()``: missing/null ⇒ '', bools lowercase,
    numbers via repr without trailing .0 for ints."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float) and v == int(v):
        return str(int(v))
    if isinstance(v, (dict, list)):
        return json.dumps(v, separators=(",", ":"))
    return str(v)


def _go_repl(replace_expr: str) -> str:
    """Go ``$1``/``${name}`` expansion → Python ``\\1``/``\\g<name>``."""
    out = re.sub(r"\$\{(\w+)\}", r"\\g<\1>", replace_expr)
    # \g<N> (not \N): plain \0 is an octal NUL escape in Python repls,
    # and \10 would parse as group 10 — Go/Java mean group 1 then '0'
    out = re.sub(r"\$(\d+)", r"\\g<\1>", out)
    out = re.sub(r"\$([A-Za-z_]\w*)", r"\\g<\1>", out)
    return out


# ---- per-op interpreters (lists of parsed events in, lists out) ----

def _apply_tn(events: list[Any], op: str, args: dict) -> list[Any]:
    if op == "add":
        for e in events:
            if isinstance(e, dict):
                _set(e, args["path"], args["value"])
        return events
    if op == "delete":
        for e in events:
            if isinstance(e, dict):
                _delete(e, args["path"])
        return events
    if op == "rename":
        for e in events:
            if isinstance(e, dict):
                _set(e, args["new_path"], _get(e, args["path"]))
                _delete(e, args["path"])
        return events
    if op == "filter_regexp":
        rx = re.compile(to_python_regex(args["regexp"]))
        return [e for e in events if rx.search(_string_form(_get(e, args["path"])))]
    if op == "mask":
        rx = re.compile(to_python_regex(args["regexp"]))
        repl = _go_repl(args["replace_expr"])
        for e in events:
            if isinstance(e, dict):
                _set(e, args["path"], rx.sub(repl, _string_form(_get(e, args["path"]))))
        return events
    if op == "parse_regexp":
        rx = re.compile(to_python_regex(args["regexp"]))
        for e in events:
            if isinstance(e, dict):
                m = rx.search(_string_form(_get(e, args["path"])))
                for name in rx.groupindex:
                    # reference panics on no-match; we null-fill (documented divergence)
                    _set(e, name, m.group(name) if m else None)
        return events
    if op == "select":
        return [_string_form(_get(e, args["path"])) for e in events]
    if op == "sample":
        import hashlib

        hexes = "0123456789abcdef"[: args["rate_16ths"]]
        key = args.get("key", "text")
        return [
            e
            for e in events
            if hashlib.md5(_string_form(_get(e, key)).encode()).hexdigest()[-1] in hexes
        ]
    raise NotImplementedError(f"oracle op {op}")


def run_plan(plan: Plan, events: list[str]) -> dict[str, list[str]]:
    """Interpret the plan over JSON-string events. Returns sink name →
    list of serialized output events, mirroring branch copy-isolation
    (``execute/transformNode.go:38-56``: each branch gets a deep copy)
    and post-sink continuation (``:58-62``)."""
    parsed = [json.loads(e) for e in events]
    sinks: dict[str, list[str]] = {}
    _walk(plan.root, parsed, sinks, [0])
    return sinks


def _serialize(e: Any) -> str:
    if isinstance(e, str):
        return e
    return json.dumps(e, separators=(", ", ": "))


def _walk(node: OpNode | None, events: list[Any], sinks: dict[str, list[str]], sink_ctr: list[int]) -> None:
    while node is not None:
        if node.type == "tn":
            events = _apply_tn(events, node.op, node.args)
        elif node.type == "sink":
            name = node.args.get("name") or f"{node.op}#{sink_ctr[0]}"
            sink_ctr[0] += 1
            sinks.setdefault(name, []).extend(_serialize(e) for e in events)
        # source nodes: pass-through (events supplied by caller)
        children = node.children
        if len(children) <= 1:
            node = children[0] if children else None
        else:
            import copy

            # copies are taken BEFORE any branch runs; branch 0 gets the
            # live list (execute/transformNode.go:38-56)
            branch_inputs = [events] + [copy.deepcopy(events) for _ in children[1:]]
            for child, branch_events in zip(children, branch_inputs):
                _walk(child, branch_events, sinks, sink_ctr)
            return
