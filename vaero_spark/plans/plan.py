"""Logical pipeline plan (the engine IR).

The reference serializes its pipeline DSL to a JSON task-graph array
where a nested array denotes a branch (``/root/reference/vaero/
stream.py:141-162``) and decodes it into ``OpTask`` nodes
(``/root/reference/cmd/util.go:508-538``). Our IR keeps that exact
JSON shape for parity, but is consumed by a *compiler* into a single
Catalyst logical plan instead of being interpreted per event.

Node shape: ``{"type": "source"|"tn"|"sink", "op": str, "args": {...}}``;
branches are nested lists appended after the node they fork from.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any


@dataclass
class OpNode:
    type: str  # "source" | "tn" | "sink"
    op: str
    args: dict[str, Any] = field(default_factory=dict)
    children: list["OpNode"] = field(default_factory=list)

    def to_dict(self) -> dict[str, Any]:
        return {"type": self.type, "op": self.op, "args": dict(self.args)}


@dataclass
class Plan:
    """A rooted op DAG (tree: one source, fan-out branches)."""

    root: OpNode

    def serialize(self) -> list[Any]:
        """Depth-first list; >1 child ⇒ each child chain becomes a nested
        sub-array (reference ``stream.py:141-162`` shape)."""
        return _chain_to_list(self.root)

    def to_json(self) -> str:
        return json.dumps(self.serialize())


def _chain_to_list(node: OpNode) -> list[Any]:
    out: list[Any] = []
    cur: OpNode | None = node
    while cur is not None:
        out.append(cur.to_dict())
        if len(cur.children) == 0:
            cur = None
        elif len(cur.children) == 1:
            cur = cur.children[0]
        else:
            for child in cur.children:
                out.append(_chain_to_list(child))
            cur = None
    return out


def plan_fingerprint(plan: Plan) -> str:
    """Semantic fingerprint for checkpoint compatibility (SURVEY §3:
    "resume must validate plan compatibility"). Spark's checkpoint only
    protects offsets and state-store schema — it happily resumes a
    query whose TRANSFORMS changed, silently altering semantics
    mid-stream. The fingerprint hashes the op graph's semantics-bearing
    parts and skips the volatile ones:

    - keys starting with ``_`` (live handles injected at resolve time),
    - arg names filled by a ``secret`` spec (values rotate legitimately;
      the spec itself — command, names, cadence — IS hashed),
    - non-JSON-serializable values (callables like ``fetch_page``) —
      hashed by their fully-qualified name instead, not their identity.
    """
    import hashlib

    def norm_node(node: OpNode) -> dict:
        secret_args = set()
        spec = node.args.get("secret")
        if isinstance(spec, dict):
            for pair in spec.get("secrets", []):
                secret_args.update(pair.values())
        args = {}
        for k, v in sorted(node.args.items()):
            if k.startswith("_") or k in secret_args:
                continue
            try:
                json.dumps(v)
            except TypeError:
                v = getattr(v, "__qualname__", type(v).__name__)
            args[k] = v
        return {
            "type": node.type,
            "op": node.op,
            "args": args,
            "children": [norm_node(c) for c in node.children],
        }

    canon = json.dumps(norm_node(plan.root), sort_keys=True)
    return hashlib.sha256(canon.encode()).hexdigest()[:32]


def task_graph_from_stdout(stdout: str) -> str:
    """Extract the task-graph line from a spec subprocess's stdout (the
    IR channel, ``vaero/stream.py:127-132`` / ``cmd/util.go:192-210``):
    the LAST line that parses as a JSON list — never blindly the last
    line, since a spec (or a library it imports) may print after
    ``Vaero(...)....start()``. Raises ValueError when no such line
    exists. Shared by every entry point that runs a spec
    (``jobs/run_pipeline.py``, ``jobs/vaeroctl.py``)."""
    for line in reversed(stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("["):
            try:
                if isinstance(json.loads(line), list):
                    return line
            except json.JSONDecodeError:
                continue
    raise ValueError(
        "spec printed no task-graph JSON line "
        "(expected Vaero(...)....start() to print a JSON list)"
    )


def plan_from_json(text: str) -> Plan:
    """Decode the JSON array form back into an OpNode tree (the analog of
    the reference's ``genTaskGraph``, ``cmd/util.go:508-538``)."""
    arr = json.loads(text)
    root = _list_to_chain(arr)
    if root is None:
        raise ValueError("empty plan")
    return Plan(root)


def _list_to_chain(arr: list[Any]) -> OpNode | None:
    head: OpNode | None = None
    tail: OpNode | None = None
    i = 0
    while i < len(arr):
        item = arr[i]
        if isinstance(item, dict):
            node = OpNode(item["type"], item["op"], dict(item.get("args", {})))
            if tail is None:
                head = node
            else:
                tail.children.append(node)
            tail = node
            i += 1
        else:  # nested list = branch chains attached to current tail
            if tail is None:
                raise ValueError("branch with no parent node")
            while i < len(arr) and isinstance(arr[i], list):
                child = _list_to_chain(arr[i])
                if child is not None:
                    tail.children.append(child)
                i += 1
            break
    return head
