"""Property-based engine-vs-oracle parity (SURVEY.md §5.5).

Hypothesis generates random op chains over random events; both the
Spark compiler and the pure-Python oracle interpreter must produce the
same event multiset. Regexes are drawn from the documented common
subset (RE2 ∩ Java ∩ Python — no backrefs, no lookaround), which is the
engine's supported surface.
"""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from vaero_spark.compiler import compile_batch
from vaero_spark.dsl import Vaero
from vaero_spark.plans.plan import OpNode, Plan
from vaero_spark.testing.oracle import rows_as_json, run_plan

FIELDS = ["hostname", "msg", "severity", "f", "t"]
# regex surface: literals, classes, quantifiers, alternation, anchors
REGEXES = [
    "error",
    "^(web|db)",
    "[0-9]+",
    "o.t",
    "(?:a|b)+x?",
    "host[a-z]*[0-9]$",
    "^$",
    "a{2,3}",
]
VALUES = [42, True, "x", 3.5, "with space", ""]

_op = st.one_of(
    st.tuples(st.just("add"), st.sampled_from(FIELDS + ["newf"]), st.sampled_from(VALUES)),
    st.tuples(st.just("delete"), st.sampled_from(FIELDS + ["ghost"])),
    st.tuples(st.just("rename"), st.sampled_from(FIELDS + ["ghost"]), st.sampled_from(["r1", "r2"])),
    st.tuples(st.just("filter_regexp"), st.sampled_from(FIELDS), st.sampled_from(REGEXES)),
    st.tuples(st.just("mask"), st.sampled_from(FIELDS), st.sampled_from(REGEXES), st.sampled_from(["<X>", "", "$0!"])),
    st.tuples(st.just("parse_regexp"), st.sampled_from(FIELDS), st.sampled_from(["(?<word>[a-z]+)", "(?<num>[0-9]+)"])),
)

_event = st.fixed_dictionaries(
    {
        "hostname": st.sampled_from(["web01", "db02", "app3"]),
        "msg": st.text(alphabet="abco 019$^", max_size=12),
        "severity": st.sampled_from(["info", "warn", "error"]),
        "f": st.integers(min_value=-5, max_value=99),
        "t": st.booleans(),
    }
)


def _build_plan(ops) -> Plan:
    v = Vaero().source("random")
    for op in ops:
        getattr(v, op[0])(*op[1:])
    return v.sink("stdout", name="out").plan()


def _norm(events):
    out = []
    for e in events:
        try:
            out.append(json.dumps(json.loads(e), sort_keys=True))
        except (json.JSONDecodeError, TypeError):
            out.append(e)
    return sorted(out)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(ops=st.lists(_op, min_size=1, max_size=4), events=st.lists(_event, min_size=1, max_size=6))
def test_random_chain_parity(spark, ops, events):
    plan = _build_plan(ops)
    event_strs = [json.dumps(e) for e in events]

    # oracle side
    want = run_plan(plan, event_strs)["out"]

    # spark side: inject the same events via a JSON-inferred DataFrame
    def resolver(s, node: OpNode):
        return s.read.json(s.sparkContext.parallelize(event_strs, 2))

    compiled = compile_batch(spark, plan, source_resolver=resolver)
    got = [r.value for r in rows_as_json(compiled.sinks["out"]).collect()]
    assert _norm(got) == _norm(want)
