"""Engine-vs-oracle parity: every transform pipeline produces identical
events through (a) the pure-Python oracle interpreter (literal reference
semantics) and (b) the Spark compiler. Fixture: the reference's own
8-event random source (source_random.go) + the transcripts fixture."""

from __future__ import annotations

import json

import pytest

from vaero_spark.compiler import compile_batch
from vaero_spark.dsl import Vaero
from vaero_spark.testing.oracle import random_events_json, rows_as_json, run_plan


def _spark_events(spark, plan, sink="out"):
    compiled = compile_batch(spark, plan)
    df = rows_as_json(compiled.sinks[sink])
    return [r.value for r in df.collect()]


def _norm(events):
    out = []
    for e in events:
        try:
            out.append(json.dumps(json.loads(e), sort_keys=True))
        except (json.JSONDecodeError, TypeError):
            out.append(e)
    return sorted(out)


def _check(spark, build):
    v = build(Vaero().source("random"))
    plan = v.sink("stdout", name="out").plan()
    got = _spark_events(spark, plan)
    want = run_plan(plan, random_events_json())["out"]
    assert _norm(got) == _norm(want)


def test_add_scalar(spark):
    _check(spark, lambda v: v.add("newfield", 42).add("flag", True).add("s", "x"))


def test_delete(spark):
    _check(spark, lambda v: v.delete("f").delete("missing"))


def test_rename(spark):
    _check(spark, lambda v: v.rename("hostname", "host"))


def test_rename_missing_sets_null(spark):
    # rename.go:20 — missing path ⇒ new_path = null
    _check(spark, lambda v: v.rename("ghost", "ghost2"))


def test_filter_regexp(spark):
    _check(spark, lambda v: v.filter_regexp("severity", "info|debug"))


def test_filter_regexp_missing_field_matches_empty(spark):
    # gjson missing ⇒ "" ; pattern matching '' keeps all rows
    _check(spark, lambda v: v.filter_regexp("nope", "^$"))
    _check(spark, lambda v: v.filter_regexp("nope", "x"))  # drops all


def test_filter_on_bool_string_form(spark):
    # gjson renders true/false — filter on the bool field's string form
    _check(spark, lambda v: v.filter_regexp("t", "true"))


def test_mask(spark):
    _check(spark, lambda v: v.mask("msg", "[aeiou]", "*"))


def test_mask_group_expansion(spark):
    # Go $1 expansion (mask.go:25)
    _check(spark, lambda v: v.mask("msg", "(\\w+), I", "<$1>, I"))


def test_mask_missing_field_creates_empty(spark):
    # mask.go: gjson missing ⇒ "" masked ⇒ sjson.Set creates the field
    _check(spark, lambda v: v.mask("ghost", "x", "y"))


def test_parse_regexp_named_groups(spark):
    _check(spark, lambda v: v.parse_regexp("msg", "(?P<first>\\w+), (?P<rest>.*)"))


def test_parse_regexp_no_match_null_fills(spark):
    # documented divergence: reference panics (parse_regexp.go:25-30)
    _check(spark, lambda v: v.parse_regexp("msg", "(?P<num>[0-9]{9})"))


def test_select(spark):
    _check(spark, lambda v: v.select("msg"))


def test_chained_pipe_py_shape(spark):
    # pipelines/pipe.py: random → rename → add → stdout
    _check(spark, lambda v: v.rename("hostname", "host").add("newfield", 42))


def test_complex_chain(spark):
    _check(
        spark,
        lambda v: v.filter_regexp("severity", "info")
        .mask("msg", "o", "0")
        .parse_regexp("msg", "(?P<head>^\\w+)")
        .rename("severity", "level")
        .add("stage", "test"),
    )


def test_branch_isolation(spark):
    # complex_pipe.py shape: branches must not see each other's writes
    v = Vaero().source("random")
    v.add("branch", "a").sink("stdout", name="a")
    v.add("branch", "b").sink("stdout", name="b")
    v.sink("stdout", name="c")
    plan = v.plan()
    want = run_plan(plan, random_events_json())
    compiled = compile_batch(spark, plan)
    for name in ["a", "b", "c"]:
        got = [r.value for r in rows_as_json(compiled.sinks[name]).collect()]
        assert _norm(got) == _norm(want[name]), name


def test_post_sink_continuation(spark):
    # transformNode.go:58-62 — a mid-chain sink taps the stream; later ops continue
    v = Vaero().source("random").add("x", 1)
    tapped = v.sink("stdout", name="tap")
    tapped.add("y", 2).sink("stdout", name="end")
    plan = v.plan()
    want = run_plan(plan, random_events_json())
    compiled = compile_batch(spark, plan)
    assert "y" not in compiled.sinks["tap"].columns
    assert "y" in compiled.sinks["end"].columns
    for name in ["tap", "end"]:
        got = [r.value for r in rows_as_json(compiled.sinks[name]).collect()]
        assert _norm(got) == _norm(want[name]), name


def test_sample_deterministic(spark, transcripts_df):
    from vaero_spark.operators.transforms import hash_sample

    a = hash_sample(transcripts_df, 8, "text").count()
    b = hash_sample(transcripts_df.repartition(7), 8, "text").count()
    assert a == b  # partitioning-independent
    total = transcripts_df.count()
    assert 0.35 < a / total < 0.65
