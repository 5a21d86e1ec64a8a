"""The reference's example pipelines, one-for-one (its de-facto test
suite — ``/root/reference/pipelines/*.py``; the repo has no automated
tests, SURVEY §5). Each test re-expresses one example through our DSL
and asserts either oracle parity (batch-expressible DAGs) or the full
integration behavior (push/pull sources, secrets, sink caps)."""

from __future__ import annotations

import json
import stat
import textwrap

import pytest
from pyspark.sql import functions as F

from vaero_spark.compiler import compile_batch, rows_as_json
from vaero_spark.dsl import Vaero
from vaero_spark.oracle import run_plan
from vaero_spark.sinks.writers import default_sink_factory
from vaero_spark.sources.random_events import random_events_json
from vaero_spark.streaming.engine import run_streaming_plan


def _norm(events):
    out = []
    for e in events:
        try:
            out.append(json.dumps(json.loads(e), sort_keys=True))
        except (json.JSONDecodeError, TypeError):
            out.append(e)
    return sorted(out)


def _assert_all_sinks_match(spark, plan):
    compiled = compile_batch(spark, plan)
    want = run_plan(plan, random_events_json())
    assert set(compiled.sinks) == set(want)
    for name, df in compiled.sinks.items():
        got = [r.value for r in rows_as_json(df).collect()]
        assert _norm(got) == _norm(want[name]), name


def test_pipe_py(spark):
    """pipelines/pipe.py: random → rename → add → stdout."""
    v = (
        Vaero(interval=3)
        .source("random")
        .rename("hostname", "host")
        .add("newfield", "Hello, world!")
        .sink("stdout", name="out", batch_max_time=3)
    )
    _assert_all_sinks_match(spark, v.plan())


def test_route_pipe_py(spark):
    """pipelines/route_pipe.py: fork after rename — the first sink must
    NOT see the branch's added field (branch copy isolation,
    transformNode.go:38-56)."""
    v = Vaero(interval=3).source("random").rename("hostname", "host")
    v.sink("stdout", name="plain", batch_max_time=5)
    v.add("newfield", "Hello, world!").sink("stdout", name="added", batch_max_time=3)
    plan = v.plan()
    _assert_all_sinks_match(spark, plan)
    compiled = compile_batch(spark, plan)
    assert "newfield" not in compiled.sinks["plain"].columns
    assert "newfield" in compiled.sinks["added"].columns


def test_complex_pipe_py(spark):
    """pipelines/complex_pipe.py: the 4-way nested-branch DAG with 5
    sinks — every sink's events equal the oracle interpreter's."""
    vs = Vaero().source("random")
    result = vs.add("newfield", 42)
    result2 = result.delete("severity").rename("hostname", "myhost")
    result.sink("stdout", name="s1", batch_max_time=3)
    result2.sink("stdout", name="s2", batch_max_time=3)
    result2.rename("msg", "mymessage").sink("datadog", name="s3", batch_max_time=3)
    result3 = result2.add("author", "Douglas Adams").add(
        "title", "Hitchhiker's Guide to the Galaxy"
    )
    result3.rename("severity", "myseverity").sink("elastic", name="s4", batch_max_time=3)
    result.add("author", "Stan Lee").add("title", "Spiderman").sink(
        "splunk", name="s5", batch_max_time=3
    )
    _assert_all_sinks_match(spark, vs.plan())


def test_http_pipe_py(spark, tmp_path):
    """pipelines/http_pipe.py: http_server push source → add → sink with
    an option() modifier; drive it with a real POST."""
    import urllib.request

    v = (
        Vaero()
        .source(
            "http_server",
            port=0,
            endpoint="/log",
            spool_dir=str(tmp_path / "spool"),
            schema="hostname string, msg string",
        )
        .add("newfield", "Hello, world!")
        .sink("memory", name="out")
        .option("batch_max_time", 2)
    )
    plan = v.plan()
    from vaero_spark.sinks.writers import MemorySink

    sink = MemorySink()
    pipe = run_streaming_plan(
        spark, plan, str(tmp_path / "ckpt"), sink_factory=lambda n, node: sink
    )
    try:
        body = json.dumps([{"hostname": "box1", "msg": "hello"}]).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{plan.root.args['port']}/log", data=body, method="POST"
        )
        urllib.request.urlopen(req)
        pipe.process_all()
    finally:
        pipe.stop()
    rows = sink.rows()
    assert len(rows) == 1
    assert rows[0].hostname == "box1" and rows[0].newfield == "Hello, world!"
    assert rows[0].remoteaddr.startswith("127.0.0.1:")


def test_okta_pipe_py(spark, tmp_path):
    """pipelines/okta_pipe.py, end to end: cursor-paginated source +
    option(interval) + option_file(toml) + secret(script) + add +
    nested filter_regexp + nested mask + s3 sink with batch caps and
    timestamp_key=published."""
    # --- okta-shaped fixture events (nested actor struct) ---
    rows = [
        {
            "actor": {
                "id": f"00u73{i}",
                "alternateId": f"user{i}@corp.example",
            }
            if i % 2 == 0
            else {"id": f"00x99{i}", "alternateId": f"svc{i}@corp.example"},
            "published": f"2024-03-01T00:00:{i:02d}.000000",
            "eventType": "user.session.start",
        }
        for i in range(20)
    ]
    toml = tmp_path / "okta.toml"
    toml.write_text(
        'name = "okta1"\nmax_calls_per_period = 30\nlimit_period = 60\nmax_retries = 5\n'
    )
    fetcher = tmp_path / "aws_secrets.py"
    fetcher.write_text(
        textwrap.dedent(
            """\
            #!/usr/bin/env python3
            import json, sys
            pairs = json.loads(sys.stdin.read())
            out = {}
            for pair in pairs:
                for secret_name, arg_name in pair.items():
                    out[arg_name] = f"{secret_name}-resolved"
            print(json.dumps(out))
            """
        )
    )
    fetcher.chmod(fetcher.stat().st_mode | stat.S_IEXEC)

    from vaero_spark.sources.paginated_api import pages_from_rows

    v = (
        Vaero()
        .source(
            "okta",
            fetch_page=pages_from_rows(rows, page_size=7, event_time_key="published"),
            spool_dir=str(tmp_path / "spool"),
            cursor_path=str(tmp_path / "cursor.json"),
            event_time_key="published",
            schema=(
                "actor struct<id string, alternateId string>, "
                "published string, eventType string"
            ),
        )
        .option("interval", 0.1)
        .option_file(str(toml))
        .secret(
            str(fetcher),
            [{"okta_token": "token"}, {"okta_host": "host"}],
            cache_time_seconds=2,
        )
        .add("newfield", "Hello, world!")
        .filter_regexp("actor.id", "00u73*")
        .mask("actor.alternateId", "^[^@]+", "MASKED")
        .sink("s3", name="out", timestamp_key="published")
        .option("batch_max_bytes", 50_000)
        .option("batch_max_time", 10)
    )
    plan = v.plan()
    pipe = run_streaming_plan(
        spark,
        plan,
        str(tmp_path / "ckpt"),
        sink_factory=default_sink_factory(str(tmp_path / "sinks")),
    )
    try:
        import time

        deadline = time.time() + 30
        while time.time() < deadline and not list((tmp_path / "spool").glob("*.jsonl")):
            time.sleep(0.1)
        pipe.process_all()
    finally:
        pipe.stop()

    # secrets were executed and injected (sourceNode.go:180-184)
    assert plan.root.args["token"] == "okta_token-resolved"
    assert plan.root.args["host"] == "okta_host-resolved"
    # toml merged (stream.py:90-95)
    assert plan.root.args["max_calls_per_period"] == 30

    out = pipe.sinks["out"].read_committed(spark).collect()
    assert len(out) == 10  # only the 00u73* actors survive the filter
    for r in out:
        assert r.actor.id.startswith("00u73")
        assert r.actor.alternateId.startswith("MASKED@")
        assert r.newfield == "Hello, world!"
        assert r.prefix.startswith("2024/03/")  # strftime prefix on published


def test_spec_file_lifecycle(spark, tmp_path):
    """The reference's `vaero add <spec.py>` entry: the spec prints its
    task-graph JSON (stdout = the IR channel, stream.py:127-132 /
    cmd/util.go:192-210); the engine decodes and runs it with
    exactly-once sinks."""
    from jobs.run_pipeline import run_spec
    from vaero_spark.testing.fixtures import write_transcripts_parquet

    src = tmp_path / "src"
    write_transcripts_parquet(str(src), n_files=2, n_turns=200, n_convs=5, seed=41)
    spec = tmp_path / "my_pipe.py"
    spec.write_text(
        textwrap.dedent(
            f"""\
            import sys
            sys.path.insert(0, "/root/repo")
            from vaero_spark.dsl import Vaero

            v = (
                Vaero()
                .source("transcripts", path={str(src)!r}, max_files_per_trigger=2)
                .filter_regexp("role", "^user$")
                .add("route", "users")
                .sink("s3", name="out")
            )
            v.start()
            """
        )
    )
    pipe = run_spec(spark, str(spec), str(tmp_path / "sinks"), str(tmp_path / "ckpt"))
    pipe.process_all()
    pipe.stop()
    out = pipe.sinks["out"].read_committed(spark)
    want = spark.read.parquet(str(src)).filter(F.col("role") == "user").count()
    assert out.count() == want
    assert out.select("route").distinct().first().route == "users"

    # a spec that fails: its stderr tail is in the error, and no query starts
    bad = tmp_path / "bad_pipe.py"
    bad.write_text("raise SystemExit('no such source: kafka')\n")
    with pytest.raises(ValueError, match="failed: no such source: kafka"):
        run_spec(spark, str(bad), str(tmp_path / "bad_sinks"), str(tmp_path / "bad_ckpt"))
    assert not (tmp_path / "bad_ckpt").exists()


def test_replay_pipe_py(spark, tmp_path):
    """pipelines/replay_pipe.py: replay a stored batch back through the
    engine into a re-prefixed sink (backfill pattern): add a replay tag,
    write under filename_prefix 'replay/%Y/%m/%d'."""
    from vaero_spark.testing.fixtures import write_transcripts_parquet

    src = tmp_path / "src"
    write_transcripts_parquet(str(src), n_files=2, n_turns=300, n_convs=8, seed=37)
    v = (
        Vaero(interval=1200)
        .source("transcripts", path=str(src), max_files_per_trigger=2)
        .add("replay", True)
        .sink("s3", name="out", filename_prefix="replay/%Y/%m/%d")
        .option("batch_max_bytes", 50_000)
        .option("batch_max_time", 10)
    )
    pipe = run_streaming_plan(
        spark,
        v.plan(),
        str(tmp_path / "ckpt"),
        sink_factory=default_sink_factory(str(tmp_path / "sinks")),
    )
    pipe.process_all()
    pipe.stop()
    out = pipe.sinks["out"].read_committed(spark)
    assert out.count() == spark.read.parquet(str(src)).count()
    prefixes = [r.prefix for r in out.select("prefix").distinct().collect()]
    assert prefixes and all(p.startswith("replay/2024/") for p in prefixes)
    assert out.filter(~F.col("replay")).count() == 0
