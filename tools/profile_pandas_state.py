#!/usr/bin/env python
"""Measure the applyInPandasWithState framework floor vs the real gates.

Runs, over the SAME gate stream input and drain harness
(``__spark_entry__._drain_gate``) as q_stream_counters, three variants:

- ``noop``: a no-op step through the keyed-state core
  (``operators/state.keyed_state``) that only counts each group's rows
  and emits one row per group — the irreducible per-group cost of the
  API and the core;
- ``counters``: the real routing_counters operator;
- ``sessions``: the real track_open_sessions operator.

All three run through the same core, so "noop vs real" compares
operator logic on one call path: if ``noop`` is close to the real ops,
the gates' cost is the per-group invocation overhead (framework floor),
not operator logic — and operator-level tuning cannot move it.

One untimed ``noop`` drain runs first, so the session's warm-up (first
streaming query, JIT, Python-worker start) is not charged to the first
timed variant.
"""
from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from vaero_spark.operators.state import (  # noqa: E402
    DEFAULT_IDLE_TIMEOUT_S,
    _CounterStep,
    keyed_state,
)


class NoopStep(_CounterStep):
    """The routing-counter step with its logic removed: it counts rows."""

    def fold(self, acc, pdf, us):
        return (acc[0] + len(pdf), 0, 0, 0)


def main() -> None:
    import __spark_entry__ as entry
    from vaero_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile_pandas_state")
    inp = entry._gate_stream_input(spark, sf_dir, "plain")

    def build_noop(src):
        return keyed_state(
            src.select("conv_id", "ts").withWatermark("ts", "60 days").groupBy("conv_id"),
            NoopStep(DEFAULT_IDLE_TIMEOUT_S),
        )

    def build_counters(src):
        from vaero_spark.operators.state import routing_counters

        return routing_counters(src, watermark="60 days")

    def build_sessions(src):
        from vaero_spark.operators.state import track_open_sessions

        return track_open_sessions(src, gap_seconds=1800, watermark="60 days")

    def drain(build, mode):
        t0 = time.perf_counter()
        sink = entry._drain_gate(spark, build, mode=mode, pin=False, inp=inp)
        return round(time.perf_counter() - t0, 3), len(sink.rows())

    drain(build_noop, "update")  # untimed warm-up
    for name, build, mode in (
        ("noop", build_noop, "update"),
        ("counters", build_counters, "update"),
        ("sessions", build_sessions, "append"),
    ):
        sec, rows = drain(build, mode)
        print(json.dumps({"variant": name, "sec": sec, "out_rows": rows}), flush=True)


if __name__ == "__main__":
    main()
