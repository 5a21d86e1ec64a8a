#!/usr/bin/env python
"""Measure the applyInPandasWithState framework floor vs the real gates.

Runs, over the SAME gate stream input and drain harness
(``__spark_entry__._drain_gate``) as q_stream_counters, three variants:

- ``noop``: a state fn that consumes the iterator and emits one tiny row
  per group — the irreducible per-group Python invocation cost;
- ``counters``: the real routing_counters operator;
- ``sessions``: the real track_open_sessions operator.

If ``noop`` is close to the real ops, the gates' cost is the per-group
invocation overhead of the API itself (framework floor), not operator
logic — and operator-level tuning cannot move it.
"""
from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402
from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: E402


def main() -> None:
    import __spark_entry__ as entry
    from vaero_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        "profile_pandas_state",
        extra_conf={"spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        )},
    )
    inp = entry._gate_stream_input(spark, sf_dir, "plain")

    OUT = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("n", T.LongType()),
    ])
    STATE = T.StructType([T.StructField("n", T.LongType())])

    def noop_fn(key, pdf_iter, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"conv_id": [key[0]], "n": [n]})

    def build_noop(src):
        return (
            src.select("conv_id", "ts")
            .withWatermark("ts", "60 days")
            .groupBy("conv_id")
            .applyInPandasWithState(
                noop_fn, OUT, STATE, "update", GroupStateTimeout.NoTimeout
            )
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

    for name, build, mode in (
        ("noop", build_noop, "update"),
        ("counters", build_counters, "update"),
        ("sessions", build_sessions, "append"),
    ):
        sec, rows = drain(build, mode)
        print(json.dumps({"variant": name, "sec": sec, "out_rows": rows}), flush=True)


if __name__ == "__main__":
    main()
