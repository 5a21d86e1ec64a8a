#!/usr/bin/env python
"""Per-query measurement harness for optimization work (guide §1).

NOT the driver contract — ``bench.py`` is frozen for measurement; this
file exists so individual queries can be isolated, re-timed, and their
plans captured without touching the frozen harness.

Usage:
    python bench_extra.py q1 q2 ...            # time the named queries
    python bench_extra.py --repeat 3 q1        # repeat (same JVM)
    python bench_extra.py --explain q1         # dump explain('formatted')
    python bench_extra.py --all                # whole suite, bench order

Methodology mirrors bench.py's suite phase exactly: one local[N]
session (N = ``session.host_cpus()``), shuffle_partitions=max(cores,8),
RocksDB state store provider, a t_rename_delete warm-up through the
same noop path, then each query forced with a noop write. Output: one
JSON line per query on stdout.
"""
from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR_DEFAULT = "/root/testdata/sf0.1"


def _spark(cores: int):
    from vaero_spark.session import get_spark

    return get_spark(
        "vaero_bench_extra",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        extra_conf={"spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        )},
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--explain", action="store_true",
                    help="print explain('formatted') instead of timing")
    ap.add_argument("--no-warmup", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR_DEFAULT)
    from vaero_spark.session import host_cpus

    spark = _spark(host_cpus())
    qs = entry_mod.queries()
    names = list(qs) if args.all else args.names
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    if not args.no_warmup:
        qs["t_rename_delete"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    def _probe() -> float:
        """~0.4 s single-process md5 burn (Mh/s) — the bench.py churn
        marker: a depressed probe beside a timing flags host weather."""
        import hashlib

        acc = b"seed"
        t0 = time.perf_counter()
        for _ in range(400_000):
            acc = hashlib.md5(acc).digest()
        return round(0.4 / (time.perf_counter() - t0), 2)

    for name in names:
        if args.explain:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            print(f"=== {name} ===\n{buf.getvalue()}")
            continue
        for rep in range(args.repeat):
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 3)
            spark.sparkContext.setJobDescription(None)
            print(
                json.dumps(
                    {"query": name, "rep": rep, "sec": dt, "probe_mhps": _probe()}
                ),
                flush=True,
            )


if __name__ == "__main__":
    main()
