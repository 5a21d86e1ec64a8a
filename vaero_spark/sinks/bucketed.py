"""Bucketed-table layout for SHUFFLE-FREE repeated joins.

The 100 TB co-location technique the one-shot pipeline ops can't use:
when a table is joined on the same key again and again (a corpus
joined to its cluster manifest every curation cycle, transcripts to
per-conversation aggregates every analytics run), paying the shuffle
once AT WRITE TIME and never again beats re-shuffling per query.
``df.write.bucketBy(n, key)`` persists Spark's hash partitioning in the
table metadata; a join of two tables bucketed on the same key with the
same bucket count needs NO Exchange on either side — the scan itself
satisfies the join's required distribution (pinned in
``tests/test_bucketed.py`` by asserting the join plan is Exchange-free).

Why a table, not a path: bucket metadata lives in the catalog, so this
module works through ``saveAsTable``/``spark.table``. The sandbox's
in-memory catalog scopes table NAMES to the session (files persist in
the warehouse dir); on a real deployment the same two calls run against
the Hive/Glue/Iceberg catalog unchanged.

Sizing rule of thumb at scale: pick ``n_buckets`` so one bucket of the
LARGER table is a few hundred MB (e.g. 100 TB / 512 buckets is too
coarse; 100 TB / 65536 ≈ 1.6 GB — prefer 2^k counts so downstream
re-bucketing by a power-of-two factor can coalesce instead of
reshuffling). Sort-by the join key inside buckets to let the join run
as a zip-merge without an in-task sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def save_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` hash-bucketed (and per-bucket sorted) on ``key``.

    One shuffle now, zero shuffles for every future equi-join or
    aggregation on ``key`` between tables sharing the layout. Pass
    ``path`` to create an EXTERNAL table at that location (tests use a
    tmp dir; production points at the lake prefix). Read it back with
    ``spark.table(table)``: the scan carries the bucket distribution, so
    a join of two tables written with the same ``n_buckets`` compiles
    with no Exchange on either side.
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    w = df.write.mode(mode).bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)

