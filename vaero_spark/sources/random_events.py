"""The reference's built-in fixture source, deterministic version.

Replicates the fixed 8-event batch of ``/root/reference/integrations/
sources/source_random.go:16-33`` (hostnames, booleans, movie-quote
msgs, severities) with a pinned base timestamp instead of
``time.Now()`` so tests are reproducible (FIXTURES.md §2).
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_BASE = datetime(2024, 1, 1, 0, 0, 0, tzinfo=timezone.utc)

_EVENTS = [
    ("Alderaan", "Toto, I've got a feeling we're not in Kansas anymore", "info"),
    ("Bantha", "Here's looking at you, kid", "debug"),
    ("Cantina", "Go ahead, make my day", "alert"),
    ("Dagobah", "The stuff that dreams are made of", "warning"),
    ("Endor", "Louis, I think this is the beginning of a beautiful friendship", "alert"),
    ("Falcon", "There's no place like home", "info"),
    ("Greedo", "Today, I consider myself the luckiest man on the face of the earth", "warning"),
    ("Hoth", "Every time a bell rings an angel gets his wings", "info"),
]

RANDOM_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("hostname", T.StringType()),
        T.StructField("t", T.BooleanType()),
        T.StructField("f", T.BooleanType()),
        T.StructField("msg", T.StringType()),
        T.StructField("severity", T.StringType()),
        T.StructField("timestamp", T.StringType()),  # RFC3339 string, like the reference
    ]
)


def random_events_rows(batch: int = 0) -> list[tuple]:
    ts0 = _BASE + timedelta(seconds=8 * batch)
    return [
        (host, True, False, msg, sev, (ts0 + timedelta(seconds=i)).strftime("%Y-%m-%dT%H:%M:%SZ"))
        for i, (host, msg, sev) in enumerate(_EVENTS)
    ]


def random_events_df(spark: SparkSession, batch: int = 0) -> DataFrame:
    return spark.createDataFrame(random_events_rows(batch), RANDOM_EVENTS_SCHEMA)
