"""Every streaming gate of ``__spark_entry__.queries()`` drained end to end
at sf0.001 and compared with its DuckDB twin the way
``tools/check_oracle.py`` compares them: row count, column names and the
order-insensitive value hash. After each drain no streaming query may be
left running and the session's shuffle width must be back where it was
(the state-partition pin restores it)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as E
from tools.check_oracle import TABLES, value_hash

STREAM_GATES = [name for name in E.queries() if name.startswith("stream_")]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def test_every_stream_gate_is_covered():
    assert len(STREAM_GATES) == 22
    assert set(STREAM_GATES) <= set(E.oracle_sql())


@pytest.mark.parametrize("name", STREAM_GATES)
def test_stream_gate_matches_oracle(spark, sf_dir, duck, name):
    width = spark.conf.get("spark.sql.shuffle.partitions")
    got = E.queries()[name](spark, sf_dir).toPandas()
    assert spark.streams.active == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == width
    want = duck.sql(E.oracle_sql()[name]).df()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want)
    assert value_hash(got) == value_hash(want)


def test_pinned_input_size_reads_uris(spark, tmp_path):
    """The pin sizes its input through Hadoop FS, so a ``file://`` URI
    counts the same bytes as the bare path (``os.walk`` read 0 bytes for
    any URI)."""
    d = str(tmp_path / "in")
    spark.range(100).write.parquet(d)
    n_bytes = E._pinned_state_partitions(spark, d).bytes
    assert n_bytes > 0
    assert E._pinned_state_partitions(spark, f"file://{d}").bytes == n_bytes
    assert E._pinned_state_partitions(spark, d).n == 8
