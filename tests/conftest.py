from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from vaero_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "vaero_spark_tests",
        master="local[4]",
        extra_conf={
            # a fixed heap, so the suite's memory does not follow the host's
            # (get_spark's default is half of physical memory)
            "spark.driver.memory": "6g",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def transcripts_pdf():
    from vaero_spark.testing.fixtures import make_transcripts_pdf

    return make_transcripts_pdf(n_turns=3000, n_convs=80, seed=42)


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_pdf):
    from vaero_spark.sources.transcripts import TRANSCRIPTS_SCHEMA

    return spark.createDataFrame(transcripts_pdf, TRANSCRIPTS_SCHEMA)


class FakeState:
    """In-process stand-in for ``GroupState``: unit tests drive an
    ``applyInPandasWithState`` function batch by batch and read the
    stored tuple back from ``_v`` and the last armed timeout from
    ``armed`` (``None``: never armed)."""

    exists = False
    hasTimedOut = False
    _v = None
    armed = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True

    def setTimeoutTimestamp(self, ms):
        self.armed = ms

    def getCurrentWatermarkMs(self):
        return 0

    def remove(self):
        self._v, self.exists = None, False


@pytest.fixture
def fake_state():
    """The :class:`FakeState` class; call it for a fresh state."""
    return FakeState
