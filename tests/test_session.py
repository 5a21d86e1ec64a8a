"""``get_spark``'s host-derived defaults: the shuffle width (and so a new
streaming query's state-store count) is the master's slot count, and the
driver heap follows the host's physical memory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from vaero_spark.session import default_driver_memory, master_slots

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "master, slots",
    [("local[2]", 2), ("local[12]", 12), ("local[*]", 5), ("yarn", 5)],
)
def test_master_slots(master, slots):
    assert master_slots(master, cpus=5) == slots


def test_default_driver_memory_fits_the_host():
    gb = int(default_driver_memory().removesuffix("g"))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
    assert 1 <= gb <= 48
    assert gb <= max(1, phys_gb / 2)


def test_session_defaults_follow_the_master(tmp_path):
    """A session started on ``local[2]`` with no explicit width gets 2
    shuffle partitions, even with ``$SPARK_GRAFT_CPUS`` wider; with no
    ``$SPARK_DRIVER_MEMORY`` its heap is :func:`default_driver_memory`."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from vaero_spark.session import get_spark

        spark = get_spark("width_probe", master="local[2]")
        print(spark.conf.get("spark.sql.shuffle.partitions"),
              spark.sparkContext.getConf().get("spark.driver.memory"))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "SPARK_DRIVER_MEMORY"}
    env["SPARK_GRAFT_CPUS"] = "16"
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split()[-2:] == ["2", default_driver_memory()]
