"""``get_spark``'s host-derived defaults: the shuffle width (and so a new
streaming query's state-store count) is the master's slot count, the
driver heap follows the host's physical memory, and an in-process master
reads and writes local files through the java.nio local filesystem."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from vaero_spark.session import (
    default_driver_memory, host_cpus, in_process, master_slots,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "master, slots",
    [("local", 1), ("local[2]", 2), ("local[12]", 12), ("local[4,2]", 4),
     ("local[*]", 5),  # host_cpus()
     # a cluster master's width is its cluster's: no default from this host
     ("yarn", None), ("spark://h:7077", None), ("local-cluster[2,1,1024]", None)],
)
def test_master_slots(master, slots, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    assert master_slots(master) == slots


def test_host_cpus_env_wins_else_affinity(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert host_cpus() == 7
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert host_cpus() == len(os.sched_getaffinity(0))


@pytest.mark.parametrize(
    "master, local",
    [("local", True), ("local[2]", True), ("local[*]", True), ("local[4,2]", True),
     ("local-cluster[2,1,1024]", False), ("yarn", False), ("spark://h:7077", False)],
)
def test_in_process(master, local):
    assert in_process(master) is local


def test_default_driver_memory_fits_the_host():
    gb = int(default_driver_memory().removesuffix("g"))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
    assert 1 <= gb <= 48
    assert gb <= max(1, phys_gb / 2)


def test_session_defaults_follow_the_master(tmp_path):
    """A session started on ``local[2]`` with no explicit width gets 2
    shuffle partitions, even with ``$SPARK_GRAFT_CPUS`` wider; with no
    ``$SPARK_DRIVER_MEMORY`` its heap is :func:`default_driver_memory`.
    Its ``file:`` filesystems are the java.nio ones, and a caller's
    ``spark.driver.extraClassPath`` entry stays on the classpath."""
    caller_jar = str(tmp_path / "caller.jar")
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from vaero_spark.session import get_spark

        spark = get_spark("width_probe", master="local[2]",
                          extra_conf={{"spark.driver.extraClassPath": {caller_jar!r}}})
        jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
        uri = jvm.java.net.URI("file:///")
        print(jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf).getClass().getName(),
              jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
              .getDefaultFileSystem().getClass().getName(),
              jvm.java.lang.System.getProperty("java.class.path"),
              spark.conf.get("spark.sql.shuffle.partitions"),
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
    fs, afs, class_path, *defaults = proc.stdout.split()[-5:]
    assert (fs, afs) == ("vaero.fs.NioLocalFileSystem", "vaero.fs.NioLocalFs")
    assert caller_jar in class_path.split(os.pathsep)
    assert defaults == ["2", default_driver_memory()]


def test_spark_submit_keeps_the_launchers_master(tmp_path):
    """Under ``spark-submit`` the Python driver joins a JVM that is already
    running: a default ``get_spark()`` keeps the submitted master and sizes
    the width to it, and local parquet I/O works although the java.nio
    filesystem's jar could not join that JVM's classpath."""
    import pyspark

    out = str(tmp_path / "probe.parquet")
    script = tmp_path / "probe.py"
    script.write_text(textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from vaero_spark.session import get_spark

        spark = get_spark("submit_probe")
        spark.range(5).write.parquet({out!r})
        rows = sorted(r.id for r in spark.read.parquet({out!r}).collect())
        print(spark.sparkContext.master,
              spark.conf.get("spark.sql.shuffle.partitions"),
              ",".join(map(str, rows)))
        spark.stop()
        """
    ))
    env = dict(os.environ, SPARK_GRAFT_CPUS="3", PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    proc = subprocess.run(
        [submit, "--master", "local[2]", "--driver-memory", "1g", str(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split()[-3:] == ["local[2]", "2", "0,1,2,3,4"]
