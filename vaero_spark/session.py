"""The one SparkSession factory of every entry point (the driver contract,
the benchmarks, the tests and the job runner), tuned for in-process
``local[N]`` masters while keeping cluster-scale defaults: AQE on,
skew-join handling on, shuffle partitions equal to an in-process
master's slot count (which also fixes a streaming query's state-store
count, so a stateful stage runs in one wave of tasks; a cluster
master's width is left to the submitter), UTC session timezone
(required for bit-exact parity with the DuckDB oracle), Arrow enabled
for the pandas-UDF slow path, a driver heap that fits the host, and
the RocksDB state store, whose per-key state lives off the JVM heap
(a checkpoint keeps the provider it was started with). Python workers
start through ``vaero_spark.worker_daemon``, which stops each task from re-parsing
``pyspark.zip`` (~0.28 CPU-s per Python task); the package's parent directory
goes on the workers' ``PYTHONPATH`` so they find it from any working
directory. On an in-process local master whose JVM ``get_spark``
launches, the package's jar (``jvm/vaero.jar``, sources beside it) joins
the driver's classpath: the streaming CEP operators' keyed-state core
(``vaero.state.Reassembly``) lives there, and local files go through its
``vaero.fs.NioLocalFileSystem``:
without ``libhadoop.so``, Hadoop's local filesystem forks ``chmod`` on every
file it creates and ``readlink`` on every rename, ~17 ms per checkpoint or
state-store file on a 4-vCPU VM; the jar's java.nio versions of those two
calls make it ~0.4 ms. ``.crc`` files, checksums and file modes stay as
they were. The same JVM gets one JIT policy, :data:`JIT_POLICY`: HotSpot's
tier-4 (C2) thresholds at ten times their JDK 17 defaults, so driver code
that runs a few hundred times per epoch (closure cleaning, Jackson, Java
serialization, Catalyst rules) stays in C1: C2 CPU in a perfbench ``cep``
window fell 5.6 -> 1.9 s. Hot batch loops reach C2 later too: over
``bench.py``'s suite the streaming gates ran 8% faster and the batch
queries 8% slower, the suite wall unchanged (4-vCPU host, sf0.1). It goes in
``spark.driver.defaultJavaOptions``, which Spark's launcher puts before
``spark.driver.extraJavaOptions``; HotSpot keeps a flag's last
occurrence, so a caller's own flags, passed in ``extraJavaOptions``, win.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_LOCAL_MASTER = re.compile(r"local(?:\[(\d+|\*)(?:,\d+)?\])?")
#: the package's JVM classes: the java.nio local filesystem and the CEP core
JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "vaero.jar")
#: C2 thresholds ×10 over JDK 17's 5000/600/15000/40000: on a 4-vCPU host
#: C2 took 5.6 of a perfbench ``cep`` window's 10.6 CPU-s, 1.9 with these
JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


def host_cpus() -> int:
    """CPUs this process may run on: ``$SPARK_GRAFT_CPUS`` if set, else
    its scheduler affinity."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def master_slots(master: str) -> int | None:
    """Task slots of an in-process master: 1 for ``local``, N for
    ``local[N]``, :func:`host_cpus` for ``local[*]``. ``None`` for any
    other master, whose width is its cluster's, not this host's."""
    m = _LOCAL_MASTER.fullmatch(master)
    if not m:
        return None
    return host_cpus() if m.group(1) == "*" else int(m.group(1) or 1)


def in_process(master: str) -> bool:
    """Whether ``master`` runs its executors inside the driver JVM."""
    return master == "local" or master.startswith("local[")


def default_driver_memory() -> str:
    """Half the host's physical memory, at least 1g and at most 48g: the
    heap may grow to its limit over a long session, and a limit above
    physical memory ends with the kernel killing the JVM."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(1, phys // 2 >> 30))}g"


def get_spark(
    app_name: str = "vaero_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[N]`` with N = :func:`host_cpus`.
    ``shuffle_partitions`` defaults to :func:`master_slots`: a streaming
    query fixes its state-store count from this width when it first
    starts, and each store pays a fixed commit and Python-worker cost per
    epoch, so more stores than slots only add task waves. A cluster
    master gets no default width: the submitter's
    ``--conf spark.sql.shuffle.partitions`` or Spark's own. The driver heap
    is ``$SPARK_DRIVER_MEMORY``, else :func:`default_driver_memory`.
    An :func:`in_process` master gets :data:`JAR` on the driver's
    classpath, after any ``spark.driver.extraClassPath`` the caller gives,
    and with it the java.nio local filesystem, and its driver JVM starts
    with :data:`JIT_POLICY` in ``spark.driver.defaultJavaOptions``; JVM
    flags of the caller's own go in ``spark.driver.extraJavaOptions``,
    which comes later on the command line and wins on conflict. Another
    master keeps Hadoop's filesystem, as its executors may not have the
    jar, needs the jar in ``spark.jars`` (``--jars``) for the streaming CEP
    operators, and gets no JIT flags: its JVMs are long-lived.
    Under ``spark-submit`` the Python driver joins a JVM that is already
    running (``$PYSPARK_GATEWAY_PORT`` is set): ``master`` defaults to the
    submitted one, and the jar and the JIT policy are left out, as neither
    can reach that JVM any more; pass them with ``--jars`` and
    ``--driver-java-options``.
    """
    joined = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not joined:
        master = f"local[{host_cpus()}]"
    if shuffle_partitions is None and master is not None:
        shuffle_partitions = master_slots(master)
    driver_memory = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()

    conf = dict(extra_conf or {})
    worker_path = [conf.pop("spark.executorEnv.PYTHONPATH", None), _PACKAGE_PARENT]
    if not joined and in_process(master):
        class_path = [conf.pop("spark.driver.extraClassPath", None), JAR]
        conf = {
            "spark.hadoop.fs.file.impl": "vaero.fs.NioLocalFileSystem",
            "spark.hadoop.fs.AbstractFileSystem.file.impl": "vaero.fs.NioLocalFs",
            "spark.driver.defaultJavaOptions": JIT_POLICY,
            **conf,
            "spark.driver.extraClassPath": os.pathsep.join(filter(None, class_path)),
        }
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        # task-side parallel commit renames (v1 renames serially on the
        # driver — measured as all-executors-parked phases per epoch)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        .config("spark.driver.memory", driver_memory)
        .config("spark.python.daemon.module", "vaero_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(filter(None, worker_path)))
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # a launcher's master is known only now
    if shuffle_partitions is None and (width := master_slots(spark.sparkContext.master)):
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
    spark.sparkContext.setLogLevel("WARN")
    return spark
