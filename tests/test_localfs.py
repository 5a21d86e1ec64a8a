"""The java.nio local filesystem (``vaero_spark/jvm``): field-for-field parity
with Hadoop's ``RawLocalFileSystem``, ``.crc`` files a stock
``LocalFileSystem`` verifies, no forked ``chmod``/``readlink`` under a
streaming drain, and a committed jar that is its sources' build."""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys
import textwrap
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(REPO, "vaero_spark", "jvm")
FIELDS = ("getLen", "isDirectory", "isSymlink", "getReplication", "getBlockSize",
          "getModificationTime", "getAccessTime", "getOwner", "getGroup")


@pytest.fixture(scope="module")
def raw_pair(spark):
    """(shim, stock) raw local filesystems, initialized alike."""
    jvm = spark._jvm
    uri = jvm.java.net.URI("file:///")
    conf = jvm.org.apache.hadoop.conf.Configuration()
    pair = (jvm.vaero.fs.NioRawLocalFileSystem(), jvm.org.apache.hadoop.fs.RawLocalFileSystem())
    for fs in pair:
        fs.initialize(uri, conf)
    return pair


def _fields(status) -> dict:
    got = {m: getattr(status, m)() for m in FIELDS}
    got["path"] = status.getPath().toString()
    got["permission"] = status.getPermission().toString()
    got["symlink"] = status.getSymlink().toString() if status.isSymlink() else None
    return got


def _link_status(fs, path):
    """``getFileLinkStatus`` fields, or the Java exception's class name."""
    from py4j.protocol import Py4JJavaError

    try:
        return _fields(fs.getFileLinkStatus(path))
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()


def test_file_link_status_matches_stock(spark, raw_pair, tmp_path):
    (tmp_path / "f").write_bytes(b"x" * 500)
    (tmp_path / "d").mkdir()
    os.symlink(tmp_path / "f", tmp_path / "to_file")
    os.symlink("d", tmp_path / "to_dir")  # relative target
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    Path = spark._jvm.org.apache.hadoop.fs.Path
    shim, stock = raw_pair
    for name in ("f", "d", "to_file", "to_dir", "dangling", "missing", "f/under_a_file"):
        # a bare path reads links; the stock method never sees a qualified
        # one ("file:/...") as a link, and the shim keeps that shape
        for p in (str(tmp_path / name), f"file:{tmp_path / name}"):
            got, want = _link_status(shim, Path(p)), _link_status(stock, Path(p))
            assert got == want, p
    assert _link_status(stock, Path(str(tmp_path / "missing"))) == "java.io.FileNotFoundException"
    assert _link_status(stock, Path(str(tmp_path / "dangling")))["isSymlink"]
    assert _link_status(stock, Path(str(tmp_path / "to_dir")))["symlink"] == f"file:{tmp_path}/d"


@pytest.mark.parametrize("mode", [0o644, 0o755, 0o600, 0o1777])
def test_set_permission_leaves_stock_mode(spark, raw_pair, tmp_path, mode):
    """The mode on disk after ``setPermission`` is the stock one; sticky
    (01777) is the shim's fallback to the stock ``chmod``."""
    jvm = spark._jvm
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission.valueOf(stat.filemode(stat.S_IFREG | mode))
    for kind in ("file", "dir"):
        modes = []
        for fs, name in zip(raw_pair, ("shim", "stock")):
            p = tmp_path / f"{kind}_{name}"
            p.mkdir() if kind == "dir" else p.write_bytes(b"x")
            fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(p)), perm)
            modes.append(os.stat(p).st_mode & 0o7777)
        assert modes == [mode, mode], kind


def test_set_permission_keeps_a_directorys_set_group_id(spark, raw_pair, tmp_path):
    """chmod(1) with a 4-digit octal mode keeps a directory's set-id bits;
    so does the shim."""
    jvm = spark._jvm
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission.valueOf(stat.filemode(stat.S_IFREG | 0o755))
    modes = []
    for fs, name in zip(raw_pair, ("shim", "stock")):
        p = tmp_path / name
        p.mkdir()
        os.chmod(p, 0o2775)
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(p)), perm)
        modes.append(os.stat(p).st_mode & 0o7777)
    assert modes[0] == modes[1]


def test_file_context_create_and_overwrite_rename_verify_with_stock(spark, tmp_path):
    """A FileContext create then ``rename(OVERWRITE)`` through the shim
    (what every checkpoint and state-store file does) leaves bytes and a
    ``.crc`` that a stock ``LocalFileSystem`` reads back with checksum
    verification, and rejects once the bytes are corrupted."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    hfs = jvm.org.apache.hadoop.fs
    conf = spark._jsc.hadoopConfiguration()
    fc = hfs.FileContext.getFileContext(jvm.java.net.URI("file:///"), conf)
    assert fc.getDefaultFileSystem().getClass().getName() == "vaero.fs.NioLocalFs"

    payload = bytes(range(256)) * 2
    src, dst = tmp_path / ".v1.tmp", tmp_path / "v1"
    dst.write_bytes(b"old")  # the rename must overwrite
    out = fc.create(hfs.Path(str(src)), jvm.java.util.EnumSet.of(hfs.CreateFlag.CREATE),
                    gw.new_array(hfs.Options.CreateOpts, 0))
    out.write(payload)
    out.close()
    overwrite = gw.new_array(hfs.Options.Rename, 1)
    overwrite[0] = hfs.Options.Rename.OVERWRITE
    fc.rename(hfs.Path(str(src)), hfs.Path(str(dst)), overwrite)
    assert sorted(os.listdir(tmp_path)) == [".v1.crc", "v1"]

    stock = hfs.LocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), jvm.org.apache.hadoop.conf.Configuration())
    stock.setVerifyChecksum(True)

    def read_back():
        stream = stock.open(hfs.Path(str(dst)))
        try:
            return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()

    assert read_back() == payload
    dst.write_bytes(b"\xff" + payload[1:])
    with pytest.raises(Py4JJavaError, match="ChecksumException"):
        read_back()


def test_streaming_drain_forks_no_file_commands(tmp_path, sf_dir):
    """A stateful drain with a checkpoint, RocksDB state, an event log and
    an ``ExactlyOnceParquetSink`` on ``get_spark``'s local session runs no
    ``chmod``, ``readlink``, ``stat`` or ``ls`` on its files: each command
    on ``PATH`` is a wrapper that logs its arguments, and no logged call
    names the work directory."""
    bin_dir, work = tmp_path / "bin", tmp_path / "work"
    bin_dir.mkdir()
    work.mkdir()
    log = tmp_path / "calls.log"
    for cmd in ("chmod", "readlink", "stat", "ls"):
        wrapper = bin_dir / cmd
        wrapper.write_text(f'#!/bin/sh\necho "{cmd} $*" >> {log}\nexec {shutil.which(cmd)} "$@"\n')
        wrapper.chmod(0o755)
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import __spark_entry__ as E
        from vaero_spark.session import get_spark
        from vaero_spark.sinks.writers import ExactlyOnceParquetSink

        spark = get_spark("nofork_probe", master="local[2]", extra_conf={{
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": {str(work)!r},
        }})
        sink = E._drain_gate(
            spark,
            lambda src: E.CEP.stream_cep_match(src, E.CEP_STREAM_LITERAL, watermark="60 days"),
            mode="update", pin=False,
            inp=E._gate_stream_input(spark, {sf_dir!r}, "plain"),
            sink=ExactlyOnceParquetSink,
        )
        print("committed rows", sink.read_committed(spark).count())
        spark.stop()
        """
    )
    env = dict(os.environ, PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
               TMPDIR=str(work), SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=work, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "committed rows" in proc.stdout
    assert any(f.endswith(".crc") for _, _, files in os.walk(work) for f in files)
    calls = log.read_text().splitlines() if log.exists() else []
    assert [c for c in calls if str(work) in c] == []


def test_committed_jar_is_its_sources_build(tmp_path):
    """``vaero.jar`` holds exactly the classes ``javac --release 17``
    builds from every source under ``src/vaero/`` (the local filesystem
    and the CEP keyed-state core) against pyspark's jars
    (``jvm/build.sh``)."""
    import pyspark

    javac = shutil.which("javac")
    if javac is None:
        pytest.skip("no javac on PATH")
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    src = os.path.join(JVM_DIR, "src", "vaero")
    sources = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(src) for f in fs if f.endswith(".java")
    )
    subprocess.run(
        [javac, "--release", "17", "-cp", jars, "-d", str(tmp_path), *sources],
        check=True, capture_output=True,
    )
    built = {str(p.relative_to(tmp_path)): p.read_bytes() for p in tmp_path.rglob("*.class")}
    assert {n.split("/")[1] for n in built} == {"fs", "state"}
    with zipfile.ZipFile(os.path.join(JVM_DIR, "vaero.jar")) as jar:
        committed = {n: jar.read(n) for n in jar.namelist() if not n.endswith("/")}
    assert committed == built
