"""``file://`` through the engine jar's ``NioLocalFileSystem``.

Without libhadoop, Hadoop's local filesystem sets every permission by
forking ``chmod``. ``get_spark`` launches with the jar's filesystem,
which sets the same modes through java.nio. These tests pin that it is
installed, that files, directories and ``.crc`` sidecars come out as a
stock ``LocalFileSystem`` makes them, and that creating files forks
nothing."""

from __future__ import annotations

import os
import stat

import pytest

from muninn_avro_to_parquet_spark import session

NIO_FS = "muninnavro.NioLocalFileSystem"


def _uri(spark):
    return spark._jvm.java.net.URI("file:///")


def _new_fs(spark, cls, umask=None):
    """A fresh, uncached instance of ``cls`` over the session's Hadoop
    conf, with ``umask`` as its ``fs.permissions.umask-mode``."""
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
    if umask is not None:
        conf.set("fs.permissions.umask-mode", umask)
    fs = cls()
    fs.initialize(_uri(spark), conf)
    return fs


def _nio_and_stock(spark):
    jvm = spark._jvm
    return (
        ("nio", jvm.muninnavro.NioLocalFileSystem),
        ("stock", jvm.org.apache.hadoop.fs.LocalFileSystem),
    )


def _write_tree(spark, fs, root):
    """What a task commit leaves: nested attempt directories, a part file
    (with its ``.crc``) and an empty ``_SUCCESS``."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    fs.mkdirs(Path(f"file://{root}/t/_temporary/0/attempt_0"))
    out = fs.create(Path(f"file://{root}/t/_temporary/0/attempt_0/part-0.parquet"))
    out.write(bytearray(b"x" * 1000))
    out.close()
    fs.create(Path(f"file://{root}/t/_SUCCESS")).close()


def _modes(root):
    """Every path under ``root``, relative, with its permission bits."""
    found = {}
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            full = os.path.join(dirpath, name)
            found[os.path.relpath(full, root)] = stat.S_IMODE(os.stat(full).st_mode)
    return found


def _procs_started() -> int:
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise AssertionError("/proc/stat has no processes line")


def test_file_scheme_is_nio_local_fs(spark):
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(_uri(spark), spark._jsc.hadoopConfiguration())
    assert fs.getClass().getName() == NIO_FS
    assert fs.getRaw().getClass().getName() == NIO_FS + "$NioRawLocalFileSystem"


def test_launch_conf_carries_jar_class_path_and_fs_impl(spark):
    conf = spark.sparkContext.getConf()
    assert session.JVM_AVRO_JAR in conf.get("spark.jars")
    assert conf.get("spark.driver.extraClassPath") == session.JVM_AVRO_JAR
    assert conf.get("spark.hadoop.fs.file.impl") == NIO_FS


@pytest.mark.parametrize("umask", [None, "077"])
def test_modes_and_crc_match_stock_local_fs(spark, tmp_path, umask):
    trees = {}
    for name, cls in _nio_and_stock(spark):
        fs = _new_fs(spark, cls, umask)
        try:
            _write_tree(spark, fs, tmp_path / name)
        finally:
            fs.close()
        trees[name] = _modes(tmp_path / name)
    assert trees["nio"] == trees["stock"]
    assert "t/_temporary/0/attempt_0/.part-0.parquet.crc" in trees["nio"]
    assert "t/._SUCCESS.crc" in trees["nio"]
    if umask == "077":
        assert trees["nio"]["t/_SUCCESS"] == 0o600
        assert trees["nio"]["t/_temporary"] == 0o700
    else:
        assert trees["nio"]["t/_SUCCESS"] == 0o644
        assert trees["nio"]["t/_temporary"] == 0o755


def test_sticky_bit_directory_matches_stock_local_fs(spark, tmp_path):
    jvm = spark._jvm
    sticky = jvm.org.apache.hadoop.fs.permission.FsPermission.valueOf("drwxrwxrwt")
    modes = {}
    for name, cls in _nio_and_stock(spark):
        fs = _new_fs(spark, cls)
        try:
            path = jvm.org.apache.hadoop.fs.Path(f"file://{tmp_path}/{name}")
            fs.mkdirs(path)
            fs.setPermission(path, sticky)
        finally:
            fs.close()
        modes[name] = stat.S_IMODE(os.stat(tmp_path / name).st_mode)
    assert modes["nio"] == modes["stock"] == 0o1777


def test_creates_fork_no_chmod(spark, tmp_path):
    """Each create at the stock filesystem forks ``chmod`` for the file
    and for its ``.crc``, each with a stderr-reader thread: about 80
    ``processes`` (``/proc/stat`` counts every clone) for 20 creates."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(_uri(spark), spark._jsc.hadoopConfiguration())
    Path = jvm.org.apache.hadoop.fs.Path
    before = _procs_started()
    for i in range(20):
        fs.create(Path(f"file://{tmp_path}/f{i}")).close()
    assert _procs_started() - before < 10
