"""``get_spark``'s local filesystem: ``jvm/NioLocalFileSystem.java`` sets
permissions through ``java.nio`` instead of forking ``chmod``, with the same
mode bits as the stock ``RawLocalFileSystem``; ``local_fs_conf`` selects it
only for a local master, a caller that did not pick ``fs.file.impl``, and a
machine with ``javac``."""

from __future__ import annotations

import collections
import os
import stat
import subprocess

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from universal_aws_data_pipeline_spark import session
from universal_aws_data_pipeline_spark.session import NIO_LOCAL_FS, local_fs_conf

needs_javac = pytest.mark.skipif(session._javac() is None, reason="no javac")


def _local_fs(spark, conf=None):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), conf or spark.sparkContext._jsc.hadoopConfiguration()
    )


@needs_javac
def test_get_spark_file_scheme_is_the_nio_filesystem(spark):
    assert _local_fs(spark).getClass().getName() == NIO_LOCAL_FS


def _modes(root: str) -> collections.Counter:
    """(kind, dir relative to root, mode) of every dir and file; part-file
    names carry a job id, so files count by kind."""
    out = collections.Counter()
    for dirpath, _, names in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        out["dir", rel, stat.S_IMODE(os.stat(dirpath).st_mode)] += 1
        for n in names:
            kind = "crc" if n.endswith(".crc") else "part" if n.startswith("part-") else n
            out[kind, rel, stat.S_IMODE(os.stat(os.path.join(dirpath, n)).st_mode)] += 1
    return out


@needs_javac
def test_partitioned_write_modes_match_the_stock_filesystem(spark, tmp_path):
    df = spark.range(200).withColumn("p", F.col("id") % 20).repartition(4, "p")
    nio, stock = str(tmp_path / "nio"), str(tmp_path / "stock")
    df.write.partitionBy("p").parquet(nio)
    stock_opts = {"fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem", "fs.file.impl.disable.cache": "true"}
    df.write.options(**stock_opts).partitionBy("p").parquet(stock)

    conf = spark._jvm.org.apache.hadoop.conf.Configuration(spark.sparkContext._jsc.hadoopConfiguration())
    for k, v in stock_opts.items():
        conf.set(k, v)
    assert _local_fs(spark, conf).getClass().getName() == "org.apache.hadoop.fs.LocalFileSystem"

    got = _modes(nio)
    assert got == _modes(stock)
    assert sum(n for (kind, _, _), n in got.items() if kind == "dir") == 21
    assert {mode for (kind, _, mode) in got if kind == "dir"} == {0o755}
    assert {mode for (kind, _, mode) in got if kind != "dir"} == {0o644}


@needs_javac
def test_sticky_bit_falls_back_to_the_stock_set_permission(spark, tmp_path):
    jvm = spark._jvm
    target = tmp_path / "shared"
    target.mkdir()
    fs = _local_fs(spark)
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(target)), jvm.org.apache.hadoop.fs.permission.FsPermission("1777"))
    assert stat.S_IMODE(os.stat(target).st_mode) == 0o1777
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(target)), jvm.org.apache.hadoop.fs.permission.FsPermission("750"))
    assert stat.S_IMODE(os.stat(target).st_mode) == 0o750


@pytest.mark.parametrize("master", [None, "yarn", "spark://host:7077", "local-cluster[2,1,1024]", "k8s://h"])
def test_local_fs_conf_only_for_a_local_master(master):
    assert local_fs_conf(master, {}) == {}


def test_local_fs_conf_keeps_a_caller_filesystem():
    assert local_fs_conf("local[2]", {"spark.hadoop.fs.file.impl": "org.example.Fs"}) == {}


def test_local_fs_conf_without_javac(monkeypatch, tmp_path):
    monkeypatch.setenv("JAVA_HOME", str(tmp_path))
    monkeypatch.setenv("PATH", str(tmp_path))
    assert local_fs_conf("local[2]", {}) == {}


@needs_javac
def test_local_fs_conf_appends_to_the_driver_classpath(monkeypatch):
    monkeypatch.setattr(SparkContext, "_jvm", None)  # as before any JVM starts
    got = local_fs_conf("local[*]", {"spark.driver.extraClassPath": "lib/extra.jar"})
    assert got["spark.hadoop.fs.file.impl"] == NIO_LOCAL_FS
    first, classes = got["spark.driver.extraClassPath"].split(os.pathsep)
    assert first == "lib/extra.jar"
    assert os.path.isfile(os.path.join(classes, *NIO_LOCAL_FS.split(".")) + ".class")


@needs_javac
def test_java_source_compiles_without_warnings(tmp_path):
    api_jar = session._hadoop_api_jar()
    assert api_jar is not None
    proc = subprocess.run(
        [session._javac(), "--release", "17", "-Xlint:all", "-Werror", "-cp", api_jar,
         "-d", str(tmp_path), session._NIO_SOURCE],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr
