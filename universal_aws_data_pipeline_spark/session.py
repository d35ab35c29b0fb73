"""SparkSession factory.

Defaults are tuned for the test rig (local[N], 32 threads, 128 GiB) but every
knob is chosen to scale to a multi-executor cluster at ~100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast-join demotion/promotion at runtime)
- Arrow on (vectorized Pandas UDF / toPandas transfer)
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden to ~2-3x total cores (AQE coalesces down, so oversizing is safe)
- UTC session timezone so timestamp semantics match the DuckDB oracle and are
  reproducible across clusters.
- a fork-free local filesystem for a ``local[...]`` master. Without Hadoop's
  native library, the stock ``file://`` filesystem forks a ``chmod`` for
  every directory it makes and every file it creates: ~590 processes for
  one 80-partition write. ``jvm/NioLocalFileSystem.java`` sets the same mode
  bits through ``java.nio``; ``get_spark`` compiles it once per source hash
  into ``~/.cache/universal_aws_data_pipeline_spark`` and puts it on the
  driver classpath as ``fs.file.impl``. It is not used, and the session is
  the stock one, when the master is not local (executors elsewhere would
  not have the class), when the caller sets ``spark.hadoop.fs.file.impl``,
  when no ``javac`` is found, or when a JVM already running in this process
  was started without the class.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from universal_aws_data_pipeline_spark.sinks.commit import read_meta, replace_dir

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

NIO_LOCAL_FS = "universal_aws_data_pipeline_spark.jvm.NioLocalFileSystem"
_NIO_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "NioLocalFileSystem.java")
_CLASS_CACHE = os.path.join(os.path.expanduser("~"), ".cache", "universal_aws_data_pipeline_spark")
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def _javac() -> str | None:
    """``$JAVA_HOME/bin/javac``, else the first ``javac`` on ``PATH``."""
    home = os.environ.get("JAVA_HOME")
    if home and os.access(os.path.join(home, "bin", "javac"), os.X_OK):
        return os.path.join(home, "bin", "javac")
    return shutil.which("javac")


def _hadoop_api_jar() -> str | None:
    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    return jars[-1] if jars else None


def _compile_nio_fs(javac: str, api_jar: str) -> str:
    """The class dir of ``NioLocalFileSystem``, compiled on first use for
    this source and Hadoop jar. Committed through ``replace_dir``, so a
    session starting beside a compiling one never reads a half-written dir."""
    with open(_NIO_SOURCE, "rb") as fh:
        digest = hashlib.sha256(fh.read() + os.path.basename(api_jar).encode()).hexdigest()[:16]
    target = os.path.join(_CLASS_CACHE, f"nio-fs-{digest}")
    if read_meta(target) is None:
        os.makedirs(_CLASS_CACHE, exist_ok=True)
        replace_dir(
            target,
            lambda out: subprocess.run(
                [javac, "--release", "17", "-cp", api_jar, "-d", out, _NIO_SOURCE],
                check=True, capture_output=True, timeout=300,
            ),
            {"key": digest},
        )
    return target


def local_fs_conf(master: str | None, conf: dict[str, str]) -> dict[str, str]:
    """The confs that make ``NioLocalFileSystem`` the ``file://`` filesystem
    of a session with ``master`` and caller confs ``conf``: ``fs.file.impl``
    plus the class dir appended to ``spark.driver.extraClassPath``. Empty in
    every case the module docstring lists, and when compiling fails."""
    if master is None or not _LOCAL_MASTER.fullmatch(master) or "spark.hadoop.fs.file.impl" in conf:
        return {}
    javac, api_jar = _javac(), _hadoop_api_jar()
    if javac is None or api_jar is None:
        return {}
    try:
        classes = _compile_nio_fs(javac, api_jar)
    except (OSError, subprocess.SubprocessError):
        return {}
    jvm = SparkContext._jvm
    if jvm is not None and classes not in jvm.java.lang.System.getProperty("java.class.path").split(os.pathsep):
        return {}  # the running JVM's classpath is fixed; it cannot load the class
    prior = conf.get("spark.driver.extraClassPath")
    return {
        "spark.hadoop.fs.file.impl": NIO_LOCAL_FS,
        "spark.driver.extraClassPath": f"{prior}{os.pathsep}{classes}" if prior else classes,
    }


def get_spark(
    app_name: str = "universal_aws_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-ready defaults.

    On a real cluster, pass ``master=None`` and let spark-submit decide; the
    AQE/Arrow/ANSI-adjacent confs below are correct at any scale.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # At 100 TB: 128 MiB split targets keep task counts sane (~800k tasks);
        # openCostInBytes discourages tiny-file splits.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.parquet.filterPushdown", "true")
        # TIMESTAMP(NANOS) parquet columns: readers without native nanos
        # support need this escape hatch (they surface nanos as bigint, which
        # plans/catalog._t truncates to micros and normalizes to NTZ). Set
        # once at build time so per-read conf mutation isn't load-bearing.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)
    conf = dict(extra_conf or {})
    conf.update(local_fs_conf(master, conf))
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
