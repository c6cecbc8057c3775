"""SparkSession factory tuned for this engine.

Local-mode testing stands in for a multi-executor cluster; all layout
decisions (partition counts, broadcast sizes, AQE) are made as if running on
1000 executors over ~100 TB — see notes inline.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Spark refuses a spark.python.unix.domain.socket.dir longer than this:
# each socket is "<dir>/.<uuid4>.sock", 43 more characters, and Linux
# allows 107.
_SOCKET_DIR_MAX = 61


def _socket_dir() -> str:
    """A fresh private directory for the session's Unix-domain sockets,
    removed (with any socket a killed process left behind) at exit. It
    lives in the temp dir when it fits Spark's limit there, else in
    ``/tmp``: a long ``TMPDIR`` (a deep checkout's scratch dir) would
    otherwise fail the session's first Python task, or SparkContext
    itself with ``AF_UNIX path too long``."""
    base = tempfile.gettempdir()
    # mkdtemp names are the prefix plus 8 random characters
    if len(os.path.join(base, "katta-uds-xxxxxxxx")) > _SOCKET_DIR_MAX:
        base = "/tmp"
    d = tempfile.mkdtemp(prefix="katta-uds-", dir=base)
    atexit.register(shutil.rmtree, d, True)
    return d


def get_spark(
    app_name: str = "katta_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    shuffle_partitions defaults to the core count locally; on a real
    cluster you would size it to ~2-3x total cores and let AQE coalesce.

    Python workers start through ``katta_spark.daemon`` (a zip importer
    that re-reads an archive only when it changed, see that module), and
    the engine's root is appended to ``spark.executorEnv.PYTHONPATH`` so
    the workers can import it from any working directory.

    The JVM talks to Python over Unix-domain sockets (Spark 4.1's
    ``spark.python.unix.domain.socket.enabled``), in a private directory
    removed at exit (:func:`_socket_dir`). Every worker environment
    carries ``SPARK_SIMPLIFIED_TRACEBACK=1``, which Spark's SQL runners
    add to theirs: Spark keys its Python worker pools on the environment,
    so RDD jobs (a search's shard stage) and pandas UDFs share one pool
    instead of each forking its own.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing + skew-join splitting — first line of
        # defense against hot-term skew at 100 TB (on top of explicit salting
        # in build.py).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Local-scale scan splits: test fixtures are small parquet files;
        # the 128 MB default would cap scan parallelism at a handful of
        # splits. A real cluster run would keep the default.
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "512k")
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for all pandas-UDF exchange (the only Python on the hot path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Big Arrow batches: the build's run-encoder does one Python
        # crossing per batch; token rows are ~40 bytes so 200k rows ≈ 8 MB.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "200000")
        # Partitioned writes must be idempotent per partition for the
        # resumable build (build.py): dynamic overwrite replaces only the
        # shard_id partitions present in the incoming batch.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    conf = {
        "spark.python.daemon.module": "katta_spark.daemon",
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK": "1",
        **(extra_conf or {}),
    }
    if (
        conf["spark.python.unix.domain.socket.enabled"].lower() == "true"
        and "spark.python.unix.domain.socket.dir" not in conf
        and SparkContext._active_spark_context is None
    ):
        conf["spark.python.unix.domain.socket.dir"] = _socket_dir()
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (conf.get("spark.executorEnv.PYTHONPATH"), _ROOT) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
