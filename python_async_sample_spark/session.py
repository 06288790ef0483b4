"""SparkSession factory tuned for both local testing and cluster scale.

The reference hand-manages parallelism (200-thread / 50-process pools,
``eda_query.py:24,58,82``) and row-at-a-time inserts (``nikon_ETL.py:215-262``).
Here a single session config replaces all of that: AQE re-plans shuffles at
runtime, Arrow vectorizes the Python boundary, and shuffle partitioning is
sized from the environment instead of hard-coded.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# Defaults are for the local[/N] test harness; on a real cluster the same
# settings remain valid (AQE coalesces the shuffle partitions it needs).
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))

# Spark refuses a socket dir longer than 61 chars: it names each socket
# `.<uuid4>.sock` (42 chars) in the dir, and sizes the whole path to macOS's
# 104-byte sun_path (Linux's holds 107). mkdtemp names the dir `tmp` + 8
# random chars.
_SOCKET_DIR_MAX = 61
_MKDTEMP_NAME_LEN = len("/tmpXXXXXXXX")


def _make_socket_dir(parents: tuple[str, ...] | None = None) -> str | None:
    """A private (0700) directory for Unix sockets under the first of
    ``parents`` (default: the temp dir, then ``/tmp``) short enough for
    Spark's socket paths, removed at exit; None when none is."""
    for parent in parents or (tempfile.gettempdir(), "/tmp"):
        if len(os.path.abspath(parent)) + _MKDTEMP_NAME_LEN > _SOCKET_DIR_MAX:
            continue
        try:
            path = tempfile.mkdtemp(dir=parent)
        except OSError:
            continue
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        return path
    return None


_socket_dir = functools.cache(_make_socket_dir)


def _external_master() -> str | None:
    """Return an externally-configured Spark master URL, if any.

    Detection covers every launch path:

    * ``spark-submit app.py``: the JVM gateway is ALREADY RUNNING before
      user code executes (PythonRunner exports ``PYSPARK_GATEWAY_PORT``/
      ``SECRET``, never the submit args), so the submitted ``--master``
      is visible only as the live gateway's ``spark.master`` system
      property — ``SparkConf()`` attaches to that gateway and sees it;
    * ``pyspark``-shell style launches: ``PYSPARK_SUBMIT_ARGS`` carries
      ``--master <url>`` / ``--conf spark.master=<url>``;
    * launcher-script conventions: ``SPARK_MASTER`` / ``MASTER``.

    In a bare ``python`` process none of these exist (and SparkConf() is
    never consulted — constructing it there would launch a gateway), so
    the caller falls back to local[N].
    """
    for var in ("SPARK_MASTER", "MASTER"):
        val = os.environ.get(var)
        if val:
            return val
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    tokens = submit_args.split()
    for i, tok in enumerate(tokens):
        if tok == "--master" and i + 1 < len(tokens):
            return tokens[i + 1]
        if tok.startswith("--master="):
            return tok.split("=", 1)[1]
        if tok == "--conf" and i + 1 < len(tokens) and tokens[i + 1].startswith("spark.master="):
            return tokens[i + 1].split("=", 1)[1]
    if os.environ.get("PYSPARK_GATEWAY_PORT"):
        # only under spark-submit: attach to the existing gateway and read
        # the submitted master from the JVM system properties
        from pyspark import SparkConf

        conf = SparkConf()
        if conf.contains("spark.master"):
            return conf.get("spark.master")
    return None


def get_spark(
    app_name: str = "python_async_sample_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Scale posture: every knob here is chosen so the same code runs on
    local[32] for tests and on a 1000-executor cluster unchanged —
    AQE (+skew join) handles runtime re-planning and Arrow keeps the
    pandas-UDF kernel path vectorized. Dynamic partition overwrite is on
    for user code that overwrites a partitioned table in place; the
    incremental sink's idempotent window rewrites (SURVEY §2.9 I3) do not
    use it — they stage a plain write and swap partitions in by rename
    (``incremental/sink``).

    Local sessions fork their Python workers from the engine's daemon
    (``_pydaemon``), not pyspark's. Before CPython 3.12 every Python-worker
    task (``createDataFrame`` from a list, ``applyInPandas``, pandas UDFs,
    Python data sources) re-reads the directory of each zip archive on the
    worker's path, 250-350 ms per task; the engine's daemon re-reads an
    archive only after it changed. The daemon is set only on the local
    fallback: on an external master the executors' filesystem and Python
    are unknown, so pyspark's daemon stays.

    Local sessions also run the JVM's exchanges with Python (workers, the
    accumulator server, collect and broadcast data sockets) over Unix
    domain sockets. Over loopback TCP the JVM's writes stall each Python
    task's finish by 40-50 ms, and no Spark conf reaches that; over a Unix
    socket it reads about 0 ms. The sockets live in one private (0700)
    directory per process, made under the temp dir, or under ``/tmp`` when
    the temp dir is too long for a socket path (Spark caps the directory at
    61 chars, so that ``<dir>/.<uuid4>.sock`` fits 104 bytes), and removed
    at exit; when neither fits, the session keeps TCP. Spark skips its
    shared-secret handshake on a Unix socket, so the directory's permissions
    are the only guard. External masters keep TCP, as they keep pyspark's
    daemon, and so does a session a caller builds itself (the driver's
    ``__spark_entry__`` contract).
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle = shuffle_partitions or max(cpus, 8)
    builder = SparkSession.builder
    # Respect an externally-provided master: hard-coding local[] here would
    # silently pin a cluster submission to single-node — the opposite of this
    # factory's run-unchanged-on-a-cluster contract. local[] is only the
    # fallback for bare python invocations. NOTE: a JVM-free SparkConf()
    # cannot see spark-submit's system properties, so the submitted master is
    # detected from the environment spark-submit itself sets
    # (PYSPARK_SUBMIT_ARGS carries --master / --conf spark.master) plus the
    # SPARK_MASTER / MASTER conventions.
    extra_conf = dict(extra_conf or {})
    if _external_master() is None:
        builder = builder.master(f"local[{cpus}]").config(
            "spark.python.daemon.module", "python_async_sample_spark._pydaemon"
        )
        # the daemon is launched as `python -m`, so its package must be on the
        # workers' path whatever the process's cwd is
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pythonpath = extra_conf.get("spark.executorEnv.PYTHONPATH")
        extra_conf["spark.executorEnv.PYTHONPATH"] = (
            f"{root}{os.pathsep}{pythonpath}" if pythonpath else root
        )
        socket_dir = _socket_dir()
        if socket_dir is not None:
            builder = builder.config(
                "spark.python.unix.domain.socket.enabled", "true"
            ).config("spark.python.unix.domain.socket.dir", socket_dir)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Explicit skew thresholds (the defaults, pinned as engine contract):
        # a shuffle partition > factor × median AND > threshold bytes splits
        # into advisory-sized reads at runtime — the planted-hot-key test in
        # test_plan_quality asserts the split actually happens.
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "5.0")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256m")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # Naive parquet timestamp[us] reads as an instant (UTC), not NTZ —
        # one timestamp type across batch and streaming (watermarks need it).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
