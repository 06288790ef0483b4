"""Driver-environment robustness probes.

The external harness builds its OWN SparkSession — no guarantee of UTC,
parquet-reader defaults, or canonical sf_dir spelling. These tests replay
the hostile variants against the same oracles so the contract in
``pin_reader_conf`` stays load-bearing instead of accidental.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql.types import TimestampType

from python_async_sample_spark.plans.registry import load_all
from python_async_sample_spark.sources.readers import load_table
from tests.oracle_check import compare

SPECS = load_all()


def _with_conf(spark, key, value):
    """Set a conf, return the previous value."""
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    return old


def test_non_utc_session_still_matches_oracle(spark, sf_dir):
    """A driver session pinned to another timezone must not change
    timestamp-formatted outputs (load_table re-pins UTC per scan)."""
    old = _with_conf(spark, "spark.sql.session.timeZone", "America/New_York")
    try:
        spec = SPECS["q15_scalar_functions"]
        compare(spec.fn(spark, sf_dir), spec.oracle, sf_dir)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_ntz_inference_enabled_still_reads_instants(spark, sf_dir):
    """Even with parquet NTZ inference forced on in the session, scans must
    produce TIMESTAMP (an instant) — streaming watermarks reject NTZ."""
    old = _with_conf(spark, "spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try:
        events = load_table(spark, sf_dir, "events")
        assert isinstance(events.schema["ts"].dataType, TimestampType)
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", old)


def test_trailing_slash_sf_dir(spark, sf_dir):
    spec = SPECS["q01_pricing_summary"]
    compare(spec.fn(spark, sf_dir + "/"), spec.oracle, sf_dir)


def test_registry_is_idempotent(spark):
    a = load_all()
    b = load_all()
    assert list(a) == list(b)
    assert all(a[k] is b[k] for k in a)


def test_window_bounds_are_driver_timezone_independent(spark, tmp_path):
    """F.lit(naive_datetime) converts through the driver's LOCAL timezone —
    the incremental sink must not depend on it. Its window bounds are the
    naive-UTC wall time as exact integer microseconds whatever the
    driver's TZ: under America/New_York the half-open window (lo, hi]
    still keeps exactly lo + 1 µs and hi."""
    import os
    import time
    from datetime import datetime

    from python_async_sample_spark.incremental.sink import overwrite_window, read_target

    lo, hi = datetime(2024, 1, 24), datetime(2024, 1, 25)
    lo_us, hi_us = 1706054400 * 1_000_000, 1706140800 * 1_000_000
    df = spark.createDataFrame(
        [(u,) for u in (lo_us, lo_us + 1, hi_us, hi_us + 1)], "us long"
    ).selectExpr("timestamp_micros(us) AS ts", "us")
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        overwrite_window(df, str(tmp_path / "t"), "ts", lo, hi)
        got = sorted(r.us for r in read_target(spark, str(tmp_path / "t")).collect())
        assert got == [lo_us + 1, hi_us]
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_external_master_detection_covers_submit_args(monkeypatch):
    """ADVICE r3 fix: a pre-gateway driver cannot see spark-submit's JVM
    system properties, so the external master must be detected from the
    environment — SPARK_MASTER/MASTER plus every PYSPARK_SUBMIT_ARGS form
    spark-submit emits. Otherwise get_spark() would override a cluster
    submission with local[N]."""
    from python_async_sample_spark.session import _external_master

    for var in ("SPARK_MASTER", "MASTER", "PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(var, raising=False)
    assert _external_master() is None

    monkeypatch.setenv("SPARK_MASTER", "yarn")
    assert _external_master() == "yarn"
    monkeypatch.delenv("SPARK_MASTER")

    monkeypatch.setenv("MASTER", "spark://host:7077")
    assert _external_master() == "spark://host:7077"
    monkeypatch.delenv("MASTER")

    cases = [
        ("--master k8s://https://host:6443 pyspark-shell", "k8s://https://host:6443"),
        ("--master=yarn pyspark-shell", "yarn"),
        ("--conf spark.master=yarn --deploy-mode cluster pyspark-shell", "yarn"),
        ("--deploy-mode cluster pyspark-shell", None),
    ]
    for args, want in cases:
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", args)
        assert _external_master() == want, args


def test_pydaemon_rereads_a_zip_only_after_it_changed(tmp_path, monkeypatch):
    """The daemon's zipimporter.invalidate_caches re-reads an archive's
    directory on its first call and then only when the file changed, so
    an unchanged zip costs a stat per task and a rewritten one is still
    picked up."""
    import importlib
    import zipfile
    import zipimport

    from python_async_sample_spark import _pydaemon

    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zd_probe_one.py", "X = 1\n")
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _pydaemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zd_probe_one").X == 1
        importlib.invalidate_caches()  # first call on the importer: re-read
        n = len(reads)
        assert n >= 1
        importlib.invalidate_caches()  # unchanged archive: no re-read
        assert len(reads) == n

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zd_probe_one.py", "X = 1\n")
            z.writestr("zd_probe_two.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert len(reads) == n + 1
        assert importlib.import_module("zd_probe_two").Y == 2
    finally:
        sys.modules.pop("zd_probe_one", None)
        sys.modules.pop("zd_probe_two", None)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="the zip re-read is fixed in 3.12")
def test_local_session_workers_run_the_engine_daemon(spark):
    """get_spark's local sessions fork Python workers from _pydaemon, so a
    task's zipimporter.invalidate_caches is the patched one."""
    if not spark.sparkContext.master.startswith("local"):
        pytest.skip("pyspark's own daemon runs on an external master")

    def where_from(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__code__.co_filename

    got = spark.sparkContext.parallelize(range(2), 2).mapPartitions(where_from).collect()
    assert got and all(f.endswith("_pydaemon.py") for f in got), got


def _session_subprocess(cwd, **env_overrides):
    """Run a get_spark session in a fresh interpreter started in ``cwd``:
    one Python-worker task, then ``stop()``. Prints the rows, the session's
    Unix socket dir and the socket files left in it after the stop."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        f"import os, sys; sys.path.insert(0, {repo!r})\n"
        "from python_async_sample_spark.session import get_spark\n"
        "s = get_spark(app_name='subprocess-probe', cpus=1)\n"
        "print('ROWS', s.createDataFrame([(1,)], 'a int').collect())\n"
        "d = s.sparkContext.getConf().get('spark.python.unix.domain.socket.dir')\n"
        "s.stop()\n"
        "print('SOCKDIR', d)\n"
        "print('SOCKS', sorted(f for f in os.listdir(d) if f.endswith('.sock')) if d else None)\n"
    )
    env = {
        k: v for k, v in os.environ.items()
        if not k.startswith("PYSPARK_GATEWAY") and k not in ("SPARK_MASTER", "MASTER")
    }
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env.update(env_overrides)
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return dict(line.split(" ", 1) for line in out.stdout.splitlines() if " " in line)


def test_daemon_imports_whatever_the_cwd(tmp_path):
    """The daemon is launched as `python -m`, so get_spark must put the
    package on the workers' path: a driver started outside the repo still
    runs Python-worker tasks. Its Unix sockets are gone after stop() and
    their directory after the process exits."""
    got = _session_subprocess(tmp_path)
    assert got["ROWS"] == "[Row(a=1)]"
    assert got["SOCKS"] == "[]"
    assert not os.path.exists(got["SOCKDIR"])


def test_long_tmpdir_session_keeps_its_sockets_under_tmp(tmp_path):
    """A temp dir too long for a socket path must not stop the session from
    starting: its sockets move under /tmp."""
    long_tmp = tmp_path / ("t" * (100 - len(str(tmp_path)) - 1))
    long_tmp.mkdir()
    assert len(str(long_tmp)) == 100
    got = _session_subprocess(tmp_path, TMPDIR=str(long_tmp))
    assert got["ROWS"] == "[Row(a=1)]"
    assert os.path.dirname(got["SOCKDIR"]) == "/tmp"
    assert got["SOCKS"] == "[]"
    assert not os.path.exists(got["SOCKDIR"])


def test_socket_dir_chooser_guards_the_path_limit(tmp_path, monkeypatch):
    """The socket dir is a private directory under the temp dir, under /tmp
    when the temp dir is too long for Spark's limit (61 chars for the dir,
    104 bytes for `<dir>/.<uuid4>.sock`), and None (keep TCP) when no
    parent is short enough."""
    import shutil
    import tempfile
    import uuid

    from python_async_sample_spark.session import _make_socket_dir

    def made_under(parent, parents=None):
        path = _make_socket_dir(parents)
        try:
            assert os.path.dirname(path) == parent
            assert os.stat(path).st_mode & 0o777 == 0o700
            assert len(path) <= 61
            assert len(os.path.join(path, f".{uuid.uuid4()}.sock")) <= 104
        finally:
            os.rmdir(path)

    made_under(tempfile.gettempdir())
    long_tmp = tmp_path / ("t" * max(1, 60 - len(str(tmp_path))))
    long_tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(long_tmp))
    made_under("/tmp")
    assert _make_socket_dir((str(long_tmp), "/" + "x" * 60)) is None

    base = tempfile.mkdtemp(dir="/tmp")
    try:
        edge = os.path.join(base, "e" * (49 - len(base) - 1))
        os.mkdir(edge)
        made_under(edge, (edge,))  # a 61-char dir: the longest Spark takes
        assert _make_socket_dir((edge + "x",)) is None
    finally:
        shutil.rmtree(base)


def test_local_session_python_tasks_run_over_unix_sockets(spark):
    """get_spark's local sessions hand Python workers a Unix socket, not
    loopback TCP."""
    if not spark.sparkContext.master.startswith("local"):
        pytest.skip("an external master keeps TCP")

    def mode(_):
        yield os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "").lower()

    assert spark.sparkContext.parallelize(range(2), 2).mapPartitions(mode).collect() == [
        "true",
        "true",
    ]


def _next_job_id(spark):
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_load_table_reads_footer_schemas_without_a_job(spark, sf_dir):
    """load_table takes each table's schema from its footer: no read starts
    a Spark job, and the schema is the one inference would find."""
    from python_async_sample_spark.sources.readers import TABLES

    for name in TABLES:
        before = _next_job_id(spark)
        df = load_table(spark, sf_dir, name)
        assert _next_job_id(spark) == before, name
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert df.schema == inferred, name


def test_load_table_reads_nanos_timestamps_without_a_job(spark, tmp_path):
    """The TIMESTAMP(NANOS) branch reads its footer as longs too: no job,
    and the column comes back as microsecond timestamps."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [1_706_054_400_000_001_999, 1_706_140_800_123_456_789]
    pq.write_table(
        pa.table({"id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}),
        tmp_path / "t.parquet",
    )
    old = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    try:
        before = _next_job_id(spark)
        df = load_table(spark, str(tmp_path), "t")
        assert _next_job_id(spark) == before
        assert isinstance(df.schema["ts"].dataType, TimestampType)
        got = df.selectExpr("id", "unix_micros(ts) AS us").orderBy("id").collect()
        assert [r.us for r in got] == [n // 1000 for n in ns]
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", old)
