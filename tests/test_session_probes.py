"""Driver-environment robustness probes.

The external harness builds its OWN SparkSession — no guarantee of UTC,
parquet-reader defaults, or canonical sf_dir spelling. These tests replay
the hostile variants against the same oracles so the contract in
``pin_reader_conf`` stays load-bearing instead of accidental.
"""

from __future__ import annotations

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
