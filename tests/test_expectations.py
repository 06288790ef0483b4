"""Table-level expectations: rule semantics, report shape, and the
must-pass gate's FIRING path (q204 exercises its clean path)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException  # noqa: F401  (parity with suite style)

from python_async_sample_spark.operators import expectations as E


def _report(spark, rows, schema, rules):
    df = spark.createDataFrame(rows, schema)
    return {
        r["rule"]: (r["n_checked"], r["n_violations"], r["passed"])
        for r in E.run_expectations(df, rules).collect()
    }


def test_predicate_rules_share_semantics(spark):
    rep = _report(
        spark,
        [(1, 5.0, "O"), (2, -3.0, "Z"), (None, None, None), (4, 2.0e9, "F")],
        "k bigint, price double, status string",
        [
            E.not_null("k"),
            E.in_range("price", 0, 100),
            E.accepted_values("status", ["O", "F"]),
        ],
    )
    assert rep["not_null(k)"] == (4, 1, False)
    # NULL price is not a range violation (declare not_null separately)
    assert rep["in_range(price)"] == (4, 2, False)
    assert rep["accepted_values(status)"] == (4, 1, False)


def test_unique_counts_excess_rows(spark):
    rep = _report(
        spark,
        [(1,), (1,), (1,), (2,), (3,), (3,)],
        "k bigint",
        [E.unique(["k"])],
    )
    # 3 copies of 1 -> 2 excess; 2 copies of 3 -> 1 excess
    assert rep["unique(k)"] == (6, 3, False)


def test_foreign_key_ignores_null_references(spark):
    dim = spark.createDataFrame([(1,), (2,)], "d bigint")
    rep = _report(
        spark,
        [(1,), (2,), (None,), (9,)],
        "fk bigint",
        [E.foreign_key("fk", dim, "d")],
    )
    # NULL reference is not an orphan; 9 is
    assert rep["foreign_key(fk)"] == (3, 1, False)


def test_fail_on_fires_and_passes(spark):
    df = spark.createDataFrame([(1,), (None,)], "k bigint")
    report = E.run_expectations(df, [E.not_null("k"), E.unique(["k"])])
    # clean path: must-pass rule has no violations
    ok = E.fail_on(report, ["unique(k)"])
    assert ok.count() == 2
    # firing path: the violated rule poisons ANY action, count() included
    bad = E.fail_on(report, ["not_null(k)"])
    with pytest.raises(Exception, match="data expectation failed"):
        bad.count()


def test_fail_on_rejects_unknown_rule_names(spark):
    """A typo'd must-pass name must poison the gate, not silently disable
    it (review finding: isin over zero matching rows passed everything)."""
    df = spark.createDataFrame([(1,)], "k bigint")
    report = E.run_expectations(df, [E.not_null("k")])
    bad = E.fail_on(report, ["not_null(K)"])  # wrong case
    with pytest.raises(Exception, match="match no report rule"):
        bad.count()


def test_refresh_baseline_protocol():
    # BASELINE.md's refresh rules: add new, never raise, lower only with flag
    from scripts.bench_compare import refresh_baseline

    base = {"q1": 1.0, "q2": 2.0, "q3": 3.0}
    cur = {"q1": 0.5, "q2": 9.0, "q4": 4.0}

    merged, report = refresh_baseline(base, cur, allow_lower=False)
    assert merged["q1"] == 1.0          # lower refused without the flag
    assert merged["q2"] == 2.0          # NEVER raised
    assert merged["q3"] == 3.0          # untouched entries survive
    assert merged["q4"] == 4.0          # new entries added
    assert any(line.startswith("KEPT") for line in report)

    merged2, _ = refresh_baseline(base, cur, allow_lower=True)
    assert merged2["q1"] == 0.5         # lowered with the flag
    assert merged2["q2"] == 2.0         # still never raised


def test_bench_floors_follow_the_session_core_count(tmp_path, monkeypatch):
    """bench.py flags against the record cut at the session's core count
    when one exists at the run's sf, else against BENCH_SELF.json."""
    import json

    import bench

    def put(name, sf, t):
        (tmp_path / name).write_text(json.dumps({"sf": sf, "queries": {"q01": t}}))

    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    monkeypatch.setattr(bench, "SF_DIR", "/data/sf0.1")
    monkeypatch.setattr(bench, "DEFAULT_CPUS", 4)
    assert bench._committed_reference() == {}
    put("BENCH_SELF.json", 0.1, 2.0)
    assert bench._committed_reference() == {"q01": 2.0}
    put("BENCH_SELF_4c.json", 0.01, 1.0)  # cut at another sf: skipped
    assert bench._committed_reference() == {"q01": 2.0}
    put("BENCH_SELF_4c.json", 0.1, 1.0)
    assert bench._committed_reference() == {"q01": 1.0}
    monkeypatch.setattr(bench, "DEFAULT_CPUS", 8)
    assert bench._committed_reference() == {"q01": 2.0}
