"""Fault isolation for the bench harness (bench.run_headline).

Rounds 3 and 4 produced empty BENCH artifacts (rc=1, no timings) because
one query's AnalysisException aborted the whole process. The contract
now: a failing query is recorded under ``errors`` and every other query
still gets a timing. The file also pins the one run rule: every run
starts with no pins and the clock covers construction + count().
"""

from __future__ import annotations

import time

import bench
from m12_kafkastreams_python_azure_spark.sources.readers import (
    register_parallel_cache,
)


def _ok_query(spark, sf_dir):
    return spark.range(10)


def _analysis_error_query(spark, sf_dir):
    # resolves lazily to an AnalysisException at plan time, like the
    # TIMESTAMP_NTZ failures that zeroed BENCH_r03/r04
    return spark.range(10).select("no_such_column")


def _runtime_error_query(spark, sf_dir):
    raise RuntimeError("boom at build time")


def test_one_broken_query_does_not_zero_the_artifact(spark, sf_dir):
    queries = {
        "good_a": _ok_query,
        "broken_analysis": _analysis_error_query,
        "broken_build": _runtime_error_query,
        "good_b": _ok_query,
    }
    timings, errors, _meta = bench.run_headline(
        spark, queries, list(queries), sf_dir=sf_dir
    )
    assert set(timings) == {"good_a", "good_b"}
    assert all(t >= 0 for t in timings.values())
    assert set(errors) == {"broken_analysis", "broken_build"}
    assert "AnalysisException" in errors["broken_analysis"]
    assert "RuntimeError" in errors["broken_build"]


def test_transient_run2_failure_keeps_run1_timing(spark, sf_dir):
    """A valid run-1 measurement must survive a transient run-2 failure
    (memory pressure etc.): the query is recorded under BOTH timings (the
    finite best) and errors (so 'partial' still flags the artifact)."""
    calls = {"n": 0}

    def _flaky(spark, sf_dir):
        calls["n"] += 1
        if calls["n"] > 1:
            raise RuntimeError("transient second-run failure")
        return spark.range(10)

    timings, errors, _meta = bench.run_headline(spark, {"f": _flaky}, ["f"], sf_dir=sf_dir)
    assert "f" in timings and timings["f"] >= 0
    assert "f" in errors and "transient" in errors["f"]


def test_all_green_produces_no_errors_key(spark, sf_dir):
    timings, errors, _meta = bench.run_headline(
        spark, {"g": _ok_query}, ["g"], sf_dir=sf_dir
    )
    assert timings == {"g": timings["g"]} and errors == {}


def test_runmeta_records_convergence(spark):
    """ADVICE r13: the sidecar must distinguish a converged min from a
    6-run unconverged one. The meta invariant is load-independent (a
    busy sandbox can legitimately fail to converge even on range(10)):
    converged -> stopped in 3..6 runs; not converged -> all 6 spent."""

    def _fast(s, sf_dir):
        return s.range(10)

    timings, errors, meta = bench.run_headline(
        spark, {"fast": _fast}, ["fast"], sf_dir="unused"
    )
    assert errors == {}
    m = meta["fast"]
    assert isinstance(m["converged"], bool)
    if m["converged"]:
        assert 3 <= m["n_runs"] <= 6
    else:
        assert m["n_runs"] == 6


def test_every_run_starts_with_no_pins(spark):
    """Each timed run is cold: a query that pins at construction finds
    the CacheManager empty on EVERY run, not only the first — runs 2+
    must not plan-match run 1's pins."""

    def _pinning(s, sf_dir):
        assert s._jsparkSession.sharedState().cacheManager().isEmpty()
        df = register_parallel_cache(s.range(100).persist())
        df.count()
        return df

    timings, errors, meta = bench.run_headline(
        spark, {"pin": _pinning}, ["pin"], sf_dir="unused"
    )
    assert errors == {}
    assert "pin" in timings and meta["pin"]["n_runs"] >= 3


def test_construction_is_inside_the_clock(spark):
    """Work a query does while it is built (pins with count barriers,
    driver-looped merges) is timed like the final count()."""

    def _slow_build(s, sf_dir):
        time.sleep(0.2)
        return s.range(10)

    timings, errors, _meta = bench.run_headline(
        spark, {"slow": _slow_build}, ["slow"], sf_dir="unused"
    )
    assert errors == {} and timings["slow"] >= 0.2
