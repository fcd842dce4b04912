"""The printed bench line must parse inside the driver's 2000-char tail
capture at ANY suite size — r06 and r09 both lost their per-query
payloads to an overgrown line (`parsed: null`). Pins the degradation
ladder and the HEADLINE/queries() agreement."""

from __future__ import annotations

import json

import bench
import __spark_entry__ as entrymod


def _synthetic(n):
    return {
        "metric": "headline_queries_total_runtime",
        "value": 55.123,
        "unit": "sec",
        "queries": {f"query_name_number_{i:02d}": 0.1 + i * 0.05 for i in range(n)},
        "sf": 0.1,
        "streaming_events_per_sec": 167061.8,
        "keep_best_docs_per_sec": 494.3,
    }


def test_every_headline_query_exists():
    q = entrymod.queries()
    missing = [n for n in bench.HEADLINE if n not in q]
    assert missing == []


def test_small_suite_keeps_two_decimals():
    out = _synthetic(5)
    line = bench._compact_line(out)
    parsed = json.loads(line)
    assert parsed["queries"]["query_name_number_00"] == 0.1
    assert parsed["queries"]["query_name_number_03"] == 0.25  # 2-decimal rung


def test_current_headline_size_fits_budget():
    out = _synthetic(len(bench.HEADLINE))
    line = bench._compact_line(out)
    assert len(line) <= bench._LINE_BUDGET
    json.loads(line)


def test_huge_suite_folds_fastest_queries_but_parses():
    out = _synthetic(300)
    line = bench._compact_line(out)
    assert len(line) <= bench._LINE_BUDGET
    parsed = json.loads(line)
    # slow tail stays itemized; folded bucket accounts for the rest
    assert parsed["queries_fast"]["n"] + len(parsed["queries"]) == 300
    kept_min = min(out["queries"][k] for k in parsed["queries"])
    assert kept_min >= 0.1  # the fastest were folded, not the slowest
    assert parsed["value"] == 55.123  # headline total keeps 3 decimals


def test_partial_flag_survives_error_drop():
    out = _synthetic(90)
    out["errors"] = {f"q{i}": "Boom" * 50 for i in range(10)}
    out["partial"] = True
    line = bench._compact_line(out)
    assert len(line) <= bench._LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["partial"] is True


def test_real_headline_names_fit_budget_with_streaming_fields():
    """The synthetic-name test underestimates: real query names average
    longer. Build the record with the ACTUAL HEADLINE names plus every
    optional field the real run emits and assert the rendered line still
    fits (the final round-10 runs measured 1890/1893 of 1900)."""
    out = {
        "metric": "headline_queries_total_runtime",
        "value": 88.888,
        "unit": "sec",
        "regime": bench.BENCH_REGIME,
        "queries": {name: 1.234 for name in bench.HEADLINE},
        "sf": 1.0,
        "streaming_events_per_sec": 1634989.4,
        "keep_best_docs_per_sec": 2265.1,
        "excluded": ["embedding_near_dup", "knn_label_vote"],
    }
    line = bench._compact_line(out)
    assert len(line) <= bench._LINE_BUDGET
    parsed = json.loads(line)
    itemized = set(parsed["queries"]) if isinstance(parsed["queries"], dict) else set()
    folded = parsed.get("queries_fast", {}).get("n", 0)
    assert len(itemized) + folded == len(bench.HEADLINE)


def test_converged_best_stops_on_agreement_and_flags_noise():
    """The throughput convergence rule (VERDICT r14 #2): stop as soon as
    the two fastest runs agree within 4% (noise floor reached), run to
    max_runs and flag converged=False otherwise, and always report the
    MIN."""
    # immediate agreement: second run within 4% of the first
    seq = iter([1.00, 1.02, 9.9])
    best, meta = bench.converged_best(lambda: next(seq), min_runs=2, max_runs=4)
    assert best == 1.00 and meta == {"n_runs": 2, "converged": True}
    # never agrees: runs to max, flagged unconverged, min still reported
    seq = iter([2.0, 1.5, 1.0, 0.5])
    best, meta = bench.converged_best(lambda: next(seq), min_runs=2, max_runs=4)
    assert best == 0.5 and meta == {"n_runs": 4, "converged": False}
    # respects min_runs before testing agreement
    seq = iter([1.0, 1.0, 1.0, 1.0, 1.0])
    best, meta = bench.converged_best(lambda: next(seq), min_runs=5, max_runs=10)
    assert meta == {"n_runs": 5, "converged": True}


def test_fresh_jvm_streaming_parses_child_marker(monkeypatch):
    """VERDICT r15 #3: the streaming measurement runs in its own
    subprocess JVM; the parent parses the child's marker-prefixed JSON
    line and stamps fresh_jvm=True on every meta row."""
    import subprocess
    import types

    payload = {
        "eps": 123.4,
        "eps_untuned": 56.7,
        "meta": {
            "streaming_events_per_sec": {"n_runs": 5, "converged": True},
            "streaming_events_per_sec_untuned": {"n_runs": 2, "converged": True},
        },
    }
    fake_stdout = "noise\n" + bench._STREAM_CHILD_MARKER + json.dumps(payload)

    def fake_run(cmd, **kw):
        assert "--streaming-child" in cmd
        return types.SimpleNamespace(stdout=fake_stdout, stderr="", returncode=0)

    monkeypatch.setattr(subprocess, "run", fake_run)
    eps, eps_u, meta = bench._streaming_throughput_fresh_jvm(None)
    assert (eps, eps_u) == (123.4, 56.7)
    assert all(v["fresh_jvm"] is True for v in meta.values())


def test_fresh_jvm_streaming_falls_back_in_suite(monkeypatch):
    """If the child JVM can't run, the in-suite measurement is used and
    the sidecar meta says so (fresh_jvm=False + reason) instead of
    silently publishing a suite-position-dependent number as fresh."""
    import subprocess

    def fake_run(cmd, **kw):
        raise OSError("no fork for you")

    def fake_in_suite(spark):
        return 99.9, 11.1, {
            "streaming_events_per_sec": {"n_runs": 5, "converged": True},
            "streaming_events_per_sec_untuned": {"n_runs": 2, "converged": False},
        }

    monkeypatch.setattr(subprocess, "run", fake_run)
    monkeypatch.setattr(bench, "_streaming_throughput", fake_in_suite)
    eps, eps_u, meta = bench._streaming_throughput_fresh_jvm(None)
    assert (eps, eps_u) == (99.9, 11.1)
    for v in meta.values():
        assert v["fresh_jvm"] is False
        assert "OSError" in v["fresh_jvm_fallback_reason"]
