"""near_dup: cache-cold passes over the five near-dup operators.

Closed loop, one client. A pass runs, one after another:
``dedup.minhash_near_dup_pairs``, ``dedup.simhash_near_dup_pairs``,
``api.embedding_near_dup_lsh``, ``dedup.containment_screened`` and
``multimodal.phash_near_dup`` over ``multimodal.media_from_documents``,
each with its default thresholds, on a seeded corpus with planted
positives (see ``gen.near_dup_corpus``). Every operator call is cold:
``spark.catalog.clearCache()`` and ``readers.release_parallel_caches()``
run before it, outside the timed region.

After a pass, every emitted pair must meet its operator's threshold under
an exact check (Python shingle sets, containment sets and float64 cosine;
SimHash and dHash signatures computed once per run through the program's
own signature functions, then compared bit by bit), and every planted
pair the operator guarantees to find must be present.
"""

from __future__ import annotations

import os
import threading
import time

import gen
import stats
from runtime import WORK, Checked, SparkProcess, note

from pyspark.sql import functions as F

from m12_kafkastreams_python_azure_spark.operators.api import embedding_near_dup_lsh
from m12_kafkastreams_python_azure_spark.operators.dedup import (
    CONTAIN_MAX_DF,
    CONTAIN_THRESHOLD,
    containment_screened,
    minhash_near_dup_pairs,
    simhash64,
    simhash_near_dup_pairs,
)
from m12_kafkastreams_python_azure_spark.operators.multimodal import (
    PHASH_BANDS,
    PHASH_MAX_HAMMING,
    image_dhash,
    media_from_documents,
    phash_near_dup,
)
from m12_kafkastreams_python_azure_spark.sources.readers import release_parallel_caches

# corpus size: a pass is dominated by driver and scheduling time (tens of
# jobs per operator), so a larger corpus mostly adds run time
N_BASE = 400
N_VECTORS = 600
HOT_BUCKET = 80  # above CONTAIN_MAX_DF, so its grams are ubiquitous
# operator defaults the checks rely on
MINHASH_J = 0.6
SIMHASH_MAX, SIMHASH_BANDS = 8, 4
EMBED_COS = 0.4
TOL = 1e-6

OPERATORS = ("minhash", "simhash", "embedding_lsh", "containment_screened", "phash")
OVERHEAD_OPS = ("simhash", "phash")
# a warm pass takes ~15 s at 4 cores: a run measures at least two
MIN_PASSES = 2


def _call(name: str, docs, vecs):
    if name == "minhash":
        return minhash_near_dup_pairs(docs)
    if name == "simhash":
        return simhash_near_dup_pairs(docs)
    if name == "embedding_lsh":
        return embedding_near_dup_lsh(vecs)
    if name == "containment_screened":
        return containment_screened(docs)
    return phash_near_dup(media_from_documents(docs))


def _ordered(pairs):
    return {(min(a, b), max(a, b)) for a, b in pairs}


class Workload(Checked):
    def __init__(self, proc: SparkProcess, seed: int):
        super().__init__()
        self.proc = proc
        self.spark = proc.spark
        c = gen.near_dup_corpus(seed, n_base=N_BASE, n_vectors=N_VECTORS, hot_bucket=HOT_BUCKET)
        self.corpus = c
        docs_path, vec_path = gen.write_corpus(c, os.path.join(WORK, "corpus"))
        self.docs = self.spark.read.parquet(docs_path)
        self.vecs = self.spark.read.parquet(vec_path)

    def prepare_checks(self) -> None:
        """Exact references, computed once outside any timed region."""
        c = self.corpus
        self.shingles = {d: gen.shingle_set(t) for d, t in c.docs}
        self.contain = gen.containment_sets(c.docs, 3, CONTAIN_MAX_DF)
        self.simhash = {
            r[0]: r[1]
            for r in self.docs.select("doc_id", simhash64(F.col("text"))).collect()
        }
        self.dhash = {r[0]: r[1] for r in image_dhash(media_from_documents(self.docs)).collect()}
        ham = {
            "simhash": lambda a, b: bin((self.simhash[a] ^ self.simhash[b]) & (2**64 - 1)).count("1"),
            "phash": lambda a, b: bin((self.dhash[a] ^ self.dhash[b]) & (2**64 - 1)).count("1"),
        }
        self.hamming = ham
        twins = _ordered(c.text_twins)
        copies = _ordered(c.text_copies)
        self.required = {
            # J >= ~0.9 on every twin: a band miss in all 8 bands is ~1e-6
            "minhash": twins | copies,
            # pigeonhole: a pair under ``bands`` bits apart shares a band
            "simhash": copies | {p for p in twins if ham["simhash"](*p) < SIMHASH_BANDS},
            "embedding_lsh": _ordered(c.vec_twins) | _ordered(c.vec_copies),
            "containment_screened": {
                p for p in _ordered(c.excerpts) if self._containment(*p) >= CONTAIN_THRESHOLD
            },
            "phash": copies | {
                p for p in twins
                if ham["phash"](*p) <= min(PHASH_MAX_HAMMING, PHASH_BANDS - 1)
            },
        }

    def _containment(self, a: int, b: int) -> float:
        sa, sb = self.contain.get(a, frozenset()), self.contain.get(b, frozenset())
        if not sa or not sb:
            return 0.0
        return len(sa & sb) / min(len(sa), len(sb))

    def _exact_ok(self, name: str, row) -> bool:
        a, b = row.id_a, row.id_b
        if a >= b:
            return False
        if name == "minhash":
            j = gen.jaccard(self.shingles[a], self.shingles[b])
            return j >= MINHASH_J - TOL and abs(j - row.jaccard) <= TOL
        if name == "simhash":
            h = self.hamming["simhash"](a, b)
            return h <= SIMHASH_MAX and h == row.hamming
        if name == "phash":
            h = self.hamming["phash"](a, b)
            return h <= PHASH_MAX_HAMMING and h == row.hamming
        if name == "embedding_lsh":
            cos = gen.cosine(self.corpus.vectors[a], self.corpus.vectors[b])
            return cos >= EMBED_COS - TOL and abs(cos - row.sim) <= TOL
        cont = self._containment(a, b)
        return cont >= CONTAIN_THRESHOLD - TOL and abs(cont - row.containment) <= TOL

    def verify(self, name: str, rows) -> None:
        bad = [r for r in rows if not self._exact_ok(name, r)]
        self.check(not bad, f"{name}: {len(bad)} pairs fail the exact check")
        found = {(r.id_a, r.id_b) for r in rows}
        missing = self.required[name] - found
        self.check(not missing, f"{name}: {len(missing)} planted pairs missing")

    def call(self, name: str, group: str | None = None) -> tuple[float, list, int]:
        """One cold operator call: (wall s, rows, peak pinned bytes; the
        peak is sampled only when ``group`` tags the call for tracing)."""
        self.spark.catalog.clearCache()
        release_parallel_caches()
        peak = [0]
        stop = threading.Event()
        poller = None
        if group is not None:
            self.spark.sparkContext.setJobGroup(group, group)

            def poll():
                while not stop.is_set():
                    peak[0] = max(peak[0], self.proc.pinned_bytes())
                    stop.wait(0.1)

            poller = threading.Thread(target=poll)
            poller.start()
        t0 = time.perf_counter()
        rows = _call(name, self.docs, self.vecs).collect()
        wall = time.perf_counter() - t0
        if poller is not None:
            stop.set()
            poller.join()
            peak[0] = max(peak[0], self.proc.pinned_bytes())
            self.spark.sparkContext.setJobGroup("idle", "idle")
        return wall, rows, peak[0]

    def one_pass(self, check: bool, traced: set[str] = frozenset(), tag: str = "") -> dict[str, tuple]:
        self.proc.full_gc()
        out = {}
        for name in OPERATORS:
            group = f"{tag}{name}" if name in traced else None
            wall, rows, peak = self.call(name, group)
            out[name] = (wall, len(rows), peak, group)
            if check:
                self.verify(name, rows)
        return out


def run(proc: SparkProcess, seed: int, seconds: float, trace: bool, t_start: float) -> tuple[Workload, dict]:
    """One pass in set-up warms the JIT and the code generator: the
    process's first pass takes ~1.7x a later one, and how much longer
    swings with when the compiler threads get a core. Measured passes are
    cache-cold (every operator call starts from cleared caches) but
    JIT-warm; they run back to back until ``seconds`` have passed, at
    least ``MIN_PASSES`` of them."""
    w = Workload(proc, seed)
    w.prepare_checks()
    res = w.one_pass(check=True)
    note("near_dup warm-up pass: " + ", ".join(f"{k} {v[0]:.2f}s/{v[1]}" for k, v in res.items()))
    setup_s = time.perf_counter() - t_start
    if trace:
        return w, traced_pass(w)
    walls = []
    end = time.perf_counter() + seconds
    while len(walls) < MIN_PASSES or time.perf_counter() < end:
        res = w.one_pass(check=True)
        walls.append(sum(r[0] for r in res.values()))
        note("near_dup pass: " + ", ".join(f"{k} {v[0]:.2f}s/{v[1]}" for k, v in res.items()))
    return w, {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (stats.median(walls) * 1000, "ms"),
        "latency_p75_ms": (stats.percentile(walls, 75) * 1000, "ms"),
        "peak_rss_mb": (proc.peak_rss_mb(), "MB"),
    }


def traced_pass(w: Workload) -> dict:
    """One measured pass with every operator call in its own job group,
    then the tracing overhead: the two cheapest operators run twice more,
    each traced in one round and untraced in the other, alternating
    which, so the order effect cancels in the sum."""
    w.measured = w.one_pass(check=True, traced=set(OPERATORS), tag="m.")
    note("near_dup traced pass: " + ", ".join(f"{k} {v[0]:.2f}s/{v[1]}" for k, v in w.measured.items()))
    w.overhead_s = 0.0
    for k, tag in enumerate(("a.", "b.")):
        for i, name in enumerate(OVERHEAD_OPS):
            traced_now = (i + k) % 2 == 0
            wall = w.call(name, tag + name if traced_now else None)[0]
            w.overhead_s += wall if traced_now else -wall
    return {}


def layer_metrics(w: Workload, partial: dict[str, float], events: list[dict]) -> dict[str, float]:
    work = stats.spark_work_by_group(events)
    out = {"trace.overhead_ms": w.overhead_s * 1000}
    for name, (wall, n_rows, peak, group) in w.measured.items():
        g = work.get(group, {})
        p = f"near_dup.{name}."
        out.update({
            p + "wall_s": wall,
            p + "jobs": g.get("jobs", 0),
            p + "stages": g.get("stages", 0),
            p + "tasks": g.get("tasks", 0),
            p + "executor_run_s": g.get("executor_run_s", 0.0),
            p + "driver_s": wall - g.get("stage_wall_s", 0.0),
            p + "shuffle_write_bytes": g.get("shuffle_write_bytes", 0),
            p + "spill_bytes": g.get("spill_bytes", 0),
            p + "pinned_bytes_peak": peak,
            p + "output_rows": n_rows,
        })
    return out
