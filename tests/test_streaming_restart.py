"""Crash-restart: every foreachBatch curation processor keeps stream ==
batch across a real crash and restart of its streaming query.

A wrapper calls the real processor and then raises on the first delivery
of batch 1, so the crash lands after the batch's data write and before
Spark commits the batch. The query restarts on the same checkpoint with a
freshly constructed processor, as a restarted job would build it. Spark
re-delivers batch 1 under the same id; the replay must overwrite its own
output (exactly-once through idempotent writes keyed by batch id), the
fit-once artifacts must not be rewritten, and the read-back must equal the
batch twin: the row tuples each processor's own test compares, here as a
multiset, so a replay that duplicated rows could not pass."""

from __future__ import annotations

import os
from collections import Counter
from collections.abc import Callable
from typing import NamedTuple

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m12_kafkastreams_python_azure_spark.operators import corpus as C
from m12_kafkastreams_python_azure_spark.operators import curation as CU
from m12_kafkastreams_python_azure_spark.operators import dedup as D
from m12_kafkastreams_python_azure_spark.operators import dsir as DS
from m12_kafkastreams_python_azure_spark.operators import graph as G
from m12_kafkastreams_python_azure_spark.sources.readers import load_table
from m12_kafkastreams_python_azure_spark.streaming import advanced as A

class Case(NamedTuple):
    stream: DataFrame  # the docs the query consumes, in 3 shards
    make: Callable  # state_dir -> (batch, batch_id) processor
    got: Callable  # state_dir -> read-back row tuples
    want: Callable  # () -> the batch twin's row tuples
    fitted: tuple[str, ...]  # fit-once artifact dirs under state_dir


def _contam_rows(df):
    return [(r.doc_id, r.n_collisions, r.n_grams, r.contam_ratio) for r in df.collect()]


def _weight_rows(df):
    return [(r.doc_id, round(r.log_weight, 9), r.n_grams) for r in df.collect()]


def _keep_rows(df):
    return [
        (r.doc_id, r.cluster, r.cluster_size, r.quality_score) for r in df.collect()
    ]


def _group_counts(df, group_col):
    return [
        tuple(r)
        for r in df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n")).collect()
    ]


def _cases(spark, sf_dir) -> dict[str, Case]:
    docs = load_table(spark, sf_dir, "documents")
    ref = docs.select("doc_id", "text")
    # exact copies of every 10th doc under new ids: cross-batch duplicates
    # for the two dedup processors
    dups = ref.unionByName(
        ref.filter(F.col("doc_id") % 10 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1000
        )
    )
    ev = docs.filter(F.col("doc_id") % C.EVAL_MOD == 0)
    train = docs.filter(F.col("doc_id") % C.EVAL_MOD != 0).select("doc_id", "text")
    tgt = docs.filter(F.col("source").isin(*DS.DSIR_TARGET_SOURCES))
    raw = docs.filter(~F.col("source").isin(*DS.DSIR_TARGET_SOURCES)).select(
        "doc_id", "text"
    )
    by_lang = docs.select("doc_id", "text", "lang")
    by_source = docs.select("doc_id", "text", "source")
    excerpts = D.docs_excerpt_stream(ref)
    return {
        "dedup": Case(
            dups,
            A.dedup_batch_processor,
            lambda s: [r.doc_id for r in spark.read.parquet(s).collect()],
            lambda: [r.keep_doc_id for r in D.dedup_exact(dups).collect()],
            (),
        ),
        "keep_best": Case(
            dups,
            A.keep_best_batch_processor,
            lambda s: _keep_rows(spark.read.parquet(f"{s}/keep")),
            lambda: _keep_rows(G.dedup_keep_best(dups)),
            (),
        ),
        "decontaminate": Case(
            train,
            lambda s: A.decontaminate_batch_processor(ev, s),
            lambda s: _contam_rows(A.read_contaminated(spark, s).drop("batch")),
            lambda: _contam_rows(C.decontaminate_bloom(docs)),
            ("eval_grams",),
        ),
        "dsir": Case(
            raw,
            lambda s: A.dsir_batch_processor(tgt, raw, s),
            lambda s: _weight_rows(
                A.read_dsir_weights(spark, s).drop("batch", "gumbel_key")
            ),
            lambda: _weight_rows(DS.dsir_weights(tgt, raw)),
            ("models",),
        ),
        "ccnet": Case(
            by_lang,
            lambda s: A.ccnet_batch_processor(by_lang, s),
            lambda s: [
                (r.doc_id, r.avg_log2p) for r in A.read_ccnet_buckets(spark, s).collect()
            ],
            lambda: [
                (r.doc_id, r.avg_log2p) for r in C.bigram_lm_score(by_lang).collect()
            ],
            ("model",),
        ),
        "temperature": Case(
            by_lang,
            lambda s: A.temperature_batch_processor(by_lang, s),
            lambda s: _group_counts(A.read_temperature_kept(spark, s), "lang"),
            lambda: [
                (r.lang, r.n_kept) for r in CU.temperature_sample(by_lang).collect()
            ],
            ("rates",),
        ),
        "doremi": Case(
            by_source,
            lambda s: A.doremi_batch_processor(by_source, s),
            lambda s: _group_counts(A.read_doremi_kept(spark, s), "source"),
            lambda: [
                (r.source, r.n_kept)
                for r in CU.doremi_resample(by_source).collect()
                if r.n_kept > 0
            ],
            ("rates",),
        ),
        "containment": Case(
            excerpts,
            lambda s: A.containment_batch_processor(ref, s),
            lambda s: [
                (r.doc_id, r.ref_id, r.shared_grams, r.containment)
                for r in A.read_containment_matches(spark, s).collect()
            ],
            lambda: [
                (r.doc_id, r.ref_id, r.shared_grams, r.containment)
                for r in D.containment_against(
                    excerpts, *D.build_containment_ref(ref)
                ).collect()
            ],
            ("model",),
        ),
        "soft_dedup": Case(
            ref,
            lambda s: A.soft_dedup_batch_processor(ref, s),
            lambda s: [
                (r.doc_id, r.n_grams, r.commonness, r.weight)
                for r in A.read_soft_dedup_weights(spark, s).collect()
            ],
            lambda: [
                (r.doc_id, r.n_grams, r.commonness, r.weight)
                for r in D.soft_dedup_against(
                    ref, *D.build_soft_dedup_ref(ref)
                ).collect()
            ],
            ("model",),
        ),
    }


PROCESSORS = [
    "dedup",
    "keep_best",
    "decontaminate",
    "dsir",
    "ccnet",
    "temperature",
    "doremi",
    "containment",
    "soft_dedup",
]


def _write_shards(df: DataFrame, src: str, scratch: str) -> None:
    """Three parquet files of contiguous doc_id ranges, oldest first, so
    a maxFilesPerTrigger=1 stream delivers them as batches 0, 1, 2."""
    ids = sorted(r.doc_id for r in df.select("doc_id").collect())
    lo, hi = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    shards = [
        F.col("doc_id") < lo,
        (F.col("doc_id") >= lo) & (F.col("doc_id") < hi),
        F.col("doc_id") >= hi,
    ]
    os.makedirs(src)
    for i, cond in enumerate(shards):
        out = f"{scratch}/shard{i}"
        df.filter(cond).coalesce(1).write.parquet(out)
        (part,) = [f for f in os.listdir(out) if f.endswith(".parquet")]
        dest = f"{src}/shard{i}.parquet"
        os.rename(f"{out}/{part}", dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))


def _mtimes(state: str, dirs: tuple[str, ...]) -> dict[str, float]:
    return {
        os.path.join(root, f): os.path.getmtime(os.path.join(root, f))
        for d in dirs
        for root, _, files in os.walk(os.path.join(state, d))
        for f in files
    }


def _crash_after_first_batch_1(process, delivered: list[int]):
    def _run(batch, batch_id):
        delivered.append(batch_id)
        process(batch, batch_id)
        if batch_id == 1 and delivered.count(1) == 1:
            raise RuntimeError("injected crash after batch 1's write")

    return _run


@pytest.mark.parametrize("name", PROCESSORS)
def test_crash_restart_keeps_stream_equal_batch(spark, sf_dir, tmp_path, name):
    case = _cases(spark, sf_dir)[name]
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    _write_shards(case.stream, src, str(tmp_path / "scratch"))
    stream = (
        spark.readStream.schema(case.stream.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    delivered: list[int] = []

    q = A.start(stream, _crash_after_first_batch_1(case.make(state), delivered), ckpt)
    try:
        with pytest.raises(StreamingQueryException, match="injected crash"):
            q.processAllAvailable()
    finally:
        q.stop()
    fitted = _mtimes(state, case.fitted)
    assert bool(fitted) == bool(case.fitted)

    q = A.start(stream, _crash_after_first_batch_1(case.make(state), delivered), ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert delivered == [0, 1, 1, 2]  # batch 1 was really replayed
    assert _mtimes(state, case.fitted) == fitted
    got = Counter(case.got(state))
    assert got and got == Counter(case.want())
