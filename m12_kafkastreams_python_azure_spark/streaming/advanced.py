"""Advanced Structured Streaming operators: stream-stream interval join,
custom stateful processing (applyInPandasWithState), the foreachBatch
curation processors, and the rate-source load generator (reference P1,
producer-app-data.yaml:29-38).

Scale notes:
- The stream-stream join keeps both sides' state bounded by the watermark +
  the join's time bound; state is keyed and co-partitioned on the join key,
  so each micro-batch only shuffles new rows.
- ``applyInPandasWithState`` ships Arrow batches per key-group into Python —
  the slow path, reserved for semantics built-ins can't express (here: a
  running per-user aggregate with custom eviction we control). State lives
  in the Spark state store, partitioned by key: scales horizontally.
- The foreachBatch processors (exact dedup, keep-best, and the fit-once
  curation set: decontaminate, DSIR, CCNet, temperature, DoReMi,
  containment, soft-dedup) share one skeleton: fit artifacts once,
  transform each micro-batch, overwrite ``batch=<id>``, read back, and
  ``start``. Each is the streaming twin of a batch operator and calls the
  same math.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window

from ..functions.text import quality_score_cols
from ..operators import corpus, curation, dedup, dsir, graph
from ..sources.fs import dir_has_data


def view_purchase_join(
    views: DataFrame,
    purchases: DataFrame,
    max_gap: str = "10 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: every (view -> purchase) pair by the
    same user where the purchase lands within ``max_gap`` after the view.

    Both sides are watermarked and the join condition carries the time
    bound, so Spark evicts state once the watermark passes — bounded state,
    the streaming version of the batch bucketed interval self-join
    (operators.joins.q_event_pairs_10min).

    ``how="left_outer"`` additionally emits every unmatched view with NULL
    purchase columns — but only once the watermark has passed the view's
    join window (Spark must be certain no matching purchase can still
    arrive), which is why outer results trail the inner ones by up to the
    watermark delay. Same bounded-state guarantee.
    """
    v = (
        views.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return v.join(
        p,
        F.expr(
            f"""
            v_user = p_user AND
            purchase_ts >= view_ts AND
            purchase_ts <= view_ts + interval {max_gap}
            """
        ),
        how,
    ).select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        "view_ts",
        "purchase_ts",
        "purchase_value",
    )


USER_STATS_OUTPUT = (
    "user_id bigint, n_events bigint, value_sum double, n_types bigint"
)
USER_STATS_STATE = "n bigint, vsum double, types array<string>"


def _user_stats_fn(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Running per-user stats with an exact distinct-type set in state —
    the kind of custom stateful aggregate (exact streaming distinct over a
    small per-key domain) that built-in streaming aggs reject."""
    if state.exists:
        n, vsum, types = state.get
        seen = set(types)
    else:
        n, vsum, seen = 0, 0.0, set()
    for pdf in batches:
        n += len(pdf)
        vsum += float(pdf["value"].sum())
        seen.update(pdf["event_type"].dropna().unique().tolist())
    state.update((n, vsum, sorted(seen)))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "value_sum": [vsum],
            "n_types": [len(seen)],
        }
    )


def user_stats_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: one updated
    row per user per micro-batch with running count / sum / exact distinct
    event-type count."""
    return (
        events.select("user_id", "event_type", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_stats_fn,
            outputStructType=USER_STATS_OUTPUT,
            stateStructType=USER_STATS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def rate_source(
    spark: SparkSession, rows_per_second: int = 1, num_partitions: int = 3
) -> DataFrame:
    """P1 synthetic load generator (reference producer-app-data.yaml:29-38:
    1 rec/s perf-test producer) as Spark's built-in rate source."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .option("numPartitions", num_partitions)
        .load()
    )


def dedup_stream_within_watermark(
    events: DataFrame,
    keys: Iterable[str] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Built-in bounded-state streaming dedup:
    ``dropDuplicatesWithinWatermark`` emits the first row per key and
    keeps that key's state only until the watermark passes its event
    time — the state store stays bounded by (arrival rate x watermark)
    instead of growing with every key ever seen.

    This completes the engine's three streaming-dedup shapes, each with a
    different state/guarantee trade:

    - ``dropDuplicates(keys)`` (pipeline.py): exact forever, UNBOUNDED
      state — right for finite key domains (category x hotel).
    - this one: exact for duplicates arriving within the watermark of
      each other, bounded state — right for at-least-once transports
      (Kafka producer retries, task re-sends) where dups cluster in time.
    - ``start_dedup_stream`` (foreachBatch anti-join against the sink):
      exactly-once APPEND across restarts, state = the sink itself.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


# --------------------------------------------------- foreachBatch skeleton
#
# Every foreachBatch processor below is the same machine. Construction
# fits the processor's artifacts once under ``state_dir`` and skips the fit
# when they are already there, so a restarted query reuses them. Each
# micro-batch is transformed and overwrites ``{out}/batch=<id>``.
# foreachBatch is at-least-once: after a crash Spark re-delivers the batch
# it had not committed, and the replay rewrites that batch's own directory
# instead of appending a second copy. Output is therefore exactly-once at
# directory granularity (the idempotent-sink recovery of Structured
# Streaming). tests/test_streaming_restart.py crashes and restarts every
# processor to pin this.


def _fit_once(
    spark: SparkSession,
    state_dir: str,
    artifacts: tuple[str, ...],
    fit: Callable[[], Iterable[DataFrame]],
) -> None:
    """Write the DataFrames ``fit()`` returns, in order, to
    ``{state_dir}/<name>`` for the names in ``artifacts`` — unless every
    one of them already holds data. Each artifact is written before the
    next one is taken, so a generator ``fit`` may read an earlier
    artifact back."""
    if all(dir_has_data(spark, f"{state_dir}/{a}") for a in artifacts):
        return
    for name, df in zip(artifacts, fit(), strict=True):
        df.write.mode("overwrite").parquet(f"{state_dir}/{name}")


def _write_batch(df: DataFrame, out: str, batch_id: int) -> None:
    df.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")


def _per_batch(
    state_dir: str,
    artifacts: tuple[str, ...],
    out: str,
    transform: Callable[..., DataFrame],
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch function of a fit-once processor:
    ``transform(batch, *artifacts)`` overwrites
    ``{state_dir}/{out}/batch=<id>``."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        read = batch.sparkSession.read
        models = [read.parquet(f"{state_dir}/{a}") for a in artifacts]
        _write_batch(transform(batch, *models), f"{state_dir}/{out}", batch_id)

    return _process


def read_batches(spark: SparkSession, out: str) -> DataFrame:
    """Everything the batches wrote under ``out`` so far: the union of
    the ``batch=<id>`` directories, ``batch`` column retained for
    audit."""
    return spark.read.option("basePath", out).parquet(out)


def _read_prior(spark: SparkSession, out: str, batch_id: int) -> DataFrame | None:
    """What the EARLIER batches wrote under ``out``: this batch's own,
    possibly half-written, replay directory is excluded (the replay
    overwrites it). None means nothing is durable yet.

    Only a genuinely empty state means that. Swallowing every read
    failure would skip the caller's anti-join and emit duplicates. The
    one other state that means it: a crash during the FIRST batch's
    write can leave only uncommitted debris (``batch=N/_temporary``);
    the dir exists but holds zero committed parquet files and the read
    fails schema inference. Every other analysis error propagates."""
    if not dir_has_data(spark, out):
        return None
    try:
        prior = read_batches(spark, out)
    except AnalysisException as exc:
        if "UNABLE_TO_INFER_SCHEMA" not in str(exc):
            raise
        return None
    return prior.filter(F.col("batch") != batch_id).drop("batch")


def start(
    docs: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Run a ``(batch, batch_id)`` processor over every micro-batch of
    the streaming ``docs``. The checkpoint is what lets a restarted
    query re-deliver the batch it crashed in, under the same id."""
    return (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def _id_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))


# ------------------------------------------------ incremental exact dedup


def dedup_batch_processor(
    out_dir: str, key_col: str = "text", id_col: str = "doc_id"
):
    """The foreachBatch function of ``start_dedup_stream``: per batch,
    the lowest-id row per content hash, anti-joined against every hash
    earlier batches emitted."""
    hash_col = F.sha2(F.col(key_col).cast("string"), 256).alias("__h")

    def _process(batch: DataFrame, batch_id: int) -> None:
        fresh = (
            batch.withColumn("__h", hash_col)
            # batch-local winner per hash: lowest id (deterministic)
            .withColumn(
                "__rn",
                F.row_number().over(Window.partitionBy("__h").orderBy(id_col)),
            )
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        seen = _read_prior(batch.sparkSession, out_dir, batch_id)
        if seen is not None:
            fresh = fresh.join(seen.select("__h").distinct(), "__h", "left_anti")
        _write_batch(fresh, out_dir, batch_id)

    return _process


def start_dedup_stream(
    docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str = "text",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """Incremental exact dedup: per micro-batch, keep one row per content
    hash that has never been emitted before (anti-join against the output so
    far), append survivors as ``batch=<id>`` partition dirs (readers see
    an extra ``batch`` column)."""
    process = dedup_batch_processor(out_dir, key_col, id_col)
    return start(docs, process, checkpoint_dir)


# ------------------------------------------------- incremental keep-best dedup


def keep_best_batch_processor(
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    prefix_len: int = 20,
):
    """foreachBatch function for ``start_keep_best_stream`` — the streaming
    spine of ``graph.dedup_keep_best`` (cluster transitive near-dups, keep
    the best-quality doc per cluster).

    Incremental contract (and why stream == batch EXACTLY): the state dirs
    persist (a) each doc's blocking signature + quality — ``sigs/`` — and
    (b) the cumulative near-dup EDGE set — ``pairs/``. A micro-batch
    discovers only the pairs with >= 1 NEW endpoint (new x new, plus
    new x state via the prefix-bucket equi-join: each pair in the stream's
    lifetime is computed exactly once — the incremental saving), appends
    them, and re-derives the keep list with ``graph.keep_best_per_cluster``
    over the CUMULATIVE edges and sigs — the identical tail
    ``dedup_keep_best`` runs, over an identical pair set, so the emitted
    ``keep/`` snapshot equals the batch operator on all docs seen so far,
    retroactive keeper changes included (a late arrival can dethrone an
    earlier keeper — which is why the output is a per-batch SNAPSHOT,
    complete-mode semantics, not an append log).

    Scale shape: per batch, the pair discovery joins |batch| rows against
    the bucket-keyed signature state (an equi-join, never all-pairs); the
    CC + argmax tail runs over the edge set (near-dups only — orders of
    magnitude smaller than the corpus) plus the 3-column scored-node
    table."""
    sigs_dir = f"{state_dir}/sigs"
    pairs_dir = f"{state_dir}/pairs"

    def _process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        new_sigs = batch.select(
            F.col(id_col).alias("id"),
            F.substring(F.col(text_col), 1, prefix_len).alias("pfx"),
            dedup.shingles(F.col(text_col)).alias("sh"),
            quality_score_cols(F.col(text_col))["quality_score"].alias("q"),
        ).persist()
        new_pairs = graph.prefix_bucket_pairs(new_sigs, jaccard_threshold)
        old_sigs = _read_prior(spark, sigs_dir, batch_id)
        if old_sigs is not None:
            new_pairs = new_pairs.unionByName(
                graph.prefix_bucket_cross_pairs(new_sigs, old_sigs, jaccard_threshold)
            )
        _write_batch(new_pairs, pairs_dir, batch_id)
        _write_batch(new_sigs, sigs_dir, batch_id)
        keep = graph.keep_best_per_cluster(
            read_batches(spark, pairs_dir).select(
                F.col("id_a").alias("src"), F.col("id_b").alias("dst")
            ),
            read_batches(spark, sigs_dir).select("id", "q"),
        )
        keep.write.mode("overwrite").parquet(f"{state_dir}/keep")
        new_sigs.unpersist()

    return _process


def start_keep_best_stream(
    docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    prefix_len: int = 20,
) -> StreamingQuery:
    """Streaming keep-best near-dup curation: after every micro-batch,
    ``{state_dir}/keep`` holds exactly what ``graph.dedup_keep_best``
    would output on all documents seen so far (equivalence pinned in
    tests/test_round9_ops.py on a replayed corpus)."""
    process = keep_best_batch_processor(
        state_dir, text_col, id_col, jaccard_threshold, prefix_len
    )
    return start(docs, process, checkpoint_dir)


# ---------------------------------------------- streaming decontamination


def decontaminate_batch_processor(
    eval_docs: DataFrame,
    state_dir: str,
    n: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """foreachBatch function for ``start_decontaminate_stream`` — the
    incremental twin of ``corpus.decontaminate_bloom`` (VERDICT r10 #4):
    corpus shards arrive as micro-batches and each is screened against a
    FIXED eval set whose Bloom filter is built exactly once, at
    processor construction, then reused by every batch.

    Why stream == batch EXACTLY: per-document contamination is a
    function of (the doc's grams, the eval gram set) alone — there is no
    cross-document state — so screening shard-by-shard against the same
    persisted eval grams produces precisely the rows the batch operator
    produces over the union of shards.

    The eval gram set is written once to ``{state_dir}/eval_grams``
    (parquet, the exact-confirm side) and the bloom words are collected
    once into the closure (the ~25x-smaller probe side) — a 10^8-gram
    eval set costs each micro-batch a closure-shipped bit array plus a
    confirm join that only moves the bloom-surviving sliver, never a
    per-batch rebuild or a string broadcast. Output:
    ``{state_dir}/contam/batch=<id>``."""
    ngram_n = corpus.DECONTAM_N if n is None else n
    spark = eval_docs.sparkSession
    arts = ("eval_grams",)
    eval_grams = eval_docs.select(
        F.explode(corpus.word_ngrams(F.col(text_col), ngram_n)).alias("gram")
    ).distinct()
    _fit_once(spark, state_dir, arts, lambda: [eval_grams])
    bloom, m_bits = corpus.build_gram_bloom(
        spark.read.parquet(f"{state_dir}/eval_grams")
    )

    def _transform(batch: DataFrame, ev: DataFrame) -> DataFrame:
        grams = batch.select(
            F.col(id_col).alias("doc_id"),
            F.explode(corpus.word_ngrams(F.col(text_col), ngram_n)).alias("gram"),
        )
        totals = grams.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_grams")
        )
        cand = grams.filter(
            corpus.bloom_might_contain(bloom, m_bits, F.col("gram"))
        )
        confirmed = cand.join(ev.withColumn("hit", F.lit(True)), "gram")
        return (
            confirmed.groupBy("doc_id")
            .agg(F.count_distinct("gram").alias("n_collisions"))
            .join(totals, "doc_id")
            .select(
                "doc_id",
                "n_collisions",
                "n_grams",
                F.round(
                    F.col("n_collisions").cast("double")
                    / F.col("n_grams").cast("double"),
                    6,
                ).alias("contam_ratio"),
            )
        )

    return _per_batch(state_dir, arts, "contam", _transform)


def read_contaminated(spark: SparkSession, state_dir: str) -> DataFrame:
    """All contaminated docs seen by the stream so far."""
    return read_batches(spark, f"{state_dir}/contam")


def start_decontaminate_stream(
    docs: DataFrame,
    eval_docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    n: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """Streaming decontamination: after every micro-batch,
    ``read_contaminated`` over ``state_dir`` equals
    ``corpus.decontaminate_bloom``'s output on all train shards seen so
    far (pinned in tests/test_streaming_decontam.py, replay included)."""
    process = decontaminate_batch_processor(
        eval_docs, state_dir, n, text_col, id_col
    )
    return start(docs, process, checkpoint_dir)


# ----------------------------------------------- streaming DSIR scoring


def dsir_batch_processor(
    target_docs: DataFrame,
    raw_sample: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """foreachBatch function for ``start_dsir_stream`` — the incremental
    twin of ``dsir.dsir_weights``, in the deployment shape the paper
    assumes: the target and raw hashed-n-gram models are FIT ONCE (on
    the target set and a raw sample) into ``{state_dir}/models/``, and
    every arriving corpus shard is scored against them — a narrow pass +
    two <=256-row broadcast joins per batch, never a per-batch model
    rebuild.

    Why stream == batch EXACTLY (pinned in tests): per-document weight
    is a function of (the doc's grams, the two fixed models) alone, so
    scoring shard-by-shard against persisted models reproduces the
    batch weights whenever the batch models were fit on the same split.
    The per-doc Gumbel key (md5-derived) is written alongside, so a
    downstream ``read_dsir_selection`` over the CUMULATIVE weights is
    the same Gumbel-top-n sample ``dsir_resample`` draws — the stream
    never has to re-shuffle history to keep the sample correct, because
    top-n over (append-only keys) is monotone."""
    arts = ("models/target", "models/raw")
    _fit_once(
        target_docs.sparkSession,
        state_dir,
        arts,
        lambda: [
            m.coalesce(1)
            for m in dsir.dsir_model_tables(target_docs, raw_sample, text_col)
        ],
    )

    def _transform(
        batch: DataFrame, tmodel: DataFrame, rmodel: DataFrame
    ) -> DataFrame:
        return dsir.dsir_score_with_models(
            _id_text(batch, id_col, text_col), tmodel, rmodel
        ).withColumn(
            "gumbel_key", F.col("log_weight") + dsir.gumbel_key_col(F.col("doc_id"))
        )

    return _per_batch(state_dir, arts, "weights", _transform)


def read_dsir_weights(spark: SparkSession, state_dir: str) -> DataFrame:
    return read_batches(spark, f"{state_dir}/weights")


def read_dsir_selection(
    spark: SparkSession, state_dir: str, n: int
) -> DataFrame:
    """Gumbel-top-n over everything scored so far — equals
    ``dsir_resample`` on the union of shards when the models match."""
    return (
        read_dsir_weights(spark, state_dir)
        .drop("batch")
        .orderBy(F.col("gumbel_key").desc(), "doc_id")
        .limit(n)
    )


def start_dsir_stream(
    docs: DataFrame,
    target_docs: DataFrame,
    raw_sample: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """Streaming DSIR scoring: fit-once models, score every micro-batch,
    cumulative Gumbel-top-n via ``read_dsir_selection``."""
    process = dsir_batch_processor(
        target_docs, raw_sample, state_dir, text_col, id_col
    )
    return start(docs, process, checkpoint_dir)


# ----------------------------------------- streaming CCNet bucketing


def ccnet_batch_processor(
    fit_docs: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
):
    """foreachBatch function for CCNet bucketing — the incremental twin
    of ``corpus.ccnet_buckets(thresholds="approx")`` (the round-13
    web-scale path): the bigram LM tables AND the per-language
    head/middle score cutoffs (``corpus.ccnet_cutoffs``) are fit ONCE
    (on the fitting corpus — CCNet fits its LM on the crawl snapshot
    being bucketed) into ``{state_dir}/model``; every arriving shard is
    scored against the fixed model (two vocabulary-bounded broadcast
    joins) and bucketed by the fixed cutoffs (a |langs|-row broadcast +
    ``corpus.ccnet_bucket_col``) — no window, no per-language buffering,
    no per-batch refit.

    stream == batch-with-the-same-artifacts EXACTLY (pinned in
    tests/test_streaming_ccnet.py, including shard-invariance and
    replay): a doc's bucket is a pure function of (its grams, the fixed
    model, the fixed cutoffs). Aggregating ``read_ccnet_buckets``
    reproduces the batch operator's (lang, bucket) rollup."""
    spark = fit_docs.sparkSession
    arts = ("model/bigram", "model/hist", "model/cutoffs")

    def _fit():
        bigram_counts, hist_counts = corpus.bigram_lm_model_tables(fit_docs)
        yield bigram_counts
        yield hist_counts.coalesce(1)
        # the cutoffs score the fit corpus under the model as persisted
        scored = corpus.bigram_lm_score_with_model(
            _id_text(fit_docs, id_col, text_col),
            spark.read.parquet(f"{state_dir}/model/bigram"),
            spark.read.parquet(f"{state_dir}/model/hist"),
        )
        langs = fit_docs.select(F.col(id_col).alias("doc_id"), group_col)
        cuts = corpus.ccnet_cutoffs(scored.join(langs, "doc_id"), group_col)
        yield cuts.coalesce(1)

    _fit_once(spark, state_dir, arts, _fit)

    def _transform(
        batch: DataFrame,
        bigram_counts: DataFrame,
        hist_counts: DataFrame,
        cuts: DataFrame,
    ) -> DataFrame:
        docs = batch.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            F.col(group_col).alias("lang"),
        )
        scored = corpus.bigram_lm_score_with_model(
            docs.select("doc_id", "text"), bigram_counts, hist_counts
        )
        # LEFT joins from the batch side: a doc none of whose bigrams
        # exist in the fit model (novel vocabulary), or whose language
        # has no fitted cutoffs, must NOT silently vanish from bucket
        # output (ADVICE r13 — the inner-join spelling lost such docs
        # with no signal). They route to an explicit 'unscored' bucket
        # so the deployment shape surfaces drift (a growing unscored
        # share means the fit snapshot no longer covers the stream) and
        # every input doc appears in exactly one bucket.
        return (
            docs.select("doc_id", "lang")
            .join(scored, "doc_id", "left")
            .join(
                F.broadcast(cuts.withColumnRenamed(group_col, "lang")),
                "lang",
                "left",
            )
            .withColumn("bucket", corpus.ccnet_bucket_col())
            .select("doc_id", "lang", "bucket", "avg_log2p")
        )

    return _per_batch(state_dir, arts, "buckets", _transform)


def read_ccnet_buckets(spark: SparkSession, state_dir: str) -> DataFrame:
    """Per-doc bucket assignments seen by the stream so far."""
    return read_batches(spark, f"{state_dir}/buckets")


# ---------------------- streaming temperature and DoReMi resampling


def _rate_processor(
    spark: SparkSession,
    state_dir: str,
    fit_rates: Callable[[], DataFrame],
    group_col: str,
    id_col: str,
):
    """The one shape temperature and DoReMi share: a (group, keep_prob)
    rates table fit once into ``{state_dir}/rates``; every batch keeps
    the docs whose md5 uniform falls under their group's rate — one
    broadcast join + one narrow filter. Kept (doc_id, group) rows go to
    ``{state_dir}/kept``. stream == batch EXACTLY because the keep
    decision is a pure function of (doc_id, the fixed rates)."""
    _fit_once(
        spark,
        state_dir,
        ("rates",),
        lambda: [fit_rates().select(group_col, "keep_prob").coalesce(1)],
    )

    def _transform(batch: DataFrame, rates: DataFrame) -> DataFrame:
        return (
            batch.join(F.broadcast(rates), group_col)
            .filter(curation.md5_uniform(id_col) < F.col("keep_prob"))
            .select(F.col(id_col).alias("doc_id"), group_col)
        )

    return _per_batch(state_dir, ("rates",), "kept", _transform)


def temperature_batch_processor(
    fit_docs: DataFrame,
    state_dir: str,
    alpha: float | None = None,
    budget_frac: float | None = None,
    group_col: str = "lang",
    id_col: str = "doc_id",
):
    """foreachBatch function for ``start_temperature_stream`` — the
    incremental twin of ``curation.temperature_sample``: per-language
    keep RATES (``curation.temperature_rates``) are fit once on a
    fitting corpus — in production, the crawl's language census — and
    every arriving shard is filtered against them. Shards filtered one
    at a time keep precisely the docs ``temperature_sample`` keeps over
    the union (pinned in tests, per-batch and cumulative)."""
    a = curation.TEMP_ALPHA if alpha is None else alpha
    bf = curation.TEMP_BUDGET_FRAC if budget_frac is None else budget_frac
    return _rate_processor(
        fit_docs.sparkSession,
        state_dir,
        lambda: curation.temperature_rates(fit_docs, a, bf, group_col),
        group_col,
        id_col,
    )


def read_temperature_kept(spark: SparkSession, state_dir: str) -> DataFrame:
    return read_batches(spark, f"{state_dir}/kept")


def start_temperature_stream(
    docs: DataFrame,
    fit_docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    alpha: float | None = None,
    budget_frac: float | None = None,
) -> StreamingQuery:
    """Streaming temperature sampling: fit-once rates, filter every
    micro-batch; ``read_temperature_kept`` equals the batch operator's
    keep set over all shards seen."""
    process = temperature_batch_processor(fit_docs, state_dir, alpha, budget_frac)
    return start(docs, process, checkpoint_dir)


def doremi_batch_processor(
    fit_docs: DataFrame,
    state_dir: str,
    budget_frac: float | None = None,
    eta: float | None = None,
    smooth: float | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
):
    """foreachBatch function for ``start_doremi_stream`` — the streaming
    twin of ``curation.doremi_resample``: per-domain keep RATES
    (``curation.doremi_rates``) are fit once from the DoReMi weights
    (the LM-scored mixture update — the expensive scorer pass is the
    fit-once artifact) and every arriving shard is filtered against
    them. Shards filtered one at a time keep precisely the docs
    ``doremi_resample`` keeps over the union (pinned in tests, per-batch
    and cumulative) — the frozen-reference streaming rule (a running
    cross-batch refit would retroactively change earlier keep
    decisions)."""
    bf = curation.DOREMI_BUDGET_FRAC if budget_frac is None else budget_frac
    e = curation.DOREMI_ETA if eta is None else eta
    c = curation.DOREMI_SMOOTH if smooth is None else smooth
    return _rate_processor(
        fit_docs.sparkSession,
        state_dir,
        lambda: curation.doremi_rates(fit_docs, bf, e, c, group_col),
        group_col,
        id_col,
    )


def read_doremi_kept(spark: SparkSession, state_dir: str) -> DataFrame:
    return read_batches(spark, f"{state_dir}/kept")


def start_doremi_stream(
    docs: DataFrame,
    fit_docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    budget_frac: float | None = None,
) -> StreamingQuery:
    """Streaming DoReMi resampling: fit-once rates (the LM-scored
    mixture weights), filter every micro-batch; ``read_doremi_kept``
    equals the batch operator's keep set over all shards seen."""
    process = doremi_batch_processor(fit_docs, state_dir, budget_frac)
    return start(docs, process, checkpoint_dir)


# --------------------------------- streaming containment vs the corpus


def containment_batch_processor(
    ref_docs: DataFrame,
    state_dir: str,
    n: int = 3,
    threshold: float | None = None,
    max_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """foreachBatch function for streaming containment — the streaming
    twin of ``dedup.containment_pairs``' subsumption detection:
    arriving documents are checked for n-gram containment AGAINST A
    FIXED REFERENCE CORPUS ("is this page an excerpt of something we
    already hold, or is a held page an excerpt of it") using artifacts
    fit once (``dedup.build_containment_ref``).

    Why this is the right streaming semantics (and why all-pairs
    containment stays batch-only): pairwise containment's ubiquity
    guard and size denominators are functions of the WHOLE corpus's
    gram document frequencies — a per-batch df is meaningless and a
    cross-batch running df would change earlier docs' denominators
    retroactively (no longer stream == batch). Against a frozen
    reference, a doc's matches are a pure function of (its grams, the
    fixed artifacts), so shard-invariance and replay idempotence hold
    exactly — the decontaminate deployment shape, with containment's
    asymmetric metric.

    State: ``{state_dir}/model/{grams,sizes,hot}`` (the reference side
    is exact-duplicate-collapsed per the engine's duplicate law — see
    ``build_containment_ref``); output ``{state_dir}/matches``, which
    ``read_containment_matches`` reads back."""
    thr = dedup.CONTAIN_THRESHOLD if threshold is None else threshold
    cap = dedup.CONTAIN_MAX_DF if max_df is None else max_df
    arts = ("model/grams", "model/sizes", "model/hot")

    def _fit():
        rare, sizes, hot = dedup.build_containment_ref(
            _id_text(ref_docs, id_col, text_col), n=n, max_df=cap
        )
        return rare, sizes.coalesce(1), hot.coalesce(1)

    _fit_once(ref_docs.sparkSession, state_dir, arts, _fit)

    def _transform(
        batch: DataFrame, rare: DataFrame, sizes: DataFrame, hot: DataFrame
    ) -> DataFrame:
        return dedup.containment_against(
            _id_text(batch, id_col, text_col),
            rare,
            sizes,
            hot,
            n=n,
            threshold=thr,
        )

    return _per_batch(state_dir, arts, "matches", _transform)


def read_containment_matches(spark: SparkSession, state_dir: str) -> DataFrame:
    """Containment matches found by the stream so far."""
    return read_batches(spark, f"{state_dir}/matches")


# ---------------------------- streaming soft-dedup weights vs the corpus


def soft_dedup_batch_processor(
    ref_docs: DataFrame,
    state_dir: str,
    n: int = 3,
    gamma: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """foreachBatch function for streaming soft-dedup — the streaming
    member of the reweighting family (VERDICT r14 #5): arriving
    documents get a SoftDeDup sampling weight scored against a FROZEN
    reference gram-df table fit once (``dedup.build_soft_dedup_ref``).

    Why this is the right streaming semantics (and why whole-corpus
    ``soft_dedup_weights`` stays batch-only, the containment
    precedent): the batch operator's commonness denominator is the
    WHOLE corpus's gram document frequency — a per-batch df is
    meaningless, and a running cross-batch df would retroactively change
    earlier docs' weights (no longer stream == batch). Against frozen
    artifacts a doc's weight is a pure function of (its grams, the
    artifacts), so shard-invariance and replay idempotence hold exactly
    — and the frozen estimator is deliberately membership-free (df/N,
    not the in-corpus (df-1)/(N-1); see ``dedup.soft_dedup_against``).

    State: ``{state_dir}/model/{dfreq,meta}`` (the reference df
    deliberately counts replicas — duplication IS the commonness
    signal, see ``build_soft_dedup_ref``); output
    ``{state_dir}/weights``, which ``read_soft_dedup_weights`` reads
    back."""
    gam = dedup.SOFT_DEDUP_GAMMA if gamma is None else gamma
    arts = ("model/dfreq", "model/meta")

    def _fit():
        dfreq, meta = dedup.build_soft_dedup_ref(
            _id_text(ref_docs, id_col, text_col), n=n
        )
        return dfreq, meta.coalesce(1)

    _fit_once(ref_docs.sparkSession, state_dir, arts, _fit)

    def _transform(
        batch: DataFrame, dfreq: DataFrame, meta: DataFrame
    ) -> DataFrame:
        return dedup.soft_dedup_against(
            _id_text(batch, id_col, text_col), dfreq, meta, n=n, gamma=gam
        )

    return _per_batch(state_dir, arts, "weights", _transform)


def read_soft_dedup_weights(spark: SparkSession, state_dir: str) -> DataFrame:
    """Per-doc weights scored by the stream so far."""
    return read_batches(spark, f"{state_dir}/weights")
