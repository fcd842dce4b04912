"""Corpus-hygiene operators for the LLM-training-data pipeline.

Beyond the reference surface (SURVEY.md §2 bottom note): the four
pre-training data-prep stages every large corpus goes through before
tokenization, each expressed as pure Catalyst column algebra with an
adjacent DuckDB oracle spelling.

- ``decontaminate``     — benchmark n-gram overlap (the GPT-3 appendix-C /
                          FLAN decontamination pattern): flag training docs
                          sharing any word 5-gram with an eval set.
- ``gopher_quality``    — Gopher-style repetition rules (Rae et al. 2021
                          table A1): type-token ratio, top-token fraction,
                          top-bigram fraction, with pass/fail gates.
- ``pii_scrub``         — regex PII redaction (emails, phone numbers) with
                          per-doc redaction counts and a post-scrub digest.
- ``bigram_lm_score``   — corpus-level bigram language model scoring each
                          document by mean log2 P(w_i | w_{i-1}) — the
                          perplexity-style quality signal.

Scale notes (100 TB):
- decontaminate: the eval side is tiny by construction (benchmarks are
  thousands of docs, not billions) → its distinct-gram set broadcasts;
  the training side is a narrow explode + broadcast semi-join — no
  all-to-all shuffle, one aggregation keyed by doc_id.
- gopher_quality: explode + two partial-agg shuffles keyed by (doc_id) —
  uniform key, partial aggregation map-side; no skew.
- pii_scrub: pure per-row map, zero shuffles.
- bigram_lm_score: the model tables are vocabulary-sized (V and V²
  upper-bounded, tiny after agg) → broadcast back against the exploded
  stream; one doc_id-keyed agg.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table, parallel_scan

NGRAM_N = 5


def word_ngrams(text: Column, n: int = NGRAM_N) -> Column:
    """Word n-grams of a text column as array<string> (empty when the doc
    has fewer than n tokens). Pure Catalyst: a zip_with chain over n-1
    shifted token slices — NOT ``transform`` over an index sequence,
    whose ``slice(toks, i, n)`` lambda body would re-evaluate the regex
    split once per n-gram (lambda-captured trees run per ELEMENT in
    Catalyst => O(k^2) per doc; see dedup.shingles). Tail positions past
    k-n+1 null out through ``concat`` and are filtered."""
    toks = F.split(F.trim(text), r"\s+")
    acc = toks
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(toks, j + 1, F.size(toks)),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(
        F.size(toks) >= n, F.filter(acc, lambda x: x.isNotNull())
    ).otherwise(F.array().cast("array<string>"))


def word_ngrams_sql(expr: str, n: int = NGRAM_N) -> str:
    """DuckDB spelling of word_ngrams — kept adjacent so oracle and engine
    cannot drift. DuckDB list slicing is 1-based inclusive: toks[i:i+n-1]
    yields n elements."""
    toks = f"string_split_regex(trim({expr}), '\\s+')"
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(generate_series(1, len({toks}) - {n - 1}), "
        f"i -> array_to_string(({toks})[i:i+{n - 1}], ' ')) "
        f"ELSE [] END"
    )


# --------------------------------------------------------------------------
# 1. Decontamination: train docs sharing any word n-gram with the eval set.
#    Eval set here = every 97th doc (deterministic synthetic benchmark).
#    Production decontamination uses 13-grams (GPT-3 appendix C); on this
#    small-vocabulary synthetic corpus 4-grams give the same sparse-but-
#    nonzero hit profile (8 flagged docs at sf0.01), so the join/agg path
#    is actually exercised.
# --------------------------------------------------------------------------

EVAL_MOD = 97
DECONTAM_N = 4


def decontaminate(docs: DataFrame, n: int = DECONTAM_N) -> DataFrame:
    """Flag training documents that share >=1 word n-gram with the eval
    split. Returns one row per contaminated doc with collision stats.

    The eval gram set is distinct-ed then BROADCAST (real benchmarks are
    ~10^4-10^6 grams — MBs). The training side is read ONCE: a left
    broadcast join tags each gram as colliding or not, then a single
    doc_id-keyed aggregation computes totals and distinct collisions
    together — one pass, one shuffle, no self-join of the big side."""
    grams = docs.select(
        "doc_id", F.explode(word_ngrams(F.col("text"), n)).alias("gram")
    )
    eval_grams = (
        grams.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select("gram")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    train = grams.filter(F.col("doc_id") % EVAL_MOD != 0)
    tagged = train.join(F.broadcast(eval_grams), "gram", "left")
    per_doc = tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count_distinct(
            F.when(F.col("hit"), F.col("gram"))
        ).alias("n_collisions"),
    )
    return per_doc.filter(F.col("n_collisions") > 0).select(
        "doc_id",
        "n_collisions",
        "n_grams",
        F.round(
            F.col("n_collisions").cast("double")
            / F.col("n_grams").cast("double"),
            6,
        ).alias("contam_ratio"),
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallel_scan: the single-row-group test parquet otherwise pins the
    # n-gram explode to one scan task (real multi-split inputs don't need it)
    return decontaminate(parallel_scan(load_table(spark, sf_dir, "documents")))


ORACLE_DECONTAMINATE = f"""
WITH grams AS (
  SELECT doc_id, unnest({word_ngrams_sql('text', DECONTAM_N)}) AS gram
  FROM documents
),
eval_grams AS (
  SELECT DISTINCT gram, TRUE AS hit FROM grams WHERE doc_id % {EVAL_MOD} = 0
),
train AS (
  SELECT * FROM grams WHERE doc_id % {EVAL_MOD} != 0
),
per_doc AS (
  SELECT t.doc_id,
         count(*) AS n_grams,
         count(DISTINCT CASE WHEN e.hit THEN t.gram END) AS n_collisions
  FROM train t LEFT JOIN eval_grams e USING (gram)
  GROUP BY t.doc_id
)
SELECT doc_id, n_collisions, n_grams,
       ROUND(CAST(n_collisions AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
         AS contam_ratio
FROM per_doc WHERE n_collisions > 0
"""


# --------------------------------------------------------------------------
# 2. Gopher-style repetition quality rules.
# --------------------------------------------------------------------------

TOP_BIGRAM_MAX = 0.18  # Gopher table A1: top-2-gram character fraction cap
TTR_MIN = 0.20         # distinct-token ratio floor (degenerate repetition)


def gopher_quality(docs: DataFrame) -> DataFrame:
    """Per-doc repetition signals: type-token ratio, most-frequent-token
    fraction, most-frequent-bigram fraction, and the combined keep gate.

    Two explode+agg pipelines keyed by doc_id (uniform key, map-side
    partial agg), joined on doc_id — no skew, no broadcast of big data."""
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    tok_counts = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    tok_stats = tok_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_tok_c"),
    )
    bi = docs.select(
        "doc_id", F.explode(word_ngrams(F.col("text"), 2)).alias("gram")
    )
    bi_counts = bi.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    bi_stats = bi_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_c")
    )
    # LEFT join: a doc with < 2 tokens has no bigrams at all — it must
    # still appear in the report (with a NULL bigram fraction and
    # keep=false: degenerate docs are exactly what a repetition gate is
    # for), not silently vanish through an inner join.
    out = tok_stats.join(bi_stats, "doc_id", "left")
    ttr = F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double")
    top_tok = F.col("top_tok_c").cast("double") / F.col("n_tokens").cast("double")
    top_bi = (
        F.col("top_bigram_c").cast("double") / F.col("n_bigrams").cast("double")
    )
    return out.select(
        "doc_id",
        "n_tokens",
        F.round(ttr, 6).alias("ttr"),
        F.round(top_tok, 6).alias("top_token_frac"),
        F.round(top_bi, 6).alias("top_bigram_frac"),
        (
            (ttr >= TTR_MIN)
            & F.coalesce(top_bi <= TOP_BIGRAM_MAX, F.lit(False))
        ).alias("keep"),
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_quality(parallel_scan(load_table(spark, sf_dir, "documents")))


ORACLE_GOPHER_QUALITY = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
),
tok_counts AS (
  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
),
tok_stats AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct, max(c) AS top_tok_c
  FROM tok_counts GROUP BY doc_id
),
bi AS (
  SELECT doc_id, unnest({word_ngrams_sql('text', 2)}) AS gram FROM documents
),
bi_counts AS (
  SELECT doc_id, gram, count(*) AS c FROM bi GROUP BY doc_id, gram
),
bi_stats AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bigram_c
  FROM bi_counts GROUP BY doc_id
)
SELECT t.doc_id, t.n_tokens,
       ROUND(CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
       ROUND(CAST(top_tok_c AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         AS top_token_frac,
       ROUND(CAST(top_bigram_c AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6)
         AS top_bigram_frac,
       (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= {TTR_MIN}
        AND coalesce(CAST(top_bigram_c AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
            <= {TOP_BIGRAM_MAX}, FALSE)) AS keep
FROM tok_stats t LEFT JOIN bi_stats b ON t.doc_id = b.doc_id
"""


# --------------------------------------------------------------------------
# 3. PII scrubbing. The synthetic corpus is PII-free, so the query derives a
#    deterministic dirty twin (doc_id-seeded email + phone appended) and
#    scrubs THAT — the redaction expressions are what is under test.
# --------------------------------------------------------------------------

EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PHONE_RE = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"


def pii_scrub(df: DataFrame, text_col: str = "dirty") -> DataFrame:
    """Redact emails then phones; count each. Zero-shuffle per-row map —
    regexp_replace/regexp_count are codegen'd JVM expressions."""
    c = F.col(text_col)
    no_email = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(no_email, PHONE_RE, "<PHONE>")
    return df.select(
        "doc_id",
        F.regexp_count(c, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(no_email, F.lit(PHONE_RE)).alias("n_phones"),
        F.length(clean).alias("clean_len"),
        F.md5(clean.cast("binary")).alias("clean_md5"),
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("dirty"),
    )
    return pii_scrub(dirty)


ORACLE_PII_SCRUB = f"""
WITH dirty AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com or +1-555-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS dirty
  FROM documents
),
scrub AS (
  SELECT doc_id, dirty,
         regexp_replace(dirty, '{EMAIL_RE}', '<EMAIL>', 'g') AS no_email
  FROM dirty
)
SELECT doc_id,
       CAST(len(regexp_extract_all(dirty, '{EMAIL_RE}')) AS INTEGER)
         AS n_emails,
       CAST(len(regexp_extract_all(no_email, '{PHONE_RE}')) AS INTEGER)
         AS n_phones,
       CAST(length(regexp_replace(no_email, '{PHONE_RE}', '<PHONE>', 'g'))
         AS BIGINT) AS clean_len,
       md5(regexp_replace(no_email, '{PHONE_RE}', '<PHONE>', 'g'))
         AS clean_md5
FROM scrub
"""


# --------------------------------------------------------------------------
# 4. Training-sequence packing: assign documents to fixed-token-budget
#    training sequences. Packing is SHARDED (hash of doc_id) — a single
#    global running sum would serialize on one window task at 100 TB,
#    while per-shard packing is how production tokenizer pipelines run
#    anyway (each worker packs its own shard; sequence ids are
#    (shard, seq_in_shard), globally unique without coordination).
# --------------------------------------------------------------------------

PACK_BUDGET = 256  # tokens per packed sequence
PACK_SHARDS = 32


def pack_sequences(docs: DataFrame, budget: int = PACK_BUDGET,
                   shards: int = PACK_SHARDS) -> DataFrame:
    """Concat-then-chunk packing per shard (the standard LLM pretraining
    layout): documents are concatenated in doc_id order and chunked every
    ``budget`` tokens; a document's sequence index is where its first
    token lands (floor(start / budget)), with ``start_offset`` giving its
    position inside that sequence. One window per shard (uniform key), no
    global ordering anywhere."""
    from pyspark.sql.window import Window

    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % shards).alias("shard"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tok"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    cum = F.sum("n_tok").over(w)
    return toks.select(
        "doc_id",
        "shard",
        "n_tok",
        F.floor((cum - F.col("n_tok")) / budget).alias("seq_in_shard"),
        ((cum - F.col("n_tok")) % budget).alias("start_offset"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences(load_table(spark, sf_dir, "documents"))


ORACLE_PACK_SEQUENCES = f"""
WITH toks AS (
  SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
  FROM documents
),
runs AS (
  SELECT doc_id, shard, n_tok,
         sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks
)
SELECT doc_id, shard, n_tok,
       CAST(floor((cum - n_tok) / {PACK_BUDGET}) AS BIGINT) AS seq_in_shard,
       CAST((cum - n_tok) % {PACK_BUDGET} AS BIGINT) AS start_offset
FROM runs
"""


# --------------------------------------------------------------------------
# 5. Bigram LM scoring: P(w_i | w_{i-1}) from corpus counts, mean log2 per
#    doc. The model tables aggregate to vocabulary size (tiny) → broadcast.
# --------------------------------------------------------------------------


def bigram_lm_score(docs: DataFrame) -> DataFrame:
    """Score each doc by mean log2 P(w_i | w_{i-1}) under the corpus's own
    bigram MLE model. Every doc bigram exists in the model by construction
    (it was counted from the same corpus) so no smoothing is needed.

    Shape: one explode → two tiny aggregations (bigram counts ~V², history
    counts ~V — both vocabulary-bounded regardless of corpus size) →
    broadcast joins back → one doc_id-keyed agg. The only full-data
    shuffle is the final per-doc mean."""
    bi = docs.select(
        "doc_id",
        F.explode(word_ngrams(F.col("text"), 2)).alias("gram"),
    ).withColumn("w1", F.split("gram", " ")[0])
    bigram_counts = bi.groupBy("gram").agg(F.count(F.lit(1)).alias("c_bi"))
    # History counts DERIVE from the bigram counts (r21, guide §2.3
    # aggregate-before-shuffle): c_w1 = sum of c_bi over the grams whose
    # first token is w1 — exactly count(bigrams with history w1), the
    # identity the MLE denominator needs. The former spelling re-exploded
    # the corpus a second time for a vocabulary-bounded table; this is a
    # V²-row rollup instead of a corpus pass (ccnet_buckets' stage
    # profile showed three 6-11 executor-second Generate stages — one
    # per consumer of the explode).
    hist_counts = (
        bigram_counts.withColumn("w1", F.split("gram", " ")[0])
        .groupBy("w1")
        .agg(F.sum("c_bi").alias("c_w1"))
    )
    scored = (
        bi.join(F.broadcast(bigram_counts), "gram")
        .join(F.broadcast(hist_counts), "w1")
        .withColumn(
            "logp",
            F.log2(F.col("c_bi").cast("double") / F.col("c_w1").cast("double")),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("logp"), 6).alias("avg_log2p"),
    )


def bigram_lm_model_tables(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The bigram MLE model as two fit-once tables — (bigram_counts:
    gram/c_bi, hist_counts: w1/c_w1), both vocabulary-bounded regardless
    of corpus size. The streaming ccnet twin persists these at processor
    construction (the dsir_model_tables discipline)."""
    bi = docs.select(
        F.explode(word_ngrams(F.col("text"), 2)).alias("gram")
    )
    bigram_counts = bi.groupBy("gram").agg(F.count(F.lit(1)).alias("c_bi"))
    # derived, not re-exploded (the bigram_lm_score identity): one corpus
    # pass fits both tables
    hist_counts = (
        bigram_counts.withColumn("w1", F.split("gram", " ")[0])
        .groupBy("w1")
        .agg(F.sum("c_bi").alias("c_w1"))
        .select("w1", "c_w1")
    )
    return bigram_counts, hist_counts


def bigram_lm_score_with_model(
    docs: DataFrame, bigram_counts: DataFrame, hist_counts: DataFrame
) -> DataFrame:
    """Score docs under FIXED model tables (same output contract as
    ``bigram_lm_score``, which fits and scores in one plan — that
    spelling stays untouched as the oracle-checked batch entry). Inner
    joins: a bigram absent from the model drops out of the doc's mean,
    so the fit corpus must cover the scored stream's vocabulary — the
    CCNet deployment shape, where the LM is fit on the very crawl
    snapshot being bucketed."""
    bi = docs.select(
        "doc_id",
        F.explode(word_ngrams(F.col("text"), 2)).alias("gram"),
    ).withColumn("w1", F.split("gram", " ")[0])
    scored = (
        bi.join(F.broadcast(bigram_counts), "gram")
        .join(F.broadcast(hist_counts), "w1")
        .withColumn(
            "logp",
            F.log2(F.col("c_bi").cast("double") / F.col("c_w1").cast("double")),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("logp"), 6).alias("avg_log2p"),
    )


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_lm_score(parallel_scan(load_table(spark, sf_dir, "documents")))


ORACLE_BIGRAM_LM_SCORE = f"""
WITH bi AS (
  SELECT doc_id, gram, string_split(gram, ' ')[1] AS w1
  FROM (
    SELECT doc_id, unnest({word_ngrams_sql('text', 2)}) AS gram
    FROM documents
  )
),
bigram_counts AS (
  SELECT gram, count(*) AS c_bi FROM bi GROUP BY gram
),
hist_counts AS (
  SELECT w1, count(*) AS c_w1 FROM bi GROUP BY w1
)
SELECT b.doc_id,
       count(*) AS n_bigrams,
       ROUND(avg(log2(CAST(c.c_bi AS DOUBLE) / CAST(h.c_w1 AS DOUBLE))), 6)
         AS avg_log2p
FROM bi b
JOIN bigram_counts c USING (gram)
JOIN hist_counts h USING (w1)
GROUP BY b.doc_id
"""


# -------------------------------------------- semantic decontamination

SEM_EVAL_COUNT = 50       # eval split: the lowest vec_ids (fixed size —
                          # real benchmarks are thousands of items, not
                          # corpus-proportional)
SEM_PLANT_EVERY = 25      # every Nth corpus vector carries an eval
                          # vector verbatim (planted positives)
SEM_CONTAM_THRESHOLD = 0.999


def semantic_decontaminate(
    corpus_emb: DataFrame,
    eval_vectors: list,
    threshold: float = SEM_CONTAM_THRESHOLD,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space decontamination — the semantic twin of the
    n-gram ``decontaminate``: flag corpus items whose max cosine against
    ANY eval item reaches ``threshold`` (paraphrase/translation leakage
    that exact-gram matching misses; the contamination audit run before
    committing a training mix).

    ``eval_vectors`` is a driver-side list of (eval_id, vector) — eval
    sets are bounded by construction, so they ship as ONE nested-list
    literal inside the task binary (the ivf._centroid_array discipline:
    the matrix is data, not expression-tree nodes). The corpus is then
    read EXACTLY ONCE in a narrow pass — no join, no shuffle at all;
    per row: 64*|eval| multiply-adds via a higher-order transform +
    array_max. At 100 TB this is the only shape that works: the eval
    side rides the closure, the corpus side never moves.

    Output per corpus row: ``(vec_id, max_eval_sim, nearest_eval_id,
    contaminated)`` — ties on sim resolve to the HIGHEST eval id
    (struct-max semantics, mirrored in the oracle)."""
    from m12_kafkastreams_python_azure_spark.functions.vectors import (
        dot_product,
        l2_norm,
    )
    from m12_kafkastreams_python_azure_spark.operators.ivf import (
        _centroid_array,
    )

    carr = _centroid_array(
        [(int(i), [float(x) for x in v]) for i, v in eval_vectors]
    )
    vec = F.col(vec_col)
    # query norm pre-projected OUT of the lambda: Catalyst re-evaluates
    # lambda-captured trees once per array element, so an embedded
    # l2_norm fold would run |eval| times per row (the dedup.star_pairs
    # lesson)
    with_norm = corpus_emb.withColumn("_vn", l2_norm(vec))
    scored = F.transform(
        carr,
        lambda c: F.struct(
            (dot_product(vec, c["cvec"]) / (c["cnorm"] * F.col("_vn")))
            .alias("sim"),
            c["cid"].alias("eval_id"),
        ),
    )
    best = F.array_max(scored)
    return with_norm.select(
        id_col,
        F.round(best["sim"], 6).alias("max_eval_sim"),
        best["eval_id"].alias("nearest_eval_id"),
        (best["sim"] >= F.lit(threshold)).alias("contaminated"),
    )


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked semantic decontamination over the embeddings
    table: eval = the SEM_EVAL_COUNT lowest vec_ids; corpus = the rest,
    with every SEM_PLANT_EVERY-th corpus vector REPLACED by an eval
    vector (broadcast map-side coalesce) so the contamination flag has
    real positives at every SF — planted rows score exactly 1.0 against
    their source eval item."""
    emb = load_table(spark, sf_dir, "embeddings")
    eval_df = emb.filter(F.col("vec_id") < SEM_EVAL_COUNT)
    eval_vectors = [
        (r["vec_id"], list(r["embedding"]))
        for r in eval_df.select("vec_id", "embedding").collect()
    ]
    base = emb.filter(F.col("vec_id") >= SEM_EVAL_COUNT)
    evmap = eval_df.select(
        F.col("vec_id").alias("_src"), F.col("embedding").alias("_e")
    )
    plant_key = F.when(
        F.col("vec_id") % SEM_PLANT_EVERY == 0,
        F.col("vec_id") % SEM_EVAL_COUNT,
    ).otherwise(F.lit(-1))
    corpus = (
        base.withColumn("_k", plant_key)
        .join(F.broadcast(evmap), F.col("_k") == F.col("_src"), "left")
        .select(
            "vec_id",
            F.coalesce("_e", "embedding").alias("embedding"),
        )
    )
    return semantic_decontaminate(corpus, eval_vectors)


ORACLE_SEMANTIC_DECONTAMINATE = f"""
WITH ev AS (
  SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS en
  FROM embeddings WHERE vec_id < {SEM_EVAL_COUNT}
),
corpus AS (
  SELECT c.vec_id,
         CAST(coalesce(p.e, CAST(c.embedding AS DOUBLE[])) AS DOUBLE[]) AS v
  FROM embeddings c
  LEFT JOIN ev p
    ON c.vec_id % {SEM_PLANT_EVERY} = 0
   AND p.eval_id = c.vec_id % {SEM_EVAL_COUNT}
  WHERE c.vec_id >= {SEM_EVAL_COUNT}
),
cn AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS vn FROM corpus
),
sims AS (
  SELECT cn.vec_id, ev.eval_id,
         list_dot_product(cn.v, ev.e) / (ev.en * cn.vn) AS sim
  FROM cn CROSS JOIN ev
),
best AS (
  SELECT vec_id, max(sim) AS msim FROM sims GROUP BY vec_id
),
pick AS (
  SELECT s.vec_id, max(s.eval_id) AS nearest_eval_id, b.msim
  FROM sims s JOIN best b ON s.vec_id = b.vec_id AND s.sim = b.msim
  GROUP BY s.vec_id, b.msim
)
SELECT vec_id, ROUND(msim, 6) AS max_eval_sim, nearest_eval_id,
       msim >= {SEM_CONTAM_THRESHOLD} AS contaminated
FROM pick
"""


# -------------------------------------------- linear quality classifier

# fastText-style linear model weights (Joulin et al. 1607.01759: a text
# classifier is a bag-of-features dot product — production data-quality
# filters like CCNet's ship exactly this shape). A trained model's
# feature table is bounded (hash buckets / vocabulary), so at any corpus
# scale it rides the task closure as a LITERAL map — the classifier is
# then a zero-shuffle narrow pass: no join, no explode, no agg.
CLF_WEIGHTS: dict[str, float] = {
    # "informative" tokens score up, filler/stopwords score down —
    # weights are synthetic but the inference plan is the real one
    "data": 0.8, "query": 0.7, "vector": 0.6, "spark": 0.5,
    "stream": 0.4, "window": 0.3, "join": 0.3, "fast": 0.2,
    "the": -0.9, "a": -1.0, "slow": -0.6, "big": -0.2,
}
CLF_BIAS = -0.05
CLF_SCALE = 8.0  # logit gain on the mean token weight
CLF_THRESHOLD = 0.5


def quality_classifier(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Score each document with a linear bag-of-words classifier:
    ``p = sigmoid(CLF_SCALE * mean(token weights) + CLF_BIAS)``,
    ``keep = p >= CLF_THRESHOLD``.

    Plan shape (the whole point at 100 TB): the weight table is a
    constant-folded literal map, the token sum is ``F.aggregate`` over
    the split array, so scoring is ONE narrow projection — no explode,
    no join, no shuffle; every partition classifies independently and
    the filter that usually follows pushes straight down onto it."""
    weight_map = F.create_map(
        *[F.lit(x) for kv in CLF_WEIGHTS.items() for x in kv]
    )
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    n_tok = F.size(toks).cast("long")
    w_sum = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc + F.coalesce(weight_map[t], F.lit(0.0)),
    )
    z = F.lit(CLF_SCALE) * w_sum / n_tok.cast("double") + F.lit(CLF_BIAS)
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return docs.filter(n_tok > 0).select(
        "doc_id",
        n_tok.alias("n_tok"),
        F.round(prob, 6).alias("quality_prob"),
        (prob >= F.lit(CLF_THRESHOLD)).alias("keep"),
    )


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_classifier(load_table(spark, sf_dir, "documents"))


_CLF_VALUES = ", ".join(f"('{w}', {wt})" for w, wt in CLF_WEIGHTS.items())

ORACLE_QUALITY_CLASSIFIER = f"""
WITH w(word, wt) AS (VALUES {_CLF_VALUES}),
toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents
),
agg AS (
  SELECT doc_id, count(*) AS n_tok, sum(coalesce(wt, 0.0)) AS w_sum
  FROM toks LEFT JOIN w USING (word)
  WHERE word <> ''
  GROUP BY 1
)
SELECT doc_id, n_tok,
       ROUND(1.0 / (1.0 + exp(-({CLF_SCALE} * w_sum / n_tok + {CLF_BIAS}))), 6)
         AS quality_prob,
       1.0 / (1.0 + exp(-({CLF_SCALE} * w_sum / n_tok + {CLF_BIAS})))
         >= {CLF_THRESHOLD} AS keep
FROM agg
"""


# ----------------------------------------- trigram stupid-backoff LM

BACKOFF_ALPHA = 0.4
LM_HOLDOUT_MOD = 3  # doc_id % MOD == 0 -> held-out eval split


def trigram_backoff_score(
    docs: DataFrame, holdout_mod: int = LM_HOLDOUT_MOD
) -> DataFrame:
    """Score HELD-OUT documents under a trigram LM with stupid backoff
    (Brants et al. 2007, 'Large Language Models in Machine Translation':
    S(w3|w1w2) = c3/c2 if seen, else alpha*S(w3|w2), else alpha^2*c1/N —
    unnormalized scores, no discounting, built for exactly this
    map-reduce shape). Unlike ``bigram_lm_score`` (trained on the full
    corpus, so every gram is seen) the model here trains on doc_id %
    {mod} != 0 and scores the rest — unseen trigrams are REAL and every
    backoff tier fires.

    Shape: counts aggregate to <= min(corpus, V^3) rows (prune with a
    min-count threshold for web-scale vocabularies) and broadcast; the
    eval side is one narrow pass + five broadcast joins + one
    doc_id-keyed agg. The OOV floor (w3 never seen) scores alpha^2/N so
    log2 stays finite."""
    tri = (
        docs.filter(F.col("doc_id") % holdout_mod == 0)
        .select("doc_id", F.explode(word_ngrams(F.col("text"), 3)).alias("g3"))
        .withColumn("w1", F.split("g3", " ")[0])
        .withColumn("w2", F.split("g3", " ")[1])
        .withColumn("w3", F.split("g3", " ")[2])
        .withColumn("g12", F.concat_ws(" ", "w1", "w2"))
        .withColumn("g23", F.concat_ws(" ", "w2", "w3"))
    )
    train = docs.filter(F.col("doc_id") % holdout_mod != 0)
    train_tok = train.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    c1 = train_tok.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    c2 = (
        train.select(F.explode(word_ngrams(F.col("text"), 2)).alias("g2"))
        .groupBy("g2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    c3 = (
        train.select(F.explode(word_ngrams(F.col("text"), 3)).alias("g3"))
        .groupBy("g3")
        .agg(F.count(F.lit(1)).alias("c3"))
    )
    # lazy 1-row aggregate broadcast (the engine's scalar idiom, see
    # audits.py / textops.py) — NOT an eager .count(): constructing this
    # DataFrame must launch no Spark job (VERDICT r10 #2)
    n_tok = train_tok.agg(F.count(F.lit(1)).cast("double").alias("n_tok"))

    j = (
        tri.crossJoin(F.broadcast(n_tok))
        .join(F.broadcast(c3), "g3", "left")
        .join(
            F.broadcast(c2.select(F.col("g2").alias("g12"), F.col("c2").alias("c_ctx"))),
            "g12",
            "left",
        )
        .join(
            F.broadcast(c2.select(F.col("g2").alias("g23"), F.col("c2").alias("c_b23"))),
            "g23",
            "left",
        )
        .join(
            F.broadcast(c1.select(F.col("w").alias("w2"), F.col("c1").alias("c_w2"))),
            "w2",
            "left",
        )
        .join(
            F.broadcast(c1.select(F.col("w").alias("w3"), F.col("c1").alias("c_w3"))),
            "w3",
            "left",
        )
    )
    a = float(BACKOFF_ALPHA)
    s = (
        F.when(
            F.col("c3").isNotNull(),
            F.col("c3").cast("double") / F.col("c_ctx").cast("double"),
        )
        .when(
            F.col("c_b23").isNotNull(),
            F.lit(a) * F.col("c_b23").cast("double") / F.col("c_w2").cast("double"),
        )
        .when(
            F.col("c_w3").isNotNull(),
            F.lit(a * a) * F.col("c_w3").cast("double") / F.col("n_tok"),
        )
        .otherwise(F.lit(a * a) / F.col("n_tok"))
    )
    return (
        j.withColumn("log2s", F.log2(s))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.round(F.avg("log2s"), 6).alias("avg_log2s"),
            F.sum(F.col("c3").isNull().cast("long")).alias("n_backoff"),
        )
    )


def q_trigram_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return trigram_backoff_score(
        parallel_scan(load_table(spark, sf_dir, "documents"))
    )


ORACLE_TRIGRAM_BACKOFF_SCORE = f"""
WITH tri AS (
  SELECT doc_id, g3,
         string_split(g3, ' ')[1] AS w1,
         string_split(g3, ' ')[2] AS w2,
         string_split(g3, ' ')[3] AS w3,
         string_split(g3, ' ')[1] || ' ' || string_split(g3, ' ')[2] AS g12,
         string_split(g3, ' ')[2] || ' ' || string_split(g3, ' ')[3] AS g23
  FROM (
    SELECT doc_id, unnest({{g3}}) AS g3
    FROM documents WHERE doc_id % {LM_HOLDOUT_MOD} = 0
  )
),
train_tok AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
  FROM documents WHERE doc_id % {LM_HOLDOUT_MOD} <> 0
),
c1 AS (
  SELECT w, count(*) AS c1 FROM train_tok WHERE w <> '' GROUP BY 1
),
c2 AS (
  SELECT g2, count(*) AS c2 FROM (
    SELECT unnest({{g2}}) AS g2
    FROM documents WHERE doc_id % {LM_HOLDOUT_MOD} <> 0
  ) GROUP BY 1
),
c3 AS (
  SELECT g3, count(*) AS c3 FROM (
    SELECT unnest({{g3t}}) AS g3
    FROM documents WHERE doc_id % {LM_HOLDOUT_MOD} <> 0
  ) GROUP BY 1
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_tok FROM train_tok WHERE w <> ''),
scored AS (
  SELECT t.doc_id,
         CASE
           WHEN c3.c3 IS NOT NULL
             THEN CAST(c3.c3 AS DOUBLE) / CAST(ctx.c2 AS DOUBLE)
           WHEN b23.c2 IS NOT NULL
             THEN {BACKOFF_ALPHA} * CAST(b23.c2 AS DOUBLE)
                  / CAST(cw2.c1 AS DOUBLE)
           WHEN cw3.c1 IS NOT NULL
             THEN {BACKOFF_ALPHA * BACKOFF_ALPHA} * CAST(cw3.c1 AS DOUBLE)
                  / n.n_tok
           ELSE {BACKOFF_ALPHA * BACKOFF_ALPHA} / n.n_tok
         END AS s,
         c3.c3 IS NULL AS backoff
  FROM tri t
  CROSS JOIN n
  LEFT JOIN c3 ON t.g3 = c3.g3
  LEFT JOIN c2 ctx ON t.g12 = ctx.g2
  LEFT JOIN c2 b23 ON t.g23 = b23.g2
  LEFT JOIN c1 cw2 ON t.w2 = cw2.w
  LEFT JOIN c1 cw3 ON t.w3 = cw3.w
)
SELECT doc_id,
       count(*) AS n_trigrams,
       ROUND(avg(log2(s)), 6) AS avg_log2s,
       CAST(sum(CASE WHEN backoff THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff
FROM scored
GROUP BY 1
"""

ORACLE_TRIGRAM_BACKOFF_SCORE = ORACLE_TRIGRAM_BACKOFF_SCORE.replace(
    "{g3}", word_ngrams_sql("text", 3)
).replace("{g2}", word_ngrams_sql("text", 2)).replace(
    "{g3t}", word_ngrams_sql("text", 3)
)


# ------------------------------------- Bloom-prefiltered decontamination

BLOOM_BITS_PER_ITEM = 10   # ~1% FP rate with 4 hashes
BLOOM_HASHES = 4


def build_gram_bloom(grams: DataFrame, col: str = "gram") -> tuple[list, int]:
    """Bloom filter over a gram set as a plain list of int64 words
    (10 bits/item, 4 xxhash64 seeds): ~25x smaller than the gram
    strings themselves, so an eval set too big to broadcast as strings
    still rides the task closure as ONE array literal. Built
    distributed — per-gram bit positions explode, collapse to words via
    bit_or partial aggregation — and only the word array (bits/64
    entries) is collected."""
    n = grams.count()
    m_bits = max(64, ((n * BLOOM_BITS_PER_ITEM + 63) // 64) * 64)
    pos = grams.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(col), F.lit(seed)), F.lit(m_bits))
                    for seed in range(BLOOM_HASHES)
                ]
            )
        ).alias("p")
    )
    # call_function: the Python shiftleft wrapper only takes a LITERAL
    # shift amount; the SQL function accepts a column
    words = (
        pos.select(
            (F.col("p") / 64).cast("long").alias("w"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("p") % 64).cast("int")
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    arr = [0] * (m_bits // 64)
    for r in words:
        arr[r["w"]] = r["word"]
    return arr, m_bits


def bloom_might_contain(
    bloom: list, m_bits: int, col: Column
) -> Column:
    """ALL BLOOM_HASHES positions set => candidate (no false negatives
    by construction; false positives are removed by the exact confirm
    join downstream)."""
    barr = F.lit(bloom)
    cond = F.lit(True)
    for seed in range(BLOOM_HASHES):
        p = F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(m_bits))
        word = F.element_at(barr, (p / 64).cast("int") + 1)
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
        )
        cond = cond & (word.bitwiseAND(bit) != 0)
    return cond


class DecontamBloom(NamedTuple):
    """Build-once eval-side artifact for ``decontaminate_bloom``
    (VERDICT r12 #3): the bloom bit words (closure-shippable probe
    side), the persisted distinct eval grams (exact-confirm side), and
    the n-gram order they were built at. The batch twin of what
    ``streaming.advanced.decontaminate_batch_processor`` already does —
    build at construction, reuse every micro-batch — so a corpus swept
    shard-by-shard (or re-screened after every curation stage) pays the
    eval aggregation once, not once per call."""

    words: list
    m_bits: int
    eval_grams: DataFrame
    n: int


def build_decontam_bloom(docs: DataFrame, n: int = DECONTAM_N) -> DecontamBloom:
    """Derive the eval split (``doc_id % EVAL_MOD == 0``), persist its
    distinct grams, and build the bloom over them — the offline index
    step. The eval-gram cache feeds both the bloom construction and
    every subsequent confirm join."""
    from m12_kafkastreams_python_azure_spark.sources.readers import (
        register_parallel_cache,
    )

    eval_grams = (
        docs.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.explode(word_ngrams(F.col("text"), n)).alias("gram"))
        .distinct()
        .persist()
    )
    register_parallel_cache(eval_grams)
    words, m_bits = build_gram_bloom(eval_grams)
    return DecontamBloom(words, m_bits, eval_grams, n)


def decontaminate_bloom(
    docs: DataFrame, n: int = DECONTAM_N, bloom: DecontamBloom | None = None
) -> DataFrame:
    """EXACT decontamination (same output as ``decontaminate`` — the
    oracle is literally shared) through a Bloom prefilter: the eval
    side ships as a bit array instead of broadcast gram strings, and
    the exact confirm is a SHUFFLE equi-join that only moves the
    bloom-surviving sliver of train grams plus the eval grams — no
    broadcast of the eval set anywhere.

    ``bloom``: a prebuilt ``DecontamBloom`` (``build_decontam_bloom``)
    to amortize the eval aggregation across calls — the 100x ladder's
    worst factor (11.8x, docs/SCALE.md) was almost entirely per-call
    rebuild cost. Omitted, the artifact is built internally (output
    identical either way; pinned in tests/test_corpus_ops.py).

    When this wins at 100 TB: benchmarks with 10^8+ distinct grams make
    the string broadcast multi-GB per executor; the bloom is ~10 bits
    per gram (~125 MB at 10^8 — closure-shippable) and the FP rate
    (~1%) only costs a 1% oversized confirm join, never a wrong answer
    (no false negatives; false positives fail the confirm join)."""
    if bloom is None:
        bloom = build_decontam_bloom(docs, n)
    elif bloom.n != n:
        raise ValueError(
            f"bloom artifact built at n={bloom.n}, call requested n={n}"
        )
    train = docs.filter(F.col("doc_id") % EVAL_MOD != 0).select(
        "doc_id", F.explode(word_ngrams(F.col("text"), n)).alias("gram")
    )
    per_doc_total = train.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    cand = train.filter(
        bloom_might_contain(bloom.words, bloom.m_bits, F.col("gram"))
    )
    confirmed = cand.join(bloom.eval_grams.withColumn("hit", F.lit(True)), "gram")
    per_doc_hits = confirmed.groupBy("doc_id").agg(
        F.count_distinct("gram").alias("n_collisions")
    )
    return per_doc_hits.join(per_doc_total, "doc_id").select(
        "doc_id",
        "n_collisions",
        "n_grams",
        F.round(
            F.col("n_collisions").cast("double")
            / F.col("n_grams").cast("double"),
            6,
        ).alias("contam_ratio"),
    )


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decontaminate_bloom(
        parallel_scan(load_table(spark, sf_dir, "documents"))
    )


# bloom is transparent: the output contract IS decontaminate's, so the
# oracle SQL is shared verbatim (assigned in __spark_entry__).


# --------------------------------------- CCNet perplexity bucketing

CCNET_HEAD_FRAC = 1.0 / 3.0
CCNET_MIDDLE_FRAC = 2.0 / 3.0


CCNET_APPROX_ACCURACY = 10000  # percentile_approx: rank err <= 1/accuracy


def ccnet_cutoffs(scored: DataFrame, group_col: str = "lang") -> DataFrame:
    """Per-language head/middle score cutoffs (``c_head``, ``c_mid``) of
    the approx CCNet split: the ascending 2/3- and 1/3-quantiles of
    ``avg_log2p`` by ``percentile_approx`` (a mergeable sketch, state
    bounded by the accuracy, never the row count)."""
    return scored.groupBy(group_col).agg(
        F.percentile_approx(
            "avg_log2p",
            F.lit(1.0 - CCNET_HEAD_FRAC),
            F.lit(CCNET_APPROX_ACCURACY),
        ).alias("c_head"),
        F.percentile_approx(
            "avg_log2p",
            F.lit(1.0 - CCNET_MIDDLE_FRAC),
            F.lit(CCNET_APPROX_ACCURACY),
        ).alias("c_mid"),
    )


def ccnet_bucket_col() -> Column:
    """The head/middle/tail rule over a row carrying ``avg_log2p`` and its
    language's ``c_head`` / ``c_mid`` cutoffs. A row missing either the
    score or the cutoffs is ``unscored``: it has nothing to rank by, and
    it must land in a bucket rather than vanish."""
    return (
        F.when(
            F.col("avg_log2p").isNull() | F.col("c_head").isNull(),
            F.lit("unscored"),
        )
        .when(F.col("avg_log2p") >= F.col("c_head"), F.lit("head"))
        .when(F.col("avg_log2p") >= F.col("c_mid"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )


def ccnet_buckets(docs: DataFrame, thresholds: str = "exact") -> DataFrame:
    """CCNet's language-model quality split (Wenzek et al. 2020, "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data"):
    score every document under a corpus LM, then split EACH LANGUAGE
    into head / middle / tail terciles by score — pretraining recipes
    keep head+middle and drop the tail. The scorer here is the engine's
    own ``bigram_lm_score`` (CCNet uses a 5-gram KenLM; the bucketing
    logic — per-language percentile split on a per-doc LM score — is
    identical and scorer-agnostic).

    ``thresholds="exact"`` (default, the oracle-parity spelling):
    per-doc bucket = percent_rank within the language, ordered by
    (avg_log2p DESC, doc_id) — higher mean log-probability = lower
    perplexity = head. Deterministic across engines (the tie-break is
    total). Output one row per (lang, bucket): any single mis-bucketed
    document shifts a count and a mean. Exact per-language percent_rank
    buffers a language's scores on its reducer — fine on the driver
    tiers, NOT the plan for a 100 TB language.

    ``thresholds="approx"`` (the web-scale path, VERDICT r12 #2):
    per-language head/middle score cutoffs via ``percentile_approx`` (a
    mergeable Greenwald-Khanna sketch — per-group state bounded by the
    accuracy parameter, never the row count), joined back onto the
    scored table as a |langs|-row broadcast; the bucket decision is a
    narrow scan-side comparison. No window, no per-reducer buffering —
    the ``quality_percentile_filter`` discipline. Head = score >= the
    ascending 2/3-quantile (the top tercile), middle = score >= the
    1/3-quantile. Tied scores land in ONE bucket here (the exact path's
    total ordering splits ties by doc_id), so counts can differ by the
    tie width plus the sketch's <=0.01% rank error — the parity band
    ``tests/test_corpus.py`` pins.

    Scale shape: the LM model tables are vocabulary-bounded broadcasts
    (see ``bigram_lm_score``) on both paths; the approx path's only
    corpus-keyed shuffles are the scorer's own doc_id aggregation and
    the final (lang, bucket) agg.

    Unscorable docs (ADVICE r14): a document the scorer yields no score
    for (zero bigrams — fewer than two tokens) routes to an explicit
    ``unscored`` bucket instead of silently vanishing from the rollup
    (the streaming processor's ADVICE-r13 fix, now mirrored here so the
    documented stream == batch parity holds for out-of-distribution
    batches too). Unscored rows are EXCLUDED from the percentile
    ranking / cutoff fit — they carry no score to rank — so the
    head/middle/tail split over scorable docs is unchanged; their
    mean/worst score aggregate to NULL by construction.

    The unscored set is derived from the NARROW input predicate
    ``size(split(trim(text), '\\s+')) < 2`` — exactly the zero-bigram
    condition under ``word_ngrams``'s tokenization (empty text splits to
    one empty token, NULL text sizes to -1; both < 2 and both yield the
    empty gram array) — NOT via an anti-join against the scorer output.
    VERDICT r15 #1: the anti-join spelling re-executed the whole
    explode + vocab-join + aggregate scoring subtree a second time
    (Spark has no cross-subtree CSE and ``scored`` was unpersisted on
    the exact path), doubling the converged bench row; the predicate
    costs one extra scan of two narrow columns instead."""
    from pyspark.sql.window import Window

    if thresholds not in ("exact", "approx"):
        raise ValueError(f"thresholds must be exact|approx, got {thresholds!r}")
    scored = bigram_lm_score(docs)
    langs = docs.select("doc_id", "lang")
    unscored = (
        docs.filter(F.size(F.split(F.trim(F.col("text")), r"\s+")) < 2)
        .select(
            "lang",
            F.lit("unscored").alias("bucket"),
            F.lit(None).cast("double").alias("avg_log2p"),
        )
    )
    if thresholds == "approx":
        from m12_kafkastreams_python_azure_spark.sources.readers import (
            register_parallel_cache,
        )

        # persisted: the cutoff aggregate AND the bucketing join both
        # consume the scored table (no cross-subtree CSE — the LM scoring
        # explode+joins would run twice); output is 3 narrow cols/doc, so
        # the persist-selectivity rule says cache
        j = scored.join(langs, "doc_id").persist()
        register_parallel_cache(j)
        bucketed = j.join(F.broadcast(ccnet_cutoffs(j)), "lang").withColumn(
            "bucket", ccnet_bucket_col()
        )
    else:
        w = Window.partitionBy("lang").orderBy(
            F.col("avg_log2p").desc(), F.col("doc_id").asc()
        )
        bucketed = (
            scored.join(langs, "doc_id")
            .withColumn("pr", F.percent_rank().over(w))
            .withColumn(
                "bucket",
                F.when(F.col("pr") <= F.lit(CCNET_HEAD_FRAC), F.lit("head"))
                .when(F.col("pr") <= F.lit(CCNET_MIDDLE_FRAC), F.lit("middle"))
                .otherwise(F.lit("tail")),
            )
        )
    return (
        bucketed.select("lang", "bucket", "avg_log2p")
        .unionByName(unscored)
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("avg_log2p"), 6).alias("mean_log2p"),
            F.round(F.min("avg_log2p"), 6).alias("worst_log2p"),
        )
    )


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ccnet_buckets(parallel_scan(load_table(spark, sf_dir, "documents")))


ORACLE_CCNET_BUCKETS = f"""
WITH bi AS (
  SELECT doc_id, unnest({word_ngrams_sql('text', 2)}) AS gram
  FROM documents
), g AS (
  SELECT doc_id, gram, string_split(gram, ' ')[1] AS w1 FROM bi
), bc AS (
  SELECT gram, count(*) AS c_bi FROM g GROUP BY gram
), hc AS (
  SELECT w1, count(*) AS c_w1 FROM g GROUP BY w1
), scored AS (
  -- ROUND to 6 like bigram_lm_score's output: the Spark path ranks and
  -- averages the scorer's rounded per-doc scores, so the oracle must
  -- rank/average the same values (and break rounding-induced ties the
  -- same way, by doc_id)
  SELECT g.doc_id,
         ROUND(avg(log2(CAST(bc.c_bi AS DOUBLE) / CAST(hc.c_w1 AS DOUBLE))), 6)
           AS avg_log2p
  FROM g JOIN bc USING (gram) JOIN hc USING (w1)
  GROUP BY g.doc_id
), ranked AS (
  SELECT d.lang, s.avg_log2p,
         percent_rank() OVER (PARTITION BY d.lang
                              ORDER BY s.avg_log2p DESC, s.doc_id) AS pr
  FROM scored s JOIN documents d USING (doc_id)
), bucketed AS (
  SELECT lang,
         CASE WHEN pr <= {CCNET_HEAD_FRAC!r} THEN 'head'
              WHEN pr <= {CCNET_MIDDLE_FRAC!r} THEN 'middle'
              ELSE 'tail' END AS bucket,
         avg_log2p
  FROM ranked
  UNION ALL
  -- zero-bigram docs: excluded from the ranking (no score to rank),
  -- routed to an explicit 'unscored' bucket (ADVICE r14 / the streaming
  -- processor's left-join discipline) instead of silently dropping
  SELECT d.lang, 'unscored' AS bucket, CAST(NULL AS DOUBLE) AS avg_log2p
  FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM scored)
)
SELECT lang, bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       ROUND(avg(avg_log2p), 6) AS mean_log2p,
       ROUND(min(avg_log2p), 6) AS worst_log2p
FROM bucketed
GROUP BY 1, 2
"""


# ------------------------------------ classifier calibration audit

CALIB_BINS = 10


def quality_calibration(docs: DataFrame, bins: int = CALIB_BINS) -> DataFrame:
    """Reliability curve for the linear quality classifier: bin every
    document by predicted keep-probability (deciles by default) and
    compare the bin's mean prediction against the observed pass rate of
    an INDEPENDENT reference rule (the Gopher repetition gate). A
    calibrated classifier's curve hugs the diagonal; a drifted one
    (new corpus mix, stale weights) bows away — the audit that tells a
    curation pipeline its keep-threshold still means what it meant
    (Guo et al. 2017 'On Calibration of Modern Neural Networks' — this
    is their reliability diagram, with the corpus-rule stand-in for
    labels).

    Shape: the classifier is the zero-shuffle narrow pass; the gopher
    reference is two doc_id-keyed aggs; one doc_id join + one
    bins-bounded agg. Output: (bin, n_docs, mean_prob, pass_rate)."""
    clf = quality_classifier(docs).select("doc_id", "quality_prob")
    ref = gopher_quality(docs).select(
        "doc_id", F.col("keep").alias("ref_keep")
    )
    j = clf.join(ref, "doc_id")
    b = F.least(
        F.floor(F.col("quality_prob") * bins).cast("int"), F.lit(bins - 1)
    )
    return (
        j.select(b.alias("bin"), "quality_prob", "ref_keep")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality_prob"), 6).alias("mean_prob"),
            F.round(F.avg(F.col("ref_keep").cast("double")), 6).alias(
                "pass_rate"
            ),
        )
    )


def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_calibration(
        parallel_scan(load_table(spark, sf_dir, "documents"))
    )


ORACLE_QUALITY_CALIBRATION = f"""
SELECT CAST(LEAST(CAST(floor(c.quality_prob * {CALIB_BINS}) AS INT),
             {CALIB_BINS - 1}) AS INTEGER) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       ROUND(avg(c.quality_prob), 6) AS mean_prob,
       ROUND(avg(CASE WHEN g.keep THEN 1.0 ELSE 0.0 END), 6) AS pass_rate
FROM ({{clf}}) c JOIN ({{gq}}) g USING (doc_id)
GROUP BY 1
"""

ORACLE_QUALITY_CALIBRATION = ORACLE_QUALITY_CALIBRATION.format(
    clf=ORACLE_QUALITY_CLASSIFIER, gq=ORACLE_GOPHER_QUALITY
)
