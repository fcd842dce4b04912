"""Text-analysis queries over the ``documents`` table.

Engine-roadmap operators for a 100 TB LLM-data pipeline (beyond the
reference's surface — SURVEY.md §2 bottom note): token counting, quality
scoring, language ID, document fingerprinting. All pure Catalyst column
expressions (no Python in the hot path); each has an adjacent DuckDB oracle
built from the same ``*_sql`` spellings in ``functions.text`` so Spark and
oracle can't drift.

Scale: all are narrow per-row maps — zero shuffles, trivially partition-
parallel at any data size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from m12_kafkastreams_python_azure_spark.functions import text as T
from m12_kafkastreams_python_azure_spark.sources.readers import load_table


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cols = T.quality_score_cols(F.col("text"))
    return docs.select(
        "doc_id",
        cols["n_tokens"].alias("n_tokens"),
        F.round(cols["mean_token_len"], 6).alias("mean_token_len"),
        F.round(cols["stopword_ratio"], 6).alias("stopword_ratio"),
        F.round(cols["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(cols["quality_score"], 6).alias("quality_score"),
    )


def _oracle_text_quality() -> str:
    s = T.quality_score_sql("text")
    return f"""
SELECT doc_id,
       {s['n_tokens']} AS n_tokens,
       ROUND({s['mean_token_len']}, 6) AS mean_token_len,
       ROUND({s['stopword_ratio']}, 6) AS stopword_ratio,
       ROUND({s['alpha_ratio']}, 6) AS alpha_ratio,
       ROUND({s['quality_score']}, 6) AS quality_score
FROM documents
"""


ORACLE_TEXT_QUALITY = _oracle_text_quality()


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.language_id(F.col("text")).alias("lang_pred"),
    )


ORACLE_LANG_ID = f"""
SELECT doc_id, {T.language_id_sql('text')} AS lang_pred FROM documents
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = T.doc_fingerprint(F.col("text"))
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 8).alias("fp_prefix"),
    )


ORACLE_DOC_FINGERPRINT = f"""
SELECT doc_id,
       {T.doc_fingerprint_sql('text')} AS fingerprint,
       substring({T.doc_fingerprint_sql('text')}, 1, 8) AS fp_prefix
FROM documents
"""


def clean_corpus(
    docs: DataFrame,
    min_tokens: int = 5,
    max_tokens: int = 100000,
    min_alpha_ratio: float = 0.5,
) -> DataFrame:
    """The composed cleaning preset an LLM-data pipeline runs end to end:

    1. normalize text (lowercase, collapse whitespace, trim),
    2. quality-gate (token count bounds + alphabetic ratio),
    3. exact-dedup on the normalized fingerprint (keep lowest doc_id).

    All narrow maps plus ONE shuffle (the dedup window on the md5
    fingerprint — a uniformly distributed key, so no skew at any size).
    """
    from pyspark.sql.window import Window

    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    # Materialize norm_text FIRST: quality expressions reference it several
    # times, and Catalyst's project-collapse would otherwise re-inline the
    # regexp_replace into every one of them (N regex passes per row).
    normed = docs.select("doc_id", "lang", norm.alias("norm_text")).persist()
    cols = T.quality_score_cols(F.col("norm_text"))
    staged = normed.select(
        "doc_id",
        "lang",
        "norm_text",
        cols["n_tokens"].alias("n_tokens"),
        cols["alpha_ratio"].alias("alpha_ratio"),
    ).filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.col("alpha_ratio") >= min_alpha_ratio)
    )
    w = Window.partitionBy(F.md5("norm_text")).orderBy("doc_id")
    return (
        staged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_tokens", F.length("norm_text").alias("norm_len"))
    )


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from m12_kafkastreams_python_azure_spark.sources.readers import parallel_scan

    return clean_corpus(parallel_scan(load_table(spark, sf_dir, "documents")))


def _oracle_clean_corpus() -> str:
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    s = T.quality_score_sql(norm)
    return f"""
WITH staged AS (
  SELECT doc_id, lang,
         {norm} AS norm_text,
         {s['n_tokens']} AS n_tokens,
         {s['alpha_ratio']} AS alpha_ratio
  FROM documents
),
gated AS (
  SELECT * FROM staged
  WHERE n_tokens >= 5 AND n_tokens <= 100000 AND alpha_ratio >= 0.5
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY md5(norm_text) ORDER BY doc_id) AS rn
  FROM gated
)
SELECT doc_id, lang, n_tokens, length(norm_text) AS norm_len
FROM ranked WHERE rn = 1
"""


ORACLE_CLEAN_CORPUS = _oracle_clean_corpus()


VOCAB_SIZE = 1024  # top-V words by corpus frequency; id 0 = OOV/unk


def q_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary build + token-id encoding — the step
    between raw text and a trainer's integer streams: rank the corpus
    vocabulary by (frequency DESC, word ASC), keep the top VOCAB_SIZE ids
    (1-based; 0 is the OOV id), and encode each document as its
    position-ordered id array.

    Scale shape: tokenization is a narrow per-row map; the vocab build
    aggregates (word, count) — orders of magnitude smaller than the token
    stream, with map-side partial counts. The top-V selection is a
    distributed TakeOrderedAndProject (per-partition top-V, then a V-row
    merge) — NOT a global sort: a web-scale corpus has 10⁸–10⁹ distinct
    tokens, and an unpartitioned rank over the full vocabulary would
    funnel all of them through one task. Only the V surviving rows see
    the single-partition row_number, which is O(V) regardless of corpus
    size. The top-V vocab (V rows) is broadcast back onto the token
    stream, so the only full-size shuffle is the final per-document
    regroup, keyed on doc_id — no skew (one group per document)."""
    docs = load_table(spark, sf_dir, "documents")
    # toks is consumed twice (vocab aggregate + encode join) and
    # DELIBERATELY not persisted: it is a narrow per-row map off the scan,
    # and the exploded token stream is LARGER than the input text — at
    # corpus scale, re-running the split costs two cheap scans while
    # caching it would pin memory/disk proportional to the token count
    # (the opposite trade from dedup._parallel_text, whose persist exists
    # to break single-file scan serialization, not to save recompute).
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "word"),
    )
    from pyspark.sql import Window

    # Top-V FIRST via orderBy().limit(V): Spark plans this as a
    # TakeOrderedAndProject — each partition keeps its own top V, the
    # merge sees only num_partitions·V rows. The unbounded alternative
    # (row_number over the whole distinct-word table, filter id<=V) sorts
    # the ENTIRE vocabulary in one task — a 100 TB scale-killer flagged
    # in round-5 review. Result is identical: the window below ranks only
    # the V survivors with the same (freq DESC, word ASC) tiebreak.
    rank_w = Window.orderBy(F.desc("freq"), F.asc("word"))
    vocab = (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(VOCAB_SIZE)
        .withColumn("id", F.row_number().over(rank_w).cast("long"))
        .select("word", "id")
    )
    enc = toks.join(F.broadcast(vocab), "word", "left").select(
        "doc_id", "pos", F.coalesce(F.col("id"), F.lit(0)).cast("long").alias("id")
    )
    # ids is emitted as a CSV STRING, not array<long>: the driver's
    # canonicalizer sorts frames in pandas, where a raw list column is
    # unhashable (the one red row of r06 was exactly this). Same
    # convention as array_set_ops (analytics9.py) and
    # normalize_embeddings (vectorops.py): canonicalize arrays to
    # scalars before they leave the query. Loses nothing — the CSV is a
    # bijective encoding of the id sequence.
    return (
        enc.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "id"))),
                    lambda s: s["id"].cast("string"),
                ),
            ).alias("ids"),
        )
    )


ORACLE_VOCAB_ENCODE = f"""
WITH ws AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
toks AS (
  SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS pos FROM ws
),
vocab AS (
  SELECT word,
         row_number() OVER (ORDER BY count(*) DESC, word) AS id
  FROM toks GROUP BY word
  QUALIFY id <= {VOCAB_SIZE}
),
enc AS (
  SELECT t.doc_id, t.pos, COALESCE(v.id, 0) AS id
  FROM toks t LEFT JOIN vocab v USING (word)
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       array_to_string(list(id ORDER BY pos), ',') AS ids
FROM enc GROUP BY doc_id
"""


# ------------------------------------------------------------------ BPE pair stats

BPE_TOP_PAIRS = 40


def bpe_pair_counts(docs: DataFrame, top: int = BPE_TOP_PAIRS) -> DataFrame:
    """Corpus-wide adjacent character-pair frequencies, ranked — the
    statistic the first BPE merge step consumes (Sennrich et al.,
    "Neural Machine Translation of Rare Words with Subword Units",
    arXiv:1508.07909: merge the most frequent symbol pair, iterate).
    This computes the full first-iteration merge table: the top
    ``top`` pairs by (count DESC, pair ASC), each with its merge rank.
    A full BPE train loops this with the previous merges applied; the
    pair-count aggregation below is the distributed inner step that
    dominates that loop's cost at corpus scale.

    Scale shape: tokenize (narrow map), explode each word's adjacent
    char pairs (words shorter than 2 chars are filtered BEFORE the pair
    build — Spark's ``sequence(1, len-1)`` DESCENDS when len-1 < 1 and
    would fabricate pairs), then one (pair -> count) groupBy with
    map-side partials over a key space bounded by |alphabet|² — tiny
    state no matter the corpus size. Top-N is orderBy().limit(): a
    distributed TakeOrderedAndProject (per-partition top-N, N-row
    merge), NOT a global sort — same shape as ``q_vocab_encode``'s
    top-V. Only the N survivors see the single-partition rank window."""
    from pyspark.sql import Window

    words = docs.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("word")
    ).filter(F.length("word") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - F.lit(1)),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    rank_w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(top)
        .withColumn("merge_rank", F.row_number().over(rank_w).cast("int"))
        .select("pair", "cnt", "merge_rank")
    )


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_pair_counts(load_table(spark, sf_dir, "documents"))


ORACLE_BPE_PAIR_COUNTS = f"""
WITH words AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word FROM documents
),
pairs AS (
  SELECT substring(word, i, 2) AS pair
  FROM words,
       LATERAL (SELECT unnest(generate_series(1, len(word) - 1)) AS i) t
  WHERE len(word) >= 2
),
counted AS (
  SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM pairs GROUP BY pair
)
SELECT pair, cnt,
       CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INTEGER) AS merge_rank
FROM counted
QUALIFY merge_rank <= {BPE_TOP_PAIRS}
"""


# ------------------------------------------------------------------ BPE merges

BPE_MERGE_ITERS = 3


def bpe_merges(docs: DataFrame, iters: int = BPE_MERGE_ITERS) -> DataFrame:
    """The actual BPE training loop (Sennrich et al., arXiv:1508.07909),
    ``iters`` iterations unrolled: count adjacent symbol pairs, merge the
    globally most frequent pair everywhere, recount. Output is the merge
    table — one row per iteration with pairs remaining:
    (merge_step, pair, merged, cnt), the artifact a BPE tokenizer ships.
    If the corpus exhausts its mergeable pairs before ``iters`` (every
    word fully merged), later iterations are no-ops and emit no row —
    the oracle's chained CTEs behave identically.

    Spark-first shape — the distributed-BPE standard:

    - The corpus collapses to the WORD-COUNT table first (one corpus
      shuffle, cached: it is vocab-sized). Every later pass runs over
      |vocab| rows with frequencies as weights, never the corpus again.
    - Symbol sequences are space-delimited strings ("h e l l o"); words
      come from a whitespace split, so the delimiter can never collide
      with symbol content.
    - Pair counting: zip_with over two shifted slices (HOF ARGUMENTS
      evaluate once per row — no per-element re-eval of the split), then
      a (pair -> sum(wcnt)) aggregate whose key space is bounded by the
      live symbol-pair diversity, with map-side partials.
    - Top-1 per iteration is orderBy().limit(1): TakeOrderedAndProject.
    - The merge APPLIES as a pure-plan literal-string replace: the 1-row
      winner broadcast-LEFT-joins onto the vocab on a constant key (NOT a
      crossJoin — when the corpus exhausts its mergeable pairs the winner
      is EMPTY, and a crossJoin would annihilate the vocab; the left join
      makes the exhausted iteration a no-op) and ``F.replace`` (not
      regex — symbols may contain regex metachars) rewrites
      " p1 p2 " -> " p1p2 " on the padded sequence, TWICE: left-to-right
      non-overlapping replacement can skip an occurrence whose leading
      delimiter was consumed by the previous match, but any two
      originally-adjacent occurrences can't both survive pass one, so
      remaining matches are isolated and pass two catches all of them.
      No driver round-trip anywhere — the merge table never leaves the
      cluster until the final 3-row result.

    Semantics note: on a run of IDENTICAL symbols ("a a a a"), greedy
    delimited replace groups occurrences differently from the textbook
    rescan-after-merge spelling — but identically to the DuckDB oracle's
    ``replace``, which is the contract this operator is checked against
    (both engines are left-to-right non-overlapping).

    At 100 TB: the corpus scan happens once (word count); each iteration
    is a vocab-sized narrow pass + one bounded-key aggregate. A real
    tokenizer train runs ~50k iterations with the vocab table persisted
    between steps — this unrolled spelling is the per-step plan."""
    merge_rows, _ = _bpe_train(docs, iters)
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionAll(m)
    return out.orderBy("merge_step")


def _bpe_train(docs: DataFrame, iters: int):
    """Shared BPE training loop: returns (per-iteration merge-row
    DataFrames, final word -> symbol-sequence vocab). ``bpe_merges``
    publishes the former, ``bpe_encode`` applies the latter."""
    from m12_kafkastreams_python_azure_spark.sources.readers import (
        register_parallel_cache,
    )

    # vocab-sized; every iteration re-reads it, so one corpus scan total.
    # Registered (not bare .cache()) so the FIFO persist registry frees it
    # across a long query sweep — library callers never leak storage.
    wc = register_parallel_cache(
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcnt"))
        .persist()
    )
    vocab = wc.select(
        "word", F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("sym"), "wcnt"
    )
    merge_rows = []
    # Each iteration's vocab is pinned below (r21, guide §5): vocab_i is
    # consumed by BOTH top1_{i+1} (a broadcast build with its own subtree
    # execution) and vocab_{i+1}, and without the pin the nesting doubles
    # the pair-explode work per unrolled iteration (~2^iters subtree
    # executions — tokenizer_fertility's r21 stage profile showed SEVEN
    # Generate stages of 2-5.5 executor-seconds re-running this
    # vocab-sized pass). The pins are lazy (no count barrier): the
    # consumers run sequentially (broadcast build, then the next
    # iteration), so there is no concurrent first-computation race, and
    # the cached table is vocab-sized (|distinct words| rows), never
    # corpus-sized.
    for step in range(1, iters + 1):
        with_syms = vocab.select(F.split("sym", " ").alias("syms"), "wcnt")
        pairs = with_syms.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("syms"), F.lit(1), F.size("syms") - 1),
                    F.slice(F.col("syms"), F.lit(2), F.size("syms") - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("pair"),
            "wcnt",
        )
        top1 = (
            pairs.groupBy("pair")
            .agg(F.sum("wcnt").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
        )
        merge_rows.append(
            top1.select(
                F.lit(step).cast("int").alias("merge_step"),
                "pair",
                F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
                "cnt",
            )
        )
        padded = F.concat(F.lit(" "), F.col("sym"), F.lit(" "))
        search = F.concat(F.lit(" "), F.col("_mp"), F.lit(" "))
        repl = F.concat(
            F.lit(" "), F.replace(F.col("_mp"), F.lit(" "), F.lit("")), F.lit(" ")
        )
        # LEFT join on a constant key, not crossJoin: when the corpus runs
        # out of mergeable pairs before `iters` (every word fully merged),
        # top1 is EMPTY — a crossJoin would wipe the whole vocab and
        # silently drop every document downstream (caught by round-8
        # review); the left join makes the exhausted iteration a no-op.
        vocab = (
            vocab.withColumn("_k", F.lit(1))
            .join(
                F.broadcast(
                    top1.select(F.lit(1).alias("_k"), F.col("pair").alias("_mp"))
                ),
                "_k",
                "left",
            )
            .select(
                "word",
                F.when(F.col("_mp").isNull(), F.col("sym"))
                .otherwise(
                    F.trim(F.replace(F.replace(padded, search, repl), search, repl))
                )
                .alias("sym"),
                "wcnt",
            )
        )
        vocab = register_parallel_cache(vocab.persist())
    return merge_rows, vocab.select("word", "sym")


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_merges(load_table(spark, sf_dir, "documents"))


def bpe_encode(docs: DataFrame, iters: int = BPE_MERGE_ITERS) -> DataFrame:
    """Apply the learned BPE merges back to the corpus — the tokenizer
    APPLY step that pairs with ``bpe_merges``' train step. Per document:
    word count and post-merge token count (what sequence-packing and
    context-length budgeting consume; the n_tokens/n_words ratio is the
    compression the merge table bought).

    Scale shape: training cost is ``_bpe_train`` (one corpus shuffle,
    then vocab-sized passes); application is ONE equi-join of the
    exploded corpus tokens against the word -> symbols vocab (AQE
    broadcasts it when small; at web scale it stays a shuffle join — the
    vocab is |distinct words|, never corpus-sized) and a per-doc
    aggregate. No per-document re-tokenization: every distinct word's
    merge sequence is computed exactly once, on the vocab."""
    _, vocab = _bpe_train(docs, iters)
    enc = vocab.select(
        "word", F.size(F.split("sym", " ")).cast("long").alias("word_tokens")
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("word")
    )
    return (
        toks.join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("word_tokens").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("n_words"), 6).alias(
                "tokens_per_word"
            ),
        )
    )


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_encode(load_table(spark, sf_dir, "documents"))


def _bpe_cte_chain(iters: int, syms_through: int) -> list[str]:
    # chained CTEs, one (pairs -> top-1 -> apply) block per iteration —
    # the same unrolled spelling pagerank_parts' oracle uses for its
    # fixed-round loop. ``syms_through`` controls how many apply steps are
    # emitted: the merge table needs iters-1 (the last merge is never
    # applied), the encoder needs all iters.
    ctes = ["""wc AS (
  SELECT word, CAST(count(*) AS BIGINT) AS wcnt
  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
        FROM documents)
  GROUP BY word
)""", """sym0 AS (
  SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym, wcnt
  FROM wc
)"""]
    for i in range(1, iters + 1):
        ctes.append(f"""p{i} AS (
  SELECT arr[i] || ' ' || arr[i+1] AS pair, CAST(sum(wcnt) AS BIGINT) AS cnt
  FROM (SELECT string_split(sym, ' ') AS arr, wcnt FROM sym{i - 1}) s,
       LATERAL (SELECT unnest(generate_series(1, len(arr) - 1)) AS i) t
  GROUP BY pair
)""")
        ctes.append(f"""m{i} AS (
  SELECT {i} AS step, pair, cnt FROM p{i} ORDER BY cnt DESC, pair LIMIT 1
)""")
        if i <= syms_through:
            # LEFT JOIN ON TRUE mirrors the Spark side's
            # exhausted-iteration no-op: an empty m{i} must keep the
            # vocab intact, not annihilate it
            ctes.append(f"""sym{i} AS (
  SELECT s.word,
         CASE WHEN m.pair IS NULL THEN s.sym
              ELSE trim(replace(replace(' ' || s.sym || ' ',
                              ' ' || m.pair || ' ',
                              ' ' || replace(m.pair, ' ', '') || ' '),
                      ' ' || m.pair || ' ',
                      ' ' || replace(m.pair, ' ', '') || ' '))
         END AS sym,
         s.wcnt
  FROM sym{i - 1} s LEFT JOIN m{i} m ON TRUE
)""")
    return ctes


def _oracle_bpe_merges(iters: int = BPE_MERGE_ITERS) -> str:
    ctes = _bpe_cte_chain(iters, syms_through=iters - 1)
    union = "\nUNION ALL ".join(f"SELECT * FROM m{i}" for i in range(1, iters + 1))
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT CAST(step AS INTEGER) AS merge_step, pair,
       replace(pair, ' ', '') AS merged, cnt
FROM ({union})
ORDER BY merge_step
"""
    )


ORACLE_BPE_MERGES = _oracle_bpe_merges()


def _oracle_bpe_encode(iters: int = BPE_MERGE_ITERS) -> str:
    ctes = _bpe_cte_chain(iters, syms_through=iters)
    return (
        "WITH " + ",\n".join(ctes) + f""",
enc AS (
  SELECT word, CAST(len(string_split(sym, ' ')) AS BIGINT) AS word_tokens
  FROM sym{iters}
),
toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(e.word_tokens) AS BIGINT) AS n_tokens,
       ROUND(sum(e.word_tokens) / CAST(count(*) AS DOUBLE), 6)
         AS tokens_per_word
FROM toks t JOIN enc e USING (word)
GROUP BY t.doc_id
"""
    )


ORACLE_BPE_ENCODE = _oracle_bpe_encode()


# ------------------------------------------------------------------ PMI bigrams

PMI_MIN_COUNT = 5
PMI_TOP = 40


def pmi_bigrams(
    docs: DataFrame, min_count: int = PMI_MIN_COUNT, top: int = PMI_TOP
) -> DataFrame:
    """Top collocations by pointwise mutual information: adjacent word
    pairs whose joint frequency beats the independence assumption —
    PMI = ln( (c12/N2) / ((c1/N1)(c2/N1)) ) (Church & Hanks 1990, the
    phrase-mining statistic behind word2phrase-style vocab augmentation:
    high-PMI bigrams become single tokens). ``min_count`` drops the
    low-frequency noise PMI notoriously amplifies; ties break on the
    pair for determinism.

    Scale shape: bigrams build per document from ONE tokenization
    (shifted-slice zip_with — HOF arguments evaluate once per row), then
    one (w1,w2)-keyed aggregate with map-side partials; unigrams are a
    second single-split scan and a vocab-sized aggregate. The marginal
    joins run bigram-table x vocab-table — AQE broadcasts the unigram
    side when it fits, and at web scale both sides are
    frequency-filtered long before the join. Totals (N1, N2) are
    single-row aggregates broadcast via crossJoin. Top-k is
    orderBy().limit(): TakeOrderedAndProject."""
    words = docs.select(F.split(F.trim("text"), r"\s+").alias("words"))
    bigrams = (
        words.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("words"), F.lit(1), F.size("words") - 1),
                    F.slice(F.col("words"), F.lit(2), F.size("words") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= min_count)
    )
    from m12_kafkastreams_python_azure_spark.sources.readers import (
        register_parallel_cache,
    )

    # consumed by BOTH marginal joins AND the totals aggregate; without
    # the persist the corpus-wide explode+aggregate subtree executes once
    # per consumer (vocab-sized table — same trade as _bpe_train's
    # word-count cache). Registered so the FIFO persist registry frees it.
    unigrams = register_parallel_cache(
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    # totals count ALL tokens/bigrams, not the min_count-filtered ones.
    # Derived from the persisted unigram table instead of a third corpus
    # tokenization: n1 = sum of unigram counts; n2 = sum(nw - 1) over
    # docs = n1 - |docs with text| (empty docs still split to one
    # empty-string token, so nw >= 1 for every NON-NULL text and the
    # identity is exact; a NULL text contributes zero unigrams, so the
    # doc count MUST exclude it or n2 skews low — r8 ADVICE). The doc
    # count is a split-free scan.
    totals = (
        unigrams.agg(F.sum("c").cast("double").alias("n1"))
        .crossJoin(
            docs.filter(F.col("text").isNotNull())
            .agg(F.count(F.lit(1)).cast("double").alias("nd"))
        )
        .select("n1", (F.col("n1") - F.col("nd")).alias("n2"))
    )
    scored = (
        bigrams.join(
            unigrams.select(F.col("word").alias("w1"), F.col("c").alias("c1")), "w1"
        )
        .join(
            unigrams.select(F.col("word").alias("w2"), F.col("c").alias("c2")), "w2"
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.log(
                    (F.col("c12") / F.col("n2"))
                    / ((F.col("c1") / F.col("n1")) * (F.col("c2") / F.col("n1")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    from pyspark.sql import Window

    rank_w = Window.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return (
        scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(top)
        .withColumn("rank", F.row_number().over(rank_w).cast("int"))
        .select("w1", "w2", "c12", "pmi", "rank")
    )


def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pmi_bigrams(load_table(spark, sf_dir, "documents"))


ORACLE_PMI_BIGRAMS = f"""
WITH ws AS (
  SELECT string_split_regex(trim(text), '\\s+') AS w FROM documents
),
bigrams AS (
  SELECT w[i] AS w1, w[i+1] AS w2, CAST(count(*) AS BIGINT) AS c12
  FROM ws, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) t
  GROUP BY w1, w2
  HAVING count(*) >= {PMI_MIN_COUNT}
),
unigrams AS (
  SELECT word, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(w) AS word FROM ws)
  GROUP BY word
),
totals AS (
  SELECT CAST(sum(len(w)) AS DOUBLE) AS n1,
         CAST(sum(len(w) - 1) AS DOUBLE) AS n2
  FROM ws
),
scored AS (
  SELECT b.w1, b.w2, b.c12,
         ROUND(ln((b.c12 / t.n2)
               / ((u1.c / t.n1) * (u2.c / t.n1))), 6) AS pmi
  FROM bigrams b
  JOIN unigrams u1 ON b.w1 = u1.word
  JOIN unigrams u2 ON b.w2 = u2.word
  CROSS JOIN totals t
)
SELECT w1, w2, c12, pmi,
       CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= {PMI_TOP}
"""


def bpe_train(
    docs: DataFrame,
    n_merges: int = 100,
    checkpoint_every: int = 4,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Full driver-looped BPE training (Sennrich et al. 1508.07909) to
    ``n_merges`` merges — the production companion of the unrolled-3
    ``bpe_merges`` (which stays the oracle-checked driver entry; this
    loop is pinned against a pure-Python reference implementation in
    tests/test_round9_ops.py, >=20 merges).

    Returns (merge table as a driver-side list [(step, pair, merged,
    cnt)], final word->symbol-sequence vocab DataFrame). The merge list
    IS driver-sized by definition — a tokenizer ships ~50k rows of it —
    and collecting the per-iteration 1-row winner is what makes the
    merge application a pure literal ``F.replace`` (no join at all);
    BPE is inherently sequential in the merge order, so the driver loop
    is the algorithm, not a shortcut.

    Plan-size discipline (the reason unrolled-3 cannot just be cranked
    to 100): each iteration adds a replace+split layer to the vocab's
    lineage, so after N unrolled rounds Catalyst re-analyzes an O(N)
    tree per step — O(N^2) total driver work, and a stack overflow long
    before 50k. Here the vocab ``localCheckpoint``s every
    ``checkpoint_every`` merges: lineage truncates to the materialized
    RDD, every step re-plans O(checkpoint_every) expressions, and the
    loop runs in bounded plan size at any N (same discipline as
    ``graph.connected_components``). Per-iteration cluster work is one
    vocab-sized pair aggregate (bounded key space) + a
    TakeOrderedAndProject top-1 — the corpus is scanned exactly once,
    by the word-count collapse up front.
    """
    from m12_kafkastreams_python_azure_spark.sources.readers import (
        register_parallel_cache,
    )

    wc = register_parallel_cache(
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcnt"))
        .persist()
    )
    # The merge loop re-scans the (vocab-sized, tiny-rows) checkpoint 1-2
    # times per merge: at the session's full shuffle-partition count that
    # is 32 near-empty tasks per stage x 2 stages x n_merges of pure
    # scheduling overhead (guide §2.6/§6 small-task tax). 8 partitions
    # keeps the loop parallel where it matters (the pair explode+agg)
    # while quartering per-merge task count — derived from parallelism,
    # not a constant, so a bigger cluster still fans out.
    n_loop_parts = max(
        8, docs.sparkSession.sparkContext.defaultParallelism // 4
    )
    vocab = wc.select(
        "word", F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("sym"), "wcnt"
    ).coalesce(n_loop_parts).localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []
    spark = docs.sparkSession
    # AQE OFF for the merge loop only (r21, guide §1.2-3 then config):
    # the per-merge job is a fixed-shape vocab-sized agg + top-1 — AQE
    # re-optimization splits it into TWO scheduled jobs per merge (the
    # exchange materialization, then TakeOrdered), and with 16+ merges
    # the loop is pure driver latency: profiled 42 jobs / 1.5 s of stage
    # wall inside a 5.3 s query. Static planning makes each merge ONE
    # job; nothing for AQE to adapt in a <100k-row loop body. Restored
    # in finally — the setting never leaks to real queries.
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        merges, vocab = _bpe_merge_loop(
            vocab, n_merges, checkpoint_every, merges
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    return merges, vocab.select("word", "sym")


def _bpe_merge_loop(
    vocab: DataFrame,
    n_merges: int,
    checkpoint_every: int,
    merges: list[tuple[int, str, str, int]],
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """The sequential merge loop body of ``bpe_train`` (split out so the
    AQE toggle wraps exactly the loop)."""
    for step in range(1, n_merges + 1):
        with_syms = vocab.select(F.split("sym", " ").alias("syms"), "wcnt")
        pairs = with_syms.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("syms"), F.lit(1), F.size("syms") - 1),
                    F.slice(F.col("syms"), F.lit(2), F.size("syms") - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("pair"),
            "wcnt",
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("wcnt").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break  # merges exhausted: every word fully merged
        pair, cnt = top[0].pair, int(top[0].cnt)
        merged = pair.replace(" ", "")
        merges.append((step, pair, merged, cnt))
        # literal replace, TWICE — same two-pass delimited-replace contract
        # (and the same left-to-right grouping on identical-symbol runs)
        # as the unrolled bpe_merges
        padded = F.concat(F.lit(" "), F.col("sym"), F.lit(" "))
        search, repl = f" {pair} ", f" {merged} "
        vocab = vocab.select(
            "word",
            F.trim(
                F.replace(
                    F.replace(padded, F.lit(search), F.lit(repl)),
                    F.lit(search),
                    F.lit(repl),
                )
            ).alias("sym"),
            "wcnt",
        )
        if step % checkpoint_every == 0:
            # lazy: lineage truncates when the NEXT merge job materializes
            # this — same bounded-plan guarantee, one fewer scheduled job
            # per checkpoint
            vocab = vocab.localCheckpoint(eager=False)
    return merges, vocab


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench/driver surface for the full BPE training loop: 16 merges on
    the documents corpus, returned as the merge table. EAGER by nature —
    BPE's merges are sequential, so the driver loop runs at CONSTRUCTION
    time (bench.py times construction + count for every entry); wall/16
    is the per-merge cost a tokenizer team sizes their 50k-merge run
    with. Rows-only in the driver contract (no
    single SQL statement expresses an N-deep sequential merge); bounded
    by the oracle-checked unrolled ``bpe_merges`` and the pure-Python
    reference pin in tests/test_round9_ops.py."""
    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = bpe_train(docs, n_merges=16)
    return spark.createDataFrame(
        merges, "step int, pair string, merged string, cnt long"
    )


# ------------------------------------------------------- token entropy

def token_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    repetition signal Gopher's rule set thresholds indirectly (a
    low-entropy doc is template/boilerplate even when its type-token
    ratio looks fine). Normalized entropy divides by log2(n_distinct)
    (1.0 = uniform usage, 0.0 = one token repeated; defined 0 for
    single-token docs).

    Shape: H = log2(n) - sum(c*log2(c))/n over per-(doc, token) counts
    c — the identity lets BOTH aggregation levels run as partial-agg
    shuffles keyed by doc_id(+token): no second pass to join totals
    back, no window. Uniform doc_id keys, vocabulary-bounded inner
    groups: skew-free at any corpus size."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    per_tok = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    n = F.sum("c")
    sum_clog = F.sum(F.col("c").cast("double") * F.log2(F.col("c").cast("double")))
    agg = per_tok.groupBy("doc_id").agg(
        n.alias("n_tok"),
        F.count(F.lit(1)).alias("n_distinct"),
        (F.log2(n.cast("double")) - sum_clog / n.cast("double")).alias("_h"),
    )
    return agg.select(
        "doc_id",
        "n_tok",
        "n_distinct",
        F.round("_h", 6).alias("entropy"),
        F.when(F.col("n_distinct") > 1,
               F.round(F.col("_h") / F.log2(F.col("n_distinct").cast("double")), 6))
        .otherwise(F.lit(0.0))
        .alias("norm_entropy"),
    )


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_entropy(load_table(spark, sf_dir, "documents"))


ORACLE_TOKEN_ENTROPY = """
WITH per_tok AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (
    SELECT doc_id,
           unnest(string_split_regex(trim(text), '\\s+')) AS tok
    FROM documents
  )
  WHERE tok <> ''
  GROUP BY 1, 2
),
agg AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tok,
         count(*) AS n_distinct,
         log2(CAST(sum(c) AS DOUBLE))
           - sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
             / CAST(sum(c) AS DOUBLE) AS h
  FROM per_tok GROUP BY 1
)
SELECT doc_id, n_tok, n_distinct,
       ROUND(h, 6) AS entropy,
       CASE WHEN n_distinct > 1
            THEN ROUND(h / log2(CAST(n_distinct AS DOUBLE)), 6)
            ELSE 0.0 END AS norm_entropy
FROM agg
"""


# -------------------------------------------- tokenizer fertility audit


def tokenizer_fertility(docs: DataFrame, iters: int = BPE_MERGE_ITERS) -> DataFrame:
    """Per-language tokenizer fertility under the corpus-trained BPE:
    subword tokens per whitespace word (the mT5/XLM-R multilingual audit
    — Rust et al. 2021 'How Good is Your Tokenizer?') plus characters
    per token. A language whose fertility runs far above the corpus
    mean is under-served by the merge table (its words shatter into
    many subwords), burns context budget per unit of text, and is the
    first place a shared-vocab model quietly degrades — the audit that
    decides whether the temperature-sampling alpha or the vocab size
    needs revisiting.

    Composition: ``bpe_encode``'s per-doc (n_words, n_tokens) rolled up
    by the documents table's lang column, with chars from the fixture's
    n_chars. Scale shape inherits bpe_encode's: vocab-sized merge
    application, one corpus explode+join, per-doc agg — then a
    |langs|-row rollup. Output: (lang, n_docs, n_words, n_tokens,
    fertility, chars_per_token)."""
    enc = bpe_encode(docs, iters)
    meta = docs.select("doc_id", "lang", "n_chars")
    return (
        enc.join(meta, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(
                F.sum("n_tokens").cast("double")
                / F.sum("n_words").cast("double"),
                6,
            ).alias("fertility"),
            F.round(
                F.sum("n_chars").cast("double")
                / F.sum("n_tokens").cast("double"),
                6,
            ).alias("chars_per_token"),
        )
    )


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tokenizer_fertility(load_table(spark, sf_dir, "documents"))


ORACLE_TOKENIZER_FERTILITY = f"""
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(e.n_words) AS BIGINT) AS n_words,
       CAST(sum(e.n_tokens) AS BIGINT) AS n_tokens,
       ROUND(sum(e.n_tokens) / CAST(sum(e.n_words) AS DOUBLE), 6)
         AS fertility,
       ROUND(sum(d.n_chars) / CAST(sum(e.n_tokens) AS DOUBLE), 6)
         AS chars_per_token
FROM ({ORACLE_BPE_ENCODE}) e JOIN documents d USING (doc_id)
GROUP BY d.lang
"""


# ----------------------------------------------- winnowing fingerprints

WINNOW_K = 4       # words per k-gram
WINNOW_W = 5       # winnowing window (k-gram hashes per window)
WINNOW_MAX_DF = 64   # fingerprint-hash ubiquity guard (containment's)
WINNOW_THRESHOLD = 0.5
_WIN_POS_CAP = 65535  # positions encode into 16 bits of the argmin key


def winnow_fingerprints(
    docs: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD —
    the MOSS algorithm): hash every word k-gram, slide a window of ``w``
    consecutive hashes over the sequence, and in each window select the
    minimum hash (rightmost position on ties). The selected (hash,
    position) set is the fingerprint. The guarantee that makes this THE
    sparse fingerprinting scheme: any shared substring of at least
    w+k-1 tokens contributes at least one IDENTICAL selected hash to
    both documents, at an expected density of only 2/(w+1) of the
    k-grams — the downstream candidate join shuffles ~1/3 of the rows a
    full gram explode would (w=5), with a detection guarantee instead
    of MinHash's probabilistic one.

    Cross-engine determinism: the k-gram hash is the integer value of
    the first 10 hex digits of md5(gram) (md5 is the one hash both
    engines share byte-for-byte — the hash_sample_per_group law), and
    the rightmost-tie argmin is ONE integer min over the encoded key
    ``hash * 2^16 + (2^16-1 - pos)`` — no struct ordering, no window
    UDF. Positions saturate at 65535 (a 65k-token doc keeps selecting
    correctly by hash; only the reported tie-break position saturates —
    documented, irrelevant at sane chunk sizes).

    Output: one row per DISTINCT selected (doc_id, fp_pos, fp_hash) —
    1-based k-gram position. Docs with fewer than w+k-1 tokens are
    below the guarantee length and yield no rows.

    Scale shape: SHUFFLE-FREE — the whole selection is per-row array
    math (grams → hashes → encoded keys → sliding array_min), so
    fingerprinting is a narrow map over the corpus; the only exchange a
    consumer ever pays is its own downstream shuffle. The original
    spelling (r16 first wave) exploded positions and ran a
    doc-partitioned sliding window, which shuffled the FULL position
    table by doc_id — one corpus-sized exchange that cancelled the
    screen's savings in containment_screened (measured: screened 11.4 s
    vs exact 8.1 s at sf0.1 before this rewrite). Each pipeline stage
    materializes into a REAL column so the higher-order lambdas
    reference an attribute, not a captured expression tree (Catalyst
    re-evaluates captured trees once per element — the engine-wide
    lambda-capture law, docs/SCALE.md round 5); the per-window
    ``slice`` + ``array_min`` is O(w) per element, O(m·w) per doc."""
    from m12_kafkastreams_python_azure_spark.operators.corpus import (
        word_ngrams,
    )

    cap = _WIN_POS_CAP
    g = docs.select("doc_id", word_ngrams(F.col("text"), k).alias("grams"))
    h = g.select(
        "doc_id",
        F.transform(
            F.col("grams"),
            lambda x: F.conv(F.substring(F.md5(x), 1, 10), 16, 10).cast("long"),
        ).alias("hs"),
    )
    enc = h.select(
        "doc_id",
        F.transform(
            F.col("hs"),
            lambda x, i: x * F.lit(cap + 1)
            + (F.lit(cap) - F.least(i + F.lit(1), F.lit(cap))),
        ).alias("keys"),
    )
    m = F.size(F.col("keys"))
    sel = enc.select(
        "doc_id",
        F.when(
            m >= w,
            F.transform(
                F.sequence(F.lit(1), m - w + 1),
                lambda s: F.array_min(F.slice(F.col("keys"), s, w)),
            ),
        )
        .otherwise(F.array().cast("array<long>"))
        .alias("sels"),
    )
    # array_distinct per doc replaces the old global DISTINCT: the
    # encoded key is (hash, pos), unique within a doc after dedup, so no
    # cross-row duplicates exist and no shuffle is needed
    return sel.select(
        "doc_id", F.explode(F.array_distinct(F.col("sels"))).alias("sel")
    ).select(
        "doc_id",
        (F.lit(cap) - F.col("sel") % F.lit(cap + 1)).alias("fp_pos"),
        F.expr(f"sel DIV {cap + 1}").alias("fp_hash"),
    )


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from m12_kafkastreams_python_azure_spark.sources.readers import (
        parallel_scan,
    )

    return winnow_fingerprints(
        parallel_scan(load_table(spark, sf_dir, "documents"))
    )


def _md5_h40_sql(expr: str) -> str:
    """DuckDB spelling of Spark's conv(substring(md5(x),1,10),16,10):
    the integer value of the first 10 md5 hex digits, built from exact
    BIGINT nibble arithmetic (strpos returns BIGINT; max value 2^40-1,
    no double rounding anywhere)."""
    nib = "(strpos('0123456789abcdef', substr(md5({e}), {i}, 1)) - 1)"
    return (
        "("
        + " + ".join(
            nib.format(e=expr, i=i + 1) + f" * {16 ** (9 - i)}" for i in range(10)
        )
        + ")"
    )


def _winnow_fp_sql(src: str, k: int = WINNOW_K, w: int = WINNOW_W) -> str:
    """The winnowing selection as a DuckDB CTE body over ``src`` (a
    relation with doc_id, text): mirrors winnow_fingerprints exactly —
    same k-grams (word_ngrams_sql), same md5-prefix hash, same encoded
    rightmost-tie argmin, same w-filled-window filter."""
    from m12_kafkastreams_python_azure_spark.operators.corpus import (
        word_ngrams_sql,
    )

    cap = _WIN_POS_CAP
    return f"""
  SELECT DISTINCT doc_id,
         {cap} - (sel % {cap + 1}) AS fp_pos,
         sel // {cap + 1} AS fp_hash
  FROM (
    SELECT doc_id,
           MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
             AS sel,
           COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
             AS cnt
    FROM (
      SELECT doc_id, u.p AS pos,
             {_md5_h40_sql("u.g")} * {cap + 1}
               + ({cap} - least(u.p, {cap})) AS key
      FROM (
        SELECT doc_id,
               unnest(list_transform({word_ngrams_sql('text', k)},
                                     (x, i) -> {{'g': x, 'p': i}})) AS u
        FROM {src}
      )
    )
  ) WHERE cnt = {w}
"""


ORACLE_WINNOW_FINGERPRINTS = f"""
SELECT doc_id, fp_pos, fp_hash FROM ({_winnow_fp_sql('documents')})
"""


def winnow_pairs(
    docs: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    threshold: float = WINNOW_THRESHOLD,
    max_df: int = WINNOW_MAX_DF,
) -> DataFrame:
    """MOSS-style match detection over winnowing fingerprints: document
    pairs whose shared DISTINCT selected hashes cover >= ``threshold``
    of the smaller side's fingerprint set — containment semantics
    (Broder 1997) computed over the winnowed 2/(w+1)-density selection
    instead of the full gram explode. Same detection target as
    ``dedup.containment_pairs`` (excerpts, quotes, prefix crawls) at
    roughly a THIRD of the candidate-join shuffle (w=5), with
    winnowing's guarantee that any shared run of >= w+k-1 tokens still
    collides. The trade is a coarser ratio (fingerprints, not grams):
    this is the screening tier a 100 TB sweep runs FIRST; full-gram
    containment verifies its survivors.

    Inherits the whole containment discipline: exact duplicates
    collapse to their min-id representative before fingerprinting (the
    engine's duplicate law — this IS a bucketed candidate generator;
    EAGER at construction), ubiquitous
    fingerprint hashes (df > ``max_df``) are dropped from candidate
    generation AND the size denominators via a broadcast anti-join, and
    the pair expansion is bucket-local (``dedup.bucket_pairs``; the df
    cap IS the bucket bound). Output: (id_a, id_b, shared_fps,
    containment) over distinct contents.

    Reference parity note: the reference app has no near-dup surface at
    all (SURVEY.md §2) — this extends the training-data-pipeline tier."""
    from m12_kafkastreams_python_azure_spark.operators.dedup import (
        expansion_partitions,
        pinned_collapse_reps,
    )

    return winnow_pair_scores(
        pinned_collapse_reps(docs), k, w, max_df, expansion_partitions(docs),
        threshold=threshold,
    )


def winnow_pair_scores(
    reps: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_df: int = WINNOW_MAX_DF,
    n_parts: int | None = None,
    threshold: float | None = None,
) -> DataFrame:
    """The winnowed pair-scoring core over PRE-COLLAPSED distinct
    contents (``reps``: doc_id, text — exact duplicates already collapsed
    to their min-id representative by the caller). Split out of
    ``winnow_pairs`` so compositions that already hold a persisted reps
    table — ``dedup.containment_screened``'s screen tier, which shares
    ONE collapse between the screen and the full-gram verify — don't pay
    the collapse shuffle twice. ``threshold`` filters on the RAW
    fingerprint-containment ratio BEFORE the 6-dp display rounding (the
    oracle compares the raw ratio; filtering on the rounded column would
    flip half-boundary pairs — the rational-at-the-half class,
    docs/MONEY_AUDIT.md r15 addendum)."""
    from m12_kafkastreams_python_azure_spark.operators.dedup import (
        bucket_pairs,
        expansion_partitions,
    )

    from m12_kafkastreams_python_azure_spark.sources.readers import (
        register_parallel_cache,
    )

    if n_parts is None:
        n_parts = expansion_partitions(reps)
    # Persisted (registry): the fingerprint table feeds BOTH the hot-df
    # aggregate and the rare anti-join, and Spark shares no subtrees
    # across join branches — without the pin the md5 hashing pass (the
    # screen's dominant CPU cost) runs twice. 1/3-density projection of
    # two longs + id. The count() is the materialization barrier (the
    # containment_pairs reps-pin discipline): the hot aggregate and the
    # rare anti-join probe are independent leaf stages of the same job
    # and can scan concurrently, racing the cache and re-running the
    # hashing pass the persist exists to dedupe (ADVICE r16).
    fps = register_parallel_cache(
        winnow_fingerprints(reps, k, w)
        .select("doc_id", "fp_hash")
        .distinct()
        .persist()
    )
    fps.count()
    hot = (
        fps.groupBy("fp_hash")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("fp_hash")
    )
    rare = fps.join(hot, "fp_hash", "left_anti")
    sizes = rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fps"))
    shared = (
        rare.repartition(n_parts, "fp_hash")
        .groupBy("fp_hash")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(bucket_pairs(F.col("ids"))).alias("p"))
        .select("p.id_a", "p.id_b")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_fps").alias("_na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_fps").alias("_nb"))
    contain = F.col("shared_fps").cast("double") / F.least("_na", "_nb").cast(
        "double"
    )
    out = shared.join(sa, "id_a").join(sb, "id_b")
    if threshold is not None:
        out = out.filter(contain >= threshold)
    return out.select(
        "id_a", "id_b", "shared_fps", F.round(contain, 6).alias("containment")
    )


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnow-pairs over the planted-excerpt corpus (every 20th doc gains
    a 60%-prefix clone — dedup.docs_with_planted_contained, the corpus
    where subsumption pairs actually exist at every SF)."""
    from m12_kafkastreams_python_azure_spark.operators.dedup import (
        docs_with_planted_contained,
    )
    from m12_kafkastreams_python_azure_spark.sources.readers import (
        parallel_scan,
    )

    docs = parallel_scan(load_table(spark, sf_dir, "documents"))
    return winnow_pairs(docs_with_planted_contained(docs))


def _oracle_winnow_pairs() -> str:
    from m12_kafkastreams_python_azure_spark.operators.dedup import (
        _DUCK_CLONE_TOKS,
        CONTAIN_CLONE_FRAC,
        CONTAIN_CLONE_SHIFT,
    )

    return f"""
WITH docs_all AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {CONTAIN_CLONE_SHIFT},
         array_to_string(
           list_slice({_DUCK_CLONE_TOKS}, 1,
             CAST(ceil(len({_DUCK_CLONE_TOKS}) * {CONTAIN_CLONE_FRAC!r}) AS INT)),
           ' ') AS text
  FROM documents WHERE doc_id % 20 = 0
), reps AS (
  SELECT min(doc_id) AS doc_id, text FROM docs_all GROUP BY text
), fp AS (
  SELECT DISTINCT doc_id, fp_hash FROM ({_winnow_fp_sql('reps')})
), hot AS (
  SELECT fp_hash FROM fp GROUP BY fp_hash HAVING count(*) > {WINNOW_MAX_DF}
), rare AS (
  SELECT * FROM fp WHERE fp_hash NOT IN (SELECT fp_hash FROM hot)
), sizes AS (
  SELECT doc_id, count(*) AS n_fps FROM rare GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS shared_fps
  FROM rare a JOIN rare b USING (fp_hash)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, shared_fps,
       ROUND(CAST(shared_fps AS DOUBLE) / least(sa.n_fps, sb.n_fps), 6)
         AS containment
FROM shared
JOIN sizes sa ON sa.doc_id = shared.id_a
JOIN sizes sb ON sb.doc_id = shared.id_b
WHERE CAST(shared_fps AS DOUBLE) / least(sa.n_fps, sb.n_fps)
      >= {WINNOW_THRESHOLD!r}
"""


ORACLE_WINNOW_PAIRS = _oracle_winnow_pairs()
