"""Corpus-curation wave 2: the cross-document structure operators a
100 TB LLM-data pipeline runs after per-doc hygiene (``corpus.py``) and
whole-doc dedup (``dedup.py``).

Beyond the reference surface (SURVEY.md §2 bottom note):

- ``segment_dedup`` — CCNet/RefinedWeb-style boilerplate removal at
  segment granularity: fixed-width word segments that recur across many
  DISTINCT documents (nav bars, license headers, cookie banners) are
  dropped from every document that carries them. The driver corpus has
  no newlines, so the "line" unit is a non-overlapping SEG_WORDS-word
  segment — same algorithm, different splitter.
- ``chunk_documents`` — sliding-window chunking (size/stride in words)
  that turns long documents into overlapping training sequences; the
  complement of ``corpus.pack_sequences`` (which packs SHORT docs up to
  the context length, while this splits LONG ones down to it).
- ``domain_cap`` — FineWeb-style per-source document cap via SALTED
  two-phase top-K: per-(source, salt) partial top-K first, then final
  top-K over the bounded survivor set, so one mega-domain cannot funnel
  through a single task.
- ``semantic_dedup`` — SemDeDup-shaped embedding dedup: WITHIN a cluster,
  drop every vector that has a lower-id neighbor at cosine >= TAU. The
  ``label`` column stands in for the cluster id here; the production path
  derives clusters with the bounded k-means in ``ivf.py`` so cluster
  sizes stay capped and the in-cluster pairwise stays tractable.
- ``dup_span_coverage`` — the duplicated-text-fraction signal: how much
  of each doc is covered by OVERLAPPING word n-gram spans that also
  appear in other docs (catches shifted boilerplate that fixed
  segmentation misses); feeds quality filtering by dup_frac cutoff.
- ``quality_percentile_filter`` — keep each language's top quality
  quantile (classifier-threshold curation, stratified by lang so one
  language's score distribution cannot starve another's).

Scale notes per operator are on the functions; none uses a Python UDF,
a cartesian product, or an unpartitioned global window.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from m12_kafkastreams_python_azure_spark.functions.vectors import (
    dot_product_unrolled,
    l2_norm,
)
from m12_kafkastreams_python_azure_spark.operators.similarity import _probe_dim
from m12_kafkastreams_python_azure_spark.operators.corpus import (
    word_ngrams as corpus_ngrams,
)
from m12_kafkastreams_python_azure_spark.sources.readers import (
    load_table,
    parallel_scan,
)

# ---------------------------------------------------------------- segment dedup

SEG_WORDS = 8        # words per non-overlapping segment
BOILER_MIN_DOCS = 3  # a segment in >= this many DISTINCT docs is boilerplate


def _segments(docs: DataFrame, seg_words: int) -> DataFrame:
    """(doc_id, seg_idx, seg): non-overlapping ``seg_words``-word segments
    in document order. Narrow — pure per-row array math, no shuffle."""
    words = docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    n_seg = F.ceil(F.size("w") / F.lit(float(seg_words))).cast("int")
    seg_arr = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.array_join(F.slice("w", i * seg_words + 1, seg_words), " "),
    )
    return words.select(
        "doc_id", F.posexplode(seg_arr).alias("seg_idx", "seg")
    )


def segment_dedup(
    docs: DataFrame,
    seg_words: int = SEG_WORDS,
    min_docs: int = BOILER_MIN_DOCS,
) -> DataFrame:
    """Per doc: total segments, boilerplate segments, and the text rebuilt
    without boilerplate (order-preserving).

    Scale shape (the CCNet recipe): the cross-doc frequency is a
    seg-keyed ``groupBy`` + ``countDistinct`` — partial-aggregated
    map-side, reducer state is one COUNTER per segment — joined back onto
    the segment rows; then one shuffle on ``doc_id`` to reassemble. Two
    deliberate non-choices: no ``collect_set`` window over
    ``partitionBy(seg)`` (boilerplate segments are by definition the
    hottest keys — a banner in 50M docs would funnel all 50M rows into
    one window partition and buffer a 50M-element set in one task), and
    no broadcast of the boilerplate set (its size is corpus-dependent —
    total_segments / min_docs in the worst case — so it must not be
    assumed driver-sized; the seg-keyed equi-join keeps it distributed).
    Reassembly sorts WITHIN each doc's collected array (array_sort on
    structs, seg_idx first), never globally."""
    segs = _segments(docs, seg_words)
    freq = (
        segs.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("_n_docs"))
        .select("seg", (F.col("_n_docs") >= min_docs).alias("is_boiler"))
    )
    flagged = segs.join(freq, "seg")
    kept_struct = F.array_sort(
        F.collect_list(F.struct("seg_idx", "is_boiler", "seg"))
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.when(F.col("is_boiler"), 1).otherwise(0)).alias("n_boiler"),
        F.array_join(
            F.transform(
                F.filter(kept_struct, lambda s: ~s["is_boiler"]),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("kept_text"),
    )


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return segment_dedup(parallel_scan(load_table(spark, sf_dir, "documents")))


ORACLE_SEGMENT_DEDUP = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
segs AS (
  SELECT doc_id, i AS seg_idx,
         array_to_string(list_slice(w, i*{SEG_WORDS}+1, i*{SEG_WORDS}+{SEG_WORDS}), ' ') AS seg
  FROM words,
       LATERAL (SELECT unnest(generate_series(0,
                CAST(ceil(len(w) / {SEG_WORDS}.0) AS BIGINT) - 1)) AS i) t
),
freq AS (
  SELECT seg, count(DISTINCT doc_id) AS n_docs FROM segs GROUP BY seg
),
flagged AS (
  SELECT s.doc_id, s.seg_idx, s.seg, f.n_docs >= {BOILER_MIN_DOCS} AS is_boiler
  FROM segs s JOIN freq f USING (seg)
)
SELECT doc_id,
       count(*) AS n_segments,
       CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       coalesce(array_to_string(
         list(seg ORDER BY seg_idx) FILTER (WHERE NOT is_boiler), ' '), '')
         AS kept_text
FROM flagged
GROUP BY doc_id
"""

# ------------------------------------------------------------- document chunking

CHUNK_WORDS = 32
CHUNK_STRIDE = 24


def chunk_documents(
    docs: DataFrame,
    chunk_words: int = CHUNK_WORDS,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """(doc_id, chunk_idx, chunk_text, n_tokens): overlapping sliding
    windows over the word sequence; the final chunk may be short. Chunk
    count is 1 + ceil(max(0, n-chunk_words)/stride) so every word lands in
    at least one chunk and no window starts past the end.

    Scale: narrow per-row transform — zero shuffles, output fan-out
    bounded by ~n/stride per doc. The chunker runs where the doc already
    lives; at 100 TB this is the map stage before tokenize-and-pack."""
    words = docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    n = F.size("w")
    n_chunks = (
        F.lit(1)
        + F.greatest(
            F.lit(0).cast("long"),
            F.ceil((n - F.lit(chunk_words)) / F.lit(float(stride))),
        )
    ).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice("w", i * stride + 1, chunk_words),
    )
    exploded = words.select(
        "doc_id", F.posexplode(chunk_arr).alias("chunk_idx", "chunk")
    )
    return exploded.select(
        "doc_id",
        "chunk_idx",
        F.array_join("chunk", " ").alias("chunk_text"),
        F.size("chunk").alias("n_tokens"),
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(parallel_scan(load_table(spark, sf_dir, "documents")))


ORACLE_CHUNK_DOCUMENTS = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
counted AS (
  SELECT doc_id, w,
         1 + greatest(0, CAST(ceil((len(w) - {CHUNK_WORDS}) / {CHUNK_STRIDE}.0) AS BIGINT))
           AS n_chunks
  FROM words
)
SELECT doc_id, i AS chunk_idx,
       array_to_string(list_slice(w, i*{CHUNK_STRIDE}+1, i*{CHUNK_STRIDE}+{CHUNK_WORDS}), ' ')
         AS chunk_text,
       CAST(len(list_slice(w, i*{CHUNK_STRIDE}+1, i*{CHUNK_STRIDE}+{CHUNK_WORDS})) AS INT)
         AS n_tokens
FROM counted,
     LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) t
"""

# ------------------------------------------------------------------- domain cap

DOMAIN_CAP = 20


def domain_cap(docs: DataFrame, cap: int = DOMAIN_CAP) -> DataFrame:
    """Keep at most ``cap`` docs per source, ranked by (n_chars DESC,
    doc_id ASC) — the FineWeb per-domain cap that stops one mega-domain
    from dominating the training mix.

    Scale shape — salted two-phase top-K instead of one global window:
    phase 1 ranks within (source, spark_partition_id), which spreads a
    skewed source over as many tasks as it has input partitions; phase 2
    ranks the <= cap * n_partitions survivors per source. The final
    result (and the rank values) are partitioning-invariant because the
    order key (n_chars DESC, doc_id ASC) is a total order and every
    global top-cap row survives any phase-1 partitioning. A single
    ``Window.partitionBy(source)`` over the raw table would funnel each
    source's ENTIRE row set through one task — the exact skew this
    avoids."""
    order = [F.desc("n_chars"), F.asc("doc_id")]
    w1 = Window.partitionBy("source", "pid").orderBy(*order)
    survivors = (
        docs.select("doc_id", "source", "n_chars")
        .withColumn("pid", F.spark_partition_id())
        .withColumn("prk", F.row_number().over(w1))
        .filter(F.col("prk") <= cap)
        .drop("pid", "prk")
    )
    w2 = Window.partitionBy("source").orderBy(*order)
    return (
        survivors.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= cap)
    )


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return domain_cap(parallel_scan(load_table(spark, sf_dir, "documents")))


ORACLE_DOMAIN_CAP = f"""
SELECT doc_id, source, n_chars, CAST(rk AS INT) AS rk FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM documents
) WHERE rk <= {DOMAIN_CAP}
"""

# ------------------------------------------------------------------ URL dedup

#: query parameters that never change page content (RefinedWeb / Dolma
#: strip these before URL-level dedup). Case-insensitive and valueless
#: forms both count ('?UTM_SOURCE=x', a bare '?fbclid') — r18 review
#: finding #6: query-param NAMES are conventionally case-insensitive in
#: tracking tooling even though RFC 3986 treats the query as opaque.
URL_TRACKING_RE = r"^(?i:utm_[^=]*|fbclid|gclid)(=|$)"


def url_canonicalize(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Append ``canonical_url``: the RefinedWeb/Dolma-style canonical form
    under which two raw URLs count as the same page —

    - scheme-insensitive (http == https; canonical spells ``https``),
    - host lowercased, leading ``www.`` stripped,
    - fragment (``#...``) dropped,
    - tracking query params (``utm_*``, ``fbclid``, ``gclid``) dropped,
    - remaining query params SORTED (order-insensitive),
    - trailing path slash stripped.

    Complements ``domain_cap`` (VERDICT r17 #7): the cap bounds a domain's
    share but never recognizes ``http://www.X.com/p/`` and
    ``https://x.com/p?utm_source=feed`` as one page — this does.

    Scale shape: pure narrow per-row string expressions (regexp + split +
    a tiny filter/sort HOF over <= a handful of query params) — zero
    shuffles, whole-stage-codegen'd, runs at scan speed at 100 TB."""
    u = F.col(url_col)
    rest = F.regexp_replace(u, r"^[a-zA-Z]+://", "")
    rest = F.regexp_replace(rest, r"#.*$", "")
    # split at the FIRST '?' only (ADVICE r18 #3): a second literal '?'
    # inside the query string is part of the query, not a delimiter —
    # split_part(rest, '?', 2) silently dropped everything past it, so
    # two URLs differing only after the second '?' collapsed together.
    hostpath = F.split_part(rest, F.lit("?"), F.lit(1))
    query = F.regexp_extract(rest, r"^[^?]*\?(.*)$", 1)
    # ^(www\.)+ / /+$ (not ^www\. / /$): strip EVERY leading www. and
    # EVERY trailing slash in one anchored match, so canon is IDEMPOTENT
    # — canon(canon(u)) == canon(u) for all u (round-19 self-review:
    # the single-strip spelling left 'www.www.x.com/p//' one pass short
    # of 'x.com/p', so the two raw spellings never collapsed into one
    # url_dedup group; property-tested in tests/test_idempotence.py)
    host = F.regexp_replace(
        F.lower(F.split_part(hostpath, F.lit("/"), F.lit(1))), r"^(www\.)+", ""
    )
    path = F.regexp_replace(
        F.regexp_extract(hostpath, r"^[^/]*(/.*)?$", 1), r"/+$", ""
    )
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(URL_TRACKING_RE),
    )
    qsorted = F.array_join(F.array_sort(params), "&")
    canon = F.concat(
        F.lit("https://"),
        host,
        path,
        F.when(qsorted != "", F.concat(F.lit("?"), qsorted)).otherwise(
            F.lit("")
        ),
    )
    return df.withColumn("canonical_url", canon)


def url_dedup(df: DataFrame, url_col: str = "url") -> DataFrame:
    """URL-level exact dedup after canonicalization: one row per
    canonical URL, keeping the lowest doc_id (first-crawled analog) and
    counting how many raw URLs collapsed into it.

    Scale shape: canonicalization is a narrow pass; the dedup is ONE hash
    groupBy on canonical_url with map-side partial aggregation — linear,
    the same shape as ``dedup_exact``. No window, no join."""
    return (
        url_canonicalize(df, url_col)
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("kept_doc_id"),
            F.count("*").cast("long").alias("n_docs"),
        )
    )


def docs_with_urls(docs: DataFrame) -> DataFrame:
    """Deterministic messy-URL fixture over documents (the corpus has no
    URL column; same pattern as ``docs_with_planted_lines``), mirrored
    verbatim in the oracle. Every canonicalization rule is exercised:
    scheme flips on doc_id%2, ``www.`` on %3 (DOUBLE ``www.www.`` on
    %23 — the r20 idempotence case), trailing slash on %5 (DOUBLE
    trailing slash on %25),
    tracking params (+ out-of-order keepers) on %7, plain out-of-order
    keepers on %11, a second literal '?' INSIDE the query on %19 (the
    ADVICE r18 #3 case: only the first '?' delimits; the rest of the
    query — including its embedded '?' — must survive canonicalization),
    uppercase host on %17, fragment on %13; the page key
    is (doc_id%5 host, doc_id%3 path) — a deliberately tiny page-key
    space so canonical groups COLLIDE and mix raw spellings at every SF
    (97*41 was first tried and produced zero collisions at sf0.01)."""
    d = F.col("doc_id")
    host = F.concat(F.lit("site"), (d % 5).cast("string"), F.lit(".example"))
    host = F.when(d % 17 == 0, F.upper(host)).otherwise(host)
    # %23 plants the DOUBLE-www spelling (round-20 idempotence fix: it
    # must collapse with the bare-host and single-www spellings of the
    # same page key — the driver row value-checks the collapse for real)
    host = (
        F.when(d % 23 == 0, F.concat(F.lit("www.www."), host))
        .when(d % 3 == 0, F.concat(F.lit("www."), host))
        .otherwise(host)
    )
    path = F.concat(F.lit("/page/"), (d % 3).cast("string"))
    # %25 (a strict subset of the %5 single-slash band) plants the
    # DOUBLE trailing slash — '/+$' must strip both
    path = (
        F.when(d % 25 == 0, F.concat(path, F.lit("//")))
        .when(d % 5 == 0, F.concat(path, F.lit("/")))
        .otherwise(path)
    )
    query = (
        F.when(d % 7 == 0, F.lit("?utm_source=feed&b=2&a=1"))
        .when(d % 11 == 0, F.lit("?b=2&a=1"))
        .when(d % 19 == 0, F.lit("?a=1?x=2&b=3"))
        .otherwise(F.lit(""))
    )
    frag = F.when(d % 13 == 0, F.lit("#section-3")).otherwise(F.lit(""))
    scheme = F.when(d % 2 == 0, F.lit("http")).otherwise(F.lit("https"))
    return docs.select(
        "doc_id",
        F.concat(
            scheme, F.lit("://"), host, path, query, frag
        ).alias("url"),
    )


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return url_dedup(docs_with_urls(load_table(spark, sf_dir, "documents")))


ORACLE_URL_DEDUP = """
WITH u AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END) || '://' ||
         (CASE WHEN doc_id % 23 = 0 THEN 'www.www.'
               WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) ||
         (CASE WHEN doc_id % 17 = 0
               THEN upper('site' || CAST(doc_id % 5 AS VARCHAR) || '.example')
               ELSE 'site' || CAST(doc_id % 5 AS VARCHAR) || '.example' END) ||
         '/page/' || CAST(doc_id % 3 AS VARCHAR) ||
         (CASE WHEN doc_id % 25 = 0 THEN '//'
               WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
         (CASE WHEN doc_id % 7 = 0 THEN '?utm_source=feed&b=2&a=1'
               WHEN doc_id % 11 = 0 THEN '?b=2&a=1'
               WHEN doc_id % 19 = 0 THEN '?a=1?x=2&b=3' ELSE '' END) ||
         (CASE WHEN doc_id % 13 = 0 THEN '#section-3' ELSE '' END) AS url
  FROM documents
),
parts AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(url, '^[a-zA-Z]+://', ''), '#.*$', '')
           AS rest
  FROM u
),
split1 AS (
  SELECT doc_id,
         split_part(rest, '?', 1) AS hostpath,
         regexp_extract(rest, '^[^?]*\\?(.*)$', 1) AS query
  FROM parts
),
canon AS (
  SELECT doc_id,
         'https://' ||
         regexp_replace(lower(split_part(hostpath, '/', 1)), '^(www\\.)+', '') ||
         regexp_replace(regexp_extract(hostpath, '^[^/]*(/.*)?$', 1), '/+$', '') ||
         (CASE WHEN q <> '' THEN '?' || q ELSE '' END) AS canonical_url
  FROM (
    SELECT doc_id, hostpath,
           coalesce(array_to_string(list_sort(list_filter(
             string_split(query, '&'),
             p -> p <> '' AND NOT regexp_matches(p, '^(?i:utm_[^=]*|fbclid|gclid)(=|$)')
           )), '&'), '') AS q
    FROM split1
  )
)
SELECT canonical_url, min(doc_id) AS kept_doc_id,
       CAST(count(*) AS BIGINT) AS n_docs
FROM canon GROUP BY canonical_url
"""

# --------------------------------------------------------------- semantic dedup

SEMANTIC_TAU = 0.35
SEMANTIC_SALT = 8


def semantic_dedup(
    emb: DataFrame,
    tau: float = SEMANTIC_TAU,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    salt: int = SEMANTIC_SALT,
    collapse_exact: bool = True,
) -> DataFrame:
    """Kept rows after SemDeDup-shaped near-duplicate removal: within each
    cluster, a vector is DROPPED iff some lower-id vector in the same
    cluster has cosine >= tau with it (the min-id representative of every
    near-dup neighborhood survives).

    ``collapse_exact`` (default on) first collapses byte-identical
    (cluster, vector) rows to their min-id representative and runs the
    pairwise stage over representatives only. This is EXACTLY
    result-preserving, not an approximation: (1) every non-representative
    x is dominated by its own representative (lower id, same cluster,
    self-cosine ~1 >= tau for any tau < 1); (2) a representative r is
    dominated by some y < r iff it is dominated by y's representative
    (same vector, id <= y < r) — so reps-vs-reps finds every surviving
    row. The oracle runs on the UNcollapsed quadratic and the driver
    confirms equality. On a duplicate-heavy corpus the pairwise work
    drops by the duplication factor squared (sf1: 100x).

    Scale shape: the pairwise comparison is an EQUI-join on the cluster
    id with the similarity predicate inside the join condition (only
    dominating pairs materialize) and a left_anti to subtract the
    dominated set — quadratic only WITHIN a cluster, which is the
    SemDeDup contract: cluster sizes are capped by the clustering step
    (``ivf.py`` k-means in the production path; the synthetic ``label``
    here). Because the cluster-id key can be LOW-CARDINALITY (10 labels
    here), the join is salted: side a adds ``hash(id) % salt`` to the key
    and side b replicates ``salt`` ways, so each cluster's quadratic work
    spreads over ``salt`` tasks instead of one. Every (a, b) pair still
    meets exactly once — the result is salt-invariant (tested). Total
    comparison count is unchanged; replication costs salt× of the SMALL
    per-task probe build, the standard trade. Cited pattern: Abbas et
    al., SemDeDup (arXiv:2303.09540)."""
    if dim is None:
        dim = _probe_dim(emb, vec_col)
    parallelism = emb.sparkSession.sparkContext.defaultParallelism
    src = emb
    if collapse_exact and tau > 1.0 - 1e-9:
        # the exactness proof needs self-cosine >= tau — but a float
        # self-cosine dot(v,v)/(|v||v|) can round a few ULPs BELOW 1.0,
        # so a tau inside [1-eps, 1.0) could make the collapsed path drop
        # a duplicate the uncollapsed path keeps. Guard the whole
        # rounding-ambiguous band, not just tau >= 1, and fall back to
        # the uncollapsed plan rather than diverge. (No real SemDeDup
        # threshold lives at 1 - 1e-9; the fallback costs nothing.)
        collapse_exact = False
    if collapse_exact:
        # NULL/zero-norm vectors have NULL cosine against everything: they
        # can neither dominate nor be dominated, so the uncollapsed
        # semantics KEEP every one of them — route them around the
        # collapse instead of letting identical NULL/zero rows group and
        # lose their non-representatives
        from m12_kafkastreams_python_azure_spark.operators.dedup import (
            collapse_exact_groups,
        )

        ok = F.coalesce(l2_norm(F.col(vec_col)) > 0, F.lit(False))
        eligible = emb.filter(ok)
        rest = emb.filter(~ok)
        _, reps = collapse_exact_groups(eligible, [cluster_col, vec_col], id_col)
        src = reps.unionByName(rest)
    base = src.select(
        F.col(id_col), F.col(cluster_col), F.col(vec_col),
        l2_norm(F.col(vec_col)).alias("_nrm"),
    )
    a = base.select(
        F.col(id_col).alias("id_a"),
        F.col(cluster_col).alias("cl_a"),
        F.pmod(F.hash(F.col(id_col)), F.lit(salt)).alias("salt_a"),
        F.col(vec_col).alias("va"),
        F.col("_nrm").alias("na"),
    ).repartition(parallelism, "cl_a", "salt_a")
    b = base.select(
        F.col(id_col).alias("id_b"),
        F.col(cluster_col).alias("cl_b"),
        F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("salt_b"),
        F.col(vec_col).alias("vb"),
        F.col("_nrm").alias("nb"),
    )
    # try_divide: a zero-norm side yields NULL (drops out of every >= tau
    # comparison) instead of an ANSI divide-by-zero runtime error — the
    # "NULL cosine neither dominates nor is dominated" contract
    sim = F.try_divide(
        dot_product_unrolled(F.col("va"), F.col("vb"), dim),
        F.col("na") * F.col("nb"),
    )
    dominated = a.join(
        b,
        (F.col("cl_a") == F.col("cl_b"))
        & (F.col("salt_a") == F.col("salt_b"))
        & (F.col("id_b") < F.col("id_a"))
        & (sim >= tau),
        "left_semi",
    ).select(F.col("id_a").alias(id_col))
    # with collapse on, survivors are exactly the un-dominated reps (every
    # non-rep is dominated by its own rep — see docstring); with it off,
    # src IS emb and this is the plain anti-join
    return src.join(dominated, id_col, "left_anti").select(id_col, cluster_col)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic_dedup(load_table(spark, sf_dir, "embeddings"))


ORACLE_SEMANTIC_DEDUP = f"""
SELECT a.vec_id, a.label
FROM embeddings a
WHERE NOT EXISTS (
  SELECT 1 FROM embeddings b
  WHERE b.label = a.label AND b.vec_id < a.vec_id
    AND list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
           * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))
        >= {SEMANTIC_TAU}
)
"""

# ---------------------------------------------------------- dup span coverage

DUP_SPAN_N = 8       # words per overlapping span
DUP_SPAN_MIN_DOCS = 2


def dup_span_coverage(
    docs: DataFrame,
    n: int = DUP_SPAN_N,
    min_docs: int = DUP_SPAN_MIN_DOCS,
    use_hashed_grams: bool = True,
) -> DataFrame:
    """Per doc: how much of the text is covered by word n-gram spans that
    also appear in other documents — the "duplicated text fraction"
    signal (Lee et al., "Deduplicating Training Data Makes Language
    Models Better", arXiv:2107.06499, approximated at n-gram rather than
    suffix-array granularity). OVERLAPPING spans (stride 1) catch
    shifted boilerplate that ``segment_dedup``'s fixed segmentation
    misses; the output (n_words, n_covered, dup_frac) feeds quality
    filtering (drop docs above a dup_frac cutoff) rather than rewriting
    text.

    Scale shape: the gram explode is the same stride-1 fan-out
    ``decontaminate`` pays (inherent to the metric); frequency is a
    gram-keyed groupBy + countDistinct (counter state, partial-agg
    map-side — no collect_set window, no broadcast of the repeated-gram
    set, which is corpus-sized in the worst case); coverage converts
    each repeated span into its n word positions and counts DISTINCT
    positions per doc — per-doc state bounded by doc length.

    ``use_hashed_grams=True`` (the default) replaces each ~8-word gram
    string with ``xxhash64(gram)`` BEFORE the shuffle, so the
    frequency-count and coverage-join stages move 8-byte longs instead
    of ~50-byte strings — a ~6× shuffle-volume cut that matters when the
    gram explode is already an n× row fan-out. A 64-bit collision can
    only over-count coverage (two distinct grams fused), with
    probability ~n_grams²/2⁶⁵ — immaterial for a filtering METRIC;
    ``use_hashed_grams=False`` keeps raw strings (the spelling the
    DuckDB oracle uses; parity between the two paths is pinned by
    tests/test_curation.py)."""
    from m12_kafkastreams_python_azure_spark.operators.corpus import word_ngrams

    grams = docs.select(
        "doc_id", F.posexplode(word_ngrams(F.col("text"), n)).alias("pos", "gram")
    )
    if use_hashed_grams:
        grams = grams.select("doc_id", "pos", F.xxhash64("gram").alias("gram"))
    rep = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("gram")
    )
    covered = (
        grams.join(rep, "gram")
        .select("doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("w"))
        .groupBy("doc_id")
        .agg(F.countDistinct("w").alias("n_covered"))
    )
    n_words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        docs.select("doc_id", n_words.cast("long").alias("n_words"))
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce(F.col("n_covered"), F.lit(0)).cast("long").alias("n_covered"),
            F.round(
                F.coalesce(F.col("n_covered"), F.lit(0))
                / F.col("n_words").cast("double"),
                6,
            ).alias("dup_frac"),
        )
    )


def q_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # use_hashed_grams=False HERE ONLY: the oracle SQL mirrors the
    # string-gram spelling, so the driver's parity row must exercise the
    # exact same computation rather than lean on 64-bit-collision odds
    # (r07 ADVICE). The hashed PRODUCTION default is pinned against this
    # path by tests/test_curation.py::
    # test_dup_span_hashed_grams_match_string_grams.
    return dup_span_coverage(
        parallel_scan(load_table(spark, sf_dir, "documents")),
        use_hashed_grams=False,
    )


def _oracle_dup_span_coverage() -> str:
    # gram spelling mirrors corpus.word_ngrams (same trim + \\s+ split);
    # spelled positionally here because the coverage math needs each
    # gram's start index, which the list-of-grams form doesn't carry
    n = DUP_SPAN_N
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+{n - 1}], ' ') AS gram
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, len(w) - {n - 1})) AS i) t
  WHERE len(w) >= {n}
),
rep AS (
  SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= {DUP_SPAN_MIN_DOCS}
),
covered AS (
  SELECT g.doc_id, count(DISTINCT g.pos + o.o) AS n_covered
  FROM grams g JOIN rep USING (gram),
       LATERAL (SELECT unnest(generate_series(0, {n - 1})) AS o) o
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS n_words,
       CAST(coalesce(c.n_covered, 0) AS BIGINT) AS n_covered,
       ROUND(coalesce(c.n_covered, 0)
             / CAST(len(string_split_regex(trim(d.text), '\\s+')) AS DOUBLE), 6)
         AS dup_frac
FROM documents d LEFT JOIN covered c USING (doc_id)
"""


ORACLE_DUP_SPAN_COVERAGE = _oracle_dup_span_coverage()

# ------------------------------------------------- quality percentile filter

QUALITY_PCT = 0.75


APPROX_PCT_ACCURACY = 10000  # percentile_approx accuracy: err <= 1/accuracy


def quality_percentile_filter(
    docs: DataFrame, pct: float = QUALITY_PCT, approx: bool = True
) -> DataFrame:
    """Keep each language's top quality quantile: the classifier-threshold
    curation stage (FineWeb-Edu-style "keep above a per-slice score
    cutoff"), stratified by ``lang`` so one language's score distribution
    cannot starve another's.

    Scale shape: the cutoffs are a per-lang aggregate (a handful of rows)
    joined back onto the scored table — AQE broadcasts them; the filter
    runs scan-side. The DEFAULT cutoff aggregate is ``percentile_approx``
    (a mergeable quantile sketch — Greenwald-Khanna — whose per-group
    state is bounded by the accuracy parameter, not the row count), so
    the production path survives billions of rows per language.
    ``approx=False`` switches to exact ``percentile`` (quantile_cont
    semantics, matching the DuckDB oracle bit-for-bit) — the spelling
    the oracle-parity query uses, NOT the default, because exact
    per-group percentile buffers every value in the group. At
    accuracy=10000 the rank error is <=0.01%%, so on the driver tiers the
    two paths select identical row sets (pinned by
    tests/test_curation.py). The >= comparison uses the UNROUNDED score
    on both engines so the boundary row set is identical."""
    from m12_kafkastreams_python_azure_spark.functions.text import (
        quality_score_cols,
    )
    from m12_kafkastreams_python_azure_spark.sources.readers import (
        register_parallel_cache,
    )

    # persisted: the cutoff aggregate AND the join both consume the scored
    # table, and Spark has no cross-subtree CSE — unpersisted, the (text-
    # expression-heavy) scoring pass runs TWICE over the corpus (measured
    # 4.34 s -> 2.46 s at sf1; the round-8 token_budget_select lesson,
    # found here by the sf-factor audit: 7.3x at 10x data, ~half of it
    # the duplicated scoring pass)
    scored = docs.select(
        "doc_id", "lang",
        quality_score_cols(F.col("text"))["quality_score"].alias("q"),
    ).persist()
    register_parallel_cache(scored)
    cut_agg = (
        F.percentile_approx("q", F.lit(pct), F.lit(APPROX_PCT_ACCURACY))
        if approx
        else F.percentile("q", F.lit(pct))
    )
    cuts = scored.groupBy("lang").agg(cut_agg.alias("cut"))
    return (
        scored.join(cuts, "lang")
        .filter(F.col("q") >= F.col("cut"))
        .select(
            "doc_id", "lang",
            F.round("q", 6).alias("quality_score"),
            F.round("cut", 6).alias("lang_cut"),
        )
    )


def q_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # approx=False HERE ONLY: this is the oracle-parity entry, and DuckDB's
    # quantile_cont interpolates between observed values while the approx
    # sketch returns an observed value — at a 75th-percentile boundary the
    # two can disagree on exactly the boundary row (they do, by 1 row, at
    # sf0.01). Production callers get the bounded-memory approx default;
    # tests/test_curation.py pins the two paths' row-set agreement.
    return quality_percentile_filter(
        parallel_scan(load_table(spark, sf_dir, "documents")), approx=False
    )


def _oracle_quality_percentile_filter() -> str:
    from m12_kafkastreams_python_azure_spark.functions.text import (
        quality_score_sql,
    )

    q = quality_score_sql("text")["quality_score"]
    return f"""
WITH scored AS (
  SELECT doc_id, lang, {q} AS q FROM documents
),
cuts AS (
  SELECT lang, quantile_cont(q, {QUALITY_PCT}) AS cut FROM scored GROUP BY lang
)
SELECT s.doc_id, s.lang,
       ROUND(s.q, 6) AS quality_score,
       ROUND(c.cut, 6) AS lang_cut
FROM scored s JOIN cuts c USING (lang)
WHERE s.q >= c.cut
"""


ORACLE_QUALITY_PERCENTILE_FILTER = _oracle_quality_percentile_filter()


# ------------------------------------------------------- token budget select

TOKEN_BUDGET = 20_000
TB_BUCKETS = 1000


def token_budget_select(
    docs: DataFrame, budget: int = TOKEN_BUDGET, buckets: int = TB_BUCKETS
) -> DataFrame:
    """Fill a token budget with the best documents: rank by
    ``quality_score`` (desc, doc_id tiebreak) and keep documents while
    the running token total stays within ``budget`` — the "train on the
    best N tokens" selection step (the FineWeb-Edu/phi-style recipe:
    score everything, spend the compute budget top-down).

    Spark-first shape — NO GLOBAL SORT: the naive spelling is a
    corpus-wide cumulative-sum window over an unpartitioned ORDER BY
    quality, which funnels every row through one task. Instead,
    two-phase bucket selection (exactly the distributed top-K-by-weight
    discipline):

    1. bucket each doc by ``floor(quality * buckets)`` (narrow map);
    2. aggregate per-bucket token totals (``buckets`` rows), running-sum
       them best-bucket-down in a bounded window (state = ``buckets``
       rows, NOT the corpus), broadcast back;
    3. buckets whose running total fits the budget are kept WHOLE with
       no per-doc window at all; the single boundary bucket — the only
       place doc order matters — gets the exact per-doc cumulative sum
       over just its own rows.

    Because floor(quality * buckets) is monotone in quality, the result
    is IDENTICAL to the naive global-cumsum spelling (which is what the
    DuckDB oracle runs): full buckets sit strictly above the boundary in
    the global order, and within the boundary bucket the ordering is the
    same (quality desc, doc_id). Degenerate case: a quality plateau puts
    a large population in ONE bucket and the boundary window grows with
    it — raise ``buckets`` (state stays buckets-bounded) or pre-jitter
    the score if a corpus ever scores constant."""
    from m12_kafkastreams_python_azure_spark.functions.text import (
        quality_score_cols,
    )

    cols = quality_score_cols(F.col("text"))
    # The quality battery is the expensive part (regex token counts over
    # every doc — measured ~15x the cost of the rest of this plan at
    # sf1); _budget_fill persists its scored input for exactly this
    # multi-consumer reason.
    scored = docs.select(
        "doc_id",
        cols["n_tokens"].cast("long").alias("n_tokens"),
        cols["quality_score"].alias("q"),
    )
    return _budget_fill(scored, budget, buckets).select(
        "doc_id", "n_tokens", F.round("q", 6).alias("quality_score")
    )


def _budget_fill(scored: DataFrame, budget: int, buckets: int) -> DataFrame:
    """The shared two-phase bucketed budget fill (see
    ``token_budget_select`` for the full derivation): rank ``scored``
    rows — (doc_id, n_tokens, q) with q in [0, 1] — by (q desc, doc_id)
    and keep rows while the running n_tokens total fits ``budget``,
    WITHOUT a corpus-wide cumulative-sum window. Returns the kept rows
    with their (doc_id, n_tokens, q) columns; callers alias q to their
    score's name. Identical to the naive global-cumsum spelling because
    floor(q * buckets) is monotone in q."""
    from m12_kafkastreams_python_azure_spark.sources.readers import (
        register_parallel_cache,
    )

    # Persisted (registry): BOTH the bucket-total aggregate and the
    # per-doc keep pass consume the scored projection; without the pin
    # each subtree re-runs the (possibly expensive) scoring. 4 narrow
    # columns — the standard materialized projection for multi-pass
    # consumption, same trade as dedup._parallel_text.
    scored = register_parallel_cache(
        scored.withColumn(
            "bucket",
            F.least(F.lit(buckets - 1), F.floor(F.col("q") * buckets)).cast("int"),
        ).persist()
    )
    bw = (
        Window.orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # |buckets| rows total: the single-partition window is bounded by the
    # bucket count, never the corpus
    btot = (
        scored.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("bt"))
        .withColumn("run", F.sum("bt").over(bw))
        .withColumn("prev", F.col("run") - F.col("bt"))
        .select("bucket", "run", "prev")
    )
    in_w = (
        Window.partitionBy("bucket")
        .orderBy(F.desc("q"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # ONE pass decides both cases (no full/boundary union re-reading the
    # corpus twice): a whole-kept bucket passes on run <= budget alone;
    # the boundary bucket passes on prev + in-bucket cumsum; everything
    # below the boundary has prev >= budget and can never pass. The
    # in-bucket window state is bounded by the largest bucket, keyed on
    # bucket id.
    return (
        scored.join(F.broadcast(btot), "bucket")
        .withColumn("cum_in", F.sum("n_tokens").over(in_w))
        .filter(
            (F.col("run") <= budget)
            | (
                (F.col("prev") < budget)
                & (F.col("prev") + F.col("cum_in") <= budget)
            )
        )
        .select("doc_id", "n_tokens", "q")
    )


def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_budget_select(parallel_scan(load_table(spark, sf_dir, "documents")))


def _oracle_token_budget_select() -> str:
    from m12_kafkastreams_python_azure_spark.functions.text import (
        quality_score_sql,
    )

    s = quality_score_sql("text")
    return f"""
WITH scored AS (
  SELECT doc_id,
         CAST({s['n_tokens']} AS BIGINT) AS n_tokens,
         {s['quality_score']} AS q
  FROM documents
),
c AS (
  SELECT *,
         SUM(n_tokens) OVER (ORDER BY q DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM scored
)
SELECT doc_id, n_tokens, ROUND(q, 6) AS quality_score
FROM c WHERE cum <= {TOKEN_BUDGET}
"""


ORACLE_TOKEN_BUDGET_SELECT = _oracle_token_budget_select()


# --------------------------------------- soft-dedup-weighted budget selection

WB_BUDGET = TOKEN_BUDGET
WB_BUCKETS = TB_BUCKETS


def weighted_budget_select(
    docs: DataFrame, budget: int = WB_BUDGET, buckets: int = WB_BUCKETS
) -> DataFrame:
    """Weighted token-budget selection (VERDICT r14 #6 — the selection
    CONSUMER of ``dedup.soft_dedup_weights``): fill a token budget with
    the least-common documents, ranked by the SoftDeDup sampling weight
    (desc, doc_id tiebreak) — "spend the training budget on the content
    the corpus has least of". This closes the reweighting loop: the
    weight column stops being a terminal audit and drives an actual
    training-mix selection, composing the two existing operators
    (``soft_dedup_weights`` for the score, ``token_budget_select``'s
    two-phase bucketed fill for the selection — shared via
    ``_budget_fill``, so there is still no corpus-wide cumsum window).

    The ranking uses the weight column soft_dedup_weights PUBLISHES
    (rounded to 6 places) so selection is reproducible from the audit
    artifact itself — and deterministic across engines, which is what
    lets the oracle run the naive global-cumsum spelling over the same
    rounded weights. n_tokens is the whitespace token count (the same
    tokenization the gram weights are computed over), NOT the quality
    battery's regex count — the two selectors deliberately share only
    the fill machinery, not the score or the token basis.

    Scale shape: soft_dedup_weights' gram-df join (nothing quadratic) +
    one narrow token-count projection + the bucketed fill (per-task
    window state bounded by |buckets| / the boundary bucket)."""
    from m12_kafkastreams_python_azure_spark.operators.dedup import (
        soft_dedup_weights,
    )

    weights = soft_dedup_weights(docs)
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias(
            "n_tokens"
        ),
    )
    scored = weights.select("doc_id", F.col("weight").alias("q")).join(
        toks, "doc_id"
    )
    return _budget_fill(scored, budget, buckets).select(
        "doc_id", "n_tokens", F.col("q").alias("weight")
    )


def q_weighted_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    return weighted_budget_select(
        parallel_scan(load_table(spark, sf_dir, "documents"))
    )


def _oracle_weighted_budget_select() -> str:
    from m12_kafkastreams_python_azure_spark.operators.dedup import (
        ORACLE_SOFT_DEDUP_WEIGHTS,
    )

    return f"""
WITH weights AS ({ORACLE_SOFT_DEDUP_WEIGHTS}),
toks AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
),
c AS (
  SELECT w.doc_id, t.n_tokens, w.weight,
         SUM(t.n_tokens) OVER (ORDER BY w.weight DESC, w.doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
  FROM weights w JOIN toks t USING (doc_id)
)
SELECT doc_id, n_tokens, weight FROM c WHERE cum <= {WB_BUDGET}
"""


ORACLE_WEIGHTED_BUDGET_SELECT = _oracle_weighted_budget_select()

# ------------------------------------------------------- exact-substring dedup

EXSUB_N = 8  # words per anchor gram: a repeated span must be >= this long


def exact_substring_dedup(
    docs: DataFrame,
    n: int = EXSUB_N,
    use_hashed_grams: bool = True,
) -> DataFrame:
    """ExactSubstr deduplication: REMOVE (not just measure) long repeated
    spans from document interiors, keeping the corpus-first occurrence
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499 §4.1 — there: >=50-BPE-token substrings
    located via a suffix array; here: the distributed approximation at
    word n-gram granularity, the same anchoring ``dup_span_coverage``
    uses for the metric). The measurement twin flags docs; THIS operator
    rewrites them — the pipeline stage a training corpus pairs with
    MinHash whole-doc dedup.

    Semantics: an occurrence (doc_id, pos) of an n-word gram is a
    DUPLICATE iff it is not the gram's corpus-first occurrence (ordered
    by doc_id, then pos — "remove the substring from all but one of
    them"). Every word position covered by >=1 duplicate occurrence is
    dropped; the doc is reassembled from the surviving words in order.
    Overlapping duplicated grams merge into one removed span, so any
    repeated run of length L >= n loses exactly its L words in the later
    copies and self-repetition within one doc is caught too. Docs whose
    every word is covered come out as empty strings (kept, auditable),
    never silently dropped.

    Scale shape:

    - One tokenization; grams via the shifted-slice zip chain
      (``corpus.word_ngrams`` — no per-element re-split).
    - First-occurrence detection is a gram-keyed ``min(struct(doc_id,
      pos))`` aggregate — partial-aggregated map-side (ONE struct of
      state per gram, the same counter discipline as segment_dedup's
      countDistinct), NOT a row_number window over ``partitionBy(gram)``
      whose hottest key (a boilerplate gram in 50M docs) would funnel
      50M rows through one task.
    - Duplicate occurrences re-join the (bounded) firsts table on the
      gram key; covered word positions explode n-wide and de-dup inside
      the doc-keyed reassembly aggregate.
    - Reassembly is ONE shuffle on doc_id: surviving words collect and
      array_sort per doc (state bounded by doc length), exactly like
      ``segment_dedup``.

    ``use_hashed_grams=True`` (default) ships ``xxhash64(gram)`` through
    the frequency shuffle instead of ~50-byte gram strings (the
    dup_span_coverage trade: a 64-bit collision can only merge two
    distinct grams and remove a little extra text, ~n_grams^2/2^65
    probability); ``False`` keeps raw strings — the DuckDB oracle's
    spelling, parity pinned in tests."""
    from m12_kafkastreams_python_azure_spark.operators.corpus import word_ngrams

    toks = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("w"))
    grams = docs.select(
        "doc_id", F.posexplode(word_ngrams(F.col("text"), n)).alias("pos", "gram")
    )
    if use_hashed_grams:
        grams = grams.select("doc_id", "pos", F.xxhash64("gram").alias("gram"))
    firsts = grams.groupBy("gram").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    dup_occ = grams.join(firsts, "gram").filter(
        (F.col("doc_id") != F.col("first.doc_id"))
        | (F.col("pos") != F.col("first.pos"))
    )
    removed = dup_occ.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("widx"),
    )
    words = toks.select("doc_id", F.posexplode("w").alias("widx", "word"))
    kept = words.join(removed, ["doc_id", "widx"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("widx", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("text_clean"),
    )
    n_words = F.size("w").cast("long")
    return (
        toks.select("doc_id", n_words.alias("n_words"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            (F.col("n_words") - F.coalesce("_n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def q_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # use_hashed_grams=False HERE ONLY (same contract as dup_span_coverage):
    # the oracle mirrors the string-gram spelling; the hashed production
    # default is pinned against this path in tests/test_round9_ops.py.
    return exact_substring_dedup(
        parallel_scan(load_table(spark, sf_dir, "documents")),
        use_hashed_grams=False,
    )


def _oracle_exact_substring_dedup() -> str:
    n = EXSUB_N
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+{n - 1}], ' ') AS gram
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, len(w) - {n - 1})) AS i) t
  WHERE len(w) >= {n}
),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
  FROM grams
),
removed AS (
  SELECT DISTINCT doc_id, pos + o.o AS widx
  FROM ranked, LATERAL (SELECT unnest(generate_series(0, {n - 1})) AS o) o
  WHERE rn > 1
),
words AS (
  SELECT doc_id, i - 1 AS widx, w[i] AS word
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) t
),
kept AS (
  SELECT wd.doc_id, wd.widx, wd.word
  FROM words wd LEFT JOIN removed r
    ON wd.doc_id = r.doc_id AND wd.widx = r.widx
  WHERE r.widx IS NULL
),
rebuilt AS (
  SELECT doc_id, count(*) AS n_kept,
         array_to_string(list(word ORDER BY widx), ' ') AS text_clean
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.w) AS BIGINT) AS n_words,
       CAST(len(t.w) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(r.text_clean, '') AS text_clean
FROM toks t LEFT JOIN rebuilt r USING (doc_id)
"""


ORACLE_EXACT_SUBSTRING_DEDUP = _oracle_exact_substring_dedup()


# --------------------------------------- deterministic per-group sample

SAMPLE_K = 20
SAMPLE_SALT_P = 8


def hash_sample_per_group(
    df: DataFrame,
    group_col: str = "lang",
    id_col: str = "doc_id",
    k: int = SAMPLE_K,
) -> DataFrame:
    """Exactly k rows per group, chosen UNIFORMLY and reproducibly: rank
    by md5(id) inside each group, keep the first k — the eval-set /
    inspection-sample construction primitive (`TABLESAMPLE` and seeded
    RNG sampling are neither exact-k nor stable across engines; an md5
    order is both, and DuckDB's md5 matches Spark's byte for byte).

    Scale shape: the domain_cap two-phase discipline — phase 1 ranks
    inside (group, salt) so a mega-group spreads over SALT_P tasks and
    at most k*SALT_P rows per group survive to phase 2's tiny window.
    The salt can be ANY deterministic function of the id (it only
    partitions work, never changes the result — the global per-group
    top-k is a subset of the union of per-slice top-k's), so the oracle
    mirrors the single-window spelling directly."""
    h = F.md5(F.col(id_col).cast("string"))
    salted = df.select(group_col, id_col).withColumn("_h", h).withColumn(
        "_salt", F.pmod(F.xxhash64(id_col), F.lit(SAMPLE_SALT_P))
    )
    w1 = Window.partitionBy(group_col, "_salt").orderBy("_h", id_col)
    survivors = (
        salted.withColumn("_rk1", F.row_number().over(w1))
        .filter(F.col("_rk1") <= k)
    )
    w2 = Window.partitionBy(group_col).orderBy("_h", id_col)
    return (
        survivors.withColumn("sample_rank", F.row_number().over(w2))
        .filter(F.col("sample_rank") <= k)
        .select(group_col, id_col, "sample_rank")
    )


def q_hash_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hash_sample_per_group(load_table(spark, sf_dir, "documents"))


ORACLE_HASH_SAMPLE_PER_GROUP = f"""
SELECT lang, doc_id, rk AS sample_rank
FROM (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
WHERE rk <= {SAMPLE_K}
"""


# ------------------------------ multilingual temperature sampling

TEMP_ALPHA = 0.3       # XLM-R / mT5 exponent: upsample the tail
TEMP_BUDGET_FRAC = 0.5  # target corpus size as a fraction of the input


def md5_uniform(id_col: str) -> Column:
    """Each doc's keep-decision uniform in (0, 1): the first 52 bits of
    md5(id) plus a half, over 2^52 (``_md5_u_sql`` is the DuckDB
    spelling). A pure function of the id, so a keep decision never
    depends on which other docs are present."""
    return (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 52))


def temperature_rates(
    docs: DataFrame,
    alpha: float = TEMP_ALPHA,
    budget_frac: float = TEMP_BUDGET_FRAC,
    group_col: str = "lang",
) -> DataFrame:
    """The |langs|-row (group, n_docs, keep_prob) table of
    ``temperature_sample``: keep_prob = min(1, S * p_l / n_l) with
    p_l = n_l^alpha / sum_m n_m^alpha and S = budget_frac * N."""
    rates_w = Window.partitionBy()
    return (
        docs.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("n_total", F.sum("n_docs").over(rates_w))
        .withColumn("p_num", F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha))))
        .withColumn("p_den", F.sum("p_num").over(rates_w))
        .withColumn(
            "keep_prob",
            F.least(
                F.lit(1.0),
                F.lit(float(budget_frac))
                * F.col("n_total").cast("double")
                * (F.col("p_num") / F.col("p_den"))
                / F.col("n_docs").cast("double"),
            ),
        )
        .select(group_col, "n_docs", "keep_prob")
    )


def temperature_sample(
    docs: DataFrame,
    alpha: float = TEMP_ALPHA,
    budget_frac: float = TEMP_BUDGET_FRAC,
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based multilingual sampling (Conneau et al. 2019
    XLM-R §3.1; Xue et al. 2020 mT5): resample so language l's share
    moves from n_l/N toward the flattened p_l = n_l^alpha / sum_m
    n_m^alpha — high-resource languages are downsampled, the tail keeps
    (relatively) more. For a target budget S = budget_frac * N, each
    doc of language l is kept with probability q_l = min(1,
    S * p_l / n_l), decided by the doc's own md5-derived uniform — the
    sample is REPRODUCIBLE across engines and runs, and adding new
    documents never flips the keep decision of an old one (a property
    random.random() sampling lacks; the dataset_mix discipline).

    Output one row per language — (lang, n_docs, n_kept, keep_prob) —
    so any single flipped keep decision shifts a count.

    Scale shape: the rates table is |langs| rows built from one
    map-side-combined count (totals fold in as a bounded window, the
    dsir discipline) and broadcast back; the keep decision is one
    narrow filter. Nothing anywhere is proportional to corpus size but
    the single scan."""
    rates = temperature_rates(docs, alpha, budget_frac, group_col)
    kept = (
        docs.join(F.broadcast(rates), group_col)
        .withColumn("_keep", md5_uniform(id_col) < F.col("keep_prob"))
    )
    return kept.groupBy(group_col).agg(
        F.max("n_docs").alias("n_docs"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        F.round(F.max("keep_prob"), 6).alias("keep_prob"),
    )


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return temperature_sample(load_table(spark, sf_dir, "documents"))


def _md5_u_sql(expr: str) -> str:
    nib = "(strpos('0123456789abcdef', substr(md5({e}), {i}, 1)) - 1)"
    terms = " + ".join(
        nib.format(e=expr, i=i + 1) + f" * {16 ** (12 - i)}" for i in range(13)
    )
    return f"((({terms}) + 0.5) / {float(1 << 52)!r})"


ORACLE_TEMPERATURE_SAMPLE = f"""
WITH counts AS (
  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
), rates AS (
  SELECT lang, n_docs,
         LEAST(1.0,
               {TEMP_BUDGET_FRAC!r} * (SUM(n_docs) OVER ())
               * (pow(n_docs, {TEMP_ALPHA!r})
                  / (SUM(pow(n_docs, {TEMP_ALPHA!r})) OVER ()))
               / n_docs) AS keep_prob
  FROM counts
)
SELECT d.lang,
       CAST(MAX(r.n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN {_md5_u_sql("CAST(d.doc_id AS VARCHAR)")}
                          < r.keep_prob THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       ROUND(MAX(r.keep_prob), 6) AS keep_prob
FROM documents d JOIN rates r USING (lang)
GROUP BY d.lang
"""


# ---------------------------------- DoReMi-style domain reweighting

DOREMI_ETA = 1.0          # multiplicative-weights step size
DOREMI_SMOOTH = 0.2       # uniform smoothing mass (DoReMi's c)
DOREMI_BUDGET_FRAC = 0.5  # resample budget as a fraction of corpus docs


def doremi_weights(
    docs: DataFrame,
    eta: float = DOREMI_ETA,
    smooth: float = DOREMI_SMOOTH,
    group_col: str = "source",
) -> DataFrame:
    """One deterministic multiplicative-weights round of DoReMi-style
    domain reweighting (Xie et al. 2023, "DoReMi: Optimizing Data
    Mixtures Speeds Up Language Model Pretraining", arXiv:2305.10429):
    domains the proxy LM fits WORSE than the corpus baseline get their
    mixture weight multiplied up by exp(eta * excess), then the
    distribution is renormalized and smoothed with uniform mass c —
    exactly DoReMi's per-step update with the engine's own
    ``bigram_lm_score`` standing in for the proxy/reference loss gap
    (the ccnet_buckets precedent: the update rule is scorer-agnostic).

    This is the SCORE-driven member of the mixture family:
    ``temperature_sample`` and ``unimax_allocation`` reweight from
    domain COUNTS alone; DoReMi reweights from a model-quality signal,
    which is what lets it up-weight small-but-hard domains.

    Cross-engine determinism discipline: the per-domain mean log2p is a
    ratio of EXACT aggregates (per-doc scores summed in DECIMAL(20,6),
    counts integer; one double divide at the end — the MONEY_AUDIT
    ratio pattern), the corpus baseline folds in as a window over the
    |domains|-row aggregate (the dsir discipline — no second corpus
    scan), and exp() consumes the PUBLISHED 6-decimal-rounded excess
    column, so both engines exponentiate identical doubles and the
    transcendental result never sits on a rounding boundary.

    Output one row per domain: (source, n_docs, mean_log2p, excess,
    weight) — weights sum to 1. Docs the scorer yields no score for
    (<2 tokens) carry no loss signal and are excluded from the fit,
    mirroring ccnet_buckets' unscored exclusion.

    Scale shape: the LM model tables are vocabulary-bounded broadcasts
    (``bigram_lm_score``); the only corpus-keyed shuffles are the
    scorer's doc_id aggregation and one |domains|-row groupBy. All the
    mixture math runs on a |domains|-row table."""
    from m12_kafkastreams_python_azure_spark.operators.corpus import (
        bigram_lm_score,
    )

    scored = bigram_lm_score(docs)
    per_src = (
        docs.select("doc_id", group_col)
        .join(scored, "doc_id")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("avg_log2p").cast("decimal(20,6)")).alias("s_dec"),
        )
    )
    w = Window.partitionBy()
    t = (
        per_src.withColumn("tot_s", F.sum("s_dec").over(w))
        .withColumn("tot_n", F.sum("n_docs").over(w))
        .withColumn("n_src", F.count(F.lit(1)).over(w))
        .withColumn(
            "mean_raw",
            F.col("s_dec").cast("double") / F.col("n_docs").cast("double"),
        )
        .withColumn(
            "baseline",
            F.col("tot_s").cast("double") / F.col("tot_n").cast("double"),
        )
        .withColumn(
            "excess",
            F.round(
                F.greatest(F.lit(0.0), F.col("baseline") - F.col("mean_raw")), 6
            ),
        )
        .withColumn(
            "raw",
            (F.col("n_docs").cast("double") / F.col("tot_n").cast("double"))
            * F.exp(F.lit(float(eta)) * F.col("excess")),
        )
    )
    return t.select(
        group_col,
        "n_docs",
        F.round("mean_raw", 6).alias("mean_log2p"),
        "excess",
        F.round(
            F.lit(1.0 - float(smooth)) * (F.col("raw") / F.sum("raw").over(w))
            + F.lit(float(smooth)) / F.col("n_src").cast("double"),
            6,
        ).alias("weight"),
    )


def q_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doremi_weights(parallel_scan(load_table(spark, sf_dir, "documents")))


def doremi_rates(
    docs: DataFrame,
    budget_frac: float = DOREMI_BUDGET_FRAC,
    eta: float = DOREMI_ETA,
    smooth: float = DOREMI_SMOOTH,
    group_col: str = "source",
) -> DataFrame:
    """The |domains|-row (group, n_docs, keep_prob) table of
    ``doremi_resample``: keep_prob = min(1, S * w_i / n_i) with w_i the
    published ``doremi_weights`` weight and S = budget_frac * N."""
    weights = doremi_weights(docs, eta=eta, smooth=smooth, group_col=group_col)
    w = Window.partitionBy()
    counts = (
        docs.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("n_total", F.sum("n_docs").over(w))
    )
    return (
        counts.join(weights.select(group_col, "weight"), group_col)
        .withColumn(
            "keep_prob",
            F.least(
                F.lit(1.0),
                F.lit(float(budget_frac))
                * F.col("n_total").cast("double")
                * F.col("weight")
                / F.col("n_docs").cast("double"),
            ),
        )
        .select(group_col, "n_docs", "keep_prob")
    )


def doremi_resample(
    docs: DataFrame,
    budget_frac: float = DOREMI_BUDGET_FRAC,
    eta: float = DOREMI_ETA,
    smooth: float = DOREMI_SMOOTH,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """The selection CONSUMER of ``doremi_weights`` (the
    weighted_budget_select discipline — a reweighting audit column must
    drive an actual training-mix selection): resample the corpus toward
    the DoReMi mixture. For a doc budget S = budget_frac * N, domain
    i's docs are kept with probability q_i = min(1, S * w_i / n_i),
    decided by each doc's md5-derived uniform — reproducible across
    engines/runs, and appending new documents never flips an old doc's
    keep decision (the temperature_sample md5 machinery, weights-driven
    instead of counts-driven).

    The keep probability derives from the weight column doremi_weights
    PUBLISHES (rounded to 6 places) so the selection reproduces from
    the audit artifact itself. n_docs here counts ALL of the domain's
    docs (the population being sampled); the weight fit itself uses
    scored docs only (see doremi_weights).

    Output one row per domain — (source, n_docs, n_kept, keep_prob) —
    so any single flipped keep decision shifts a count.

    Scale shape: one |domains|-row rates table broadcast back; the keep
    decision is one narrow filter. Nothing is proportional to corpus
    size but the scorer's single scan."""
    rates = doremi_rates(docs, budget_frac, eta, smooth, group_col)
    kept = docs.join(F.broadcast(rates), group_col).withColumn(
        "_keep", md5_uniform(id_col) < F.col("keep_prob")
    )
    return kept.groupBy(group_col).agg(
        F.max("n_docs").alias("n_docs"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        F.round(F.max("keep_prob"), 6).alias("keep_prob"),
    )


def q_doremi_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doremi_resample(parallel_scan(load_table(spark, sf_dir, "documents")))


def _oracle_doremi_weights() -> str:
    from m12_kafkastreams_python_azure_spark.operators.corpus import (
        ORACLE_BIGRAM_LM_SCORE,
    )

    return f"""
WITH scored AS ({ORACLE_BIGRAM_LM_SCORE}),
per_src AS (
  SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         SUM(CAST(s.avg_log2p AS DECIMAL(20,6))) AS s_dec
  FROM documents d JOIN scored s USING (doc_id)
  GROUP BY d.source
),
t AS (
  SELECT source, n_docs,
         CAST(s_dec AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_raw,
         CAST(SUM(s_dec) OVER () AS DOUBLE)
           / CAST(SUM(n_docs) OVER () AS DOUBLE) AS baseline,
         SUM(n_docs) OVER () AS tot_n,
         COUNT(*) OVER () AS n_src
  FROM per_src
),
x AS (
  SELECT source, n_docs, mean_raw, tot_n, n_src,
         ROUND(GREATEST(CAST(0 AS DOUBLE), baseline - mean_raw), 6) AS excess
  FROM t
),
r AS (
  SELECT *,
         (CAST(n_docs AS DOUBLE) / CAST(tot_n AS DOUBLE))
           * exp(CAST({DOREMI_ETA!r} AS DOUBLE) * excess) AS raw
  FROM x
)
SELECT source, n_docs, ROUND(mean_raw, 6) AS mean_log2p, excess,
       ROUND(CAST({1.0 - DOREMI_SMOOTH!r} AS DOUBLE)
               * (raw / SUM(raw) OVER ())
             + CAST({DOREMI_SMOOTH!r} AS DOUBLE)
               / CAST(n_src AS DOUBLE), 6) AS weight
FROM r
"""


ORACLE_DOREMI_WEIGHTS = _oracle_doremi_weights()


def _oracle_doremi_resample() -> str:
    return f"""
WITH weights AS ({ORACLE_DOREMI_WEIGHTS}),
counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         SUM(count(*)) OVER () AS n_total
  FROM documents GROUP BY source
),
rates AS (
  SELECT c.source, c.n_docs,
         LEAST(CAST(1 AS DOUBLE),
               CAST({DOREMI_BUDGET_FRAC!r} AS DOUBLE)
                 * CAST(c.n_total AS DOUBLE) * w.weight
                 / CAST(c.n_docs AS DOUBLE)) AS keep_prob
  FROM counts c JOIN weights w USING (source)
)
SELECT d.source,
       CAST(MAX(r.n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN {_md5_u_sql("CAST(d.doc_id AS VARCHAR)")}
                          < r.keep_prob THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       ROUND(MAX(r.keep_prob), 6) AS keep_prob
FROM documents d JOIN rates r USING (source)
GROUP BY d.source
"""


ORACLE_DOREMI_RESAMPLE = _oracle_doremi_resample()


# ------------------------------------ UniMax budgeted language sampling

UNIMAX_EPOCHS = 2.0        # per-language repeat cap (UniMax's N)
UNIMAX_BUDGET_FRAC = 1.5   # token budget as a fraction of corpus tokens


def unimax_allocation(
    docs: DataFrame,
    max_epochs: float = UNIMAX_EPOCHS,
    budget_frac: float = UNIMAX_BUDGET_FRAC,
    group_col: str = "lang",
) -> DataFrame:
    """UniMax language allocation (Chung et al. 2023, "UniMax: fairer
    and more effective language sampling for large-scale multilingual
    pretraining"): distribute a token budget B as UNIFORMLY as possible
    across languages, but never repeat a language's corpus more than
    ``max_epochs`` times — the principled alternative to temperature
    sampling, which still over-allocates to head languages and
    over-repeats the tail. Head languages share the leftover budget at
    a common water level; tail languages are capped at their
    ``max_epochs * n_l`` ceiling.

    Closed-form waterfill, no iteration: sort languages by cap
    ascending; the capped set is a PREFIX of that order (f(theta) =
    sum(min(cap_l, theta)) is monotone), so language i is capped iff
    filling every language to at least cap_i would already exceed B:
    cum_{i-1} + (n - i + 1) * cap_i <= B. With k capped languages and
    their cap mass cum_k, the water level is theta = (B - cum_k) /
    (n - k); every allocation is min(cap_l, theta). If the budget
    exceeds the total cap mass, every language is capped (theta
    unused). All sums are exact BIGINT token counts; theta is a single
    double division — deterministic on both engines.

    Output per language: (lang, n_tokens, cap_tokens, alloc_tokens,
    epochs) with alloc/epochs rounded to 6.

    Scale shape: one tokenize + map-side-combined count to a |langs|-row
    table; everything after (windows, the 1-row scalar crossJoin) runs
    on that bounded table. The corpus is scanned once."""
    counts = docs.groupBy(group_col).agg(
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
        .cast("long")
        .alias("n_tokens")
    )
    cap = (F.col("n_tokens").cast("double") * F.lit(float(max_epochs))).alias(
        "cap_tokens"
    )
    w = Window.orderBy("cap_tokens", group_col)
    wall = Window.partitionBy()
    t = (
        counts.select(group_col, "n_tokens", cap)
        .withColumn("_i", F.row_number().over(w))
        .withColumn("_cum", F.sum("cap_tokens").over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wall))
        .withColumn(
            "_budget",
            F.sum("n_tokens").over(wall).cast("double")
            * F.lit(float(budget_frac)),
        )
        .withColumn(
            "_capped",
            (
                (F.col("_cum") - F.col("cap_tokens"))
                + (F.col("_n") - F.col("_i") + 1) * F.col("cap_tokens")
            )
            <= F.col("_budget"),
        )
    )
    level = t.agg(
        F.sum(F.col("_capped").cast("long")).alias("_k"),
        F.coalesce(
            F.max(F.when(F.col("_capped"), F.col("_cum"))), F.lit(0.0)
        ).alias("_cum_k"),
        F.max("_n").alias("_nn"),
        F.max("_budget").alias("_b"),
    ).select(
        F.when(
            F.col("_k") < F.col("_nn"),
            (F.col("_b") - F.col("_cum_k")) / (F.col("_nn") - F.col("_k")),
        ).alias("_theta")
    )
    alloc = F.when(
        F.col("_theta").isNull() | (F.col("cap_tokens") <= F.col("_theta")),
        F.col("cap_tokens"),
    ).otherwise(F.col("_theta"))
    return (
        t.crossJoin(F.broadcast(level))
        .select(
            group_col,
            "n_tokens",
            F.round("cap_tokens", 6).alias("cap_tokens"),
            F.round(alloc, 6).alias("alloc_tokens"),
            F.round(alloc / F.col("n_tokens").cast("double"), 6).alias(
                "epochs"
            ),
        )
    )


def q_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unimax_allocation(load_table(spark, sf_dir, "documents"))


ORACLE_UNIMAX_ALLOCATION = f"""
WITH counts AS (
  SELECT lang,
         CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY lang
), t AS (
  SELECT lang, n_tokens,
         CAST(n_tokens AS DOUBLE) * {UNIMAX_EPOCHS!r} AS cap_tokens,
         row_number() OVER (ORDER BY CAST(n_tokens AS DOUBLE)
                            * {UNIMAX_EPOCHS!r}, lang) AS i,
         SUM(CAST(n_tokens AS DOUBLE) * {UNIMAX_EPOCHS!r})
           OVER (ORDER BY CAST(n_tokens AS DOUBLE) * {UNIMAX_EPOCHS!r},
                 lang) AS cum,
         COUNT(*) OVER () AS n,
         SUM(CAST(n_tokens AS DOUBLE)) OVER () * {UNIMAX_BUDGET_FRAC!r}
           AS budget
  FROM counts
), flagged AS (
  SELECT *,
         (cum - cap_tokens) + (n - i + 1) * cap_tokens <= budget AS capped
  FROM t
), level AS (
  SELECT CASE WHEN SUM(CASE WHEN capped THEN 1 ELSE 0 END) < MAX(n)
              THEN (MAX(budget)
                    - COALESCE(MAX(CASE WHEN capped THEN cum END), 0.0))
                   / (MAX(n) - SUM(CASE WHEN capped THEN 1 ELSE 0 END))
              END AS theta
  FROM flagged
)
SELECT lang, n_tokens,
       ROUND(cap_tokens, 6) AS cap_tokens,
       ROUND(CASE WHEN theta IS NULL OR cap_tokens <= theta
                  THEN cap_tokens ELSE theta END, 6) AS alloc_tokens,
       ROUND(CASE WHEN theta IS NULL OR cap_tokens <= theta
                  THEN cap_tokens ELSE theta END
             / CAST(n_tokens AS DOUBLE), 6) AS epochs
FROM flagged, level
"""


# ------------------------------ content-defined chunking (CDC dedup)

CDC_WINDOW = 3   # rolling window (tokens) the boundary test hashes
CDC_DIVISOR = 8  # boundary prob 1/D -> ~D-token expected chunks
CDC_PLANT_EVERY = 10
CDC_PLANT_OFFSET = 10_000_000
CDC_PLANT_PREFIX = "inserted preamble tokens"


def _md5_byte(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 2), 16, 10).cast("long")


def cdc_chunks(
    docs: DataFrame,
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
) -> DataFrame:
    """Content-defined chunking (the LBFS/rsync trick — Muthitacharoen
    et al. 2001): cut each document where the hash of the LAST ``window``
    tokens satisfies ``H % divisor == 0``, so chunk boundaries are a
    function of CONTENT, not position. A few tokens inserted at the
    front of a copied document shifts every fixed-width segment
    (``segment_dedup`` finds nothing) but leaves all post-edit CDC
    boundaries in place — the duplicated tail still chunks identically
    and cross-doc chunk dedup still fires. Output: (doc_id, chunk_idx,
    chunk).

    Pure narrow pass: tokens, the window-gram array, boundary
    positions, and chunk slices are all per-row HOF algebra over
    PROJECTED attributes (each stage materializes its array into a
    column first — a lambda capturing an attribute re-reads it, a
    lambda capturing an expression TREE re-computes it per element).
    The boundary hash is one md5 byte, so the DuckDB oracle cuts at
    byte-identical positions."""
    w = window
    toked = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.split(F.trim("text"), r"\s+").alias("w"),
        corpus_ngrams(F.col("text"), w).alias("g"),
    )
    n = F.size("w")
    with_bounds = toked.select(
        "doc_id",
        "w",
        F.when(
            n > w,
            F.filter(
                F.sequence(F.lit(w), n - 1),
                lambda j: _md5_byte(F.element_at(F.col("g"), j - F.lit(w - 1)))
                % divisor
                == 0,
            ),
        )
        .otherwise(F.array().cast("array<int>"))
        .alias("bpos"),
    )
    cuts = F.concat(
        F.array(F.lit(0)), F.col("bpos").cast("array<int>"), F.array(F.size("w"))
    )
    with_cuts = with_bounds.select("doc_id", "w", cuts.alias("cuts"))
    chunks = F.transform(
        F.sequence(F.lit(1), F.size("cuts") - 1),
        lambda k: F.array_join(
            F.slice(
                F.col("w"),
                F.element_at(F.col("cuts"), k) + 1,
                F.element_at(F.col("cuts"), k + 1)
                - F.element_at(F.col("cuts"), k),
            ),
            " ",
        ),
    )
    return with_cuts.filter(F.size("w") > 0).select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk")
    )


def cdc_chunk_dedup(
    docs: DataFrame,
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document CDC dedup audit: total chunks, chunks also present
    in >= ``min_docs`` distinct documents, and the shared fraction.
    The cross-doc frequency is a chunk-keyed groupBy + countDistinct
    (map-side combined; never a collect_set window over the hottest
    chunk — the segment_dedup discipline), joined back on the chunk."""
    from m12_kafkastreams_python_azure_spark.sources.readers import (
        register_parallel_cache,
    )

    # Pinned (r21, guide §5): the chunking pass hashes one md5 PER TOKEN
    # n-gram, and its two consumers (the chunk-frequency aggregate and
    # the join-back side) re-ran it end to end — the r21 stage profile
    # showed the same Union+Project chunking stage twice, 43 + 21
    # executor-seconds at sf0.1. One execution materializes the cache.
    ch = register_parallel_cache(cdc_chunks(docs, window, divisor).persist())
    ch.count()
    freq = (
        ch.groupBy("chunk")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .select("chunk", (F.col("_nd") >= min_docs).alias("is_shared"))
    )
    return (
        ch.join(freq, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("is_shared").cast("long")).alias("n_shared"),
            F.round(
                F.sum(F.col("is_shared").cast("double"))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("shared_frac"),
        )
    )


def docs_with_planted_shifted_clones(docs: DataFrame) -> DataFrame:
    """Every CDC_PLANT_EVERY-th document cloned with a short PREFIX
    insertion (id + CDC_PLANT_OFFSET) — the edit that defeats
    fixed-width segmentation but not content-defined boundaries; gives
    the driver row real shared-chunk positives at every SF (the
    multimodal planted-corpus discipline)."""
    clones = docs.filter(
        (F.col("doc_id") % CDC_PLANT_EVERY == 0) & F.col("text").isNotNull()
    ).select(
        (F.col("doc_id") + F.lit(CDC_PLANT_OFFSET)).alias("doc_id"),
        F.concat(F.lit(CDC_PLANT_PREFIX + " "), F.col("text")).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(clones)


def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc_chunk_dedup(
        docs_with_planted_shifted_clones(
            parallel_scan(load_table(spark, sf_dir, "documents"))
        )
    )


def _oracle_cdc() -> str:
    from m12_kafkastreams_python_azure_spark.operators.corpus import (
        word_ngrams_sql,
    )

    w, d = CDC_WINDOW, CDC_DIVISOR
    md5b = (
        "((strpos('0123456789abcdef', substr(md5({e}), 1, 1)) - 1) * 16"
        " + (strpos('0123456789abcdef', substr(md5({e}), 2, 1)) - 1))"
    )
    bexpr = md5b.format(e=f"g[j - {w - 1}]")
    return f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {CDC_PLANT_OFFSET}, '{CDC_PLANT_PREFIX} ' || text
  FROM documents
  WHERE doc_id % {CDC_PLANT_EVERY} = 0 AND text IS NOT NULL
), toked AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\\s+') AS w,
         {word_ngrams_sql('text', w)} AS g
  FROM base WHERE text IS NOT NULL
), bounded AS (
  SELECT doc_id, w,
         CASE WHEN len(w) > {w}
              THEN list_filter(range({w}, len(w)),
                               j -> {bexpr} % {d} = 0)
              ELSE [] END AS bpos
  FROM toked
), cutted AS (
  SELECT doc_id, w,
         list_concat(list_concat([0], bpos), [len(w)]) AS cuts
  FROM bounded WHERE len(w) > 0
), chunks AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(cuts)),
                k -> array_to_string(w[cuts[k] + 1:cuts[k + 1]], ' ')))
           AS chunk
  FROM cutted
), freq AS (
  SELECT chunk, count(DISTINCT doc_id) >= 2 AS is_shared
  FROM chunks GROUP BY chunk
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN f.is_shared THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       ROUND(SUM(CASE WHEN f.is_shared THEN 1.0 ELSE 0.0 END) / count(*), 6)
         AS shared_frac
FROM chunks c JOIN freq f USING (chunk)
GROUP BY c.doc_id
"""


ORACLE_CDC_CHUNK_DEDUP = _oracle_cdc()


# ------------------------------ training-order shuffle + output sharding

SHUFFLE_SHARDS = 64


def shuffle_shard(
    docs: DataFrame, shards: int = SHUFFLE_SHARDS, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic training-order shuffle with output sharding — the
    LAST step of a curation pipeline before tokenization: every
    selected document gets a content-independent pseudorandom sort key
    ``md5(id)`` (the engine's cross-engine-deterministic hash — the
    hash_sample_per_group law), a shard from the key's first byte
    (balanced in expectation, reproducible across engines and runs),
    and a within-shard position by key order. Training readers consume
    shards round-robin for a shuffled stream; re-running the pipeline
    reproduces the exact order (no RNG state anywhere).

    Scale shape: one narrow map + ONE hash shuffle by shard + a
    per-shard sort (the row_number window is keyed on shard, state
    bounded by shard size) — which is the minimal physical cost of ANY
    global permutation; there is no corpus-wide window. At 100 TB set
    ``shards`` from the target shard file size (total_bytes /
    ~1 GB), not the default.

    Reference parity note: the reference app (src/main.py) has no
    ordering surface — this extends the training-data-pipeline tier."""
    key = F.md5(F.col(id_col).cast("string"))
    shard = (
        F.conv(F.substring(key, 1, 2), 16, 10).cast("int") % F.lit(shards)
    ).alias("shard")
    w = Window.partitionBy("shard").orderBy("key", id_col)
    return (
        docs.select(id_col, key.alias("key"), shard)
        .withColumn("pos", F.row_number().over(w))
        .select(id_col, "shard", "pos")
    )


def q_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shuffle_shard(load_table(spark, sf_dir, "documents"))


#: hex-nibble -> int over md5(doc_id) (the dataset_split oracle trick)
_SS_NIBBLE = (
    "(strpos('0123456789abcdef',"
    " substr(md5(CAST(doc_id AS VARCHAR)), {i}, 1)) - 1)"
)

ORACLE_SHUFFLE_SHARD = f"""
WITH k AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS key,
         ({_SS_NIBBLE.format(i=1)} * 16 + {_SS_NIBBLE.format(i=2)})
           % {SHUFFLE_SHARDS} AS shard
  FROM documents
)
SELECT doc_id, CAST(shard AS INTEGER) AS shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id)
            AS INTEGER) AS pos
FROM k
"""


# ------------------------------------------------------ C4 line-level cleaning

C4_MIN_WORDS = 5       # C4: "only retained lines that contained at least 5 words"
C4_MIN_KEPT_LINES = 3  # page floor (C4 uses >= 3 sentences; line analog here)
#: placeholder blocklist — production swaps in the full list (a few thousand
#: tokens still ship fine: they ride the plan as ONE rlike pattern string)
C4_BADWORDS = ("badword1", "badword2")
C4_LINE_WORDS = 8      # fixture: words per synthesized line (corpus has no \n)
C4_LOREM_LINE = "lorem ipsum dolor sit amet."
C4_BRACE_LINE = "a { brace } config line."
C4_BADWORD_LINE = "this page mentions badword1 clearly."


def load_badwords(path: str) -> tuple[str, ...]:
    """Load a one-entry-per-line blocklist file (the shape the published
    C4/LDNOOBW lists ship in): blank lines and ``#`` comments skipped,
    entries lowercased, first-seen order preserved, duplicates dropped.
    A bounded driver-side artifact (same class as k-means seeds /
    broadcast eval sets): even the full published list is a few thousand
    entries and rides the plan as ONE rlike literal, never a join."""
    out: list[str] = []
    seen: set[str] = set()
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            w = line.strip().lower()
            if not w or w.startswith("#") or w in seen:
                continue
            seen.add(w)
            out.append(w)
    return tuple(out)


def c4_line_filter(
    docs: DataFrame,
    min_words: int = C4_MIN_WORDS,
    min_kept_lines: int = C4_MIN_KEPT_LINES,
    badwords: tuple[str, ...] = C4_BADWORDS,
    badwords_path: str | None = None,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, §2.2 — the one
    widely-hit curation stage the pipeline tier lacked, VERDICT r16 #5).
    LINE rules (a line = a ``\\n``-separated span): keep a line iff it

    - ends in a terminal punctuation mark (``. ! ?`` or a close quote),
    - has >= ``min_words`` whitespace words,
    - does not mention "javascript" (case-insensitive);

    kept lines reassemble IN ORDER with ``\\n``. PAGE rules (drop the
    whole document): fewer than ``min_kept_lines`` retained lines, any
    occurrence of "lorem ipsum" (case-insensitive), any ``{`` (code
    boilerplate), or any word-boundary OCCURRENCE of a ``badwords``
    blocklist entry in the lowered page text (ADVICE r17 #5: C4's
    bad-words check matches occurrences within the page, so a badword
    adjacent to punctuation — "badword1." — must still trip it; the
    earlier whole-token ``arrays_overlap`` spelling let it escape).
    C4's remaining rule — the three-sentence-span cross-page dedup — is
    ``exact_substring_dedup``'s domain and deliberately not duplicated
    here.

    Scale shape: a SINGLE narrow per-row pass — split once, one
    higher-order filter over the line array, page predicates on the raw
    text — ZERO shuffles, no UDF, the whole plan one WholeStageCodegen
    project+filter over the scan (plan-pinned exchange-free in
    tests/test_c4.py). At 100 TB this runs at scan speed and composes
    with everything downstream; the blocklist rides along as one array
    literal, never a join.

    Reference parity note: the reference app (src/main.py) has no text
    hygiene surface — this extends the training-data-pipeline tier
    alongside gopher_quality / ccnet_buckets (BASELINE.json north-star
    tier).

    ``badwords_path`` (VERDICT r18 #8): production swaps in the full
    published blocklist by POINTING at its file (``load_badwords``
    format) instead of editing code; when given it overrides
    ``badwords``. The shipped 2-entry ``C4_BADWORDS`` stays the test
    default and is a PLACEHOLDER, not production curation."""
    if badwords_path is not None:
        badwords = load_badwords(badwords_path)
    pred = (
        lambda l: (F.size(F.split(F.trim(l), r"\s+")) >= min_words)
        & l.rlike('[.!?"]$')
        & ~F.lower(l).contains("javascript")
    )
    # occurrence match with word boundaries (never substring-inside-a-
    # word: "badword1x" stays clean, "badword1." trips) — one rlike over
    # the lowered page text, still a narrow per-row predicate. An EMPTY
    # blocklist must disable the rule: '\b()\b' would match every page
    # (r18 review finding #2).
    badword_hit = (
        F.lower(F.col("text")).rlike(
            r"\b(" + "|".join(re.escape(b) for b in badwords) + r")\b"
        )
        if badwords
        else F.lit(False)
    )
    lined = docs.select(
        "doc_id", "text", F.split(F.col("text"), "\n").alias("_lines")
    )
    kept = lined.select(
        "doc_id", "text", "_lines", F.filter("_lines", pred).alias("_kept")
    )
    return (
        kept.filter(
            (F.size("_kept") >= min_kept_lines)
            & ~F.lower(F.col("text")).contains("lorem ipsum")
            & ~F.col("text").contains("{")
            & ~badword_hit
        )
        .select(
            "doc_id",
            F.size("_lines").cast("long").alias("n_lines"),
            F.size("_kept").cast("long").alias("n_kept"),
            F.array_join("_kept", "\n").alias("clean_text"),
        )
    )


def docs_with_planted_lines(docs: DataFrame) -> DataFrame:
    """Deterministic line-structured fixture over the (newline-free)
    documents corpus, mirrored verbatim in the oracle: each doc splits
    into ``C4_LINE_WORDS``-word lines; line i of doc d gets terminal
    punctuation when (d+i) % 3 == 0 ('.') or % 5 == 0 ('?'), a
    " javascript now." tail when % 11 == 0 (terminal AND long — dropped
    only by the javascript rule), else no terminal mark; every 37th doc
    appends a lorem-ipsum line, every 41st a brace line, every 43rd a
    blocklist line (page-level positives at every SF). Narrow per-row
    array math — the words array is materialized into its own
    projection first (the HOF capture law, docs/SCALE.md round 5)."""
    w_tbl = docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    n_line = F.ceil(F.size("w") / F.lit(float(C4_LINE_WORDS))).cast("int")

    def line_of(i: Column) -> Column:
        base = F.array_join(
            F.slice(F.col("w"), i * C4_LINE_WORDS + 1, C4_LINE_WORDS), " "
        )
        k = F.col("doc_id") + i
        return (
            F.when(k % 11 == 0, F.concat(base, F.lit(" javascript now.")))
            .when(k % 3 == 0, F.concat(base, F.lit(".")))
            .when(k % 5 == 0, F.concat(base, F.lit("?")))
            .otherwise(base)
        )

    lines = F.transform(F.sequence(F.lit(0), n_line - 1), line_of)
    for mod_, planted in (
        (37, C4_LOREM_LINE),
        (41, C4_BRACE_LINE),
        (43, C4_BADWORD_LINE),
    ):
        lines = (
            F.when(
                F.col("doc_id") % mod_ == 0,
                F.concat(lines, F.array(F.lit(planted))),
            )
            .otherwise(lines)
        )
    return w_tbl.select("doc_id", F.array_join(lines, "\n").alias("text"))


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return c4_line_filter(
        docs_with_planted_lines(load_table(spark, sf_dir, "documents"))
    )


ORACLE_C4_LINE_FILTER = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
base AS (
  SELECT doc_id, i,
         array_to_string(
           list_slice(w, i*{C4_LINE_WORDS}+1, i*{C4_LINE_WORDS}+{C4_LINE_WORDS}),
           ' ') AS b
  FROM w, LATERAL (SELECT unnest(generate_series(0,
        CAST(ceil(len(w) / {C4_LINE_WORDS}.0) AS BIGINT) - 1)) AS i) t
),
lines1 AS (
  SELECT doc_id, i,
         CASE WHEN (doc_id + i) % 11 = 0 THEN b || ' javascript now.'
              WHEN (doc_id + i) % 3  = 0 THEN b || '.'
              WHEN (doc_id + i) % 5  = 0 THEN b || '?'
              ELSE b END AS line
  FROM base
),
extra AS (
  SELECT doc_id, 1000001 AS i, '{C4_LOREM_LINE}' AS line
  FROM documents WHERE doc_id % 37 = 0
  UNION ALL
  SELECT doc_id, 1000002, '{C4_BRACE_LINE}'
  FROM documents WHERE doc_id % 41 = 0
  UNION ALL
  SELECT doc_id, 1000003, '{C4_BADWORD_LINE}'
  FROM documents WHERE doc_id % 43 = 0
),
lines AS (SELECT * FROM lines1 UNION ALL SELECT * FROM extra),
flagged AS (
  SELECT doc_id, i, line,
         len(string_split_regex(trim(line), '\\s+')) >= {C4_MIN_WORDS}
         AND regexp_matches(line, '[.!?"]$')
         AND NOT contains(lower(line), 'javascript') AS kept
  FROM lines
),
pages AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         coalesce(array_to_string(
           list(line ORDER BY i) FILTER (WHERE kept), chr(10)), '')
           AS clean_text,
         array_to_string(list(line ORDER BY i), chr(10)) AS full_text
  FROM flagged GROUP BY doc_id
)
SELECT doc_id, n_lines, n_kept, clean_text
FROM pages
WHERE n_kept >= {C4_MIN_KEPT_LINES}
  AND NOT contains(lower(full_text), 'lorem ipsum')
  AND NOT contains(full_text, '{{')
  AND NOT regexp_matches(lower(full_text), '\\b(badword1|badword2)\\b')
"""
