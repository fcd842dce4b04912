"""Similarity search over the ``embeddings`` table (array<float>, dim 64).

- Brute-force top-k cosine: the correctness baseline. Query set is broadcast
  (it is small by definition); candidates stream through partition-local —
  the only shuffle is the final per-query top-k (a window over query_id, k
  rows per query survive the partial ranking).
- Random-hyperplane LSH bucketing: the 100 TB scale path — sign-bit
  signature over h fixed pseudo-random hyperplanes buckets candidates, so
  each query only scans its bucket (recall/latency trade via h).
- Embedding near-dup pairs: all pairs with cosine >= threshold via a
  deterministic self-join; the LSH-bucketed variant bounds the pair
  explosion at scale.

All vector math is Catalyst higher-order functions in double precision,
left-fold in array order — bit-identical to DuckDB's list functions, so the
oracle comparison is stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from m12_kafkastreams_python_azure_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    dot_product_unrolled,
    double_array_lit,
    l2_norm,
)
from m12_kafkastreams_python_azure_spark.sources.readers import load_table

#: Testdata embedding dimension. The pair-quadratic exact paths use the
#: UNROLLED dot product (whole-stage codegen) keyed to this dimension; the
#: O(n) paths keep the dimension-agnostic higher-order fold.
EMBED_DIM = 64


def _probe_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding width from the data (one tiny driver-side first()):
    the exact paths unroll their dot products over the ACTUAL width, so a
    non-64-dim corpus stays exact instead of being silently truncated."""
    row = (
        df.select(F.size(F.col(vec_col)).alias("d"))
        .filter(F.col("d").isNotNull())
        .first()
    )
    return int(row["d"]) if row else 0


def ann_bruteforce_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self excluded).

    queries must be small (broadcast); candidates may be arbitrarily large.
    ``dim`` defaults to the width probed from the data; pass it explicitly
    only to skip the probe. The per-pair dot product is unrolled over it
    (see ``dot_product_unrolled``) — a mismatched explicit value would
    truncate (wider) or NULL out (narrower) the similarity.
    """
    if dim is None:
        dim = _probe_dim(candidates, vec_col)
    # Precompute each side's norm ONCE (the naive form recomputes the query
    # norm for every (candidate, query) pair — dim x candidates wasted work).
    parallelism = candidates.sparkSession.sparkContext.defaultParallelism
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("qnorm"),
    )
    c = candidates.repartition(parallelism).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        l2_norm(F.col(vec_col)).alias("cnorm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            dot_product_unrolled(F.col("qvec"), F.col("cvec"), dim)
            / (F.col("qnorm") * F.col("cnorm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return ann_bruteforce_topk(emb, queries, k=5)


ORACLE_ANN_TOPK = """
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS sim_raw
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, sim_raw,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_raw DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, ROUND(sim_raw, 6) AS sim, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
"""


def embedding_near_dup_exact(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """All embedding pairs with cosine >= threshold (id_a < id_b). Exact,
    QUADRATIC — oracle ground truth only. The public front door
    (``api.embedding_near_dup``) defaults to the banded-LSH scale path and
    reaches this only via ``method="exact"``. ``dim`` defaults to the
    width probed from the data (see ``_probe_dim``)."""
    if dim is None:
        dim = _probe_dim(df, vec_col)
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    a = df.repartition(parallelism).select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("nb"),
    )
    # The similarity predicate lives IN the join condition: the nested-loop
    # join then emits only surviving pairs (~10^3), instead of
    # materializing every id_a < id_b pair (~10^6 wide rows of two vectors
    # each) for a post-join filter to discard. The survivors' sim is
    # recomputed once in the projection — trivially cheaper than writing
    # the dropped rows. (Unrolled dot product: see dot_product_unrolled.)
    sim = dot_product_unrolled(F.col("va"), F.col("vb"), dim) / (
        F.col("na") * F.col("nb")
    )
    return (
        a.join(
            F.broadcast(b),
            (F.col("id_a") < F.col("id_b")) & (sim >= threshold),
        )
        .select("id_a", "id_b", F.round(sim, 6).alias("sim"))
    )


def q_embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All embedding pairs with cosine >= 0.4 (id_a < id_b). Exact — the
    oracle-checked ground truth that the LSH variant approximates.
    Ledger key ``embedding_near_dup_exact`` (renamed from
    ``embedding_near_dup`` and demoted out of the bench headline in r18,
    VERDICT r17 #2: an all-pairs plan must never pose as the engine's
    operating point — the front-door LSH spelling keeps the headline)."""
    return embedding_near_dup_exact(load_table(spark, sf_dir, "embeddings"))


ORACLE_EMBEDDING_NEAR_DUP = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
       / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
          * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
      / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
         * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.4
"""


# ------------------------------------------------------------------ kNN label vote

KNN_VOTE_K = 10


def knn_label_vote(
    labeled: DataFrame,
    unlabeled: DataFrame,
    k: int = KNN_VOTE_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int | None = None,
) -> DataFrame:
    """kNN majority-vote classification over embeddings: predict each
    unlabeled vector's label as the most frequent label among its k
    nearest labeled neighbors (cosine) — the distillation-free quality
    classifier used to label web documents from a small seed set (e.g.
    FineWeb-Edu scores its corpus with a classifier trained on seed
    annotations; the kNN vote is the model-free version of that stage).
    Ties break toward the SMALLER label id, so the output is
    deterministic. Output: (query_id, pred_label, votes, k_used).

    Scale shape: the neighbor search is ``ann_bruteforce_topk`` — the
    query side (seed-labelable docs needing labels per batch) broadcasts,
    the labeled corpus streams partition-local, and only k rows per query
    survive into the vote. The vote itself is a (query_id, label) count +
    per-query argmax window — k·|Q| rows, trivially small. At 100 TB the
    exact scan swaps for the IVF/LSH candidate stage feeding the SAME
    vote — that front door is ``api.knn_label_vote(method="ivf"|"lsh")``,
    and ``tests/test_round8_ops.py`` pins vote(exact) == vote(ivf,
    full-probe); this exact spelling is the oracle-checkable ground truth
    that bounds them. The neighbor-label
    join is an equi-join on the labeled corpus's id — AQE broadcasts the
    k·|Q|-row candidate side, the corpus is never broadcast."""
    neigh = ann_bruteforce_topk(
        labeled, unlabeled, k=k, id_col=id_col, vec_col=vec_col, dim=dim
    )
    return label_vote(neigh, labeled, k=k, id_col=id_col, label_col=label_col)


def label_vote(
    neigh: DataFrame,
    labeled: DataFrame,
    k: int,
    id_col: str = "vec_id",
    label_col: str = "label",
    all_queries: DataFrame | None = None,
) -> DataFrame:
    """The vote stage shared by every kNN candidate generator: join the
    (query_id, neighbor_id) candidate rows onto the labeled corpus's
    labels, count votes per (query, label), argmax per query (ties to the
    smaller label id). ``api.knn_label_vote`` feeds this from the exact,
    IVF, or LSH candidate stage — the vote itself never changes, so
    swapping the neighbor search at scale cannot alter the labeling
    semantics, only the candidate recall.

    ``k_used`` is the REQUESTED k (per-query support is ``votes`` — an
    approximate candidate stage may have surfaced fewer than k
    neighbors). ``all_queries``: approximate candidate stages (LSH
    bucket with no labeled co-occupant; IVF probe hitting only empty
    lists) can yield ZERO candidates for a query — pass the original
    query frame and such queries are emitted with ``pred_label`` NULL
    and ``votes`` 0 instead of silently vanishing, so a labeling sweep
    can never lose documents unannounced."""
    lab = labeled.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nlabel")
    )
    votes = (
        neigh.join(lab, "neighbor_id")
        .groupBy("query_id", "nlabel")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("nlabel").asc()
    )
    out = (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "query_id",
            F.col("nlabel").alias("pred_label"),
            "votes",
        )
    )
    if all_queries is not None:
        qs = all_queries.select(F.col(id_col).alias("query_id")).distinct()
        out = qs.join(out, "query_id", "left").select(
            "query_id",
            "pred_label",
            F.coalesce("votes", F.lit(0)).cast("long").alias("votes"),
        )
    return out.withColumn("k_used", F.lit(k).cast("int"))


def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    # every 10th vector plays "unlabeled"; the rest are the seed set
    emb = load_table(spark, sf_dir, "embeddings")
    unlabeled = emb.filter(F.col("vec_id") % 10 == 0)
    labeled = emb.filter(F.col("vec_id") % 10 != 0)
    return knn_label_vote(labeled, unlabeled)


ORACLE_KNN_LABEL_VOTE = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS nlabel,
         list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS sim
  FROM embeddings q, embeddings c
  WHERE q.vec_id % 10 = 0 AND c.vec_id % 10 <> 0
), topk AS (
  SELECT query_id, neighbor_id, nlabel,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM scored
), votes AS (
  SELECT query_id, nlabel, CAST(count(*) AS BIGINT) AS votes
  FROM topk WHERE rnk <= {KNN_VOTE_K} GROUP BY query_id, nlabel
)
SELECT query_id, nlabel AS pred_label, votes,
       CAST({KNN_VOTE_K} AS INTEGER) AS k_used
FROM votes
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY votes DESC, nlabel) = 1
"""


# ------------------------------------------------------------------ LSH-bucketed ANN


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane via a simple LCG —
    no numpy dependency in the plan, reproducible across engines/runs."""
    state = (plane_idx * 2654435761 + 0x9E3779B9) & 0xFFFFFFFF
    out = []
    for _ in range(dim):
        state = (state * 1664525 + 1013904223) & 0xFFFFFFFF
        out.append((state / 0x7FFFFFFF) - 1.0)  # ~U(-1, 1)
    return out


def lsh_sign_bits(
    vec_col: F.Column, dim: int, num_planes: int, plane_offset: int = 0
) -> F.Column:
    """array<long> of sign bits (0/1), one per hyperplane.

    All planes ship as ONE literal array<array<double>> built in a few JVM
    calls (``double_array_lit``) and the per-plane dot product is a single
    nested higher-order transform — building the column costs a fixed
    number of round trips whatever num_planes and dim are (the planes are
    data, not tree nodes). ``F.lit(planes)`` would cost round trips and
    one tree node per double (2,048 at 32 x 64); a per-plane fold
    expression makes Catalyst analyze/codegen num_planes * dim leaves."""
    planes = [_hyperplane(dim, plane_offset + p) for p in range(num_planes)]
    parr = double_array_lit(planes)
    return F.transform(
        parr, lambda plane: (dot_product(vec_col, plane) > 0).cast("long")
    )


def banded_bucket_ids(bits: F.Column, bands: int, rows_per_band: int) -> F.Column:
    """array<long> of per-band bucket ids from a sign-bit array: band b's id
    is the binary number formed by its slice of bits."""
    return F.array(
        *[
            F.aggregate(
                F.slice(bits, b * rows_per_band + 1, rows_per_band),
                F.lit(0).cast("long"),
                lambda acc, x: acc * 2 + x,
            )
            for b in range(bands)
        ]
    )


def lsh_bucket(
    vec_col: F.Column, dim: int = EMBED_DIM, num_planes: int = 8, plane_offset: int = 0
) -> F.Column:
    """Sign-bit LSH bucket id (0..2^num_planes-1) from fixed hyperplanes.
    ``plane_offset`` selects an independent plane set, so banded callers
    (multiple tables) get distinct hash families per band."""
    bits = lsh_sign_bits(vec_col, dim, num_planes, plane_offset)
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc * 2 + x)


def ann_lsh_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
    num_planes: int = 8,
) -> DataFrame:
    """Approximate top-k: candidates bucketed by sign-LSH; each query scans
    only its own bucket. At 100 TB: one shuffle on bucket id (256-64k
    buckets), per-bucket work is |bucket| x |queries-in-bucket|."""
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        lsh_bucket(F.col(vec_col), dim, num_planes).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        lsh_bucket(F.col(vec_col), dim, num_planes).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine_similarity(F.col("qvec"), F.col("cvec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (rows-only driver check — approximate by design;
    recall vs the exact baseline is asserted in tests)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_lsh_topk(emb, emb.filter(F.col("vec_id") < 8), k=5)
