"""IVF (inverted-file) approximate nearest neighbor over the embeddings
table — the disk-/cluster-scale ANN layout: a small coarse quantizer
(k-means centroids) partitions the corpus into inverted lists; a query
probes only its ``nprobe`` closest lists.

Spark-first shape:

- **Train**: k-means on the corpus with DataFrame ops only — assignment is
  a broadcast argmax against the centroid literal array; the update step is
  ``posexplode -> groupBy(centroid, dim) avg -> rebuild array``. Each
  iteration is one narrow pass + one small shuffle of (k*dim) partial sums.
- **Index**: every vector tagged with its nearest centroid id — at scale
  you would ``write.partitionBy("centroid_id")`` so a probe prunes files.
- **Query**: broadcast the (tiny) query set with their nprobe probe lists,
  join on centroid id — each query scans ~nprobe/k of the corpus instead of
  all of it.

Centroid seeds are the k lowest vec_ids (deterministic, no RNG in the
plan); 2 Lloyd iterations by default — enough to spread the lists, and the
whole train cost is bounded and reproducible.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from m12_kafkastreams_python_azure_spark.functions.vectors import (
    dot_product,
    double_array_lit,
    l2_norm,
)
from m12_kafkastreams_python_azure_spark.operators.similarity import EMBED_DIM
from m12_kafkastreams_python_azure_spark.sources.readers import load_table


def _centroid_array(centroids: list[tuple[int, list[float]]]) -> F.Column:
    """Centroids as one literal array<struct<cid,cvec,cnorm>> for
    broadcast-free argmax assignment (the literal ships inside the task
    binary).

    The matrix and the norms each ship as ONE literal built in a few JVM
    calls (``double_array_lit``), zipped with the id literal, so the
    expression tree does not grow with k*dim (the centroids are data, not
    tree nodes). ``F.lit`` of a list costs round trips and one tree
    node per element — k*dim of them for the matrix, which at the sqrt(n)
    list counts this module defaults to (hundreds of lists) costs whole
    seconds of driver time per query (same lesson as
    similarity.lsh_sign_bits). The ids stay ``F.lit``: k ints, and an
    int array is not a double array."""
    cids = F.lit([int(cid) for cid, _ in centroids])
    cvecs = double_array_lit([vec for _, vec in centroids])
    cnorms = double_array_lit(
        [float(sum(x * x for x in vec) ** 0.5) for _, vec in centroids]
    )
    vec_norm = F.zip_with(
        cvecs, cnorms, lambda v, n: F.struct(v.alias("cvec"), n.alias("cnorm"))
    )
    return F.zip_with(
        cids,
        vec_norm,
        lambda c, s: F.struct(
            c.alias("cid"), s["cvec"].alias("cvec"), s["cnorm"].alias("cnorm")
        ),
    )


def _assign(df: DataFrame, centroids: list[tuple[int, list[float]]], vec_col: str) -> DataFrame:
    """Nearest-centroid assignment (cosine): pure Catalyst argmax — build
    (sim, cid) structs per centroid, take array_max. No shuffle."""
    carr = _centroid_array(centroids)
    vec = F.col(vec_col)
    # Ranking-only score: ||v|| is a positive per-row constant across
    # centroids, so dividing by it cannot change the argmax — and keeping
    # l2_norm(vec) OUT of the lambda matters: Catalyst re-evaluates
    # lambda-captured trees per element, so the embedded norm fold would
    # run once per centroid (see dedup.star_pairs).
    scored = F.transform(
        carr,
        lambda c: F.struct(
            (dot_product(vec, c["cvec"]) / c["cnorm"]).alias("sim"),
            c["cid"].alias("cid"),
        ),
    )
    best = F.array_max(scored)
    return df.withColumn("centroid_id", best["cid"])


def _update(assigned: DataFrame, vec_col: str, dim: int) -> list[tuple[int, list[float]]]:
    """Lloyd update: new centroid = mean of its members, computed
    distributedly (posexplode -> avg per (centroid, dim)); only k*dim
    aggregated doubles reach the driver."""
    rows = (
        assigned.select("centroid_id", F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy("centroid_id", "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
        .groupBy("centroid_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("centroid_id", F.transform("pm", lambda s: s["m"]).alias("cvec"))
        .collect()
    )
    return sorted((r.centroid_id, list(r.cvec)) for r in rows)


def default_train_k(n_vectors: int) -> int:
    """Corpus-derived inverted-list count: ``ceil(sqrt(n))`` — the classic
    IVF sizing (Faiss guidance; Jegou et al. 2011). With k lists a probe
    scans ``nprobe * n/k`` vectors; k = sqrt(n) balances the two O(k) and
    O(n/k) terms so per-query work grows as ``nprobe * sqrt(n)`` instead
    of linearly. A FIXED k silently decays: at 10x the corpus the prune
    ratio nprobe/k is unchanged while list length grows 10x, so probe
    cost re-approaches a full scan (measured 8.3x per 10x data in r08 —
    the one named scale caveat this default closes). Floor of 4 keeps
    the quantizer meaningful on toy corpora."""
    return max(4, math.ceil(math.sqrt(max(int(n_vectors), 1))))


def default_nprobe(k_neighbors: int) -> int:
    """Demand-derived probe breadth: ``ceil(sqrt(k))`` lists for a top-k
    query, floor 2. Probe breadth should track how many NEIGHBORS the
    query needs, not the corpus: with sqrt(n) lists each probed list
    yields ~sqrt(n) candidates — far more than any realistic k — so even
    the nearest list alone usually covers k, and the extra sqrt(k)-1
    lists only guard the cell-boundary cases (a query near a Voronoi
    edge whose true neighbors straddle 2-3 cells; boundary incidence
    grows with k, hence the sqrt scaling). A corpus-coupled nprobe is
    the classic mistake this default avoids: probe cost is
    nprobe * sqrt(n) per query, and any nprobe that grows with n
    multiplies the very term default_train_k exists to bound (measured:
    fixed nprobe=8 -> ceil(sqrt(10))=4 cut knn_label_vote_ivf 22-23% at
    BOTH sf0.1 and sf1 with vote coverage still 1.0)."""
    return max(2, math.ceil(math.sqrt(max(int(k_neighbors), 1))))


def train_ivf(
    df: DataFrame,
    k: int | None = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
    sample_fraction: float = 1.0,
) -> list[tuple[int, list[float]]]:
    """k-means coarse quantizer: seeds = k lowest-id vectors, ``iters``
    Lloyd rounds. Deterministic end to end.

    ``sample_fraction`` < 1 trains on a deterministic key-hash sample —
    the standard IVF practice at corpus scale (centroid quality needs a
    representative sample, not every vector; the full corpus is only
    assigned once, by ``build_ivf_index``). The sample predicate is a
    plain filter, so it pushes into the scan.

    ``k=None`` derives the list count from the corpus:
    ``default_train_k(df.count())`` — the count is one parquet-metadata
    aggregate, paid once at index-BUILD time (never on the query path
    when the index is persisted via ``save_ivf_index``)."""
    if k is None:
        k = default_train_k(df.count())
    if not 0.0 < sample_fraction <= 1.0:
        raise ValueError(f"sample_fraction must be in (0, 1], got {sample_fraction}")
    if sample_fraction < 1.0:
        buckets = 1_000_000
        threshold = int(buckets * sample_fraction)
        if threshold == 0:
            raise ValueError(
                f"sample_fraction={sample_fraction} rounds to an empty sample"
            )
        df = df.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(buckets)) < threshold)
    seeds = (
        df.orderBy(id_col)
        .limit(k)
        .select(vec_col)
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(
            f"need >= k={k} vectors to seed the quantizer, sample has {len(seeds)} "
            "(raise sample_fraction or lower k)"
        )
    centroids = [(i, [float(x) for x in r[0]]) for i, r in enumerate(seeds)]
    for _ in range(iters):
        centroids = _update(_assign(df, centroids, vec_col), vec_col, dim)
    return centroids


def build_ivf_index(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Tag every vector with its inverted-list id. At scale, persist with
    ``.write.partitionBy("centroid_id")`` so probes prune at the file level."""
    return _assign(df, centroids, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        l2_norm(F.col(vec_col)).alias("cnorm"),
        "centroid_id",
    )


def save_ivf_index(
    index: DataFrame, centroids: list[tuple[int, list[float]]], path: str
) -> None:
    """Persist an IVF index: build ONCE, probe many times — the real-user
    lifecycle (Faiss trains offline and serializes; queries never retrain).

    Layout:

    - ``{path}/lists`` — the tagged vectors, ``partitionBy("centroid_id")``
      so a probe that filters on list ids prunes FILES (see
      ``ann_ivf_topk(prune_lists=True)``); at cluster scale each list is
      its own parquet directory and a probe reads nprobe/k of the bytes.
    - ``{path}/centroids`` — the k coarse-quantizer rows (k * dim doubles,
      driver-bounded by construction).
    """
    spark = index.sparkSession
    (
        index.write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(os.path.join(path, "lists"))
    )
    (
        spark.createDataFrame(
            [(int(cid), [float(x) for x in vec]) for cid, vec in centroids],
            "centroid_id int, cvec array<double>",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(path, "centroids"))
    )


def load_ivf_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Load a persisted IVF index: (lists DataFrame, centroids). The
    centroid collect is k rows of k*dim doubles — bounded by construction;
    the lists stay lazy (file-pruned at probe time, never materialized on
    the driver)."""
    lists = spark.read.parquet(os.path.join(path, "lists"))
    rows = spark.read.parquet(os.path.join(path, "centroids")).collect()
    centroids = sorted((int(r.centroid_id), list(r.cvec)) for r in rows)
    return lists, centroids


def insert_into_ivf_index(new_vectors: DataFrame, path: str,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> int:
    """Incremental index growth — the lifecycle step between build-once
    and retrain: assign NEW vectors to the EXISTING coarse quantizer and
    append them to the persisted lists (Faiss ``add`` semantics; the
    centroids do not move). Returns the number of vectors inserted.

    Scale shape: one narrow assignment pass over the new batch (the
    centroid literal rides the closure), then a partitioned APPEND —
    each new row lands in its list's parquet directory, existing files
    untouched, probes see the union immediately. No retrain, no rewrite
    of the existing corpus, no shuffle beyond the partitioned write.

    The classic caveat applies and is deliberate: inserts drift list
    BALANCE, not correctness (assignment still scans nprobe closest
    lists; a probe after insert equals a fresh-built index over the
    union ONLY up to centroid placement, which is why the parity test
    pins assignment with the SAME centroids). Rebuild when the corpus
    has grown enough that sqrt(n) wants more lists — ``default_train_k``
    makes that decision explicit."""
    spark = new_vectors.sparkSession
    _, centroids = load_ivf_index(spark, path)
    # persist: the assignment pass feeds BOTH the count and the append —
    # without it the narrow pass (and the upstream scan) runs twice
    # (ADVICE r10)
    tagged = build_ivf_index(new_vectors, centroids, id_col, vec_col).persist()
    try:
        n = tagged.count()
        # staged append: drop a marker before touching the lists so an
        # interrupted insert leaves a DETECTABLE half-state instead of
        # silently-extra list files (the build path's partial-write
        # discipline, extended to appends — ADVICE r10)
        marker = os.path.join(path, _INSERT_MARKER)
        with open(marker, "w") as fh:
            fh.write("insert in progress\n")
        (
            tagged.write.mode("append")
            .partitionBy("centroid_id")
            .parquet(os.path.join(path, "lists"))
        )
        os.remove(marker)
    finally:
        tagged.unpersist()
    return n


_INSERT_MARKER = "_insert_in_progress"


def ivf_index_exists(path: str) -> bool:
    """True when a ``save_ivf_index`` layout is present (both halves —
    a partial write from an interrupted build, or a crashed
    ``insert_into_ivf_index`` whose marker was never cleared, is
    treated as absent)."""
    return (
        os.path.isdir(os.path.join(path, "lists"))
        and os.path.isdir(os.path.join(path, "centroids"))
        and not os.path.exists(os.path.join(path, _INSERT_MARKER))
    )


def ann_ivf_topk(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prune_lists: bool = False,
) -> DataFrame:
    """Probe the ``nprobe`` closest inverted lists per query, exact-score
    within them, keep top-k. One equi-join on centroid_id (queries
    broadcast), one small top-k window.

    ``prune_lists=True`` collects the distinct probed list ids (bounded
    above by len(centroids), NOT by |Q|) and filters the index on them
    BEFORE the join — on a ``load_ivf_index`` index this is a static
    partition filter, so parquet partition pruning skips the un-probed
    lists' files entirely. Worth it for small/medium query batches; a
    corpus-sized query set probes every list and the filter is a no-op."""
    carr = _centroid_array(centroids)
    vec = F.col(vec_col)
    # ||v|| dropped from the probe ranking for the same two reasons as in
    # _assign: it is constant across centroids (order-preserving) and a
    # lambda-captured l2_norm would re-run per centroid.
    scored_centroids = F.transform(
        carr,
        lambda c: F.struct(
            (dot_product(vec, c["cvec"]) / c["cnorm"]).alias("sim"),
            c["cid"].alias("cid"),
        ),
    )
    probes = F.slice(F.array_sort(scored_centroids, lambda a, b: F.when(
        a["sim"] > b["sim"], -1).when(a["sim"] < b["sim"], 1).otherwise(0)
    ), 1, nprobe)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("qnorm"),
        F.explode(F.transform(probes, lambda p: p["cid"])).alias("centroid_id"),
    )
    if prune_lists:
        # bounded collect: <= len(centroids) ints, whatever |Q| is. The
        # isin() literal is a STATIC predicate on the index's partition
        # column — on a persisted index Spark prunes the un-probed lists
        # at the file level before any row is read.
        probed = sorted(
            r[0] for r in q.select("centroid_id").distinct().collect()
        )
        index = index.filter(F.col("centroid_id").isin(probed))
    scored = (
        index.join(F.broadcast(q), on="centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            dot_product(F.col("qvec"), F.col("cvec"))
            / (F.col("qnorm") * F.col("cnorm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 for the first 8 vectors (rows-only driver check —
    approximate by design; recall vs the exact baseline is asserted in
    tests/test_ivf.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = train_ivf(emb, k=16, iters=2)
    index = build_ivf_index(emb, centroids)
    return ann_ivf_topk(index, emb.filter(F.col("vec_id") < 8), centroids, k=5, nprobe=4)


# ----------------------------------------------- index balance audit

IVF_IMBALANCE_MAX = 8.0  # max_list / mean_list before a retrain is advised


def ivf_balance_audit(
    lists: DataFrame,
    train_k: int | None = None,
    imbalance_max: float = IVF_IMBALANCE_MAX,
) -> DataFrame:
    """One-row health check closing the index lifecycle (build / persist
    / insert / probe / DECIDE-TO-RETRAIN): per-list population from one
    centroid_id count, then
    (n_lists, n_vectors, max_list, mean_list, imbalance, retrain) —
    ``retrain`` fires when the hottest list holds ``imbalance_max``x
    the mean (inserts drifted the corpus away from the quantizer: probe
    cost concentrates on hot lists and the nprobe/k prune ratio decays)
    or when the corpus has outgrown sqrt(n) lists (``train_k`` passed:
    mean list size past 4*sqrt-target means ``default_train_k`` now
    wants more lists). Cost: one partial-agg'd count shuffle over
    (centroid_id) — runs casually against a 100 TB index."""
    per = lists.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n"))
    agg = per.agg(
        F.count(F.lit(1)).alias("n_lists"),
        F.sum("n").alias("n_vectors"),
        F.max("n").alias("max_list"),
        F.round(F.avg("n"), 2).alias("mean_list"),
    ).select(
        "n_lists",
        "n_vectors",
        "max_list",
        "mean_list",
        F.round(F.col("max_list") / F.col("mean_list"), 4).alias("imbalance"),
    )
    grown = (
        F.col("n_lists") * F.col("n_lists") * 16 < F.col("n_vectors")
        if train_k is None
        else F.lit(train_k * train_k * 16) < F.col("n_vectors")
    )
    return agg.withColumn(
        "retrain",
        (F.col("imbalance") > F.lit(float(imbalance_max))) | grown,
    )
