"""Public front doors for near-duplicate detection and ANN search.

The engine keeps exact quadratic variants (all-pairs cosine, crossJoin
brute-force top-k) because they are the oracle ground truth — but they are
scale-killers at 100 TB. These front doors make the LSH/IVF paths the
DEFAULT and reserve the quadratic paths for explicit ``method="exact"``
(oracle/validation use only). A plan test asserts the default paths never
contain a CartesianProduct or BroadcastNestedLoopJoin.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m12_kafkastreams_python_azure_spark.functions.vectors import (
    dot_product,
    dot_product_unrolled,
    l2_norm,
)
from m12_kafkastreams_python_azure_spark.operators import dedup as _dedup
from m12_kafkastreams_python_azure_spark.operators import ivf as _ivf
from m12_kafkastreams_python_azure_spark.operators import similarity as _sim


# ------------------------------------------------------------- text near-dup


def near_dup_pairs(
    df: DataFrame,
    method: str = "minhash",
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """Near-duplicate text pairs. Default ``minhash`` (MinHash+LSH with
    exact-Jaccard verify — the 100 TB path: one band-hash shuffle, bucketed
    pair expansion, no self cross-join). ``simhash`` is the Hamming-distance
    alternative. There is deliberately NO exact all-pairs text method: at
    any non-toy scale that is O(n^2); validate the similarity function
    itself on a bounded pair set instead (``dedup.q_ngram_jaccard_pairs``).
    """
    if method == "minhash":
        return _dedup.minhash_near_dup_pairs(df, text_col, id_col, **kwargs)
    if method == "simhash":
        return _dedup.simhash_near_dup_pairs(df, text_col, id_col, **kwargs)
    raise ValueError(f"unknown text near-dup method: {method!r} (minhash|simhash)")


# -------------------------------------------------------- embedding near-dup


def embedding_near_dup(
    df: DataFrame,
    method: str = "lsh",
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kwargs,
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine >= threshold, id_a < id_b).

    Default ``lsh``: banded sign-LSH candidates + exact-cosine verify — one
    bucket shuffle, never all-pairs. ``exact`` is the quadratic
    broadcast-join twin: oracle ground truth ONLY, O(n^2) at scale.
    """
    if method == "lsh":
        return embedding_near_dup_lsh(
            df, threshold=threshold, id_col=id_col, vec_col=vec_col, **kwargs
        )
    if method == "exact":
        dim = kwargs.pop("dim", None)  # None -> probed from the data
        if kwargs:
            raise TypeError(
                f"embedding_near_dup(method='exact') accepts only 'dim'; "
                f"got {sorted(kwargs)}"
            )
        return _sim.embedding_near_dup_exact(
            df, threshold=threshold, id_col=id_col, vec_col=vec_col, dim=dim
        )
    raise ValueError(f"unknown embedding near-dup method: {method!r} (lsh|exact)")


def embedding_near_dup_lsh(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = _sim.EMBED_DIM,
    planes_per_band: int = 4,
    bands: int = 8,
    max_bucket: int = 2000,
    collapse_exact: bool = True,
) -> DataFrame:
    """Banded sign-LSH near-dup pairs with exact-cosine verification.

    ``collapse_exact`` (default on): byte-identical vectors collapse to
    their min-id representative before the LSH and the pairs expand back
    afterwards (``dedup.expand_collapsed_pairs``) — within-group pairs
    carry the representative's self-cosine (what the exact twin computes
    for an identical pair), cross-group pairs the verified rep-pair
    cosine. With a FIXED bucket count per band (2^planes_per_band),
    bucket occupancy grows linearly in corpus size and pair expansion
    quadratically in the duplication factor; collapsing first makes the
    LSH cost a function of DISTINCT vectors (sf1 is 10x-replicated: this
    is ~100x less candidate-verify work) and guarantees every
    exact-duplicate pair is emitted.

    Each band hashes the vector with ``planes_per_band`` independent
    hyperplanes (sign bits); two vectors are candidates if they collide in
    ANY band. For cosine s the collision probability per band is
    (1 - acos(s)/pi)^r, so with r=4, b=8 a 0.9-cosine pair is caught with
    p ~ 0.998 while a 0.4-cosine pair is ~0.75 (every candidate is then
    verified exactly, so precision is 1.0 regardless).

    Shuffle profile mirrors the MinHash pipeline: band rows carry only
    (id, band, bucket) — vectors never ride the band shuffle; candidate
    pairs join back onto the vector table for the verify, with the
    candidate-side broadcast COUNT-GATED (<= dedup._BROADCAST_CAND_MAX_ROWS
    rows broadcast; larger candidate sets fall to a shuffled join —
    VERDICT r18 #3, same discipline as the containment verify).
    """
    _dedup.release_parallel_caches()
    pairs = partial(
        _lsh_pairs, threshold=threshold, id_col=id_col, vec_col=vec_col,
        dim=dim, planes_per_band=planes_per_band, bands=bands,
        max_bucket=max_bucket,
    )
    if not collapse_exact:
        return pairs(df)

    def self_sim(reps: DataFrame) -> DataFrame:
        # try_divide: reps include zero-norm rows (their groups are left
        # out of the expansion, but the projection evaluates per rep
        # before the join prunes) — NULL here instead of an ANSI
        # divide-by-zero; no NULL ever reaches the output
        return reps.select(
            F.col(id_col).alias("_rep_id"),
            F.round(
                F.try_divide(
                    dot_product(F.col(vec_col), F.col(vec_col)),
                    l2_norm(F.col(vec_col)) * l2_norm(F.col(vec_col)),
                ),
                6,
            ).alias("sim"),
        )

    # narrow pin (the r20 full-width pin, vectors included, measured 2x
    # slower at same cores). The uncollapsed path never emits NULL- or
    # zero-norm-vector pairs (NULL sign-bits generate no band rows; a zero
    # norm makes the verify sim NULL via try_divide), so only reps with a
    # positive norm are valid.
    return _dedup.collapsed_pairs(
        df, [vec_col], id_col, "narrow", pairs, "sim", self_sim,
        valid=F.coalesce(l2_norm(F.col(vec_col)) > 0, F.lit(False)),
        max_bucket=max_bucket,
    )


def _lsh_pairs(
    df: DataFrame, threshold: float, id_col: str, vec_col: str, dim: int,
    planes_per_band: int, bands: int, max_bucket: int,
) -> DataFrame:
    """``embedding_near_dup_lsh``' banded sign-LSH + verify body over its
    input as given (no collapse)."""
    base = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            l2_norm(F.col(vec_col)).alias("nrm"),
        )
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .persist()
    )
    _dedup.register_parallel_cache(base)
    # Eager materialization: the band stage and both verify sides read this
    # cache in concurrently-launched stages; racing first-computation
    # serializes on the cache-write lock (see dedup._parallel_text).
    base.count()

    # All bands' sign bits in ONE pass over one literal plane matrix, then
    # per-band bucket ids sliced out of the bits array — keeps the Catalyst
    # expression tree tiny (see similarity.lsh_sign_bits) and hashes each
    # vector exactly once.
    bits = _sim.lsh_sign_bits(F.col("v"), dim, bands * planes_per_band)
    banded = base.select(
        "id",
        F.posexplode(
            _sim.banded_bucket_ids(bits, bands, planes_per_band)
        ).alias("band", "bh"),
    )

    cands = _dedup.bucket_candidates(
        banded, _dedup.expansion_partitions(df), max_bucket
    )
    # NOTE: candidate pairs are NOT deduped here — a pair colliding in
    # several bands is verified more than once, which is cheaper than
    # shuffling the full candidate set; the dedup runs after the sim
    # filter, on the (orders-of-magnitude smaller) survivor set.
    # Verify joins: stream the (narrow, id-only) candidate pairs and join
    # the vector table onto them — NEVER broadcast pairs carrying vectors
    # (at 1M candidates x dim 64 that is a multi-hundred-MB broadcast).
    # The candidate-side broadcast is COUNT-GATED (VERDICT r18 #3,
    # mirroring dedup._containment_verify_on_reps): on a duplication-
    # pathological corpus the candidate set is NOT small, and an
    # unconditional hint would push an unbounded table at the driver.
    # The persist barrier pays for the count once and the verify joins
    # read the cached pairs instead of re-running the band shuffle.
    cands = cands.persist()
    _dedup.register_parallel_cache(cands)
    n_cand = cands.count()
    cand_side = (
        F.broadcast(cands)
        if n_cand <= _dedup._BROADCAST_CAND_MAX_ROWS
        else cands
    )
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    # Filter on the UNROUNDED cosine (exactly like the exact twin and its
    # oracle) and round only for output — rounding first would admit
    # boundary pairs (e.g. 0.3999996 -> 0.4) the exact path excludes,
    # breaking the "LSH output is a subset of exact output" contract.
    return (
        cand_side.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "sim_raw",
            # unrolled over the known dim: the verify runs once per
            # CANDIDATE pair (quadratic in bucket occupancy), where the
            # interpreted HOF fold costs ~10x vs flat codegen'd arithmetic
            # (same reasoning, and same left-fold result, as the exact
            # twin — see dot_product_unrolled). try_divide: a zero-norm
            # vector in a candidate pair yields NULL (fails the threshold
            # filter) instead of an ANSI divide-by-zero error.
            F.try_divide(
                dot_product_unrolled(F.col("va"), F.col("vb"), dim),
                F.col("na") * F.col("nb"),
            ),
        )
        .filter(F.col("sim_raw") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", F.round("sim_raw", 6).alias("sim"))
    )


def q_embedding_near_dup_lsh(spark, sf_dir: str) -> DataFrame:
    """Banded sign-LSH embedding near-dup (rows-only driver check — the
    candidate set is approximate by design; every emitted pair is exactly
    verified, and the exact twin ``embedding_near_dup`` is oracle-checked
    and bounds this one from above)."""
    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    return embedding_near_dup_lsh(load_table(spark, sf_dir, "embeddings"))


# ------------------------------------------------------------------ ANN top-k


def ann_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    method: str = "auto",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kwargs,
) -> DataFrame:
    """Top-k nearest neighbors per query vector.

    ``auto`` (default) routes to the sign-LSH bucketed path — sublinear
    per-query work, no training step. ``ivf`` probes k-means inverted
    lists (the best layout when the index is built once and queried many
    times). ``exact`` is the crossJoin brute-force baseline — oracle
    ground truth ONLY; its cost is O(n * |Q|).

    IVF lifecycle options:

    - ``train_k`` (default None): inverted-list count; None derives
      ``ceil(sqrt(n))`` from the corpus (``ivf.default_train_k``) so the
      prune ratio does not decay as the corpus grows.
    - ``index_path``: persist-and-reuse. When the path holds a saved
      index (``ivf.save_ivf_index`` layout) it is LOADED and probed —
      no retraining, no corpus re-assignment; otherwise the index is
      built once and saved there for every later call.
    - ``prune_lists``: statically filter the index to the probed list
      ids (bounded driver collect) so a persisted index's un-probed
      partitions are file-pruned.
    """
    if method == "auto" or method == "lsh":
        return _sim.ann_lsh_topk(
            candidates, queries, k=k, id_col=id_col, vec_col=vec_col, **kwargs
        )
    if method == "ivf":
        train_k = kwargs.pop("train_k", None)
        iters = kwargs.pop("iters", 2)
        nprobe = kwargs.pop("nprobe", 4)
        sample_fraction = kwargs.pop("sample_fraction", 1.0)
        index_path = kwargs.pop("index_path", None)
        prune_lists = kwargs.pop("prune_lists", False)
        if kwargs:
            # silently dropping an option means the caller thinks it took
            # effect — reject anything the ivf path doesn't understand
            raise TypeError(
                f"ann_topk(method='ivf') got unexpected options {sorted(kwargs)} "
                "(accepted: train_k, iters, nprobe, sample_fraction, "
                "index_path, prune_lists)"
            )
        if index_path is not None and _ivf.ivf_index_exists(index_path):
            index, centroids = _ivf.load_ivf_index(
                candidates.sparkSession, index_path
            )
        else:
            centroids = _ivf.train_ivf(
                candidates,
                k=train_k,
                iters=iters,
                id_col=id_col,
                vec_col=vec_col,
                sample_fraction=sample_fraction,
            )
            index = _ivf.build_ivf_index(
                candidates, centroids, id_col=id_col, vec_col=vec_col
            )
            if index_path is not None:
                _ivf.save_ivf_index(index, centroids, index_path)
                index, centroids = _ivf.load_ivf_index(
                    candidates.sparkSession, index_path
                )
        return _ivf.ann_ivf_topk(
            index, queries, centroids, k=k, nprobe=nprobe,
            id_col=id_col, vec_col=vec_col, prune_lists=prune_lists,
        )
    if method == "exact":
        dim = kwargs.pop("dim", None)  # None -> probed from the data
        if kwargs:
            raise TypeError(
                f"ann_topk(method='exact') accepts only 'dim'; got {sorted(kwargs)}"
            )
        return _sim.ann_bruteforce_topk(
            candidates, queries, k=k, id_col=id_col, vec_col=vec_col, dim=dim
        )
    raise ValueError(f"unknown ANN method: {method!r} (auto|lsh|ivf|exact)")


# ------------------------------------------------------------ kNN label vote


def knn_label_vote(
    labeled: DataFrame,
    unlabeled: DataFrame,
    method: str = "ivf",
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    **kwargs,
) -> DataFrame:
    """kNN majority-vote labeling with a swappable candidate stage.

    The vote (``similarity.label_vote``: per-(query,label) count +
    per-query argmax) is IDENTICAL for every method — only the neighbor
    search changes:

    - ``ivf`` (default): k-means inverted lists, each query scans
      ~nprobe/train_k of the labeled corpus — the 100 TB path. Options
      forward to ``ann_topk(method="ivf")`` (train_k, iters, nprobe,
      sample_fraction); full-probe (nprobe=train_k) reproduces the exact
      vote bit-for-bit (pinned in tests/test_round8_ops.py).
    - ``lsh``: sign-LSH buckets, one bucket-id equi-join.
    - ``exact``: brute-force scan (``similarity.knn_label_vote``) — the
      oracle-checkable ground truth that bounds both approximations;
      O(|corpus| * |Q|), validation use only at scale.

    All paths are cartesian-free: candidates ship through equi-joins
    (bucket id / centroid id) or a broadcast of the bounded query set.

    Coverage contract: the approximate stages can produce ZERO
    candidates for a query (an LSH bucket with no labeled co-occupant;
    an IVF probe landing only on empty lists). Those queries are still
    emitted — ``pred_label`` NULL, ``votes`` 0 — never silently
    dropped; ``k_used`` is always the REQUESTED k, the per-query vote
    support is ``votes``.
    """
    if method == "exact":
        dim = kwargs.pop("dim", None)
        if kwargs:
            raise TypeError(
                f"knn_label_vote(method='exact') accepts only 'dim'; "
                f"got {sorted(kwargs)}"
            )
        return _sim.knn_label_vote(
            labeled, unlabeled, k=k, id_col=id_col, vec_col=vec_col,
            label_col=label_col, dim=dim,
        )
    if method not in ("ivf", "lsh"):
        raise ValueError(
            f"unknown kNN label-vote method: {method!r} (ivf|lsh|exact)"
        )
    neigh = ann_topk(
        labeled, unlabeled, method=method, k=k,
        id_col=id_col, vec_col=vec_col, **kwargs,
    )
    return _sim.label_vote(
        neigh, labeled, k=k, id_col=id_col, label_col=label_col,
        all_queries=unlabeled,
    )


def ivf_index_dir(sf_dir: str, tag: str) -> str:
    """Fingerprint-keyed on-disk location for a persisted IVF index (under
    the gitignored spark-warehouse/). The key includes the corpus parquet's
    (mtime, size) — regenerated data under the same path gets a fresh
    index, never a stale one (same contract as pq._corpus_key memos)."""
    import hashlib
    import os

    from m12_kafkastreams_python_azure_spark.operators.pq import _corpus_key

    digest = hashlib.sha256(repr((tag, _corpus_key(sf_dir))).encode()).hexdigest()[:16]
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return os.path.join(repo, "spark-warehouse", "ivf_index", digest)


def q_knn_label_vote_ivf(spark, sf_dir: str) -> DataFrame:
    """The PRODUCTION spelling of kNN labeling: IVF candidate stage
    feeding the shared vote. Bench/scale entry — approximate by design,
    so no oracle; correctness is bounded by the oracle-checked exact
    twin ``knn_label_vote`` plus the full-probe == exact parity test
    (test_round8_ops.py).

    Full index lifecycle (closes the r08 scale caveat, api.py history:
    8.3x per 10x data on a FIXED 64-list index retrained per call):

    - list count derives from the corpus — ceil(sqrt(n)) lists
      (``ivf.default_train_k``), so the prune ratio nprobe/k tightens as
      the corpus grows instead of decaying toward a full scan;
    - the index is built ONCE per corpus fingerprint, persisted
      partitioned by centroid_id (``ivf.save_ivf_index``), and every
      later call LOADS it — the measured cost is the true query path
      (probe + vote), as for a real user, not train+assign+probe.

    Labeling every 10th vector keeps the query set corpus-proportional
    (the exact twin's contract); per-query scored candidates are
    nprobe * n/sqrt(n) = nprobe * sqrt(n). Probe breadth is
    DEMAND-derived, not corpus-derived — ``ivf.default_nprobe(k)`` =
    ceil(sqrt(k)) lists (VERDICT r09 #7): each probed list yields
    ~sqrt(n) candidates, so k is covered by the nearest list alone and
    the extra lists only guard Voronoi-boundary queries; the r09
    fixed nprobe=8 was paying double for candidates the vote never
    needed (22-23% slower at both sf0.1 and sf1, coverage identical)."""
    from m12_kafkastreams_python_azure_spark.operators.ivf import default_nprobe
    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    unlabeled = emb.filter(F.col("vec_id") % 10 == 0)
    labeled = emb.filter(F.col("vec_id") % 10 != 0)
    k = 10
    return knn_label_vote(
        labeled, unlabeled, method="ivf", k=k, nprobe=default_nprobe(k),
        index_path=ivf_index_dir(sf_dir, "knn_label_vote_ivf"),
    )


# ------------------------------------------- IVF vote agreement bound

# Tripwire floors for the oracle-checked agreement row. With 10 balanced
# labels, chance agreement is ~0.10 and a broken candidate stage scores
# ~chance (or coverage 0): measured label agreement at default nprobe is
# 0.54 / 0.28 / 0.25 at sf0.001 / sf0.01 / sf0.1 — comfortably above the
# floor at every tier, and any regression that breaks the IVF probe,
# the vote join, or the coverage contract trips a flag to FALSE and
# hash-mismatches the oracle's TRUE.
KNN_IVF_AGREEMENT_FLOOR = 0.18
KNN_IVF_COVERAGE_FLOOR = 0.95


def knn_ivf_agreement(
    labeled: DataFrame,
    unlabeled: DataFrame,
    k: int = 10,
    agreement_floor: float = KNN_IVF_AGREEMENT_FLOOR,
    coverage_floor: float = KNN_IVF_COVERAGE_FLOOR,
    **ivf_kwargs,
) -> DataFrame:
    """Bound the IVF-approximate kNN vote against the exact twin IN the
    query output (VERDICT r10 #6): run both candidate stages through the
    shared vote, join on query_id, and emit ONE summary row —
    ``(n_queries, k_used, agreement_ok, coverage_ok)`` — whose flag
    columns assert the committed floors. The DuckDB oracle computes
    ``n_queries`` for real (count of the unlabeled split) and predicts
    the flags as literal TRUE, so the driver's value hash goes red the
    moment IVF agreement or coverage regresses below floor. This is the
    SQL-expressible spelling of the bound that previously lived only in
    pytest (full-probe == exact parity + recall tests).

    VALIDATION query by design: it embeds the exact brute-force scan
    (O(|corpus|*|Q|)) next to the IVF path, so it belongs at audit
    scale, not on the 100 TB hot path — the production spelling stays
    ``knn_label_vote(method="ivf")``, bench-only, quadratic-free."""
    from m12_kafkastreams_python_azure_spark.operators.ivf import default_nprobe

    ivf_kwargs.setdefault("nprobe", default_nprobe(k))
    ivf = knn_label_vote(labeled, unlabeled, method="ivf", k=k, **ivf_kwargs)
    exact = knn_label_vote(labeled, unlabeled, method="exact", k=k)
    j = exact.select(
        "query_id", F.col("pred_label").alias("exact_label")
    ).join(
        ivf.select("query_id", F.col("pred_label").alias("ivf_label")),
        "query_id",
        "left",
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.lit(k).cast("int").alias("k_used"),
        (
            # coalesce: a query the IVF stage missed (NULL pred) must
            # COUNT as disagreement, not be dropped from the average
            F.avg(
                F.coalesce(
                    F.col("ivf_label") == F.col("exact_label"), F.lit(False)
                ).cast("double")
            )
            >= F.lit(float(agreement_floor))
        ).alias("agreement_ok"),
        (
            F.avg(F.col("ivf_label").isNotNull().cast("double"))
            >= F.lit(float(coverage_floor))
        ).alias("coverage_ok"),
    )


def q_knn_ivf_agreement(spark, sf_dir: str) -> DataFrame:
    """Driver row for the IVF vote bound: same corpus split as the
    production spelling (every 10th vector queries, the rest labeled),
    same persisted index."""
    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    unlabeled = emb.filter(F.col("vec_id") % 10 == 0)
    labeled = emb.filter(F.col("vec_id") % 10 != 0)
    return knn_ivf_agreement(
        labeled,
        unlabeled,
        k=10,
        index_path=ivf_index_dir(sf_dir, "knn_label_vote_ivf"),
    )


ORACLE_KNN_IVF_AGREEMENT = """
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(10 AS INTEGER) AS k_used,
       TRUE AS agreement_ok,
       TRUE AS coverage_ok
FROM embeddings
WHERE vec_id % 10 = 0
"""
