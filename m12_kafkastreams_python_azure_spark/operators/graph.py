"""Connected components over near-duplicate pairs — dedup CLUSTERING.

LSH/Jaccard dedup produces PAIRS; production dedup needs transitive
CLUSTERS (a~b, b~c => {a,b,c} keep one). That is connected components, an
iterative algorithm Spark has no built-in for (no recursive CTE either) —
the idiomatic implementation is driver-coordinated label propagation, the
same loop GraphX/GraphFrames runs:

    label(v) <- min(label(v), min over neighbors' labels); repeat.

Plain propagation needs O(diameter) rounds; we interleave **pointer
jumping** (label <- label of label) which contracts paths geometrically,
giving O(log n) rounds on chains — the difference between 5 and 500
shuffles on a 100 TB pair set. Convergence is checked with a count of
changed labels per round (one small action per iteration; the per-round
DataFrames are checkpoint-free because lineage depth is bounded by the
iteration cap).

The DuckDB oracle spells the same fixpoint as a recursive CTE (transitive
closure + min), so the whole iterative computation is value-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .dedup import jaccard, shingles


def connected_components(
    edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """(src, dst) undirected edges -> (id, component) with component = min
    node id in the component. Nodes are whatever appears in the edge set."""
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nodes = sym.select(F.col("src").alias("id")).distinct()
    # localCheckpoint truncates lineage each round — without it the nested
    # join plan deepens every iteration and the analyzer stack-overflows on
    # long chains (same reason every iterative Spark algorithm checkpoints).
    labels = nodes.select("id", F.col("id").alias("comp")).localCheckpoint()
    sym = sym.persist()
    sym.count()
    for _ in range(max_iter):
        # propagate: best neighbor label per node
        neigh = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("comp").alias("ncomp"))
        )
        prop = (
            labels.join(neigh, labels.id == neigh.src, "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))
                ).alias("comp"),
            )
        )
        # pointer jump: comp <- comp's comp (path halving)
        l2 = prop.select(F.col("id").alias("jid"), F.col("comp").alias("jcomp"))
        jumped = (
            prop.join(l2, prop.comp == l2.jid, "left")
            .select(
                "id",
                F.coalesce(F.col("jcomp"), F.col("comp")).alias("comp"),
            )
            .localCheckpoint()
        )
        changed = (
            jumped.join(
                labels.withColumnRenamed("comp", "old"), "id"
            )
            .filter(F.col("comp") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    sym.unpersist()
    return labels


def dedup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    prefix_len: int = 20,
) -> DataFrame:
    """Cluster documents into transitive near-dup groups: candidate pairs
    from a deterministic prefix-bucket blocking (docs sharing their first
    ``prefix_len`` chars — an oracle-expressible stand-in for LSH banding),
    verified with exact 3-gram Jaccard, then connected components; one
    keeper per cluster (min doc_id) with the cluster size."""
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.substring(F.col(text_col), 1, prefix_len).alias("pfx"),
        shingles(F.col(text_col)).alias("sh"),
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("pfx"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("pfx"), F.col("sh").alias("sh_b"))
    pairs = (
        a.join(b, "pfx")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(jaccard(F.col("sh_a"), F.col("sh_b")) >= jaccard_threshold)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    comps = connected_components(pairs)
    return (
        comps.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .select(F.col("comp").alias("keep_doc_id"), "cluster_size")
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_clusters(load_table(spark, sf_dir, "documents"))


# The oracle spells the same fixpoint as a recursive CTE: reach = transitive
# closure over symmetrized edges; component label = min reachable id.
# _DUCK_SHINGLES comes from dedup.py (same shingle construction).
from .dedup import _DUCK_SHINGLES  # noqa: E402

ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, substr(text, 1, 20) AS pfx,
         {_DUCK_SHINGLES.format(t='text')} AS s
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM sh a JOIN sh b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5
),
edges AS (
  SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
),
nodes AS (
  SELECT DISTINCT src AS id FROM edges
),
reach(a, b) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
comp AS (
  SELECT a AS id, min(b) AS comp FROM reach GROUP BY a
)
SELECT comp AS keep_doc_id, count(*) AS cluster_size
FROM comp GROUP BY comp
"""


# ------------------------------------------------------------------ pagerank


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (every node must
    have at least one out-edge — feed a symmetrized edge set for undirected
    graphs, which also eliminates dangling-mass redistribution).

    Spark shape per iteration: one join (ranks onto edges, rank/degree
    pre-divided so only a scalar rides the shuffle) + one groupBy(dst) sum —
    the standard two-shuffle PageRank round. Lineage grows linearly in
    ``iters``; for large iteration counts callers should localCheckpoint
    every few rounds (the fixed default of 3 keeps plans small).

    Returns (node, rank) for ALL nodes, rank rounded to 6 decimals. A node
    with no in-edges keeps the teleport floor (1-d)/N each round; given the
    out-edge precondition, total mass stays exactly 1.
    """
    from .dedup import register_parallel_cache, release_parallel_caches

    # The edge list (and its degree table) is read by EVERY iteration's
    # join — without a cache the upstream scan/distinct/union would
    # re-execute once per occurrence in the final plan (~2x per round).
    # Registered in the shared cache registry so the next operator
    # invocation (or release_parallel_caches) frees the blocks; released
    # on entry so repeated pagerank calls don't accumulate cached blocks.
    release_parallel_caches()
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).persist()
    register_parallel_cache(e)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
    register_parallel_cache(deg)
    # nodes joins into every round (teleport-floor retention) — persist so
    # the distinct doesn't recompute per plan occurrence
    nodes = e.select(F.col("src").alias("node")).distinct().persist()
    register_parallel_cache(nodes)
    n = nodes.count()  # one small driver scalar; the iteration stays lazy
    if n == 0:
        raise ValueError(
            "pagerank: empty edge set (an upstream filter produced no edges)"
        )
    base = (1.0 - damping) / n

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iters):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .join(deg, "src")
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("c_sum"))
        # LEFT join back onto the full node set: a node that received no
        # contributions this round keeps the teleport floor instead of
        # silently vanishing from the rank table (which would also leak
        # its outgoing mass out of every later round).
        ranks = nodes.join(summed, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("c_sum"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def q_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank on the bipartite supplier<->part graph from lineitem
    (symmetrized, so no dangling nodes), 3 iterations — the oracle-checked
    iterative-algorithm surface beyond connected components. The DuckDB
    oracle unrolls the same three rounds as chained CTEs; identical
    damping arithmetic, values rounded to 6."""
    li = load_table(spark, sf_dir, "lineitem")
    sp = li.select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    ).distinct()
    edges = sp.union(
        sp.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank(edges, iters=3)


ORACLE_PAGERANK_PARTS = """
WITH e0 AS (
  SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM lineitem
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
), deg AS (
  SELECT src, count(*) AS d FROM edges GROUP BY src
), nn AS (
  SELECT count(DISTINCT src) AS n FROM edges
), r0 AS (
  SELECT src AS node, 1.0 / (SELECT n FROM nn) AS rank FROM (SELECT DISTINCT src FROM edges)
), r1 AS (
  SELECT e.dst AS node,
         0.15 / (SELECT n FROM nn) + 0.85 * sum(r.rank / deg.d) AS rank
  FROM edges e JOIN r0 r ON e.src = r.node JOIN deg ON e.src = deg.src
  GROUP BY e.dst
), r2 AS (
  SELECT e.dst AS node,
         0.15 / (SELECT n FROM nn) + 0.85 * sum(r.rank / deg.d) AS rank
  FROM edges e JOIN r1 r ON e.src = r.node JOIN deg ON e.src = deg.src
  GROUP BY e.dst
), r3 AS (
  SELECT e.dst AS node,
         0.15 / (SELECT n FROM nn) + 0.85 * sum(r.rank / deg.d) AS rank
  FROM edges e JOIN r2 r ON e.src = r.node JOIN deg ON e.src = deg.src
  GROUP BY e.dst
)
SELECT node, ROUND(rank, 6) AS rank FROM r3
"""


# --------------------------------------------------------- dedup + keep-best


def dedup_keep_best(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    prefix_len: int = 20,
    method: str = "prefix",
) -> DataFrame:
    """The near-dup stage a curation pipeline actually runs END TO END:
    cluster transitive near-duplicates, then keep ONE document per
    cluster — the highest ``quality_score`` (tie -> min id), not the
    arbitrary min-id keeper plain dedup uses. Documents in no cluster
    keep themselves (cluster = own id, size 1). Output:
    (doc_id, cluster, cluster_size, quality_score) — the curated keep
    list.

    ``method="prefix"`` (default, oracle-checkable): deterministic
    prefix-bucket blocking + exact 3-gram Jaccard, the same candidate
    stage as ``dedup_clusters``. ``method="minhash"``: the 100 TB
    candidate stage (``dedup.minhash_near_dup_pairs`` — banded LSH,
    exact-Jaccard verify, collapse pre-pass) feeding the IDENTICAL
    CC + argmax tail, so swapping in the scale path cannot change the
    keep semantics, only candidate recall.

    Scale shape: pairs are bucketed equi-joins (never all-pairs); CC is
    the pointer-jumping fixpoint; the keep step is one quality window
    per cluster — state bounded by cluster size, keyed on cluster id
    (uniform unless the corpus is one giant near-dup family, which the
    mega-bucket star guard linearizes upstream)."""
    from m12_kafkastreams_python_azure_spark.functions.text import (
        quality_score_cols,
    )

    if method == "minhash":
        from .dedup import minhash_near_dup_pairs

        pairs = minhash_near_dup_pairs(
            docs, text_col, id_col, jaccard_threshold=jaccard_threshold
        ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    elif method == "prefix":
        from m12_kafkastreams_python_azure_spark.sources.readers import (
            register_parallel_cache,
        )

        # persisted: both self-join sides consume the shingle table and
        # Spark has no cross-subtree CSE — unpersisted, the zip-with
        # shingle construction runs twice over the corpus (same-process
        # A/B: sf0.1 4.48 -> 2.69 s, sf1 12.2 -> 8.6 s)
        sh = docs.select(
            F.col(id_col).alias("id"),
            F.substring(F.col(text_col), 1, prefix_len).alias("pfx"),
            shingles(F.col(text_col)).alias("sh"),
        ).persist()
        register_parallel_cache(sh)
        pairs = prefix_bucket_pairs(sh, jaccard_threshold).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
    else:
        raise ValueError(f"unknown dedup_keep_best method: {method!r} (prefix|minhash)")
    scored = docs.select(
        F.col(id_col).alias("id"),
        quality_score_cols(F.col(text_col))["quality_score"].alias("q"),
    )
    return keep_best_per_cluster(pairs, scored)


def _bucket_join(sigs_a: DataFrame, sigs_b: DataFrame) -> DataFrame:
    """(id, pfx, sh) signature rows of two tables that share a blocking
    prefix, as (pfx, id_a, sh_a, id_b, sh_b)."""
    a = sigs_a.select(F.col("id").alias("id_a"), "pfx", F.col("sh").alias("sh_a"))
    b = sigs_b.select(F.col("id").alias("id_b"), "pfx", F.col("sh").alias("sh_b"))
    return a.join(b, "pfx")


def _jaccard_at_least(threshold: float) -> Column:
    return jaccard(F.col("sh_a"), F.col("sh_b")) >= threshold


def prefix_bucket_pairs(sigs: DataFrame, jaccard_threshold: float) -> DataFrame:
    """The near-dup pairs (id_a < id_b) within one (id, pfx, sh)
    signature table: same blocking prefix, exact shingle Jaccard at
    least ``jaccard_threshold``."""
    return (
        _bucket_join(sigs, sigs)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(_jaccard_at_least(jaccard_threshold))
        .select("id_a", "id_b")
    )


def prefix_bucket_cross_pairs(
    new: DataFrame, old: DataFrame, jaccard_threshold: float
) -> DataFrame:
    """The ``prefix_bucket_pairs`` rule for the pairs with one endpoint in
    each table, each ordered as (smaller id, larger id)."""
    return (
        _bucket_join(new, old)
        .filter(_jaccard_at_least(jaccard_threshold))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
    )


def keep_best_per_cluster(pairs: DataFrame, scored: DataFrame) -> DataFrame:
    """The keep-best tail: connected components over the (src, dst)
    near-dup edges, then per cluster the highest-quality doc of the
    (id, q) table (tie -> min id); a doc in no edge is its own cluster.
    Output (doc_id, cluster, cluster_size, quality_score)."""
    from pyspark.sql import Window

    comps = connected_components(pairs)
    labeled = scored.join(comps, "id", "left").select(
        "id", F.coalesce("comp", F.col("id")).alias("cluster"), "q"
    )
    size_w = Window.partitionBy("cluster")
    rank_w = Window.partitionBy("cluster").orderBy(F.desc("q"), F.asc("id"))
    return (
        labeled.withColumn("cluster_size", F.count(F.lit(1)).over(size_w))
        .withColumn("_rn", F.row_number().over(rank_w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("id").alias("doc_id"),
            "cluster",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.round("q", 6).alias("quality_score"),
        )
    )


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_keep_best(load_table(spark, sf_dir, "documents"))


def _oracle_dedup_keep_best() -> str:
    from m12_kafkastreams_python_azure_spark.functions.text import (
        quality_score_sql,
    )

    q = quality_score_sql("text")["quality_score"]
    return f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, substr(text, 1, 20) AS pfx,
         {_DUCK_SHINGLES.format(t='text')} AS s
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM sh a JOIN sh b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5
),
edges AS (
  SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
),
nodes AS (
  SELECT DISTINCT src AS id FROM edges
),
reach(a, b) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
comp AS (
  SELECT a AS id, min(b) AS comp FROM reach GROUP BY a
),
scored AS (
  SELECT doc_id AS id, {q} AS q FROM documents
),
labeled AS (
  SELECT s.id, COALESCE(c.comp, s.id) AS cluster, s.q
  FROM scored s LEFT JOIN comp c USING (id)
)
SELECT id AS doc_id, cluster,
       CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size,
       ROUND(q, 6) AS quality_score
FROM labeled
QUALIFY row_number() OVER (PARTITION BY cluster ORDER BY q DESC, id) = 1
"""


ORACLE_DEDUP_KEEP_BEST = _oracle_dedup_keep_best()
