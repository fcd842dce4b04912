"""Product-quantization (PQ) approximate nearest neighbor — the
compressed-domain ANN layout (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011; the Faiss ``PQ`` index family).

Why it matters at 100 TB: the raw ``embedding`` column is ``dim * 4``
bytes/row; the PQ code is ``m`` bytes/row (16x smaller at dim=64, m=16).
The ANN scan then reads ONLY the code column — a column-pruned parquet
scan of bytes, not vectors — and scores each candidate with ``m`` table
lookups instead of a ``dim``-wide dot product. Composes with the IVF
coarse quantizer in ``ivf.py`` (probe lists first, ADC-score inside the
probed lists) exactly like Faiss ``IVFPQ``.

Spark-first shape, mirroring ``ivf.py``:

- **Train** (all ``m`` codebooks in ONE k-means loop): vectors are
  L2-normalized (so L2 distance is cosine-monotone: ||q-x||^2 = 2-2cos),
  sliced into ``m`` subvectors, and exploded to (vec_id, sub_id, subvec)
  rows; assignment is a per-row argmin against the sub_id's codebook
  (one narrow pass for ALL subspaces), the Lloyd update one small
  groupBy(sub_id, cid, pos) shuffle. Seeds = the ``ksub`` lowest-id
  vectors' slices — deterministic, no RNG.
- **Encode**: one narrow pass -> ``array<int>`` of ``m`` codes.
- **Query (ADC)**: each query precomputes its m x ksub lookup table of
  partial squared distances ONCE; candidates are scored by summing ``m``
  table lookups selected by their code bytes. Queries (tiny) broadcast;
  the corpus-side scan never shuffles. Exact re-rank of the top
  ``rerank`` ADC candidates restores near-exact top-k (the standard
  PQ + re-rank pipeline).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from m12_kafkastreams_python_azure_spark.functions.vectors import (
    dot_product_unrolled,
    double_array_lit,
    l2_norm,
)
from m12_kafkastreams_python_azure_spark.operators.similarity import _probe_dim
from m12_kafkastreams_python_azure_spark.sources.readers import load_table

PQ_M = 16      # subspaces
PQ_KSUB = 16   # centroids per subspace (4-bit codes)


def _normalize(vec: Column) -> Column:
    """L2-normalize to double precision (guarded against zero vectors).

    Capture-free form: the inverse norm rides in as a ``zip_with``
    ARGUMENT (``array_repeat(inv, size)``), evaluated once per row — a
    ``transform`` lambda capturing ``l2_norm(vec)`` would re-run the full
    64-element norm fold once PER ELEMENT (the lambda-capture trap; it
    made this exact expression ~64x slower)."""
    n = l2_norm(vec)
    inv = F.lit(1.0) / F.when(n > 0, n).otherwise(F.lit(1.0))
    return F.zip_with(
        vec, F.array_repeat(inv, F.size(vec)), lambda x, r: x.cast("double") * r
    )


def _sub_slices(vec: Column, m: int, dsub: int) -> Column:
    """array<array<double>> of the m subvectors of a (normalized) vector.

    ``vec`` (typically the whole ``_normalize`` tree) sits in HOF-ARGUMENT
    position via ``array_repeat``, so it is evaluated exactly ONCE per row
    and each subspace slices the materialized copy — the transform-over-
    sequence spelling would re-evaluate the captured normalize tree once
    per subspace (m x the whole fold; measured: the naive normalize+slice
    pair cost ~29 s for a 2k x 64 count that now runs in well under a
    second)."""
    return F.zip_with(
        F.array_repeat(vec, m),
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda nv, j: F.slice(nv, j * dsub + 1, dsub),
    )


def _l2sq(a: Column, b: Column) -> Column:
    d = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x)


def _codebook_lit(codebooks: list[list[list[float]]]) -> Column:
    """All m codebooks as ONE FLAT literal array<double> (row-major:
    [(j*ksub + c)*dsub + d]), built in a few JVM calls
    (``double_array_lit``). ``F.lit`` of the list is not one node: it
    costs round trips and one tree node per double, ~0.7 s of driver
    time per job at 1024 doubles (a nested array<array<array<double>>>
    ``F.lit`` measured ~2 s) — and every Lloyd iteration, encode, and ADC
    query is its own job. Consumers slice centroid vectors out
    arithmetically; a literal captured by a lambda is FREE to
    re-reference (its eval returns the value — no tree to re-run), unlike
    the captured expression trees the lambda-capture trap punishes."""
    return double_array_lit(
        [x for book in codebooks for cvec in book for x in cvec]
    )


def _centroid_slice(flat: Column, j, c, ksub: int, dsub: int) -> Column:
    """codebook[j][c] out of the flat literal (j, c may be Columns)."""
    return F.slice(flat, (j * ksub + c) * dsub + 1, dsub)


def _argmin_code(sv: Column, flat: Column, j, ksub: int, dsub: int) -> Column:
    """argmin-L2 centroid id of subvector ``sv`` within subspace ``j``."""
    return F.array_min(
        F.transform(
            F.sequence(F.lit(0), F.lit(ksub - 1)),
            lambda c: F.struct(
                _l2sq(sv, _centroid_slice(flat, j, c, ksub, dsub)).alias("dist"),
                c.alias("cid"),
            ),
        )
    )["cid"]


def _assign_codes(df: DataFrame, codebooks: list[list[list[float]]],
                  vec_col: str, m: int, dsub: int) -> DataFrame:
    """Add ``codes``: array<int> of per-subspace argmin-L2 centroid ids.
    Narrow — no shuffle; all m assignments in one pass."""
    flat = _codebook_lit(codebooks)
    ksub = len(codebooks[0])
    subs = _sub_slices(_normalize(F.col(vec_col)), m, dsub)
    codes = F.zip_with(
        subs,
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda sv, j: _argmin_code(sv, flat, j, ksub, dsub),
    )
    return df.withColumn("codes", codes)


def train_pq(
    df: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> list[list[list[float]]]:
    """Train all m sub-codebooks jointly: one exploded (vec_id, sub_id,
    subvec) frame, ``iters`` Lloyd rounds of [narrow argmin assignment ->
    one groupBy(sub_id, cid, pos) shuffle of k*dim partial means]. Only
    m*ksub*dsub aggregated doubles ever reach the driver. Deterministic:
    seeds are the ksub lowest-id vectors' slices; empty clusters keep
    their previous centroid."""
    if dim is None:
        dim = _probe_dim(df, vec_col)
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    seed_rows = df.orderBy(id_col).limit(ksub).select(vec_col).collect()
    if len(seed_rows) < ksub:
        raise ValueError(f"need >= ksub={ksub} vectors, have {len(seed_rows)}")
    seed_vecs = []
    for r in seed_rows:
        v = [float(x) for x in r[0]]
        n = sum(x * x for x in v) ** 0.5 or 1.0
        seed_vecs.append([x / n for x in v])
    codebooks = [
        [seed_vecs[c][j * dsub:(j + 1) * dsub] for c in range(ksub)]
        for j in range(m)
    ]
    subs = df.select(
        F.posexplode(
            _sub_slices(_normalize(F.col(vec_col)), m, dsub)
        ).alias("sub_id", "subvec")
    ).persist()
    subs.count()  # pin across the Lloyd iterations (each runs 1 job)
    for _ in range(iters):
        flat = _codebook_lit(codebooks)
        assigned = subs.withColumn(
            "cid",
            _argmin_code(F.col("subvec"), flat, F.col("sub_id"), ksub, dsub),
        )
        rows = (
            assigned.select("sub_id", "cid", F.posexplode("subvec").alias("pos", "x"))
            .groupBy("sub_id", "cid", "pos")
            .agg(F.avg("x").alias("mval"))
            .groupBy("sub_id", "cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mval"))).alias("pm"))
            .select("sub_id", "cid", F.transform("pm", lambda s: s["mval"]).alias("cvec"))
            .collect()
        )
        for r in rows:
            codebooks[r["sub_id"]][r["cid"]] = [float(x) for x in r["cvec"]]
    subs.unpersist()
    return codebooks


def encode_pq(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes): the 16x-compressed index representation. At scale this
    is what you persist (and all the ADC scan ever reads)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    return _assign_codes(df, codebooks, vec_col, m, dsub).select(
        F.col(id_col).alias("neighbor_id"), "codes"
    )


def ann_pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    raw: DataFrame,
    k: int = 5,
    rerank: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """ADC scan + exact re-rank.

    Stage 1 (compressed domain): each query's m x ksub ADC table is
    computed once on the (tiny, broadcast) query side; every candidate is
    scored by m table lookups on its code bytes — the corpus side reads
    ONLY ``codes``. Top ``rerank`` per query survive.
    Stage 2 (exact): the <= queries*rerank survivors join back to the raw
    vectors (broadcast of the survivor ids) for an exact-cosine top-k —
    the output ranks are exact similarities over the PQ candidate set."""
    if dim is None:
        dim = _probe_dim(raw, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _adc_table(F.col(vec_col), codebooks).alias("adc"),
    )
    approx = (
        encoded.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adist", _adc_dist(F.col("codes"), F.col("adc")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("neighbor_id"))
    cand = (
        approx.withColumn("arank", F.row_number().over(w))
        .filter(F.col("arank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(cand, queries, raw, k, dim, id_col, vec_col)


def _adc_table(vec: Column, codebooks: list[list[list[float]]]) -> Column:
    """Per-query m x ksub ADC lookup table:
    adc[j][c] = ||q_sub_j - codebook[j][c]||^2."""
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    flat = _codebook_lit(codebooks)
    qsubs = _sub_slices(_normalize(vec), m, dsub)
    return F.zip_with(
        qsubs,
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda sv, j: F.transform(
            F.sequence(F.lit(0), F.lit(ksub - 1)),
            lambda c: _l2sq(sv, _centroid_slice(flat, j, c, ksub, dsub)),
        ),
    )


def _adc_dist(codes: Column, adc: Column) -> Column:
    """Approximate squared distance: sum of m table lookups by code."""
    return F.aggregate(
        F.zip_with(codes, adc, lambda code, row: F.element_at(row, code + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _exact_rerank(
    cand: DataFrame,
    queries: DataFrame,
    raw: DataFrame,
    k: int,
    dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact-cosine top-k over the bounded (query_id, neighbor_id)
    candidate set. Query vectors come from the QUERIES frame (tiny by the
    ANN contract — broadcast), so external query vectors absent from the
    corpus still score instead of silently vanishing; neighbor vectors
    come from ``raw`` via an UNHINTED join — the candidate side is
    queries*rerank rows, so AQE broadcasts it from runtime stats, and the
    corpus-side vector table is never broadcast (at 100 TB a forced
    broadcast of it would OOM the driver — the anti-pattern the near-dup
    verify joins also avoid)."""
    nb = raw.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        l2_norm(F.col(vec_col)).alias("cnorm"),
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("qnorm"),
    )
    scored = (
        cand.join(nb, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "sim",
            # try_divide: zero-norm rows rank last (NULL sim) instead of
            # raising an ANSI divide-by-zero
            F.try_divide(
                dot_product_unrolled(F.col("qvec"), F.col("cvec"), dim),
                F.col("qnorm") * F.col("cnorm"),
            ),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


#: train-once memo per corpus FINGERPRINT. A PQ codebook is an OFFLINE
#: artifact (Faiss trains once and serializes it; queries only encode +
#: ADC-scan) — retraining on every query call would mis-charge the query
#: path with index-build cost. Training is deterministic (test_pq pins
#: it), so the memoized value is bit-identical to a retrain. The key
#: includes the parquet file's (mtime_ns, size), not just the dir path,
#: so regenerating data under the same path in-process invalidates the
#: memo instead of serving stale codebooks.
_CODEBOOKS: dict[tuple, list[list[list[float]]]] = {}


def _corpus_key(sf_dir: str, table: str = "embeddings") -> tuple:
    import glob as _glob
    import os as _os

    path = _os.path.join(sf_dir, f"{table}.parquet")
    paths = sorted(_glob.glob(_os.path.join(path, "*.parquet"))) \
        if _os.path.isdir(path) else [path]
    sig = []
    for p in paths:
        try:
            st = _os.stat(p)
            sig.append((p, st.st_mtime_ns, st.st_size))
        except OSError:
            sig.append((p, None, None))
    return (sf_dir, tuple(sig))


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN top-5 for the first 8 vectors (rows-only driver check —
    approximate by design; recall vs the exact baseline is asserted in
    tests/test_pq.py, and the exact twin ``ann_topk`` is oracle-green)."""
    emb = load_table(spark, sf_dir, "embeddings")
    mkey = _corpus_key(sf_dir)
    codebooks = _CODEBOOKS.get(mkey)
    if codebooks is None:
        codebooks = _CODEBOOKS[mkey] = train_pq(emb)
    encoded = encode_pq(emb, codebooks)
    return ann_pq_topk(
        encoded, emb.filter(F.col("vec_id") < 8), codebooks, emb, k=5, rerank=64
    )


# ------------------------------------------------------------------ IVF + PQ


def build_ivfpq_index(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(neighbor_id, centroid_id, codes): the Faiss-IVFPQ index layout —
    each vector carries its inverted-list id (coarse quantizer) and its
    16x-compressed PQ code. At scale persist with
    ``.write.partitionBy("centroid_id")``: a probe then prunes FILES, and
    the ADC scan reads only the (bytes-wide) code column of the probed
    lists."""
    from m12_kafkastreams_python_azure_spark.operators.ivf import _assign

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    coded = _assign_codes(df, codebooks, vec_col, m, dsub)
    return _assign(coded, centroids, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "centroid_id", "codes"
    )


def ann_ivfpq_topk(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    raw: DataFrame,
    k: int = 5,
    nprobe: int = 8,
    rerank: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF-pruned ADC scan + exact re-rank (Faiss ``IVFPQ`` in DataFrame
    form). Each query probes its ``nprobe`` closest inverted lists
    (coarse-quantizer argmax, computed on the broadcast query side along
    with the per-query ADC table), so the compressed scan touches
    ~nprobe/k_coarse of the corpus via an EQUI-join on centroid_id — no
    cross join anywhere in this path, unlike the flat-PQ scan. Survivors
    re-rank exactly against the raw vectors."""
    from m12_kafkastreams_python_azure_spark.operators.ivf import _centroid_array
    from m12_kafkastreams_python_azure_spark.functions.vectors import dot_product

    if dim is None:
        dim = _probe_dim(raw, vec_col)
    carr = _centroid_array(centroids)
    vec = F.col(vec_col)
    # ranking-only centroid score: ||q|| constant across centroids (same
    # argmax; same reasoning as ivf._assign)
    scored_centroids = F.transform(
        carr,
        lambda c: F.struct(
            (dot_product(vec, c["cvec"]) / c["cnorm"]).alias("sim"),
            c["cid"].alias("cid"),
        ),
    )
    probes = F.slice(
        F.array_sort(
            scored_centroids,
            lambda a, b: F.when(a["sim"] > b["sim"], -1)
            .when(a["sim"] < b["sim"], 1)
            .otherwise(0),
        ),
        1,
        nprobe,
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _adc_table(vec, codebooks).alias("adc"),
        F.explode(F.transform(probes, lambda p: p["cid"])).alias("centroid_id"),
    )
    approx = (
        index.join(F.broadcast(q), on="centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adist", _adc_dist(F.col("codes"), F.col("adc")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id")
    )
    cand = (
        approx.withColumn("arank", F.row_number().over(w))
        .filter(F.col("arank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(cand, queries, raw, k, dim, id_col, vec_col)


#: train-once memo for the coarse quantizer, same contract as _CODEBOOKS
#: (fingerprint-keyed — see _corpus_key).
_IVF_CENTROIDS: dict[tuple, list[tuple[int, list[float]]]] = {}


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ ANN top-5 for the first 8 vectors (rows-only driver check —
    approximate by design; recall floor vs the exact baseline asserted in
    tests/test_pq.py; exact twin ``ann_topk`` is oracle-green)."""
    from m12_kafkastreams_python_azure_spark.operators.ivf import train_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    mkey = _corpus_key(sf_dir)
    codebooks = _CODEBOOKS.get(mkey)
    if codebooks is None:
        codebooks = _CODEBOOKS[mkey] = train_pq(emb)
    centroids = _IVF_CENTROIDS.get(mkey)
    if centroids is None:
        centroids = _IVF_CENTROIDS[mkey] = train_ivf(emb, k=16, iters=2)
    index = build_ivfpq_index(emb, centroids, codebooks)
    return ann_ivfpq_topk(
        index, emb.filter(F.col("vec_id") < 8), centroids, codebooks, emb,
        k=5, nprobe=8, rerank=64,
    )


# ------------------------------------------------------------------ int8 scalar quantization

SQ_LEVELS = 255  # uint8 code range


def sq_error_stats(emb: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Per-vector distortion report for int8 SCALAR quantization — the
    Faiss ``SQ8`` storage mode (per-dimension affine codes), the simpler
    sibling of PQ's subvector codebooks: code_i = round-half-up of
    (x_i - min_i) / (max_i - min_i) * 255. Emits what an index operator
    needs to DECIDE whether SQ8 suffices before paying PQ training:
    (n_dims, mean_abs_err, cos_orig_dequant) per vector.

    Scale shape: pass 1 is posexplode -> groupBy(dim) min/max — partial
    aggregation collapses every partition to |dim| rows before the
    shuffle, so the exchange moves |dim| x partitions rows regardless of
    corpus size. The |dim|-row stats table re-joins the exploded stream
    via broadcast; pass 2 regroups per vec_id (one group per vector, no
    skew). Fully codegen — no HOF lambdas, no Python. Rounding is
    floor(x + 0.5) in BOTH engines (Spark ROUND is HALF_UP, DuckDB's is
    banker's-adjacent — spelling it out keeps the oracle exact)."""
    ex = emb.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("i", "v_raw"),
    ).select(id_col, "i", F.col("v_raw").cast("double").alias("v"))
    dims = ex.groupBy("i").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    j = ex.join(F.broadcast(dims), "i")
    code = F.when(
        F.col("mx") > F.col("mn"),
        F.floor((F.col("v") - F.col("mn")) / (F.col("mx") - F.col("mn"))
                * SQ_LEVELS + 0.5),
    ).otherwise(F.lit(0))
    r = F.col("mn") + code * (F.col("mx") - F.col("mn")) / SQ_LEVELS
    scored = j.select(
        F.col(id_col), "v", r.alias("r")
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dims"),
            F.round(F.avg(F.abs(F.col("v") - F.col("r"))), 6).alias("mean_abs_err"),
            F.round(
                F.sum(F.col("v") * F.col("r"))
                / (F.sqrt(F.sum(F.col("v") * F.col("v")))
                   * F.sqrt(F.sum(F.col("r") * F.col("r")))),
                6,
            ).alias("cos_orig_dequant"),
        )
    )


def q_sq_error_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sq_error_stats(load_table(spark, sf_dir, "embeddings"))


ORACLE_SQ_ERROR_STATS = f"""
WITH ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
dims AS (
  SELECT i, min(v) AS mn, max(v) AS mx FROM ex GROUP BY i
),
scored AS (
  SELECT e.vec_id, e.v,
         d.mn + (CASE WHEN d.mx > d.mn
                      THEN floor((e.v - d.mn) / (d.mx - d.mn) * {SQ_LEVELS} + 0.5)
                      ELSE 0 END) * (d.mx - d.mn) / {SQ_LEVELS} AS r
  FROM ex e JOIN dims d USING (i)
)
SELECT vec_id,
       CAST(count(*) AS BIGINT) AS n_dims,
       ROUND(avg(abs(v - r)), 6) AS mean_abs_err,
       ROUND(sum(v * r) / (sqrt(sum(v * v)) * sqrt(sum(r * r))), 6)
         AS cos_orig_dequant
FROM scored GROUP BY vec_id
"""
