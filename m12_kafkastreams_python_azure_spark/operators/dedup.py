"""Deduplication operators for the 100 TB training-data pipeline.

Four strategies, all shuffle-disciplined:

- exact          : group on a content fingerprint (md5). One shuffle on a
                   uniformly-distributed key — no skew by construction.
- minhash LSH    : shingle -> k minhashes (xxhash64 with k seeds) -> b bands
                   -> explode bands -> self-join per (band, band_hash)
                   bucket -> exact-Jaccard verify on candidates only.
                   Entirely built-in Catalyst (higher-order array functions);
                   the only shuffle is on band-hash buckets, and candidate
                   verification touches pairs, never the n^2 cross product.
- simhash        : 64-bit simhash from token hashes via bit-vote; near-dups
                   = pairs within Hamming distance d, bucketed by simhash
                   bands (same LSH trick on bit-slices).
- n-gram jaccard : exact Jaccard on shingle sets for a candidate pair set
                   (used as the verify stage of the LSH strategies).

At 100 TB the LSH path is the only viable one (exact n^2 is out); its cost
is O(n * k) hashing + one shuffle of (band_hash -> doc) pairs.
"""

from __future__ import annotations

from functools import partial
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from m12_kafkastreams_python_azure_spark.functions.text import doc_fingerprint
from m12_kafkastreams_python_azure_spark.sources.readers import load_table

# ------------------------------------------------------------------ exact


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup groups: fingerprint -> keeper id (min) + multiplicity."""
    return (
        df.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_exact(load_table(spark, sf_dir, "documents"))


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS fingerprint,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1
"""


def dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    by: str = "source",
) -> DataFrame:
    """Per-slice duplication audit: the report a curation run emits BEFORE
    deciding to dedup — (n_docs, n_distinct, dup_factor, max_clone) per
    ``by`` slice, where max_clone is the largest single duplicate group.
    A slice with dup_factor 1.0 needs no dedup pass at all; one with a
    huge max_clone has boilerplate, not organic duplication, and wants
    ``segment_dedup`` instead of document-level removal.

    Scale shape: two chained aggregations — (by, fingerprint) counts
    (the same single fingerprint-keyed shuffle ``dedup_exact`` pays, with
    map-side partials), then a per-slice rollup over the already-small
    group table. No distinct-count sketch needed: the second agg counts
    rows of the first. Cardinality of the output is |slices|."""
    groups = (
        df.select(
            F.col(by), doc_fingerprint(F.col(text_col)).alias("fingerprint")
        )
        .groupBy(by, "fingerprint")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return groups.groupBy(by).agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.round(F.sum("n") / F.count(F.lit(1)), 6).alias("dup_factor"),
        F.max("n").cast("long").alias("max_clone"),
    )


def q_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_stats(load_table(spark, sf_dir, "documents"))


ORACLE_DEDUP_STATS = """
WITH groups AS (
  SELECT source, md5(text) AS fingerprint, COUNT(*) AS n
  FROM documents GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       ROUND(SUM(n) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_factor,
       CAST(MAX(n) AS BIGINT) AS max_clone
FROM groups GROUP BY source
"""


# ------------------------------------------------------------------ shingles / minhash


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string>. Pure Catalyst.

    Built as a zip_with chain over n-1 shifted slices of the token array
    rather than ``transform`` over an index ``sequence`` with a
    ``slice(toks, i, n)`` lambda body: Catalyst re-evaluates expression
    trees captured by a higher-order lambda once PER ELEMENT, so the
    index-lambda spelling re-runs the regex split per shingle — O(k^2)
    in document length. Zip_with arguments evaluate once per row; the
    chain is O(n·k). Tail positions short of n tokens become NULL
    (``concat`` null-propagates) and are filtered; a doc with fewer than
    n tokens yields its full-join single shingle, matching the previous
    semantics exactly."""
    toks = F.split(F.trim(text), r"\s+")
    k = F.size(toks)
    acc = toks
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(toks, j + 1, F.size(toks)),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    grams = F.when(k >= n, F.filter(acc, lambda x: x.isNotNull())).otherwise(
        F.array(F.concat_ws(" ", toks))
    )
    return F.array_distinct(grams)


def _seeded_rehash(j: int):
    # Single-arg closure: PySpark's higher-order functions dispatch on lambda
    # arity, so a default-arg lambda would be mis-read as (element, index).
    # xxhash64 over (long, seed) is a cheap JVM intrinsic — no string work,
    # and no ANSI overflow (unlike an affine h*a+b map).
    return lambda h: F.xxhash64(h, F.lit(j))


def minhash_signature(hash_col: Column, num_hashes: int = 32) -> Column:
    """k minhashes from ONE base-hash array: hash function j re-hashes the
    base shingle hash with seed j. The expensive string hashing happens once;
    the k passes are cheap long hashing.
    Input: array<long> of per-shingle xxhash64 values. Returns array<long>."""
    return F.array(
        *[
            F.array_min(F.transform(hash_col, _seeded_rehash(j)))
            for j in range(num_hashes)
        ]
    )


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter.cast("double") / union.cast("double")


def bucket_pairs(ids: Column) -> Column:
    """All ordered (id_a < id_b) pairs inside one LSH bucket, as an array of
    structs — expanded bucket-locally with higher-order functions instead of
    a self-join, so the bucket's rows shuffle ONCE (into the groupBy) rather
    than twice (both join sides). Bucket sizes are small by construction
    (that's what banding is for), so the local expansion is cheap."""
    sorted_ids = F.array_sort(ids)
    return F.flatten(
        F.transform(
            sorted_ids,
            lambda x, i: F.transform(
                F.slice(sorted_ids, i + 2, F.size(sorted_ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def star_pairs(ids: Column) -> Column:
    """Mega-bucket overflow expansion: (min_id, member) for every other
    member — O(b) structs instead of bucket_pairs' O(b^2), same element
    type. A degenerate bucket (millions of identical boilerplate docs
    landing in one band hash) can't pin a task on a quadratic expansion,
    yet the cluster stays DISCOVERABLE: every candidate is exact-verified
    downstream, and the star keeps the group connected for the
    connected-components clustering (graph.q_dedup_clusters) — a hub-and-
    spoke component is the same component.

    Implementation note: the hub must NOT be an expression referenced
    inside a per-element lambda — Catalyst re-evaluates lambda-captured
    expression trees per element, which turns an embedded
    ``element_at(array_sort(ids), 1)`` into O(b^2 log b) per bucket
    (measured: a 20k-member bucket took ~6 minutes that way).
    ``zip_with`` over ``array_repeat(hub, ...)`` materializes the hub
    once per ROW, and ``array_min``/``array_remove`` replace the sort
    entirely — O(b) per bucket.

    Duplicate-id safety: the hub side is repeated ``size(spokes)`` times
    (not ``size(ids) - 1``), so the two zip_with sides stay aligned even
    if ``ids`` carries duplicate values — ``array_remove`` strips EVERY
    copy of the hub, and sizing the repeat off the post-remove array
    means duplicates can never produce null-padded (hub, null) structs.
    (Today's callers collect one row per doc per band, so ids are
    distinct by construction; the helper no longer relies on that.)"""
    hub = F.array_min(ids)
    spokes = F.array_remove(ids, hub)
    return F.zip_with(
        F.array_repeat(hub, F.size(spokes)),
        spokes,
        lambda h, y: F.struct(h.alias("id_a"), y.alias("id_b")),
    )


# The shared persisted-intermediate registry lives in sources.readers
# (next to parallel_scan, which also registers); re-exported here because
# sibling operators (similarity/graph/api) import it from this module.
from m12_kafkastreams_python_azure_spark.sources.readers import (  # noqa: E402
    register_parallel_cache,
    release_parallel_caches,
)


def expansion_partitions(df: DataFrame) -> int:
    """Partition count for the bucket-expansion exchange. Scales with the
    cluster (defaultParallelism // 4 — the expansion is compute-light per
    bucket, bounded by max_bucket, so it needs fewer slots than a scan)
    with a floor of 8 so no single task inherits every bucket. Using full
    defaultParallelism here measurably hurts at small scale: 3 stages x 32
    near-empty tasks of pure scheduling overhead roughly doubles the
    operator's wall time at sf0.1."""
    return max(8, df.sparkSession.sparkContext.defaultParallelism // 4)


def bucket_or_star(ids: Column, max_bucket: int) -> Column:
    """``bucket_pairs`` for a bucket of at most ``max_bucket`` ids, else
    the linear ``star_pairs`` overflow: a degenerate bucket (boilerplate
    or near-constant inputs) would pin one task on a quadratic
    expansion, while the star keeps its cluster connected and
    verifiable."""
    return F.when(F.size(ids) <= max_bucket, bucket_pairs(ids)).otherwise(
        star_pairs(ids)
    )


def bucket_candidates(
    banded: DataFrame, n_parts: int, max_bucket: int
) -> DataFrame:
    """Candidate pairs ``(id_a, id_b)`` from LSH band rows ``(id, band,
    bh)``: every pair of ids sharing a (band, bh) bucket, expanded
    bucket-locally (``bucket_or_star``). A pair colliding in several
    bands appears once per shared band; callers dedupe where it pays.

    The explicit pre-agg repartition on the bucket key does double duty:
    the groupBy reuses the exchange (no extra shuffle — collect_list has
    no map-side reduction to lose), and AQE does not coalesce a
    user-specified repartition, so the O(|bucket|^2) pair expansion in
    the post-agg stage stays bucket-parallel instead of collapsing onto
    one task when the shuffled bytes are small."""
    return (
        banded.repartition(n_parts, "band", "bh")
        .groupBy("band", "bh")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(bucket_or_star(F.col("ids"), max_bucket)).alias("p"))
        .select("p.id_a", "p.id_b")
    )


# ------------------------------------------------- exact-collapse pre-pass


def collapse_reps_only(docs: DataFrame) -> DataFrame:
    """Min-id representative per distinct text, as a plain aggregate —
    the cheap spelling of the duplicate law for consumers that need only
    the REPS, never the member->rep mapping (containment's candidate
    stage discards the mapping anyway). groupBy gets map-side partial
    aggregation, so duplicates collapse BEFORE the shuffle and the
    exchange carries one row per distinct content per input partition —
    strictly less data than ``collapse_exact_groups``'s window, which
    must ship and sort EVERY member row to keep the mapping (measured at
    sf0.1: the window spelling cost containment_near_dup +2.7 s; this
    one is the r13 wall). The digest-prefixed grouping key keeps the
    sort/route comparisons cheap on wide texts (the
    collapse_exact_groups discipline); correctness stays exact because
    the raw text remains part of the key."""
    digest = F.xxhash64(F.col("text"))
    return (
        docs.groupBy(digest.alias("_d"), "text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "text")
    )


def pinned_collapse_reps(docs: DataFrame) -> DataFrame:
    """``collapse_reps_only`` over ``docs``' (doc_id, text), persisted and
    count-barriered: the containment-family callers feed the reps to
    more than one consumer (the hot-gram aggregate and the rare
    anti-join, or a detector plus its keep-list base), and Spark shares
    no subtrees across join branches, so unpinned the collapse shuffle
    re-runs per consumer (measured: +2 s at sf0.1). EAGER: the count
    runs a Spark job when this is called."""
    reps = register_parallel_cache(
        collapse_reps_only(docs.select("doc_id", "text")).persist()
    )
    reps.count()
    return reps


def collapse_exact_groups(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    pin: bool | str = False,
) -> tuple[DataFrame, DataFrame]:
    """Group byte-identical rows (same ``key_cols`` content) and pick the
    min-id member as each group's REPRESENTATIVE.

    Returns ``(mapping, reps)``: mapping = (_m_id, _rep_id) for every
    input row; reps = the representative rows (original schema).

    This is the production pre-pass in front of every near-dup stage: a
    duplicate-heavy corpus (the normal web-scale shape — the sf1 tier is
    10x-replicated by construction) makes LSH bucket occupancy, candidate
    pair expansion, and verify cost all quadratic in the duplication
    factor, while the DISTINCT corpus stays the same size. Collapsing
    first makes near-dup cost a function of distinct content; the exact
    duplicates re-enter via ``expand_collapsed_pairs``.

    Cost: one shuffle in which rows ride with their content (they must —
    the representatives' content feeds the downstream LSH), but the
    grouping key is PREFIXED with an 8-byte xxhash64 digest of the
    content: partition routing and the window's group-delimiting sort
    compare the digest first and touch the raw content only to break
    digest ties (true duplicates, plus ~2^-64 collisions) — so sort cost
    does not scale with content width, and correctness stays EXACT (the
    content is still part of the key).

    ``pin`` modes — the window is a full shuffle+sort of the input and it
    feeds many independent join subtrees downstream (the three expansion
    branches of ``expand_collapsed_pairs``, the rep pipeline, validity
    filters, self-metric projections); Spark has no cross-subtree CSE, so
    unpinned it re-executes once per subtree — racing when AQE launches
    them together (the ``_parallel_text`` convoy) and serially otherwise:

    - ``pin="full"`` (r20): persist + count-barrier the WHOLE window
      output (every input column + ``_rep_id``). ONLY for inputs already
      narrow (the banded-Hamming signature tables: 16-byte rows) — on a
      wide input this caches the raw text/vector payload per query, and
      the r21 same-core bench measured it 2.8-4x SLOWER than no pin at
      all on the text/vector collapses (heap churn + wide cache reads
      dominate the saved window re-runs).
    - ``pin="narrow"`` (r21): persist + count-barrier ONLY the
      (_m_id, _rep_id) mapping — 16 bytes/row regardless of input width —
      which materializes the window exactly once; ``reps`` is then
      rebuilt as ``df`` semi-joined against the rep ids (a cheap
      re-scan + a broadcast-sized join on the pinned mapping), so the
      payload-width window output is never cached. Requires ``id_col``
      values to be unique (every caller's ids are primary keys).

    Without ``pin`` both outputs are lazy: callers that only need
    ``reps`` once (mining, curation) pay no barrier."""
    digest = F.xxhash64(*[F.col(c) for c in key_cols])
    w = Window.partitionBy(digest, *key_cols)
    tagged = df.withColumn("_rep_id", F.min(F.col(id_col)).over(w))
    if pin == "narrow":
        mapping = tagged.select(F.col(id_col).alias("_m_id"), "_rep_id")
        mapping = mapping.persist()
        register_parallel_cache(mapping)
        mapping.count()
        rep_ids = mapping.filter(
            F.col("_m_id") == F.col("_rep_id")
        ).select(F.col("_m_id").alias(id_col))
        reps = df.join(rep_ids, id_col, "left_semi")
        return mapping, reps
    if pin:  # True / "full"
        tagged = tagged.persist()
        register_parallel_cache(tagged)
        tagged.count()
    mapping = tagged.select(F.col(id_col).alias("_m_id"), "_rep_id")
    reps = tagged.filter(F.col(id_col) == F.col("_rep_id")).drop("_rep_id")
    return mapping, reps


def expand_collapsed_pairs(
    rep_pairs: DataFrame,
    mapping: DataFrame,
    metric_col: str,
    self_metric: Column | DataFrame,
    max_bucket: int = 1000,
) -> DataFrame:
    """Translate near-dup pairs over group representatives back to pairs
    over ALL members.

    - cross-group: each rep pair (A, B) expands to every (a in A, b in B)
      with the metric preserved — members are byte-identical to their
      rep, so the rep pair's verified metric IS the member pair's metric.
    - within-group: every multi-member group emits its member pairs at
      ``self_metric`` (exact-duplicate similarity: Jaccard 1.0, Hamming
      0, cosine self-sim), guarded by the same ``max_bucket``/star rule
      as the LSH buckets so a mega-group of identical inputs expands
      linearly, stays connected for clustering, and can't pin a task.

    ``self_metric``: a constant Column, or a DataFrame (_rep_id,
    <metric_col>) when the value is per-group (embedding self-sim)."""
    ma = mapping.select(F.col("_rep_id").alias("id_a"), F.col("_m_id").alias("_ma"))
    mb = mapping.select(F.col("_rep_id").alias("id_b"), F.col("_m_id").alias("_mb"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            F.col(metric_col),
        )
    )
    groups = (
        mapping.groupBy("_rep_id")
        .agg(F.collect_list("_m_id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    expanded = groups.select(
        "_rep_id", F.explode(bucket_or_star(F.col("ids"), max_bucket)).alias("p")
    )
    if isinstance(self_metric, DataFrame):
        within = expanded.join(self_metric, "_rep_id").select(
            "p.id_a", "p.id_b", F.col(metric_col)
        )
    else:
        within = expanded.select(
            "p.id_a", "p.id_b", self_metric.alias(metric_col)
        )
    return cross.unionByName(within)


def collapsed_pairs(
    df: DataFrame, key_cols: list[str], id_col: str, pin: str,
    pair_fn: Callable[[DataFrame], DataFrame], metric_col: str,
    self_metric: Column | Callable[[DataFrame], DataFrame],
    valid: Column | None = None, max_bucket: int = 1000,
) -> DataFrame:
    """The exact-collapse path every near-dup family shares: collapse
    byte-identical ``key_cols`` to their min-id representative
    (``collapse_exact_groups`` with ``pin``), run the family's
    ``pair_fn`` over the reps only, and expand the verified rep pairs
    back to all members (``expand_collapsed_pairs``) — so near-dup cost
    is a function of DISTINCT content, and every exact-duplicate pair is
    emitted by construction instead of depending on a band collision.

    ``self_metric``: the within-group metric, a constant Column or a
    function of the reps returning (_rep_id, <metric_col>).
    ``valid``: a predicate over a rep row; groups whose rep fails it are
    left out of the expansion, for parity with the uncollapsed path,
    whose verify drops pairs with a NULL or degenerate signature. It is
    evaluated once per DISTINCT input on the reps, never as a
    corpus-wide pre-filter (a corpus-wide simhash pre-filter measured
    ~5x on the whole query at sf0.1). ``rep_pairs`` need no filter:
    such pairs never survive the family's own verify."""
    mapping, reps = collapse_exact_groups(df, key_cols, id_col, pin=pin)
    rep_pairs = pair_fn(reps)
    if valid is not None:
        # no persist: a projection over the pinned collapse — the three
        # expansion branches re-read the pin, never re-run the window
        mapping = mapping.join(
            reps.filter(valid).select(F.col(id_col).alias("_rep_id")), "_rep_id"
        )
    if not isinstance(self_metric, Column):
        self_metric = self_metric(reps)
    return expand_collapsed_pairs(
        rep_pairs, mapping, metric_col, self_metric, max_bucket
    )


def _parallel_text(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, t) spread over all cores WITH a materialization barrier.

    A bare ``repartition(n)`` is NOT enough when the input is one small
    parquet file: Catalyst pushes projections below the round-robin
    exchange, so any expensive expression layered on top would execute in
    the single-task scan stage. Persisting the repartitioned raw text pins
    a 32-partition cut that downstream narrow stages read in parallel.
    At real scale the scan has thousands of splits and this is a no-op
    round-robin plus a cheap cache of (id, text).
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    out = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
        .repartition(parallelism)
        .persist()
    )
    register_parallel_cache(out)
    # Materialize NOW, before fan-out: several downstream stages read this
    # cache concurrently (AQE launches them together), and racing tasks
    # serialize on the per-partition cache-write lock — a convoy that
    # showed up as nondeterministic 3-10x stalls in the bench suite. One
    # cheap action turns all downstream accesses into lock-free reads.
    out.count()
    return out


def _parallel_shingles(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """Shingle sets computed in parallel (see ``_parallel_text``), cached
    for reuse by the signature pass and both verify-join sides."""
    out = (
        _parallel_text(df, text_col, id_col)
        .select("id", shingles(F.col("t"), shingle_n).alias("sh"))
        .filter(F.size("sh") > 0)
        .persist()
    )
    register_parallel_cache(out)
    out.count()  # same convoy-avoidance as _parallel_text
    return out


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    jaccard_threshold: float = 0.6,
    max_bucket: int = 1000,
    collapse_exact: bool = True,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with exact-Jaccard verification.

    ``collapse_exact`` (default on) first collapses byte-identical texts
    to their min-id representative, runs the LSH over DISTINCT texts
    only, and expands pairs back (``expand_collapsed_pairs``) — identical
    texts pair at Jaccard exactly 1.0, so expansion preserves the
    verified-metric contract while making LSH cost a function of distinct
    corpus size (on the 10x-replicated sf1 tier this is the difference
    between ~100x and ~1x the sf0.1 candidate volume). Recall can only
    improve: every exact-duplicate pair is emitted by construction
    instead of depending on a band collision.

    Defaults (k=16, b=8 => r=2 rows/band) give ~0.97 recall at J=0.6 via
    1-(1-J^r)^b; precision doesn't matter because every candidate is
    verified with EXACT Jaccard below. Fewer hashes also keeps the codegen'd
    signature expression small (cost grows superlinearly with k).

    Pipeline: shingle -> signature -> band hashes -> explode(bands) ->
    self-join on (band, band_hash) -> distinct candidate pairs ->
    verify exact Jaccard >= threshold on the pair's shingle sets.

    Shuffle profile: one exchange on band_hash (uniform — it's a hash),
    one on the pair ids for verification. No cross product anywhere.
    """
    release_parallel_caches()
    pairs = partial(
        _minhash_pairs, text_col=text_col, id_col=id_col, shingle_n=shingle_n,
        num_hashes=num_hashes, bands=bands,
        jaccard_threshold=jaccard_threshold, max_bucket=max_bucket,
    )
    if not collapse_exact:
        return pairs(df)
    # narrow pin: the window's raw text is never cached (the r20 full pin
    # measured 2.8x slower at same cores than no pin). No validity
    # predicate: ``shingles`` always yields >= 1 element (short/NULL docs
    # get the full-join single shingle), so the uncollapsed path's
    # size(sh) > 0 filter never drops a doc — identical NULL/short texts
    # pair at Jaccard 1.0 in BOTH paths (pinned in test_dedup_scale).
    return collapsed_pairs(
        df, [text_col], id_col, "narrow", pairs, "jaccard", F.lit(1.0),
        max_bucket=max_bucket,
    )


def _minhash_pairs(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int,
    num_hashes: int, bands: int, jaccard_threshold: float, max_bucket: int,
) -> DataFrame:
    """``minhash_near_dup_pairs``' LSH + verify body over its input as
    given (no collapse)."""
    rows_per_band = num_hashes // bands
    base = _parallel_shingles(df, text_col, id_col, shingle_n)
    # Hash every shingle string exactly once; signatures derive from the
    # long array (a named column, so it is single-evaluation).
    sig = (
        base.withColumn("hb", F.transform(F.col("sh"), lambda s: F.xxhash64(s)))
        .withColumn("sig", minhash_signature(F.col("hb"), num_hashes))
        .select("id", "sig")
    )
    # Band rows carry ONLY (id, band, bh): the shingle arrays never ride
    # through the band shuffle (they're 100x the id's width).
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                            )
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))
    cands = bucket_candidates(
        banded, expansion_partitions(df), max_bucket
    ).dropDuplicates(["id_a", "id_b"])
    # Verify stage touches only surviving candidate pairs. No broadcast
    # hint on purpose (same discipline as the embedding LSH front door,
    # api.embedding_near_dup_lsh): candidates are usually a tiny fraction
    # of the corpus and AQE broadcasts them from runtime stats, keeping the
    # wide shingle arrays out of any shuffle — but a star-expanded
    # mega-cluster can make the candidate set O(cluster), and a FORCED
    # broadcast of pair_a (which carries sh_a) would then hold
    # cluster-proportional state on every node. Unhinted, AQE degrades to
    # a shuffled join and the bounded-state invariant (SCALE.md) holds.
    a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    pair_a = a.join(cands, "id_a")
    return (
        b.join(pair_a, "id_b")
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate near-dup pairs on documents (rows-only driver check —
    the LSH banding is not SQL-expressible; the exact-Jaccard variant below
    IS oracle-checked and bounds this one)."""
    return minhash_near_dup_pairs(
        load_table(spark, sf_dir, "documents"), jaccard_threshold=0.5
    )


# ------------------------------------------------------------------ exact n-gram jaccard

# Oracle-checkable exact near-dup: all pairs within a fingerprint-prefix
# bucket is NOT what we want (no dups in testdata) — instead verify the
# *function* on a deterministic candidate set: consecutive doc_id pairs.


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard on a deterministic pair set (doc_id, doc_id+1):
    oracle-checkable ground truth for the similarity function itself."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id").alias("id_a"), shingles(F.col("text")).alias("sh_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), shingles(F.col("text")).alias("sh_b"))
    return (
        a.join(b, a.id_a + 1 == b.id_b)
        .select("id_a", "id_b", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"))
    )


# DuckDB spelling of the same shingle+jaccard computation. list_distinct ==
# array_distinct; shingle built with the same index-range construction.
_DUCK_SHINGLES = """
list_distinct(
  list_transform(
    range(0, greatest(len(string_split_regex(trim({t}), '\\s+')) - 3, 0) + 1),
    i -> array_to_string(list_slice(string_split_regex(trim({t}), '\\s+'), i + 1, i + 3), ' ')
  )
)
"""

ORACLE_NGRAM_JACCARD = f"""
WITH sh AS (
  SELECT doc_id, {_DUCK_SHINGLES.format(t='text')} AS s FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id + 1 = b.doc_id
"""


# --------------------------------------------------- n-gram containment

CONTAIN_THRESHOLD = 0.8
CONTAIN_MAX_DF = 64        # gram document-frequency ubiquity guard
# Clone-id shift must sit STRICTLY above every tier's doc_id space,
# including the replicated sf1 tier (scripts/gen_sf1.py shifts replica i
# by i*10_000_000, so sf1 ids reach ~10^8). The previous 10_000_000 value
# aliased planted clone ids onto replica-1's real ids there (ADVICE r13),
# which would make bucket_pairs see duplicate ids inside a gram bucket.
CONTAIN_CLONE_SHIFT = 1_000_000_000
CONTAIN_CLONE_FRAC = 0.6   # planted clone keeps the first 60% of tokens


def docs_with_planted_contained(docs: DataFrame) -> DataFrame:
    """Every 20th document gains a clone carrying only its first 60% of
    tokens (id shifted by CONTAIN_CLONE_SHIFT): a contiguous-prefix
    excerpt whose grams are a strict SUBSET of the original's — maximal
    containment (1.0) at a Jaccard of only ~0.6, i.e. exactly the
    subsumption shape symmetric-Jaccard dedup under-scores. Mirrored
    verbatim in the oracle SQL (the multimodal planted-clone
    discipline)."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    keep = F.ceil(F.size(toks) * F.lit(CONTAIN_CLONE_FRAC)).cast("int")
    clones = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(CONTAIN_CLONE_SHIFT)).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, keep)).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(clones)


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = CONTAIN_THRESHOLD,
    max_df: int = CONTAIN_MAX_DF,
) -> DataFrame:
    """Asymmetric near-dup: document pairs whose shared distinct n-grams
    cover >= ``threshold`` of the SMALLER side's gram set — containment
    C(A,B) = |A∩B| / min(|A|,|B|) (Broder 1997's resemblance twin).
    Catches subsumption — excerpts, quotes, prefix crawls re-served as
    new pages — where symmetric Jaccard dilutes with the length gap and
    stays under every dedup threshold. Output: (id_a, id_b,
    shared_grams, containment_a, containment_b, containment), both
    asymmetric directions carried so the caller can tell "A inside B"
    from "B inside A".

    Scale shape (fully SQL-expressible — oracle-checked end to end,
    unlike the banded LSH paths): one gram explode; UBIQUITOUS grams
    (document frequency > ``max_df``) are dropped from candidate
    generation AND the size denominators by an anti-join against the
    (tiny — boilerplate only) hot-gram table, which AQE broadcasts — the
    audio-fingerprint fan-out discipline, bounding any gram's pair
    expansion at max_df^2/2; then one gram-keyed equi-join, one
    map-side-combined pair count, two AQE-broadcast size join-backs.
    Containment over NON-ubiquitous grams is the principled measure
    anyway: a boilerplate gram shared by 10^6 docs carries no
    subsumption signal, and exact/minhash dedup owns those clusters.

    Duplicate law (engine-wide, docs/SCALE.md rounds 6/9/10/13): exact
    text duplicates are collapsed to their min-id REPRESENTATIVE before
    the gram explode — this operator is a bucketed candidate generator,
    and without the collapse a duplicate-heavy corpus (the normal
    web-scale shape) pushes shared grams' document frequency past
    ``max_df``, the ubiquity anti-join then silently drops those grams
    from BOTH candidate generation and the size denominators, and
    heavily-replicated documents vanish from containment detection
    entirely (the hard_negative_mining_ivf failure class, VERDICT r13).
    Output pairs are therefore over DISTINCT contents; pairs among exact
    duplicates are exact-dedup's domain (``dedup_exact`` /
    ``expand_collapsed_pairs`` own them).

    EAGER at construction (ADVICE r14): the collapsed-reps persist runs
    a Spark job (persist + count materialization barrier) when this
    function is CALLED, not when the returned DataFrame is acted on —
    callers that only build/explain the plan still pay the collapse
    shuffle."""
    return _exact_pairs_on_reps(
        pinned_collapse_reps(docs), n, threshold, max_df,
        expansion_partitions(docs),
    )


def _exact_pairs_on_reps(
    reps: DataFrame,
    n: int,
    threshold: float,
    max_df: int,
    n_parts: int,
) -> DataFrame:
    """``containment_pairs``' df-capped bucket-expansion body over a
    PRE-COLLAPSED (and persisted, count-barriered) reps table. Split out
    (ADVICE r16) so ``subsumption_prune`` shares ONE collapse between
    pair detection and its keep-list base instead of collapsing twice —
    the same reuse discipline ``_screened_pairs_on_reps`` already has."""
    from ..sources.readers import register_parallel_cache

    g = reps.select(
        "doc_id", F.explode(shingles(F.col("text"), n)).alias("gram")
    )
    hot = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("gram")
    )
    # Pin the df-filtered gram table (r21, guide §5): it feeds THREE
    # subtrees (per-doc sizes, the bucket expansion, and — through hot —
    # the anti-join build side), and Spark shares no subtrees across
    # branches, so unpinned the corpus-wide shingle explode re-executed
    # once per consumer and the hot aggregate re-shuffled with it (r21
    # stage profile of containment_near_dup: three Generate stages each
    # re-writing the identical 3.95 MB hot shuffle, ~95 executor-seconds
    # of repeat work at sf0.1). One explode + one anti-join materialize
    # into the cache; every consumer is a cache read. MEMORY_AND_DISK
    # default: at 100 TB this spills rather than re-exploding the corpus
    # per subtree — disk-read of (id, gram) rows beats re-tokenizing.
    rare = register_parallel_cache(g.join(hot, "gram", "left_anti").persist())
    rare.count()
    sizes = rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    # Candidate pairs via bucket-LOCAL expansion (the minhash cands
    # pattern), not a gram-keyed self-join: each gram's rows shuffle ONCE
    # into the groupBy and the <=max_df-bounded pair set explodes
    # in-place — a string-keyed self-join spelling of the same step
    # measured 3.2 s against this one's 1.3 s at sf0.1 (two shuffles of
    # the gram table plus the join itself, all avoided). bucket_pairs
    # sorts ids, so id_a < id_b holds by construction; no star overflow
    # path needed because the df cap IS the bucket bound.
    shared = (
        rare.repartition(n_parts, "gram")
        .groupBy("gram")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(bucket_pairs(F.col("ids"))).alias("p"))
        .select("p.id_a", "p.id_b")
        # collapse_exact_groups guarantees distinct ids per bucket
        # (grams are per-doc distinct, docs are per-content distinct);
        # the guard is belt-and-braces against a caller feeding
        # duplicate doc_ids, where equal ids at two array positions
        # would otherwise emit an id_a == id_b self-pair.
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_grams").alias("_na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_grams").alias("_nb"))
    contain = F.col("shared_grams").cast("double") / F.least(
        "_na", "_nb"
    ).cast("double")
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(contain >= F.lit(threshold))
        .select(
            "id_a",
            "id_b",
            "shared_grams",
            F.round(
                F.col("shared_grams").cast("double") / F.col("_na").cast("double"), 6
            ).alias("containment_a"),
            F.round(
                F.col("shared_grams").cast("double") / F.col("_nb").cast("double"), 6
            ).alias("containment_b"),
            F.round(contain, 6).alias("containment"),
        )
    )


def q_containment_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup over documents plus planted prefix-excerpt
    clones (every 20th doc, 60% of its tokens — containment 1.0 at
    Jaccard ~0.6): real subsumption positives at every SF, fully
    oracle-checked."""
    from ..sources.readers import parallel_scan

    # parallel_scan: single-file testdata otherwise runs the shingle
    # explode in one scan task (the verify-skill gotcha)
    docs = parallel_scan(load_table(spark, sf_dir, "documents"))
    return containment_pairs(docs_with_planted_contained(docs))


_DUCK_CLONE_TOKS = "string_split_regex(trim(text), '\\s+')"

ORACLE_CONTAINMENT_NEAR_DUP = f"""
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
  -- mirror of collapse_exact_groups: exact text duplicates collapse to
  -- their min-id representative before the gram explode
  SELECT min(doc_id) AS doc_id, text FROM docs_all GROUP BY text
), sh AS (
  SELECT doc_id, {_DUCK_SHINGLES.format(t='text')} AS s FROM reps
), g AS (
  SELECT doc_id, unnest(s) AS gram FROM sh
), hot AS (
  SELECT gram FROM g GROUP BY gram HAVING count(*) > {CONTAIN_MAX_DF}
), rare AS (
  SELECT * FROM g WHERE gram NOT IN (SELECT gram FROM hot)
), sizes AS (
  SELECT doc_id, count(*) AS n_grams FROM rare GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS shared_grams
  FROM rare a JOIN rare b USING (gram)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, shared_grams,
       ROUND(CAST(shared_grams AS DOUBLE) / sa.n_grams, 6) AS containment_a,
       ROUND(CAST(shared_grams AS DOUBLE) / sb.n_grams, 6) AS containment_b,
       ROUND(CAST(shared_grams AS DOUBLE) / least(sa.n_grams, sb.n_grams), 6)
         AS containment
FROM shared
JOIN sizes sa ON sa.doc_id = shared.id_a
JOIN sizes sb ON sb.doc_id = shared.id_b
WHERE CAST(shared_grams AS DOUBLE) / least(sa.n_grams, sb.n_grams)
      >= {CONTAIN_THRESHOLD!r}
"""


# ------------------ screened containment: winnow screen -> full-gram verify

SCREEN_THRESHOLD = 0.5  # fingerprint-containment screen bound (vs verify 0.8)


def _rare_grams(reps: DataFrame, n: int, max_df: int) -> DataFrame:
    """The containment gram table over distinct contents with corpus-wide
    UBIQUITOUS grams removed (df > ``max_df`` — the containment_pairs
    guard and denominators are corpus-wide functions; candidate-local df
    would inflate containment for docs whose grams are globally common).
    The hot table is persisted (tiny, boilerplate-only) because the
    screened path consumes this anti-join from three branches (short-doc
    candidate generation a/b sides + the verify's candidate semi-join) —
    without the pin the full-gram aggregate re-runs per branch. The
    explode itself stays unpersisted: it is a narrow pass over the
    caller's already-persisted reps (the containment_pairs trade)."""
    from ..sources.readers import register_parallel_cache

    g = reps.select(
        "doc_id", F.explode(shingles(F.col("text"), n)).alias("gram")
    )
    hot = register_parallel_cache(
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("gram")
        .persist()
    )
    return g.join(hot, "gram", "left_anti"), hot


_BROADCAST_CAND_MAX_ROWS = 5_000_000
"""Broadcast-hint ceiling for the screened-containment candidate pair
table: two longs per row, so 5M rows is ~80 MB serialized — far under
Spark's 8 GB broadcast hard limit and a safe driver footprint. Above
it the hint is withheld and AQE picks the join strategy (ADVICE r16:
the candidate table is data-dependent — screen survivors plus the
short-doc sidecar, which grows with the short-doc population times the
max_df fan-out — so an unconditional hint could OOM the driver on the
network-bound corpora this path is recommended for)."""


def _containment_verify_on_reps(
    reps: DataFrame,
    rare: DataFrame,
    cand: DataFrame,
    threshold: float,
    cand_count: int | None = None,
) -> DataFrame:
    """The full-gram containment VERIFY restricted to screened candidate
    pairs: identical math to ``containment_pairs`` (same grams via
    ``_rare_grams``, same corpus-wide ubiquity guard, same denominators
    over non-ubiquitous grams, same thresholds and output columns) but
    the quadratic stage — the gram-bucket pair expansion — is replaced
    by two equi-joins against the (small, persisted) candidate pair
    table. Per-doc sizes only need candidate docs' rows: a doc's
    non-ubiquitous gram count doesn't depend on other docs once the hot
    table is fixed."""
    from ..sources.readers import register_parallel_cache

    cand_docs = (
        cand.select(F.col("id_a").alias("doc_id"))
        .unionByName(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    # Persisted (registry): three consumers (per-doc sizes, the a-side
    # and the b-side of the shared-gram join) would otherwise re-run the
    # gram explode + hot anti-join + candidate semi-join thrice.
    rare_c = register_parallel_cache(
        rare.join(cand_docs, "doc_id", "left_semi").persist()
    )
    sizes = rare_c.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    ga = rare_c.select(F.col("doc_id").alias("id_a"), "gram")
    gb = rare_c.select(F.col("doc_id").alias("id_b"), "gram")
    # Pair-restricted shared-gram count: fan ga out by candidate pair,
    # then ONE (id_b, gram) equi-join — grams are per-doc distinct
    # (shingles array_distinct + reps per-content distinct), so the
    # match count IS |A ∩ B|, exactly the bucket-local count
    # containment_pairs produces. The broadcast hint is COUNT-GATED
    # (ADVICE r16): the caller passes the count it already paid for at
    # the persist barrier; small candidate sets broadcast, larger ones
    # fall to AQE's own strategy choice (which can still broadcast off
    # observed shuffle sizes, but never past the driver's limits).
    cand_side = (
        F.broadcast(cand)
        if cand_count is not None and cand_count <= _BROADCAST_CAND_MAX_ROWS
        else cand
    )
    shared = (
        ga.join(cand_side, "id_a")
        .join(gb, ["id_b", "gram"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_grams").alias("_na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_grams").alias("_nb"))
    contain = F.col("shared_grams").cast("double") / F.least("_na", "_nb").cast(
        "double"
    )
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(contain >= F.lit(threshold))
        .select(
            "id_a",
            "id_b",
            "shared_grams",
            F.round(
                F.col("shared_grams").cast("double") / F.col("_na").cast("double"), 6
            ).alias("containment_a"),
            F.round(
                F.col("shared_grams").cast("double") / F.col("_nb").cast("double"), 6
            ).alias("containment_b"),
            F.round(contain, 6).alias("containment"),
        )
    )


def _screened_pairs_on_reps(
    reps: DataFrame,
    n: int,
    threshold: float,
    max_df: int,
    screen_threshold: float,
    n_parts: int,
) -> DataFrame:
    """Screen + verify over a PRE-COLLAPSED reps table (shared by
    ``containment_screened`` and ``subsumption_prune`` so each does ONE
    collapse). Candidates come from TWO disjoint routes:

    - LONG docs (>= w+k-1 tokens): the winnow fingerprint screen at
      ``screen_threshold`` — the 2/(w+1)-density path that carries the
      scale win;
    - SHORT docs (< w+k-1 tokens, exactly the zero-fingerprint
      population — a doc below the guarantee length has no filled
      window and selects NOTHING, so it could never be screened in):
      the exact gram route — every pair sharing >= 1 non-ubiquitous
      gram with a short doc is a candidate. Bounded: short docs have
      < w+k+1 grams each and every rare gram's fan-out is <= max_df
      (the ubiquity guard), so this sidecar is linear in the short-doc
      population. Derived from the narrow token-count predicate, not an
      anti-join against the fingerprint table (the ccnet_buckets
      unscored-bucket law, VERDICT r15 #1).

    The candidate table is persisted with a count barrier — it has
    three verify-side consumers and the whole screen subtree would
    re-run per consumer otherwise (the containment_pairs reps-pin
    discipline)."""
    from m12_kafkastreams_python_azure_spark.operators.textops import (
        WINNOW_K,
        WINNOW_W,
        winnow_pair_scores,
    )
    from ..sources.readers import register_parallel_cache

    cand_long = winnow_pair_scores(
        reps, n_parts=n_parts, threshold=screen_threshold
    ).select("id_a", "id_b")
    rare, hot = _rare_grams(reps, n, max_df)
    # explode ONLY the short docs for the a-side (the short population's
    # gram sets are < w+k+1 each) — the original spelling semi-joined the
    # FULL corpus gram table, paying two extra corpus-wide explode passes
    short_reps = reps.filter(
        F.size(F.split(F.trim(F.col("text")), r"\s+")) < WINNOW_W + WINNOW_K - 1
    )
    gs = (
        short_reps.select(
            "doc_id", F.explode(shingles(F.col("text"), n)).alias("gram")
        )
        .join(hot, "gram", "left_anti")
        .select(F.col("doc_id").alias("id_s"), "gram")
    )
    cand_short = (
        gs.join(rare.select(F.col("doc_id").alias("id_o"), "gram"), "gram")
        .filter(F.col("id_s") != F.col("id_o"))
        .select(
            F.least("id_s", "id_o").alias("id_a"),
            F.greatest("id_s", "id_o").alias("id_b"),
        )
        .distinct()
    )
    cand = register_parallel_cache(
        cand_long.unionByName(cand_short).distinct().persist()
    )
    n_cand = cand.count()
    return _containment_verify_on_reps(reps, rare, cand, threshold, n_cand)


def containment_screened(
    docs: DataFrame,
    n: int = 3,
    threshold: float = CONTAIN_THRESHOLD,
    max_df: int = CONTAIN_MAX_DF,
    screen_threshold: float = SCREEN_THRESHOLD,
) -> DataFrame:
    """The composed containment spelling (ROADMAP r17 #2): winnowing
    fingerprints SCREEN candidate pairs at 2/(w+1) of the gram density
    (``textops.winnow_pair_scores``, screen bound ``screen_threshold``),
    then full-gram containment VERIFIES only the survivors — same
    output schema, thresholds, ubiquity guard and denominators as
    ``containment_pairs``, with the quadratic gram-bucket pair expansion
    replaced by candidate-restricted equi-joins.

    MEASURED TRADE (scripts/scale_probe_screened.py, SCALE.md r16 — an
    honest negative on wall clock): ``containment_pairs``' df-capped
    bucket-local expansion is ALREADY linear in the corpus, so on
    local[32] the screen's extra passes cost more than they save at
    every measured rung — containment_pairs stays the default
    containment front door. What the screen does buy, measured per-op
    from the Spark stage metrics: the candidate stage's RAW SHUFFLE
    drops from the full gram-string table (repartition + collect_list,
    ~tens of bytes per gram row) to 8-byte fingerprint hashes at 1/3
    density — the bytes-over-network bottleneck a 1000-executor sweep
    actually hits, invisible to single-JVM wall clock where shuffles
    are memory copies. Use this spelling when the network is the
    constraint or documents are long (gram bytes >> fingerprint
    bytes); use containment_pairs when CPU is.

    Recall contract (deliberate, measured — NOT silent): output ⊆
    ``containment_pairs`` output with IDENTICAL values on every emitted
    pair (the verify math is the same). SHORT docs (< w+k-1 tokens)
    select no fingerprints at all, so they bypass the screen and take
    the exact gram route (see ``_screened_pairs_on_reps``) — full recall
    for the population excerpt screening most cares about. A true >=
    ``threshold`` pair of two LONG docs is missed only if its
    FINGERPRINT containment lands under ``screen_threshold`` despite
    gram containment >= 0.8 — the screen is a deterministic
    ~1/3-density sample of the gram space, so the 0.5 default sits >4σ
    below the 0.8 verify bound at realistic fingerprint counts, and
    winnowing's guarantee (any shared run of >= w+k-1 tokens collides
    in >= 1 fingerprint) makes zero-candidate misses impossible for
    contiguous excerpts longer than one window.
    ``tests/test_screened.py`` pins subset-parity + planted recall;
    ``scripts/scale_probe_screened.py`` measures the end-to-end win and
    the recall at 1x/10x/100x.

    Inherits the duplicate law and eager construction: exact duplicates
    collapse ONCE (shared by both tiers), persisted with a count barrier.

    Reference parity note: the reference app has no near-dup surface at
    all (SURVEY.md §2) — this extends the training-data-pipeline tier."""
    return _screened_pairs_on_reps(
        pinned_collapse_reps(docs), n, threshold, max_df, screen_threshold,
        expansion_partitions(docs),
    )


def q_containment_screened(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screened containment over the planted prefix-excerpt corpus (the
    q_containment_near_dup fixture): real subsumption positives at every
    SF, fully oracle-checked against the composed SQL spelling."""
    from ..sources.readers import parallel_scan

    docs = parallel_scan(load_table(spark, sf_dir, "documents"))
    return containment_screened(docs_with_planted_contained(docs))


def subsumption_prune(
    docs: DataFrame,
    n: int = 3,
    threshold: float = CONTAIN_THRESHOLD,
    max_df: int = CONTAIN_MAX_DF,
    method: str = "exact",
    screen_threshold: float = SCREEN_THRESHOLD,
) -> DataFrame:
    """The selection CONSUMER that closes the containment loop (the
    weighted_budget_select / doremi_resample discipline: every pair
    detector gets a keep-list consumer): from the containment pairs,
    DROP the mostly-contained side of every pair and keep the maximal
    documents. Drop rule per pair, deterministic: the side with the
    LARGER per-side containment ratio is the smaller gram set (its
    grams are mostly inside the other doc) — drop it; on an exact ratio
    tie (equal sizes), drop the larger doc_id. Greedy over ALL pairs —
    in a containment chain A ⊂ B ⊂ C both A and B appear as a
    mostly-contained side of some pair, so exactly the maximal elements
    survive (pinned on a 3-chain in tests/test_screened.py).

    ``method``: "exact" (default — ``containment_pairs``' df-capped
    bucket expansion, full recall, and the faster wall clock at every
    measured rung, scripts/scale_probe_screened.py) or "screened" (the
    winnow-screen composition — the lower-shuffle-bytes path, see
    ``containment_screened``'s measured trade).

    Scope: distinct contents (the containment_pairs doctrine) — exact
    duplicates collapse to their representative first; pairs AMONG exact
    duplicates are exact-dedup's domain (``dedup_exact``). Output: the
    kept doc_ids (one column, ascending ids hash-stable)."""
    # ONE collapse, shared between the pair detector and the keep-list
    # base (ADVICE r16: the detectors' internal collapse was recomputed
    # here — an extra full collapse shuffle per call).
    reps = pinned_collapse_reps(docs)
    n_parts = expansion_partitions(docs)
    pairs = (
        _exact_pairs_on_reps(reps, n, threshold, max_df, n_parts)
        if method == "exact"
        else _screened_pairs_on_reps(
            reps, n, threshold, max_df, screen_threshold, n_parts
        )
    )
    drop = pairs.select(
        F.when(F.col("containment_a") > F.col("containment_b"), F.col("id_a"))
        .when(F.col("containment_b") > F.col("containment_a"), F.col("id_b"))
        .otherwise(F.greatest("id_a", "id_b"))
        .alias("doc_id")
    ).distinct()
    return reps.select("doc_id").join(drop, "doc_id", "left_anti")


def q_subsumption_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import parallel_scan

    docs = parallel_scan(load_table(spark, sf_dir, "documents"))
    return subsumption_prune(docs_with_planted_contained(docs))


def _oracle_screened(final_select: str) -> str:
    """Composed oracle body shared by containment_screened and
    subsumption_prune: the planted corpus, the collapse, the winnow
    screen CTE (textops._winnow_fp_sql — same md5-prefix hashes, same
    rightmost-tie argmin), the short-doc exact-gram candidate route
    (docs under the w+k-1 guarantee length select no fingerprints), and
    the full-gram verify INNER-JOINED to the union of both candidate
    routes. The naive DuckDB spelling computes full containment and
    intersects with the candidates — value-identical to the restricted
    Spark plan because the verify math is pair-local once ``hot`` is
    corpus-wide."""
    from m12_kafkastreams_python_azure_spark.operators.textops import (
        WINNOW_K,
        WINNOW_MAX_DF,
        WINNOW_W,
        _winnow_fp_sql,
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
), fhot AS (
  SELECT fp_hash FROM fp GROUP BY fp_hash HAVING count(*) > {WINNOW_MAX_DF}
), frare AS (
  SELECT * FROM fp WHERE fp_hash NOT IN (SELECT fp_hash FROM fhot)
), fsizes AS (
  SELECT doc_id, count(*) AS n_fps FROM frare GROUP BY doc_id
), fshared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS sfp
  FROM frare a JOIN frare b USING (fp_hash)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), sh AS (
  SELECT doc_id, {_DUCK_SHINGLES.format(t='text')} AS s FROM reps
), g AS (
  SELECT doc_id, unnest(s) AS gram FROM sh
), hot AS (
  SELECT gram FROM g GROUP BY gram HAVING count(*) > {CONTAIN_MAX_DF}
), rare AS (
  SELECT * FROM g WHERE gram NOT IN (SELECT gram FROM hot)
), shortd AS (
  SELECT doc_id FROM reps
  WHERE len(string_split_regex(trim(text), '\\s+')) < {WINNOW_W + WINNOW_K - 1}
), cand AS (
  SELECT id_a, id_b FROM fshared
  JOIN fsizes fa ON fa.doc_id = fshared.id_a
  JOIN fsizes fb ON fb.doc_id = fshared.id_b
  WHERE CAST(sfp AS DOUBLE) / least(fa.n_fps, fb.n_fps)
        >= {SCREEN_THRESHOLD!r}
  UNION
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
         greatest(a.doc_id, b.doc_id) AS id_b
  FROM rare a JOIN rare b USING (gram)
  WHERE a.doc_id IN (SELECT doc_id FROM shortd) AND a.doc_id <> b.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS n_grams FROM rare GROUP BY doc_id
), shared AS (
  SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS shared_grams
  FROM cand
  JOIN rare a ON a.doc_id = cand.id_a
  JOIN rare b ON b.doc_id = cand.id_b AND b.gram = a.gram
  GROUP BY 1, 2
), verified AS (
  SELECT id_a, id_b, shared_grams,
         ROUND(CAST(shared_grams AS DOUBLE) / sa.n_grams, 6) AS containment_a,
         ROUND(CAST(shared_grams AS DOUBLE) / sb.n_grams, 6) AS containment_b,
         ROUND(CAST(shared_grams AS DOUBLE) / least(sa.n_grams, sb.n_grams), 6)
           AS containment
  FROM shared
  JOIN sizes sa ON sa.doc_id = shared.id_a
  JOIN sizes sb ON sb.doc_id = shared.id_b
  WHERE CAST(shared_grams AS DOUBLE) / least(sa.n_grams, sb.n_grams)
        >= {CONTAIN_THRESHOLD!r}
)
{final_select}
"""


ORACLE_CONTAINMENT_SCREENED = _oracle_screened(
    "SELECT id_a, id_b, shared_grams, containment_a, containment_b,"
    " containment FROM verified"
)

# subsumption_prune defaults to method="exact", so its oracle is the
# EXACT containment body (the ORACLE_CONTAINMENT_NEAR_DUP math) plus the
# drop-the-contained-side consumer — no screen CTEs.
ORACLE_SUBSUMPTION_PRUNE = f"""
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
), sh AS (
  SELECT doc_id, {_DUCK_SHINGLES.format(t='text')} AS s FROM reps
), g AS (
  SELECT doc_id, unnest(s) AS gram FROM sh
), hot AS (
  SELECT gram FROM g GROUP BY gram HAVING count(*) > {CONTAIN_MAX_DF}
), rare AS (
  SELECT * FROM g WHERE gram NOT IN (SELECT gram FROM hot)
), sizes AS (
  SELECT doc_id, count(*) AS n_grams FROM rare GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS shared_grams
  FROM rare a JOIN rare b USING (gram)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), verified AS (
  SELECT id_a, id_b,
         ROUND(CAST(shared_grams AS DOUBLE) / sa.n_grams, 6) AS containment_a,
         ROUND(CAST(shared_grams AS DOUBLE) / sb.n_grams, 6) AS containment_b
  FROM shared
  JOIN sizes sa ON sa.doc_id = shared.id_a
  JOIN sizes sb ON sb.doc_id = shared.id_b
  WHERE CAST(shared_grams AS DOUBLE) / least(sa.n_grams, sb.n_grams)
        >= {CONTAIN_THRESHOLD!r}
)
SELECT doc_id FROM reps
WHERE doc_id NOT IN (
  SELECT CASE WHEN containment_a > containment_b THEN id_a
              WHEN containment_b > containment_a THEN id_b
              ELSE greatest(id_a, id_b) END
  FROM verified
)
"""


# ------------------------------- containment vs a FIXED reference corpus


def build_containment_ref(
    ref_docs: DataFrame, n: int = 3, max_df: int = CONTAIN_MAX_DF
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build-once reference artifacts for ``containment_against`` (the
    ``build_decontam_bloom`` fit-once discipline): returns
    ``(rare_grams, sizes, hot)`` where ``rare_grams`` = (ref_id, gram)
    for every reference gram whose reference document-frequency is
    <= ``max_df``, ``sizes`` = (ref_id, n_ref_grams) over the same
    df-filtered universe, and ``hot`` = the (tiny, boilerplate-only)
    ubiquitous-gram table both sides filter against.

    Duplicate law applies to the REFERENCE side: exact text duplicates
    collapse to their min-id representative before the gram explode —
    a replica-heavy reference would otherwise push its grams past
    ``max_df`` and silently erase the very documents an incoming
    excerpt should match (the ``containment_pairs`` fix, VERDICT r13).
    Incoming batch docs need NO collapse: each is scored independently
    against the fixed reference (per-doc verdict, the decontaminate
    contract), so duplicates in a batch just produce duplicate verdicts
    for distinct ids — correct, and never a df-cap hazard because the
    guard is reference-side."""
    from ..sources.readers import register_parallel_cache

    reps = collapse_reps_only(ref_docs.select("doc_id", "text"))
    g = reps.select(
        F.col("doc_id").alias("ref_id"),
        F.explode(shingles(F.col("text"), n)).alias("gram"),
    )
    hot = register_parallel_cache(
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("gram")
        .persist()
    )
    # Pin the reference artifacts (r21, guide §5): "build-once" was only
    # true per CONSUMER SUBTREE before — the batch excerpt_screen spelling
    # consumed (rare, sizes, hot) from four independent branches and
    # re-ran the reference collapse + explode + hot aggregate per branch,
    # and the streaming processor's three artifact writes did the same at
    # construction. Pinned + count-barriered, the build executes once;
    # sizes stays a lazy aggregate over the cached rows. hot is pinned
    # separately (it is consumed by the NEW side's anti-join on its own);
    # rare.count() doubles as its materialization barrier.
    rare = register_parallel_cache(g.join(hot, "gram", "left_anti").persist())
    rare.count()
    sizes = rare.groupBy("ref_id").agg(F.count(F.lit(1)).alias("n_ref_grams"))
    return rare, sizes, hot


def containment_against(
    new_docs: DataFrame,
    rare_grams: DataFrame,
    sizes: DataFrame,
    hot: DataFrame,
    n: int = 3,
    threshold: float = CONTAIN_THRESHOLD,
) -> DataFrame:
    """Asymmetric containment of incoming documents AGAINST a fixed
    reference corpus: for each (new doc, ref doc) pair sharing rare
    grams, C = shared / min(|new|, |ref|) over the reference's
    df-filtered gram universe — "is this arriving page an excerpt of
    something already in the corpus (or the corpus's page an excerpt of
    it)". The streaming twin of ``containment_pairs``' subsumption
    detection, with the decontaminate deployment shape: per-doc verdict
    against frozen artifacts, no cross-batch state.

    Scale shape: the new side explodes once and drops reference-hot
    grams via the broadcast-able ``hot`` table (its OWN rare filter is
    the reference's — the determinism that makes stream == batch a pure
    function); one gram-keyed equi-join against ``rare_grams`` (each
    gram matches <= max_df reference docs, so per-gram fan-out is
    bounded by the cap times the gram's batch occurrences — and a batch
    is a micro-batch, never the corpus); one map-side-combined pair
    count; two broadcast size join-backs. Output: (doc_id, ref_id,
    shared_grams, containment_new, containment_ref, containment)."""
    from ..sources.readers import register_parallel_cache

    # Pin the new side's df-filtered grams (r21): TWO consumers (per-doc
    # sizes and the shared-gram join) re-ran the batch explode + hot
    # anti-join otherwise. Registry-managed: the FIFO cap bounds growth
    # across streaming micro-batches, and the bench releases between
    # queries.
    g_new = register_parallel_cache(
        new_docs.select(
            "doc_id", F.explode(shingles(F.col("text"), n)).alias("gram")
        )
        .join(hot, "gram", "left_anti")
        .persist()
    )
    g_new.count()
    new_sizes = g_new.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_new_grams")
    )
    shared = (
        g_new.join(rare_grams, "gram")
        .groupBy("doc_id", "ref_id")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    contain = F.col("shared_grams").cast("double") / F.least(
        "n_new_grams", "n_ref_grams"
    ).cast("double")
    return (
        shared.join(new_sizes, "doc_id")
        .join(sizes, "ref_id")
        .filter(contain >= F.lit(threshold))
        .select(
            "doc_id",
            "ref_id",
            "shared_grams",
            F.round(
                F.col("shared_grams").cast("double")
                / F.col("n_new_grams").cast("double"),
                6,
            ).alias("containment_new"),
            F.round(
                F.col("shared_grams").cast("double")
                / F.col("n_ref_grams").cast("double"),
                6,
            ).alias("containment_ref"),
            F.round(contain, 6).alias("containment"),
        )
    )


EXCERPT_EVERY = 10          # every 10th doc streams a prefix excerpt
EXCERPT_SHIFT = 2_000_000_000  # excerpt ids: above CONTAIN_CLONE_SHIFT too
EXCERPT_FRAC = 0.6


def docs_excerpt_stream(docs: DataFrame) -> DataFrame:
    """The arriving-documents fixture for ``excerpt_screen``: every
    ``EXCERPT_EVERY``-th document's first 60% of tokens under a shifted
    id — a synthetic crawl shard in which known excerpts of the held
    corpus arrive as "new" pages (mirrored verbatim in the oracle)."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    keep = F.ceil(F.size(toks) * F.lit(EXCERPT_FRAC)).cast("int")
    return docs.filter(F.col("doc_id") % EXCERPT_EVERY == 0).select(
        (F.col("doc_id") + F.lit(EXCERPT_SHIFT)).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, keep)).alias("text"),
    )


def q_excerpt_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment screening of an arriving excerpt stream against the
    held corpus (``containment_against`` over build-once reference
    artifacts — the batch spelling of the streaming containment
    processor, fully oracle-checked end to end)."""
    from ..sources.readers import parallel_scan

    docs = parallel_scan(load_table(spark, sf_dir, "documents"))
    rare, sizes, hot = build_containment_ref(docs.select("doc_id", "text"))
    return containment_against(docs_excerpt_stream(docs), rare, sizes, hot)


ORACLE_EXCERPT_SCREEN = f"""
WITH reps AS (
  SELECT min(doc_id) AS ref_id, text FROM documents GROUP BY text
), rg AS (
  SELECT ref_id, unnest({_DUCK_SHINGLES.format(t='text')}) AS gram FROM reps
), hot AS (
  SELECT gram FROM rg GROUP BY gram HAVING count(*) > {CONTAIN_MAX_DF}
), rare AS (
  SELECT * FROM rg WHERE gram NOT IN (SELECT gram FROM hot)
), ref_sizes AS (
  SELECT ref_id, count(*) AS n_ref_grams FROM rare GROUP BY ref_id
), new_docs AS (
  SELECT doc_id + {EXCERPT_SHIFT} AS doc_id,
         array_to_string(
           list_slice(string_split_regex(trim(text), '\\s+'), 1,
             CAST(ceil(len(string_split_regex(trim(text), '\\s+'))
                       * {EXCERPT_FRAC!r}) AS INT)),
           ' ') AS text
  FROM documents WHERE doc_id % {EXCERPT_EVERY} = 0
), ng AS (
  SELECT doc_id, unnest({_DUCK_SHINGLES.format(t='text')}) AS gram
  FROM new_docs
), ng_rare AS (
  SELECT * FROM ng WHERE gram NOT IN (SELECT gram FROM hot)
), new_sizes AS (
  SELECT doc_id, count(*) AS n_new_grams FROM ng_rare GROUP BY doc_id
), shared AS (
  SELECT n.doc_id, r.ref_id, CAST(count(*) AS BIGINT) AS shared_grams
  FROM ng_rare n JOIN rare r USING (gram)
  GROUP BY 1, 2
)
SELECT s.doc_id, s.ref_id, s.shared_grams,
       ROUND(CAST(shared_grams AS DOUBLE) / ns.n_new_grams, 6)
         AS containment_new,
       ROUND(CAST(shared_grams AS DOUBLE) / rs.n_ref_grams, 6)
         AS containment_ref,
       ROUND(CAST(shared_grams AS DOUBLE)
             / least(ns.n_new_grams, rs.n_ref_grams), 6) AS containment
FROM shared s
JOIN new_sizes ns ON ns.doc_id = s.doc_id
JOIN ref_sizes rs ON rs.ref_id = s.ref_id
WHERE CAST(shared_grams AS DOUBLE) / least(ns.n_new_grams, rs.n_ref_grams)
      >= {CONTAIN_THRESHOLD!r}
"""


# -------------------------------------------- soft (weighted) dedup

SOFT_DEDUP_GAMMA = 9.0  # weight floor 1/(1+gamma): fully-common doc trains at 0.1


def soft_dedup_weights(
    docs: DataFrame, n: int = 3, gamma: float = SOFT_DEDUP_GAMMA
) -> DataFrame:
    """SoftDeDup-style importance DOWN-WEIGHTING instead of hard removal
    (He et al. 2024, "SoftDedup: an efficient data reweighting method";
    the idea also underlies D4's reweighting ablation): each document
    gets a training sampling weight that decays with how COMMON its
    content is across the corpus, so near-boilerplate trains less
    without the cliff of a binary dedup threshold — hard dedup throws
    away the marginal information in partially-duplicated pages.

    commonness c_d = mean over the doc's distinct n-grams of
    (df(g) - 1) / (N - 1)  in [0, 1]   (0 = every gram unique to d,
    1 = every gram appears in every document), then
    weight w_d = 1 / (1 + gamma * c_d)  in [1/(1+gamma), 1].

    Output: (doc_id, n_grams, commonness, weight) — one row per doc, no
    doc ever dropped (the gate-free contract is the point).

    Scale shape: one gram explode, one map-side-combined df count, one
    gram-keyed equi-join back (df table bounded by the corpus's DISTINCT
    gram space, the ngram_novelty shape), one doc-keyed mean. Nothing
    quadratic, nothing collected. Exact duplicates need no collapse
    here — there is no candidate generation and no df CAP to poison;
    duplication flows INTO the weight (copies of a page all converge to
    the same lowered weight), which is the intended semantics.

    Rounding law (round 15, the money-sum Class-A analog): commonness
    is a RATIONAL — (sum_df - n) / (n * (N-1)) — whose exact value can
    land precisely ON the 6-decimal half boundary whenever the
    denominator divides the decimal grid (first seen in
    ``soft_dedup_against`` at sf0.1: N=5000 = 2^3*5^4, c = 157/80000 =
    0.0019625 exactly; Spark's shortest-repr HALF_UP gave ...63, DuckDB's
    binary-value round gave ...62). The published column is therefore
    rounded in INTEGER arithmetic — half-up = (2e6*num + den) DIV
    (2*den) — which both engines compute bit-identically; the weight
    keeps the double pipeline (its rational denominator is never of
    2^a*5^b form, so it cannot sit on the boundary)."""
    g = docs.select(
        "doc_id", F.explode(shingles(F.col("text"), n)).alias("gram")
    )
    dfreq = g.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        g.join(dfreq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("df").alias("_sum_df"),
            F.avg(F.col("df").cast("double") - F.lit(1.0)).alias("_mean_xdf"),
        )
        .crossJoin(F.broadcast(n_docs))
    )
    common = F.when(
        F.col("n_docs") > 1, F.col("_mean_xdf") / (F.col("n_docs") - F.lit(1.0))
    ).otherwise(F.lit(0.0))
    common_exact6 = F.when(
        F.col("n_docs") > 1,
        F.expr(
            "(2000000 * (_sum_df - n_grams) + n_grams * (n_docs - 1))"
            " DIV (2 * n_grams * (n_docs - 1))"
        ).cast("double")
        / F.lit(1000000.0),
    ).otherwise(F.lit(0.0))
    return scored.select(
        "doc_id",
        "n_grams",
        common_exact6.alias("commonness"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.lit(float(gamma)) * common), 6)
        .alias("weight"),
    )


def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import parallel_scan

    return soft_dedup_weights(
        parallel_scan(load_table(spark, sf_dir, "documents"))
    )


ORACLE_SOFT_DEDUP_WEIGHTS = f"""
WITH g AS (
  SELECT doc_id, unnest({_DUCK_SHINGLES.format(t='text')}) AS gram
  FROM documents
), dfreq AS (
  SELECT gram, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY gram
), nd AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(df) AS BIGINT) AS sum_df,
         avg(CAST(df AS DOUBLE) - 1.0) AS mean_xdf
  FROM g JOIN dfreq USING (gram) GROUP BY doc_id
)
-- commonness rounds in INTEGER arithmetic (half-up), mirroring the
-- engine: its rational value can sit exactly ON the 6-decimal half
-- boundary and double-rounding then diverges between engines
SELECT doc_id, n_grams,
       CASE WHEN n_docs > 1 THEN
         CAST((2000000 * (sum_df - n_grams) + n_grams * (n_docs - 1))
              // (2 * n_grams * (n_docs - 1)) AS DOUBLE) / 1000000
       ELSE 0.0 END AS commonness,
       ROUND(1.0 / (1.0 + {SOFT_DEDUP_GAMMA!r}
                    * CASE WHEN n_docs > 1 THEN mean_xdf / (n_docs - 1.0)
                           ELSE 0.0 END), 6) AS weight
FROM scored, nd
"""


# ------------------------- soft dedup weights vs a FIXED reference corpus


def build_soft_dedup_ref(
    ref_docs: DataFrame, n: int = 3
) -> tuple[DataFrame, DataFrame]:
    """Fit-once artifacts for ``soft_dedup_against`` (the
    ``build_containment_ref`` discipline): returns ``(dfreq, meta)``
    where ``dfreq`` = (gram, df) over the reference corpus — df counts
    every reference ROW, deliberately NOT duplicate-collapsed: for a
    commonness score duplication IS the signal (a page held 1000 times
    must make its grams 1000x more common), there is no df CAP or
    bucketed candidate generator for replicas to poison, so the
    engine's duplicate law does not apply here (contrast
    ``build_containment_ref``, whose max_df guard it protects) — and
    ``meta`` = a 1-row (n_ref_docs) table carried as a DataFrame so the
    artifact round-trips through parquet and the scoring plan stays
    lazy."""
    g = ref_docs.select(
        "doc_id", F.explode(shingles(F.col("text"), n)).alias("gram")
    )
    dfreq = g.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    meta = ref_docs.agg(F.count(F.lit(1)).alias("n_ref_docs"))
    return dfreq, meta


def soft_dedup_against(
    new_docs: DataFrame,
    dfreq: DataFrame,
    meta: DataFrame,
    n: int = 3,
    gamma: float = SOFT_DEDUP_GAMMA,
) -> DataFrame:
    """SoftDeDup reweighting of incoming documents AGAINST a fixed
    reference corpus — the streaming twin of ``soft_dedup_weights``
    (the ``containment_against`` precedent): an arriving doc's
    commonness is the mean over its grams of df_ref(g) / N_ref in
    [0, 1], weight = 1 / (1 + gamma * commonness). Grams the reference
    has never seen contribute df 0 (novel content scores toward weight
    1.0 — the desired drift signal), via a LEFT join against the frozen
    df table.

    Semantics note (why this is a DIFFERENT function from the batch
    whole-corpus operator, ROADMAP "streaming soft-dedup"): the
    in-corpus estimator excludes the doc itself — (df-1)/(N-1) — while
    an arriving doc is NOT a member of the frozen reference, so the
    unexcluded df/N is the correct membership-free estimator. A running
    cross-batch df would retroactively change earlier docs' weights
    (stream != batch); against frozen artifacts a doc's weight is a
    pure function of (its grams, the artifacts), so shard-invariance
    and replay idempotence hold exactly.

    Scale shape: one gram explode on the batch side, one gram-keyed
    LEFT equi-join against the distinct-gram-bounded frozen df table,
    one map-side-combined doc mean, one broadcast of the 1-row meta.
    Nothing quadratic, nothing collected. Output: (doc_id, n_grams,
    commonness, weight) — every input doc appears, gate-free.

    The commonness column rounds in INTEGER arithmetic (see
    ``soft_dedup_weights``' rounding law — this operator is where the
    hazard first FIRED: with N_ref = 5000 = 2^3*5^4 the rational
    sum_df/(n_grams*N_ref) lands exactly on 6-decimal halves and
    Spark/DuckDB double-rounding disagree)."""
    g = new_docs.select(
        "doc_id", F.explode(shingles(F.col("text"), n)).alias("gram")
    )
    scored = (
        g.join(dfreq, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("df"), F.lit(0))).alias("_sum_df"),
            F.avg(F.coalesce(F.col("df"), F.lit(0)).cast("double")).alias(
                "_mean_df"
            ),
        )
        .crossJoin(F.broadcast(meta))
    )
    common = F.when(
        F.col("n_ref_docs") > 0,
        F.col("_mean_df") / F.col("n_ref_docs").cast("double"),
    ).otherwise(F.lit(0.0))
    common_exact6 = F.when(
        F.col("n_ref_docs") > 0,
        F.expr(
            "(2000000 * _sum_df + n_grams * n_ref_docs)"
            " DIV (2 * n_grams * n_ref_docs)"
        ).cast("double")
        / F.lit(1000000.0),
    ).otherwise(F.lit(0.0))
    return scored.select(
        "doc_id",
        "n_grams",
        common_exact6.alias("commonness"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.lit(float(gamma)) * common), 6)
        .alias("weight"),
    )


def q_soft_dedup_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership-free soft-dedup scoring of the corpus against its own
    frozen gram-df artifacts (``soft_dedup_against`` — the oracle-checked
    batch spelling of the streaming soft-dedup processor, exactly the
    ``excerpt_screen`` / containment relationship)."""
    from ..sources.readers import parallel_scan

    docs = parallel_scan(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    dfreq, meta = build_soft_dedup_ref(docs)
    return soft_dedup_against(docs, dfreq, meta)


ORACLE_SOFT_DEDUP_SCREEN = f"""
WITH g AS (
  SELECT doc_id, unnest({_DUCK_SHINGLES.format(t='text')}) AS gram
  FROM documents
), dfreq AS (
  SELECT gram, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY gram
), nd AS (
  SELECT count(*) AS n_ref_docs FROM documents
), scored AS (
  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(COALESCE(d.df, 0)) AS BIGINT) AS sum_df,
         avg(CAST(COALESCE(d.df, 0) AS DOUBLE)) AS mean_df
  FROM g LEFT JOIN dfreq d USING (gram) GROUP BY g.doc_id
)
-- integer half-up rounding for commonness (the soft_dedup_weights law)
SELECT doc_id, n_grams,
       CASE WHEN n_ref_docs > 0 THEN
         CAST((2000000 * sum_df + n_grams * n_ref_docs)
              // (2 * n_grams * n_ref_docs) AS DOUBLE) / 1000000
       ELSE 0.0 END AS commonness,
       ROUND(1.0 / (1.0 + {SOFT_DEDUP_GAMMA!r}
                    * CASE WHEN n_ref_docs > 0 THEN mean_df / n_ref_docs
                           ELSE 0.0 END), 6) AS weight
FROM scored, nd
"""


# ------------------------------------------------------------------ simhash


def simhash64(text_col: Column) -> Column:
    """64-bit SimHash from whitespace tokens, entirely in Catalyst.

    Classic bit-vote as ONE fold over the token hashes: each token's
    xxhash64 adds +1 to vote p when its bit p is set and -1 otherwise, and
    bit p of the simhash is 1 iff vote p is positive — the same rule as
    "more than half the tokens set bit p" (count_p - (n - count_p) > 0 iff
    2 * count_p > n). The tokens are split and hashed once per row (the
    fold's input array), and the column is built in a fixed number of JVM
    calls. NULL text gives NULL (the fold over a NULL array)."""
    hashes = F.transform(
        F.split(F.trim(text_col), r"\s+"), lambda t: F.xxhash64(t)
    )
    one = F.lit(1).cast("long")

    def vote(acc: Column, h: Column) -> Column:
        return F.transform(
            acc,
            lambda v, p: v + F.when(
                h.bitwiseAND(F.call_function("shiftleft", one, p)) != 0, 1
            ).otherwise(-1),
        )

    def bits(votes: Column) -> Column:
        set_bits = F.transform(
            votes,
            lambda v, p: F.when(
                v > 0, F.call_function("shiftleft", one, p)
            ).otherwise(F.lit(0).cast("long")),
        )
        return F.aggregate(set_bits, F.lit(0).cast("long"), lambda a, b: a.bitwiseOR(b))

    return F.aggregate(hashes, F.array_repeat(F.lit(0), 64), vote, bits)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def _member_pairs(members: Column) -> Column:
    """Ordered (id, sim) pairs inside one simhash bucket — same bucket-local
    expansion as ``bucket_pairs`` but carrying the signatures along."""
    m = F.array_sort(members)  # struct sort: by id first
    return F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + 2, F.size(m)),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["sim"].alias("sim_a"),
                    y["sim"].alias("sim_b"),
                ),
            ),
        )
    )


def _member_star(members: Column) -> Column:
    """Mega-bucket overflow for the simhash path: (min-id member, other)
    spokes — linear, same element type as ``_member_pairs`` (see
    ``star_pairs`` for the rationale and the per-element re-evaluation
    trap it avoids). ``array_min`` on an array<struct> is min by the
    first field (id), which is exactly the hub we want."""
    hub = F.array_min(members)
    return F.zip_with(
        F.array_repeat(hub, F.size(members) - 1),
        F.array_remove(members, hub),
        lambda h, y: F.struct(
            h["id"].alias("id_a"),
            y["id"].alias("id_b"),
            h["sim"].alias("sim_a"),
            y["sim"].alias("sim_b"),
        ),
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    bands: int = 4,
    max_bucket: int = 1000,
    collapse_exact: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit simhash into ``bands``
    16-bit slices; by pigeonhole, any pair within Hamming distance <
    ``bands`` shares at least one exact band — join per band, verify
    the full Hamming distance.

    ``collapse_exact`` (default on): identical texts collapse to one
    representative before banding and expand back afterwards at Hamming
    exactly 0 — see ``minhash_near_dup_pairs`` for the rationale."""
    release_parallel_caches()
    pairs = partial(
        _simhash_pairs, text_col=text_col, id_col=id_col,
        max_hamming=max_hamming, bands=bands, max_bucket=max_bucket,
    )
    if not collapse_exact:
        return pairs(df)
    # narrow pin (the r20 full-width pin measured 4x slower at same
    # cores). A NULL simhash yields a NULL hamming the uncollapsed verify
    # drops, and simhash64 is NULL exactly when the TEXT is NULL (split of
    # a trimmed empty string still yields one token), so the validity
    # predicate is a plain IS NOT NULL — never the 64-bit-vote expression.
    return collapsed_pairs(
        df, [text_col], id_col, "narrow", pairs, "hamming", F.lit(0),
        valid=F.col(text_col).isNotNull(), max_bucket=max_bucket,
    )


def _simhash_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int, bands: int,
    max_bucket: int,
) -> DataFrame:
    """``simhash_near_dup_pairs``' signature + banded-Hamming body over
    its input as given (no collapse)."""
    sigs = _parallel_text(df, text_col, id_col).select(
        "id", simhash64(F.col("t")).alias("sim")
    )
    # collapse_identical=False: the front door's text collapse removed
    # byte-identical inputs; a second signature-level collapse would only
    # catch distinct texts hashing to the same simhash (rare) for an extra
    # shuffle
    return banded_hamming_pairs(
        sigs, max_hamming, bands, max_bucket, collapse_identical=False
    )


def banded_hamming_pairs(
    sigs: DataFrame,
    max_hamming: int = 8,
    bands: int = 4,
    max_bucket: int = 1000,
    collapse_identical: bool = True,
) -> DataFrame:
    """Near-pairs (id_a, id_b, hamming) over ANY 64-bit signature table
    ``(id, sim)`` — the banded-Hamming core shared by simhash text dedup
    and the perceptual-hash image dedup (``multimodal.phash_near_dup``).

    Bands the signature into ``bands`` (64/bands)-bit slices and joins per
    band; by pigeonhole a pair within Hamming distance < ``bands`` shares
    at least one exact band, so for ``max_hamming < bands`` the candidate
    stage has COMPLETE recall and the verified output is exact.

    ``collapse_identical`` (default on): rows with the SAME signature
    collapse to their min-id representative before banding and expand
    back afterwards — within-group pairs at Hamming exactly 0, cross-
    group pairs at the verified rep-pair distance; LOSSLESS by
    construction, because the pair metric depends only on the two
    signatures. This is the duplication-factor guard: each band has a
    FIXED 2^(64/bands) bucket space, so on a duplicate-heavy corpus
    (the sf1 tier is 10x-replicated; the web is worse) bucket occupancy
    grows with the duplication factor and the in-bucket pair expansion
    quadratically with it — measured 71x wall at 10x data on
    phash_near_dup before this collapse, 10x-bounded after. Callers
    that already collapsed upstream (simhash's text collapse) pass
    False."""
    if collapse_identical:
        # PIN the collapse window output (r20). The expression tree under
        # the pin is the caller's signature pass — for multimodal callers a mapInPandas
        # decode+hash of every payload — plus the full shuffle+sort of
        # the 16-byte signature rows. The validity filter, the banded rep
        # path and the three expansion branches are separate join
        # subtrees with no cross-subtree CSE, so unpinned the Python
        # signature pass re-executed once per subtree (r20 stage profile:
        # phash_near_dup ran the dHash UDF 3x, ~40 s executor time each
        # at sf0.1). One pin makes the UDF AND the window once-per-query;
        # every consumer is a cache read. pin stays FULL here (unlike the
        # text/vector collapses): the input is a (id, sim) signature
        # table — 24-byte cached rows — and a narrow pin would re-run the
        # Python signature pass to rebuild reps, the very cost the pin
        # deletes (phash measured 3.8 s -> 2.8 s with the full pin, r21).
        # A NULL signature's verify hamming is NULL in the uncollapsed
        # path, so NULL-signature groups stay out of the expansion.
        pairs = partial(
            banded_hamming_pairs, max_hamming=max_hamming, bands=bands,
            max_bucket=max_bucket, collapse_identical=False,
        )
        return collapsed_pairs(
            sigs, ["sim"], "id", "full", pairs, "hamming", F.lit(0),
            valid=F.col("sim").isNotNull(), max_bucket=max_bucket,
        )
    width = 64 // bands
    mask = (1 << width) - 1
    banded = sigs.select(
        "id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sim"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "sim", "bk.band", "bk.bh")
    # Bucket-local pair expansion (one shuffle) instead of a self-join (two);
    # the signature rides along in the struct so the verify needs no re-join.
    pairs = (
        # pre-agg repartition on the bucket key: exchange reused by the
        # groupBy, AQE keeps the partition count -> parallel expansion
        banded.repartition(expansion_partitions(sigs), "band", "bh")
        .groupBy("band", "bh")
        .agg(F.collect_list(F.struct("id", "sim")).alias("members"))
        .filter(F.size("members") > 1)
        # degenerate-bucket guard with linear star overflow (see star_pairs)
        .select(
            F.explode(
                F.when(
                    F.size("members") <= max_bucket,
                    _member_pairs(F.col("members")),
                ).otherwise(_member_star(F.col("members")))
            ).alias("p")
        )
        .select("p.id_a", "p.id_b", "p.sim_a", "p.sim_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        pairs.withColumn("hamming", hamming64(F.col("sim_a"), F.col("sim_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs on documents (rows-only driver check)."""
    return simhash_near_dup_pairs(load_table(spark, sf_dir, "documents"))


# ----------------------------------------------- LSH banding planner


def lsh_recall(j: float, bands: int, rows: int) -> float:
    """Probability a pair at Jaccard ``j`` lands in >=1 shared band:
    ``1 - (1 - j^rows)^bands`` (the MMDS banding S-curve)."""
    return 1.0 - (1.0 - j**rows) ** bands


def minhash_plan(
    jaccard_threshold: float,
    target_recall: float = 0.95,
    max_hashes: int = 64,
) -> dict:
    """Choose (num_hashes, bands, rows_per_band) for
    ``minhash_near_dup_pairs``: the CHEAPEST banding whose S-curve
    recall at the operating threshold meets ``target_recall``.

    Cost model, in order: fewer total hashes k = bands*rows beats more
    (k drives both the signature compute and the shuffle width — each
    band hash is one shuffle key row per doc); at equal k, more rows
    per band beats fewer (higher r sharpens the S-curve, so fewer
    sub-threshold candidate pairs reach the exact-Jaccard verify).
    The measured SCALE.md banding sweep is the empirical version of
    this table (r dominates recall; every r=2 config hits 1.0 at
    J=0.8).

    Returns {num_hashes, bands, rows_per_band, recall_at_threshold} —
    the recall is the guarantee AT the threshold; pairs above it only
    do better (the S-curve is monotone in j). Raises if no plan within
    ``max_hashes`` meets the target (lower the target or raise the
    budget)."""
    if not 0.0 < jaccard_threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1): {jaccard_threshold}")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(f"target_recall must be in (0,1): {target_recall}")
    best = None
    for k in range(2, max_hashes + 1):
        for r in range(k, 0, -1):  # prefer sharp curves at equal k
            if k % r != 0:
                continue
            b = k // r
            rec = lsh_recall(jaccard_threshold, b, r)
            if rec >= target_recall:
                best = {
                    "num_hashes": k,
                    "bands": b,
                    "rows_per_band": r,
                    "recall_at_threshold": round(rec, 6),
                }
                break
        if best:
            break
    if best is None:
        raise ValueError(
            f"no banding within {max_hashes} hashes reaches recall "
            f"{target_recall} at J={jaccard_threshold}"
        )
    return best
