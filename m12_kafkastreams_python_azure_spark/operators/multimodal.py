"""Multimodal columns: image/audio/video as opaque ``binary`` + typed metadata.

Engine-roadmap surface for a 100 TB training-data pipeline. The Spark-side
plumbing is real and tested — schema, partitioning, Arrow batch shape,
``mapInPandas`` signatures; only the media *decode* kernels are stubbed
(the codec libraries are not in this container) behind
``DETERMINISTIC_FAKE_DECODE``: a reproducible fake that derives "pixels" /
"samples" from the bytes, or ``NotImplementedError`` when disabled.

Design notes for scale:

- media rows are large (MBs) — keep ``spark.sql.files.maxPartitionBytes``
  the bound on scan partitions and NEVER collect binaries to the driver.
- decode/feature-extract runs as ``mapInPandas`` (Arrow batches, one Python
  worker per core); batch size bounded by ``maxRecordsPerBatch`` so a batch
  of decoded frames fits executor memory.
- derived features (embeddings, thumbnails) are small — project early, so
  the heavy binary column is dropped before any shuffle.
- every closure shipped to Python workers is SELF-CONTAINED (locals +
  stdlib/pandas imported inside): no reference to this package, so workers
  need nothing beyond pyspark+pandas on their path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Flip to False to surface NotImplementedError where real codecs are needed.
DETERMINISTIC_FAKE_DECODE = True

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),       # image | audio | video
        StructField("mime", StringType()),
        StructField("payload", BinaryType()),    # opaque encoded bytes
        StructField("width", IntegerType()),     # typed metadata (nullable)
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", IntegerType()),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_luma", IntegerType()),   # 0..255
        StructField("phash64", LongType()),        # perceptual-hash stand-in
    ]
)


def extract_image_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract images via mapInPandas (Arrow-batched).

    The binary column enters the Python worker in Arrow batches and is
    DROPPED in the returned frame — only small features leave, so any
    downstream shuffle moves features, not media bytes.
    """
    fake = DETERMINISTIC_FAKE_DECODE  # captured by value — closure stays self-contained

    def batches(it):
        import hashlib

        import pandas as pd

        def decode(payload: bytes):
            # Deterministic stand-in for an image decode. Replace with
            # PIL/libvips in production.
            if not fake:
                raise NotImplementedError("image codec not available in this container")
            d = hashlib.sha256(payload).digest()
            return (
                64 + d[0] % 192,
                64 + d[1] % 192,
                d[2],
                int.from_bytes(d[3:11], "big", signed=True),
            )

        for pdf in it:
            decoded = [decode(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "mean_luma": [d[2] for d in decoded],
                    "phash64": [d[3] for d in decoded],
                }
            )

    return (
        media.filter(F.col("kind") == "image")
        .select("media_id", "payload")
        .mapInPandas(batches, IMAGE_FEATURES_SCHEMA)
    )


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Adapt the documents table into the media schema (payload = the UTF-8
    bytes of the text) — a deterministic binary column for exercising the
    full multimodal path against real testdata."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("application/x-fake").alias("mime"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.lit(None).cast("int").alias("n_frames"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked multimodal query: binary payload -> mapInPandas decode
    (Arrow batches through a Python worker) -> small typed features. The
    deterministic fake decode is sha256-derived, which the DuckDB oracle
    reproduces byte-for-byte from the hex digest — so the whole
    Python-worker path is value-checked, not just smoke-tested."""
    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    # spread the single-file scan so the Python decode workers run on all
    # cores (mapInPandas sits above the exchange, so a bare repartition is
    # enough here — no pushdown hazard)
    par = spark.sparkContext.defaultParallelism
    media = media_from_documents(docs.repartition(par))
    return extract_image_features(media).select(
        "media_id", "width", "height", "mean_luma"
    )


# byte i (1-based) of the hex sha256 digest, as an integer expression
_HEXB = (
    "((strpos('0123456789abcdef', substr(hx, {o1}, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(hx, {o2}, 1)) - 1))"
)


def _hex_byte(i: int) -> str:
    return _HEXB.format(o1=2 * i - 1, o2=2 * i)


ORACLE_MEDIA_FEATURES = f"""
WITH h AS (
  SELECT doc_id AS media_id, sha256(text) AS hx FROM documents
)
SELECT media_id,
       CAST(64 + {_hex_byte(1)} % 192 AS INTEGER) AS width,
       CAST(64 + {_hex_byte(2)} % 192 AS INTEGER) AS height,
       CAST({_hex_byte(3)} AS INTEGER) AS mean_luma
FROM h
"""


def resize_stub(media: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize plumbing: passes bytes through the Arrow boundary and returns a
    (fake) resized payload + new dims. Shape/typing is what production needs;
    the kernel is the stub."""
    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("payload", BinaryType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
        ]
    )
    fake = DETERMINISTIC_FAKE_DECODE

    def batches(it):
        import hashlib

        import pandas as pd

        for pdf in it:
            ws, hs, payloads = [], [], []
            for p in pdf["payload"]:
                if not fake:
                    raise NotImplementedError("image codec not available")
                d = hashlib.sha256(p).digest()
                w, h = 64 + d[0] % 192, 64 + d[1] % 192
                scale = min(1.0, max_side / max(w, h))
                ws.append(int(w * scale))
                hs.append(int(h * scale))
                payloads.append(bytes(p[: max(1, len(p) // 2)]))  # fake downscale
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads,
                 "width": ws, "height": hs}
            )

    return media.filter(F.col("kind") == "image").select(
        "media_id", "payload"
    ).mapInPandas(batches, out_schema)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Audio decode plumbing: payload -> (duration, rms stub). Duration is
    real arithmetic on the byte length and sample-rate metadata (16-bit
    mono assumption); the rms is the deterministic fake standing in for a
    real codec."""
    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("duration_s", IntegerType()),
            StructField("rms", IntegerType()),
        ]
    )
    fake = DETERMINISTIC_FAKE_DECODE

    def batches(it):
        import hashlib

        import pandas as pd

        for pdf in it:
            ids, durs, rmss = [], [], []
            for mid, p, sr in zip(
                pdf["media_id"], pdf["payload"], pdf["sample_rate"]
            ):
                if not fake:
                    raise NotImplementedError("audio codec not available")
                rate = int(sr) if pd.notna(sr) and sr else 16000
                n_samples = len(bytes(p)) // 2
                ids.append(mid)
                durs.append(n_samples // rate)
                rmss.append(hashlib.sha256(bytes(p)).digest()[0])
            yield pd.DataFrame(
                {"media_id": ids, "duration_s": durs, "rms": rmss}
            )

    return media.filter(F.col("kind") == "audio").select(
        "media_id", "payload", "sample_rate"
    ).mapInPandas(batches, out_schema)


def sample_video_frames(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plumbing for video: one output row per sampled frame
    (explode semantics through mapInPandas)."""
    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("frame_phash64", LongType()),
        ]
    )
    fake = DETERMINISTIC_FAKE_DECODE

    def batches(it):
        import hashlib

        import pandas as pd

        for pdf in it:
            ids, idxs, hashes = [], [], []
            for mid, p, nf in zip(pdf["media_id"], pdf["payload"], pdf["n_frames"]):
                if not fake:
                    raise NotImplementedError("video codec not available")
                n = int(nf) if pd.notna(nf) else 0
                for fi in range(0, n, every_n):
                    # ':'-delimited DECIMAL index suffix (not raw bytes):
                    # keeps the fake frame hash expressible as DuckDB
                    # sha256(varchar) — its sha256 has no BLOB overload —
                    # so video_near_dup below can be fully oracle-checked
                    d = hashlib.sha256(
                        bytes(p) + b":" + str(fi).encode()
                    ).digest()
                    ids.append(mid)
                    idxs.append(fi)
                    hashes.append(int.from_bytes(d[:8], "big", signed=True))
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_phash64": hashes}
            )

    return media.filter(F.col("kind") == "video").select(
        "media_id", "payload", "n_frames"
    ).mapInPandas(batches, out_schema)


# -------------------------------------------------- perceptual-hash image dedup

DHASH_GRID_COLS = 9   # 8x9 luma grid -> 8 rows x 8 horizontal comparisons
DHASH_GRID_ROWS = 8
PHASH_MAX_HAMMING = 6
PHASH_BANDS = 8       # 8-bit bands: pigeonhole-complete for hamming < 8


DHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("dhash64", LongType()),
    ]
)


def image_dhash(media: DataFrame) -> DataFrame:
    """64-bit difference hash (dHash) per image — THE standard perceptual
    near-dup signature (a la Krawetz's dHash: downscale to a 9x8 luma
    grid, emit one bit per horizontal neighbor comparison). Bit k of the
    hash (MSB-first, k = row*8 + col) is 1 iff grid[row][col] <
    grid[row][col+1].

    Decode stand-in (this container has no codecs): the "9x8 luma grid"
    is the payload BYTE STREAM average-pooled into 72 near-equal windows
    — deterministic AND locality-preserving (two payloads differing in a
    few bytes share almost every window mean, hence almost every bit),
    which is the property the real decode+resize provides and the
    sha256 fake in ``extract_image_features`` deliberately does not.
    Production swaps ONLY the grid function for a real decode+grayscale+
    9x8 resize; the bit extraction, banding, and Hamming verify are the
    real algorithm, unchanged.

    Runs as mapInPandas (Arrow batches); the binary column never leaves
    the Python worker — only (media_id, int64) rows do, so every
    downstream shuffle moves 16-byte rows regardless of image size."""
    fake = DETERMINISTIC_FAKE_DECODE
    cols, rows = DHASH_GRID_COLS, DHASH_GRID_ROWS
    cells = cols * rows

    def batches(it):
        import numpy as np
        import pandas as pd

        # numpy spelling of the original per-row loop (r21, guide §4.2:
        # vectorize inside the Python worker). Bit-identical by
        # construction: window sums are exact int64 (cumsum difference ==
        # sum(d[lo:hi])), the mean is the same int/int IEEE-double
        # division, the comparisons and MSB-first packing reproduce the
        # original shift loop's bit order, and empty windows keep the 0.0
        # stand-in. Verified value-identical over the full fixture corpus
        # (tests + oracle rows).
        win = np.arange(cells + 1, dtype=np.int64)

        def dhash(payload: bytes) -> int:
            if not fake:
                raise NotImplementedError("image codec not available in this container")
            d = np.frombuffer(bytes(payload), dtype=np.uint8)
            ln = len(d)
            if ln == 0:
                return 0  # every window empty -> grid all 0.0 -> no bit set
            cuts = (win * ln) // cells
            cs = np.concatenate(([0], np.cumsum(d, dtype=np.int64)))
            lo, hi = cuts[:-1], cuts[1:]
            cnt = hi - lo
            sums = cs[hi] - cs[lo]
            grid = np.where(cnt > 0, sums / np.maximum(cnt, 1), 0.0)
            g = grid.reshape(rows, cols)
            bits = np.packbits(g[:, :-1] < g[:, 1:]).tobytes()
            return int.from_bytes(bits, "big", signed=True)

        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "dhash64": [dhash(p) for p in pdf["payload"]],
                }
            )

    return (
        media.filter(F.col("kind") == "image")
        .select("media_id", "payload")
        .mapInPandas(batches, DHASH_SCHEMA)
    )


# Planted near-identicals for the pair-query driver row: the base corpus
# has NO pairs within hamming <= 6 at any SF (min pairwise dHash hamming
# ~12), so a pair query over it is green-with-0-rows — it proves only
# that Spark and DuckDB both found nothing. Cloning every Nth document
# with a single in-place byte edit moves at most one 72-window grid mean,
# hence at most the two comparison bits adjacent to that window — every
# clone is guaranteed within hamming <= 2 of its source, so the driver
# row value-checks REAL pairs on both engines.
PLANT_EVERY = 10
PLANT_ID_OFFSET = 100_000_000


def media_with_planted_near_dups(
    docs: DataFrame,
    every_n: int = PLANT_EVERY,
    id_offset: int = PLANT_ID_OFFSET,
) -> DataFrame:
    """Documents-as-images plus a near-identical clone of every
    ``every_n``-th document: same text with the FIRST character
    overwritten by '~' (one byte of the pooled 9x8 grid -> the clone's
    dHash differs from its source by at most 2 bits). Clone ids are
    ``doc_id + id_offset`` so pairs are self-describing. Deterministic
    and pure column math, so the DuckDB oracle reproduces it exactly."""
    base = docs.select("doc_id", "text")
    clones = base.filter(
        (F.col("doc_id") % every_n == 0) & F.col("text").isNotNull()
    ).select(
        (F.col("doc_id") + id_offset).alias("doc_id"),
        F.concat(F.lit("~"), F.expr("substring(text, 2)")).alias("text"),
    )
    return media_from_documents(base.unionByName(clones))


def phash_near_dup(
    media: DataFrame,
    max_hamming: int = PHASH_MAX_HAMMING,
    bands: int = PHASH_BANDS,
    max_bucket: int = 2000,
) -> DataFrame:
    """Image near-duplicate pairs (id_a, id_b, hamming): dHash signatures
    fed through the SAME banded-Hamming machinery as simhash text dedup
    (``dedup.banded_hamming_pairs``) — the image-level dedup stage a
    multimodal training pipeline runs before captioning/training.

    With the default 8 bands of 8 bits, every pair within Hamming
    distance <= 6 shares at least one exact band (pigeonhole), so the
    candidate stage has COMPLETE recall and the output is EXACT — which
    is why this operator can be value-checked against a SQL oracle
    despite being an LSH under the hood.

    Scale shape: one mapInPandas pass emits 16-byte signature rows (the
    media bytes never shuffle); then one band-keyed bucket shuffle +
    bounded in-bucket pair expansion; a verified pair set comes out.
    Cluster the pairs with ``graph.connected_components`` and pick
    keepers with ``graph.dedup_keep_best`` — same downstream as text."""
    from m12_kafkastreams_python_azure_spark.operators.dedup import (
        banded_hamming_pairs,
        release_parallel_caches,
    )

    # front door: drop the previous call's pins before this call pins any
    release_parallel_caches()
    sigs = image_dhash(media).select(
        F.col("media_id").alias("id"), F.col("dhash64").alias("sim")
    )
    return banded_hamming_pairs(
        sigs, max_hamming=max_hamming, bands=bands, max_bucket=max_bucket
    )


def q_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked perceptual-hash image near-dup: the fake decode is
    byte arithmetic the oracle reproduces exactly, and the banding is
    pigeonhole-complete (max_hamming < bands), so the DuckDB all-pairs
    twin must match VALUE-FOR-VALUE — a full correctness check of the
    banded path, not a rows-only smoke. Runs over the PLANTED corpus
    (``media_with_planted_near_dups``): the base fixture has no pairs
    within hamming <= 6, so without planting the row is green-with-0-rows
    — real positives make it check real pair values on both engines."""
    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    media = media_with_planted_near_dups(docs.repartition(par))
    return phash_near_dup(media)


def _oracle_phash_near_dup(planted: bool = True) -> str:
    cells = DHASH_GRID_COLS * DHASH_GRID_ROWS
    cols = DHASH_GRID_COLS
    # the documents text is ASCII (pinned in tests), so ord(char) == byte
    # and len(text) == octet_length — the SQL mirrors the Python byte math
    if planted:
        # mirror media_with_planted_near_dups: clone every Nth doc with
        # the first char overwritten by '~'; ln computed AFTER the edit
        # (an empty text clones to '~', length 1)
        base_cte = f"""b0 AS (
  SELECT doc_id AS media_id, text AS t FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_ID_OFFSET}, '~' || substr(text, 2)
  FROM documents
  WHERE doc_id % {PLANT_EVERY} = 0 AND text IS NOT NULL
),
b AS (
  SELECT media_id, t, len(t) AS ln FROM b0
)"""
    else:
        base_cte = """b AS (
  SELECT doc_id AS media_id, text AS t, len(text) AS ln FROM documents
)"""
    return f"""
WITH {base_cte},
grid AS (
  SELECT media_id,
         list_transform(generate_series(0, {cells - 1}), w ->
           CASE WHEN ((w + 1) * ln) // {cells} > (w * ln) // {cells}
                THEN list_avg(list_transform(
                       generate_series((w * ln) // {cells} + 1,
                                       ((w + 1) * ln) // {cells}),
                       i -> ord(substr(t, CAST(i AS INTEGER), 1))))
                ELSE 0.0 END) AS g
  FROM b
),
halves AS (
  SELECT media_id,
         CAST(list_sum(list_transform(generate_series(0, 31), k ->
           CASE WHEN g[(k // 8) * {cols} + (k % 8) + 1]
                   < g[(k // 8) * {cols} + (k % 8) + 2]
                THEN CAST(1 AS BIGINT) << (31 - k) ELSE 0 END)) AS BIGINT) AS hi,
         CAST(list_sum(list_transform(generate_series(32, 63), k ->
           CASE WHEN g[(k // 8) * {cols} + (k % 8) + 1]
                   < g[(k // 8) * {cols} + (k % 8) + 2]
                THEN CAST(1 AS BIGINT) << (63 - k) ELSE 0 END)) AS BIGINT) AS lo
  FROM grid
),
hashes AS (
  SELECT media_id,
         (hi - CASE WHEN hi >= 2147483648 THEN 4294967296 ELSE 0 END)
           * 4294967296 + lo AS dhash64
  FROM halves
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.dhash64, b.dhash64)) AS INTEGER) AS hamming
FROM hashes a JOIN hashes b ON a.media_id < b.media_id
WHERE bit_count(xor(a.dhash64, b.dhash64)) <= {PHASH_MAX_HAMMING}
"""


ORACLE_PHASH_NEAR_DUP = _oracle_phash_near_dup()


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked dHash table: every signature value-checked against
    the SQL byte math — the strong per-row check backing the (legitimately
    sparse) pair output of ``phash_near_dup`` on this corpus, whose
    positive path is proven on planted near-identical images in
    tests/test_round9_ops.py."""
    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    return image_dhash(media_from_documents(docs.repartition(par)))


def _oracle_image_dhash() -> str:
    # plain corpus — q_image_dhash runs media_from_documents, no planting
    body = _oracle_phash_near_dup(planted=False)
    head, _ = body.rsplit("SELECT a.media_id", 1)
    return head + "SELECT media_id, dhash64 FROM hashes\n"


ORACLE_IMAGE_DHASH = _oracle_image_dhash()


# -------------------------------------------------- video near-duplicate

# Deterministic frame-count derivation for documents-as-videos: 3..7
# frames per clip, keyed off doc_id so the DuckDB oracle reproduces it.
VIDEO_BASE_FRAMES = 3
VIDEO_FRAME_MOD = 5


def video_from_documents(docs: DataFrame) -> DataFrame:
    """Adapt the documents table into video media rows (payload = the
    UTF-8 bytes of the text, n_frames = 3 + doc_id % 5) — a deterministic
    clip corpus for exercising the frame-sampling + near-dup path against
    real testdata, mirrored exactly by the SQL oracle."""
    return docs.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit("application/x-fake-video").alias("mime"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        (F.lit(VIDEO_BASE_FRAMES) + F.col("doc_id") % VIDEO_FRAME_MOD)
        .cast("int")
        .alias("n_frames"),
    )


def video_with_planted_near_dups(
    docs: DataFrame,
    every_n: int = PLANT_EVERY,
    id_offset: int = PLANT_ID_OFFSET,
) -> DataFrame:
    """Video corpus plus a TRIMMED clone of every ``every_n``-th clip:
    same payload, one fewer frame — the classic retrimmed-upload
    near-duplicate. The clone shares frames 0..n-2 with its source, so
    its matched-frame fraction is (n-1)/n >= 2/3 at the 3-frame floor."""
    base = video_from_documents(docs)
    clones = base.filter(F.col("media_id") % every_n == 0).withColumn(
        "media_id", F.col("media_id") + id_offset
    ).withColumn("n_frames", (F.col("n_frames") - 1).cast("int"))
    return base.unionByName(clones)


def video_near_dup(
    media: DataFrame,
    min_match_frac: float = 0.6,
    max_videos_per_frame: int = 64,
) -> DataFrame:
    """Video near-duplicate pairs scored by matched-frame fraction:
    ``(id_a, id_b, matched_frames, nf_a, nf_b, score)`` where score =
    matched / max(nf_a, nf_b) — the video-level dedup stage that
    composes ``sample_video_frames``'s per-frame perceptual hashes into
    clip-level decisions (retrimmed / re-encoded re-uploads share most
    frames; unrelated clips share none).

    Scale shape (the same discipline as text source_overlap): candidate
    generation is a frame-hash EQUI-JOIN, never a clip cross-join — the
    fan-out per frame hash is bounded by ``max_videos_per_frame`` (hashes
    in more clips than that are intro-card/test-pattern ubiquity, the
    video analog of stopword shingles, and are dropped BEFORE pairing so
    one viral frame can't go quadratic). Per-clip frame sets are
    DISTINCT'd first (a looped frame may repeat within one clip but can
    only match once), clip frame-counts ride the frame rows into the
    pair aggregation (one broadcast-sized join, no post-agg re-join per
    side), and only 16-byte (id, hash) rows ever shuffle — the media
    payload never leaves the frame-sampling Python worker."""
    from m12_kafkastreams_python_azure_spark.sources.readers import (
        register_parallel_cache,
    )

    frames = sample_video_frames(media, every_n=1)
    # persisted: four downstream subtrees (ubiquity filter, clip counts,
    # both pair sides) consume this, and Spark has no cross-subtree CSE —
    # without the persist the Python frame-sampling pass over every
    # payload re-executes once per subtree
    vf = frames.select("media_id", "frame_phash64").distinct().persist()
    register_parallel_cache(vf)
    # materialization barrier (the _parallel_text convoy rule): the four
    # subtrees launch concurrently and would otherwise race the
    # cache-write, re-running the Python frame-sampling pass per subtree
    vf.count()
    # ubiquitous-frame guard: vf is distinct, so count(*) == clip count
    rare = (
        vf.groupBy("frame_phash64")
        .agg(F.count("*").alias("_nv"))
        .filter(F.col("_nv") <= max_videos_per_frame)
        .select("frame_phash64")
    )
    elig = vf.join(rare, "frame_phash64")
    counts = elig.groupBy("media_id").agg(F.count("*").alias("nf"))
    ewf = elig.join(counts, "media_id")  # counts is clip-cardinality: broadcast-sized
    a = ewf.select(
        F.col("media_id").alias("id_a"),
        "frame_phash64",
        F.col("nf").alias("nf_a"),
    )
    b = ewf.select(
        F.col("media_id").alias("id_b"),
        "frame_phash64",
        F.col("nf").alias("nf_b"),
    )
    pairs = (
        a.join(b, "frame_phash64")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("matched_frames"),
            F.first("nf_a").alias("nf_a"),
            F.first("nf_b").alias("nf_b"),
        )
    )
    score = F.col("matched_frames").cast("double") / F.greatest(
        F.col("nf_a"), F.col("nf_b")
    )
    return pairs.withColumn("score", score).filter(
        F.col("score") >= min_match_frac
    )


def q_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked video near-dup: the frame hashes are sha256 string
    math DuckDB reproduces hex-for-hex, the candidate equi-join + the
    ubiquity guard are plain SQL, and the planted trimmed clones give
    both engines real positive pairs to value-check at every SF."""
    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    media = video_with_planted_near_dups(docs.repartition(par))
    return video_near_dup(media)


def _sql_hex_bytes_to_uint32(first_byte: int) -> str:
    """SQL expression: bytes first_byte..first_byte+3 of the hex digest
    column ``hx`` as an unsigned 32-bit BIGINT (exponent math stays under
    2^53, so the DOUBLE intermediates of ``**`` are exact)."""
    return (
        "CAST(list_sum(list_transform(generate_series("
        f"{first_byte}, {first_byte + 3}), i ->\n"
        "      ((strpos('0123456789abcdef', substr(hx, 2*i-1, 1)) - 1) * 16\n"
        "       + (strpos('0123456789abcdef', substr(hx, 2*i, 1)) - 1))\n"
        f"      * (256 ** ({first_byte + 3} - i)))) AS BIGINT)"
    )


def _oracle_video_near_dup() -> str:
    nb, nm = VIDEO_BASE_FRAMES, VIDEO_FRAME_MOD
    return f"""
WITH v AS (
  SELECT doc_id AS media_id, text AS t, {nb} + doc_id % {nm} AS n_frames
  FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id + {PLANT_ID_OFFSET}, text, {nb} + doc_id % {nm} - 1
  FROM documents WHERE doc_id % {PLANT_EVERY} = 0 AND text IS NOT NULL
),
fr0 AS (
  SELECT media_id,
         sha256(t || ':' || CAST(unnest(generate_series(0, n_frames - 1))
                                 AS VARCHAR)) AS hx
  FROM v
),
fr1 AS (
  SELECT media_id,
         {_sql_hex_bytes_to_uint32(1)} AS hi,
         {_sql_hex_bytes_to_uint32(5)} AS lo
  FROM fr0
),
fr AS (
  SELECT DISTINCT media_id,
         (hi - CASE WHEN hi >= 2147483648 THEN 4294967296 ELSE 0 END)
           * 4294967296 + lo AS fh
  FROM fr1
),
rare AS (
  SELECT fh FROM fr GROUP BY fh HAVING count(*) <= 64
),
elig AS (
  SELECT fr.media_id, fr.fh FROM fr JOIN rare USING (fh)
),
cnt AS (
  SELECT media_id, CAST(count(*) AS BIGINT) AS nf FROM elig GROUP BY media_id
),
m AS (
  SELECT a.media_id AS id_a, b.media_id AS id_b,
         CAST(count(*) AS BIGINT) AS matched_frames
  FROM elig a JOIN elig b ON a.fh = b.fh AND a.media_id < b.media_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, matched_frames, ca.nf AS nf_a, cb.nf AS nf_b,
       CAST(matched_frames AS DOUBLE) / greatest(ca.nf, cb.nf) AS score
FROM m
JOIN cnt ca ON ca.media_id = id_a
JOIN cnt cb ON cb.media_id = id_b
WHERE CAST(matched_frames AS DOUBLE) / greatest(ca.nf, cb.nf) >= 0.6
"""


ORACLE_VIDEO_NEAR_DUP = _oracle_video_near_dup()


# -------------------------------------------------- audio near-duplicate

# Fingerprint windows: 32-byte hops over the payload (the stand-in for
# fixed-duration spectral windows); excerpts shift window CONTENT, not
# content-to-window alignment, because windows are payload-anchored.
AUDIO_WINDOW_BYTES = 32
AUDIO_MIN_VOTES = 3
# planted excerpts need enough windows that the vote floor is clearable:
# (min_votes + 2) full windows => the excerpt shares >= min_votes + 1
AUDIO_PLANT_MIN_LEN = (AUDIO_MIN_VOTES + 2) * AUDIO_WINDOW_BYTES

AUDIO_FP_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("win_idx", IntegerType()),
        StructField("fp64", LongType()),
    ]
)


def audio_from_documents(docs: DataFrame) -> DataFrame:
    """Adapt the documents table into audio media rows (payload = the
    UTF-8 bytes of the text, a fake 16 kHz mono track) — deterministic
    clip corpus for the fingerprint + offset-voting path."""
    return docs.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.lit("application/x-fake-audio").alias("mime"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(16000).alias("sample_rate"),
        F.lit(None).cast("int").alias("n_frames"),
    )


def audio_with_planted_excerpts(
    docs: DataFrame,
    every_n: int = PLANT_EVERY,
    id_offset: int = PLANT_ID_OFFSET,
) -> DataFrame:
    """Audio corpus plus an EXCERPT of every ``every_n``-th long-enough
    track: the same payload minus its first window (the classic
    clipped re-upload / sampled-intro case). The excerpt's window w
    contains exactly the source's window w+1, so every shared window
    votes for offset -1 — the dominant-offset structure the matcher
    exists to find."""
    base = docs.filter(F.col("text").isNotNull()).select("doc_id", "text")
    clones = base.filter(
        (F.col("doc_id") % every_n == 0)
        & (F.length("text") >= AUDIO_PLANT_MIN_LEN)
    ).select(
        (F.col("doc_id") + id_offset).alias("doc_id"),
        F.expr(f"substring(text, {AUDIO_WINDOW_BYTES + 1})").alias("text"),
    )
    return audio_from_documents(base.unionByName(clones))


def audio_fingerprints(
    media: DataFrame, window_bytes: int = AUDIO_WINDOW_BYTES
) -> DataFrame:
    """One 64-bit fingerprint per full payload window — the landmark
    table a Shazam-style matcher (Wang 2003) is built on. Decode
    stand-in: fingerprint = sha256 of the window's BYTES (content-
    anchored, so an excerpt reproduces the source's fingerprints at
    shifted indices — the property a real spectral landmark hash has
    and a whole-payload hash would not). mapInPandas; only 20-byte
    (id, idx, fp) rows leave the Python worker."""
    fake = DETERMINISTIC_FAKE_DECODE
    wb = window_bytes

    def batches(it):
        import hashlib

        import pandas as pd

        for pdf in it:
            ids, wins, fps = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                if not fake:
                    raise NotImplementedError("audio codec not available")
                d = bytes(p)
                for w in range(len(d) // wb):
                    h = hashlib.sha256(d[w * wb : (w + 1) * wb]).digest()
                    ids.append(mid)
                    wins.append(w)
                    fps.append(int.from_bytes(h[:8], "big", signed=True))
            yield pd.DataFrame(
                {"media_id": ids, "win_idx": wins, "fp64": fps}
            )

    return (
        media.filter(F.col("kind") == "audio")
        .select("media_id", "payload")
        .mapInPandas(batches, AUDIO_FP_SCHEMA)
    )


def audio_near_dup(
    media: DataFrame,
    min_votes: int = AUDIO_MIN_VOTES,
    max_clips_per_fp: int = 64,
) -> DataFrame:
    """Audio near-duplicate pairs by OFFSET-CONSISTENT fingerprint
    voting (Wang 2003): ``(id_a, id_b, offset, votes)`` where matching
    fingerprints at windows (i in a, j in b) vote for offset j - i, and
    a pair is emitted iff some single offset collects >= ``min_votes``
    — random fingerprint collisions scatter across offsets, a true
    excerpt/re-encode concentrates on one. This is the discriminator
    that plain overlap counting (the video matcher) lacks: audio
    near-dups are usually time-SHIFTED, not trimmed-in-place.

    Scale shape: candidates from a fingerprint equi-join only —
    fan-out per fingerprint bounded by ``max_clips_per_fp`` (a jingle
    fingerprint present in thousands of clips is the audio stopword;
    dropped BEFORE pairing). The offset histogram is a
    (id_a, id_b, delta) count — group keys no wider than the match
    set; the argmax is two bounded aggregations (max votes, then min
    offset among ties — deterministic on both engines), never a window
    over an unbounded partition."""
    from m12_kafkastreams_python_azure_spark.sources.readers import (
        register_parallel_cache,
    )

    fp = audio_fingerprints(media).persist()
    register_parallel_cache(fp)
    # materialization barrier (the _parallel_text convoy rule): the rarity
    # aggregate and both join sides read this concurrently — unbarriered,
    # each raced the cache-write and re-ran the Python fingerprint pass
    # (r20 stage profile: four 12-21 s executor-time stages at sf0.1)
    fp.count()
    rare = (
        fp.groupBy("fp64")
        .agg(F.countDistinct("media_id").alias("_nc"))
        .filter(F.col("_nc") <= max_clips_per_fp)
        .select("fp64")
    )
    elig = fp.join(rare, "fp64")
    a = elig.select(
        F.col("media_id").alias("id_a"),
        F.col("win_idx").alias("win_a"),
        "fp64",
    )
    b = elig.select(
        F.col("media_id").alias("id_b"),
        F.col("win_idx").alias("win_b"),
        "fp64",
    )
    votes = (
        a.join(b, "fp64")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy(
            "id_a", "id_b", (F.col("win_b") - F.col("win_a")).alias("offset")
        )
        .agg(F.count("*").alias("votes"))
        # persisted + barriered: the argmax reads this twice (max per pair,
        # then the tie-break join-back) — without the pin the whole
        # fingerprint equi-join expansion re-runs for the second consumer.
        # The histogram is bounded by the match set (pairs x offsets), far
        # smaller than the join it summarizes.
        .persist()
    )
    register_parallel_cache(votes)
    votes.count()
    best = votes.groupBy("id_a", "id_b").agg(F.max("votes").alias("votes"))
    return (
        votes.join(best, ["id_a", "id_b", "votes"])
        .groupBy("id_a", "id_b", "votes")
        .agg(F.min("offset").alias("offset"))
        .filter(F.col("votes") >= min_votes)
        .select("id_a", "id_b", "offset", "votes")
    )


def q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked audio near-dup: window fingerprints are sha256
    string math DuckDB mirrors hex-for-hex, the offset histogram and
    two-step deterministic argmax are plain SQL, and the planted
    excerpts give both engines real dominant-offset pairs."""
    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    media = audio_with_planted_excerpts(docs.repartition(par))
    return audio_near_dup(media)


def _oracle_audio_near_dup() -> str:
    wb = AUDIO_WINDOW_BYTES
    return f"""
WITH a0 AS (
  SELECT doc_id AS media_id, text AS t FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id + {PLANT_ID_OFFSET}, substr(text, {wb + 1})
  FROM documents
  WHERE doc_id % {PLANT_EVERY} = 0 AND text IS NOT NULL
    AND len(text) >= {AUDIO_PLANT_MIN_LEN}
),
w0 AS (
  SELECT media_id, t,
         unnest(generate_series(0, len(t) // {wb} - 1)) AS win_idx
  FROM a0
),
f0 AS (
  SELECT media_id, win_idx,
         sha256(substr(t, win_idx * {wb} + 1, {wb})) AS hx
  FROM w0
),
f1 AS (
  SELECT media_id, win_idx,
         {_sql_hex_bytes_to_uint32(1)} AS hi,
         {_sql_hex_bytes_to_uint32(5)} AS lo
  FROM f0
),
fp AS (
  SELECT media_id, win_idx,
         (hi - CASE WHEN hi >= 2147483648 THEN 4294967296 ELSE 0 END)
           * 4294967296 + lo AS fp64
  FROM f1
),
rare AS (
  SELECT fp64 FROM fp GROUP BY fp64
  HAVING count(DISTINCT media_id) <= 64
),
elig AS (
  SELECT fp.media_id, fp.win_idx, fp.fp64 FROM fp JOIN rare USING (fp64)
),
votes AS (
  SELECT a.media_id AS id_a, b.media_id AS id_b,
         b.win_idx - a.win_idx AS "offset",
         CAST(count(*) AS BIGINT) AS votes
  FROM elig a JOIN elig b
    ON a.fp64 = b.fp64 AND a.media_id < b.media_id
  GROUP BY 1, 2, 3
),
best AS (
  SELECT id_a, id_b, max(votes) AS votes FROM votes GROUP BY 1, 2
)
SELECT v.id_a, v.id_b, CAST(min(v."offset") AS BIGINT) AS "offset", v.votes
FROM votes v
JOIN best USING (id_a, id_b, votes)
GROUP BY v.id_a, v.id_b, v.votes
HAVING v.votes >= {AUDIO_MIN_VOTES}
"""


ORACLE_AUDIO_NEAR_DUP = _oracle_audio_near_dup()


def q_audio_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked fingerprint table over the PLAIN audio corpus:
    every (clip, window) hash value-checked against the SQL hex math —
    the strong per-row check backing ``audio_near_dup``'s pair output
    (the same role ``image_dhash`` plays for ``phash_near_dup``)."""
    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    return audio_fingerprints(audio_from_documents(docs.repartition(par)))


def _oracle_audio_fingerprints() -> str:
    # plain corpus (no planted excerpts): reuse the pair oracle's CTE
    # chain up through `fp`, minus the planted UNION branch
    body = _oracle_audio_near_dup()
    head, _ = body.split(",\nrare AS (", 1)
    head = head.replace(
        f"""a0 AS (
  SELECT doc_id AS media_id, text AS t FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id + {PLANT_ID_OFFSET}, substr(text, {AUDIO_WINDOW_BYTES + 1})
  FROM documents
  WHERE doc_id % {PLANT_EVERY} = 0 AND text IS NOT NULL
    AND len(text) >= {AUDIO_PLANT_MIN_LEN}
)""",
        """a0 AS (
  SELECT doc_id AS media_id, text AS t FROM documents WHERE text IS NOT NULL
)""",
    )
    return head + "\nSELECT media_id, CAST(win_idx AS INTEGER) AS win_idx, fp64 FROM fp\n"


ORACLE_AUDIO_FINGERPRINTS = _oracle_audio_fingerprints()
