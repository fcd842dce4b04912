"""Round-9 operator tests: IVF index lifecycle (persist / load / probe
without retraining, corpus-derived list sizing, probed-list file pruning).
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from m12_kafkastreams_python_azure_spark.operators import api as API
from m12_kafkastreams_python_azure_spark.operators import ivf as IV

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    return load_table(spark, SF, "embeddings")


def test_default_train_k_is_sqrt_n():
    assert IV.default_train_k(0) == 4  # floor
    assert IV.default_train_k(16) == 4
    assert IV.default_train_k(100) == 10
    assert IV.default_train_k(101) == 11  # ceil
    assert IV.default_train_k(1_000_000) == 1000
    # the r08 caveat: the ratio list-count/sqrt(n) must stay ~constant
    assert IV.default_train_k(100 * 1_000_000) == 10 * 1000


def test_ivf_probe_without_retrain_matches_fresh_index(spark, emb, tmp_path):
    """save -> load -> probe must equal the fresh-index probe exactly:
    the persisted index IS the index, not an approximation of it."""
    cents = IV.train_ivf(emb, k=8, iters=2)
    idx = IV.build_ivf_index(emb, cents)
    path = str(tmp_path / "ivf")
    IV.save_ivf_index(idx, cents, path)
    assert IV.ivf_index_exists(path)

    loaded_idx, loaded_cents = IV.load_ivf_index(spark, path)
    assert loaded_cents == [(c, [float(x) for x in v]) for c, v in cents]

    q = emb.filter(F.col("vec_id") < 6)
    fresh = sorted(map(tuple, IV.ann_ivf_topk(idx, q, cents, k=5, nprobe=3).collect()))
    loaded = sorted(
        map(tuple, IV.ann_ivf_topk(loaded_idx, q, loaded_cents, k=5, nprobe=3).collect())
    )
    pruned = sorted(
        map(
            tuple,
            IV.ann_ivf_topk(
                loaded_idx, q, loaded_cents, k=5, nprobe=3, prune_lists=True
            ).collect(),
        )
    )
    assert fresh == loaded
    assert fresh == pruned
    assert len(fresh) == 6 * 5


def test_pruned_probe_has_partition_filter(spark, emb, tmp_path):
    """prune_lists on a persisted index must surface as a parquet
    PartitionFilter — the file-skipping contract, not just a row filter."""
    cents = IV.train_ivf(emb, k=8, iters=1)
    path = str(tmp_path / "ivf")
    IV.save_ivf_index(IV.build_ivf_index(emb, cents), cents, path)
    loaded_idx, loaded_cents = IV.load_ivf_index(spark, path)
    q = emb.filter(F.col("vec_id") < 2)
    plan = (
        IV.ann_ivf_topk(loaded_idx, q, loaded_cents, k=3, nprobe=2, prune_lists=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan
    # the filter actually constrains centroid_id (not an empty filter list)
    import re

    m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m and "centroid_id" in m.group(1)


def test_ann_topk_index_path_builds_once_then_loads(spark, emb, tmp_path):
    """api.ann_topk(method='ivf', index_path=...) end-to-end lifecycle:
    first call trains+saves, second call loads (results identical); the
    saved artifact survives on disk between calls."""
    path = str(tmp_path / "annidx")
    q = emb.filter(F.col("vec_id") < 4)
    first = sorted(
        map(
            tuple,
            API.ann_topk(emb, q, k=5, method="ivf", train_k=8, nprobe=3,
                         index_path=path).collect(),
        )
    )
    assert IV.ivf_index_exists(path)
    # corrupt-proof: drop the in-memory objects entirely; the second call
    # must reconstruct everything from disk
    second = sorted(
        map(
            tuple,
            API.ann_topk(emb, q, k=5, method="ivf", nprobe=3,
                         index_path=path).collect(),
        )
    )
    assert first == second


def test_knn_label_vote_ivf_entry_reuses_persisted_index(spark):
    """The driver/bench entry: call twice, assert the second run reuses the
    fingerprint-keyed on-disk index (identical output, index dir present)."""
    path = API.ivf_index_dir(SF, "knn_label_vote_ivf")
    shutil.rmtree(path, ignore_errors=True)
    try:
        first = sorted(map(tuple, API.q_knn_label_vote_ivf(spark, SF).collect()))
        assert IV.ivf_index_exists(path)
        second = sorted(map(tuple, API.q_knn_label_vote_ivf(spark, SF).collect()))
        assert first == second
        assert len(first) > 0
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_train_ivf_none_derives_sqrt_list_count(spark, emb):
    """train_ivf(k=None) sizes the quantizer from the corpus."""
    n = emb.count()
    cents = IV.train_ivf(emb, k=None, iters=1)
    assert len(cents) == IV.default_train_k(n)


# --------------------------------------------------------- exact-substring dedup


def _exsub(spark, rows, **kw):
    from m12_kafkastreams_python_azure_spark.operators.curation import (
        exact_substring_dedup,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        r.doc_id: (r.n_words, r.n_removed, r.text_clean)
        for r in exact_substring_dedup(df, **kw).collect()
    }


SPAN = "s1 s2 s3 s4 s5 s6 s7 s8"  # exactly EXSUB_N words


def test_exact_substring_dedup_keeps_first_removes_later(spark):
    rows = [
        (0, "p1 p2 " + SPAN),          # first occurrence (lowest doc_id)
        (1, SPAN + " t1 t2 t3"),       # later copy -> span removed
        (2, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),  # unique, untouched
    ]
    out = _exsub(spark, rows)
    assert out[0] == (10, 0, "p1 p2 " + SPAN)
    assert out[1] == (11, 8, "t1 t2 t3")
    assert out[2] == (9, 0, rows[2][1])


def test_exact_substring_dedup_catches_self_repetition(spark):
    filler = "f1 f2 f3 f4 f5 f6 f7 f8"
    rows = [(0, SPAN + " " + filler + " " + SPAN)]
    out = _exsub(spark, rows)
    # 24 words, the SECOND copy of the span (positions 16-23) removed
    assert out[0] == (24, 8, SPAN + " " + filler)


def test_exact_substring_dedup_full_copy_becomes_empty(spark):
    rows = [(5, SPAN), (4, SPAN)]  # identical docs; doc 4 wins (lower id)
    out = _exsub(spark, rows)
    assert out[4] == (8, 0, SPAN)
    assert out[5] == (8, 8, "")


def test_exact_substring_dedup_overlapping_spans_merge(spark):
    # a 10-word repeated run: three overlapping 8-grams all duplicated;
    # the later copy loses exactly the 10 covered words, not 3*8
    run = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    rows = [(0, run + " a1 a2"), (1, "b1 " + run)]
    out = _exsub(spark, rows)
    assert out[0] == (12, 0, run + " a1 a2")
    assert out[1] == (11, 10, "b1")


def test_exact_substring_dedup_short_docs_untouched(spark):
    rows = [(0, "w1 w2 w3"), (1, "w1 w2 w3")]  # < n words: no anchor gram
    out = _exsub(spark, rows)
    assert out[0] == (3, 0, "w1 w2 w3")
    assert out[1] == (3, 0, "w1 w2 w3")


def test_exact_substring_dedup_hashed_matches_string_grams(spark):
    from m12_kafkastreams_python_azure_spark.operators.curation import (
        exact_substring_dedup,
    )
    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    a = sorted(map(tuple, exact_substring_dedup(docs, use_hashed_grams=True).collect()))
    b = sorted(map(tuple, exact_substring_dedup(docs, use_hashed_grams=False).collect()))
    assert a == b


# ------------------------------------------------------ perceptual-hash dedup


def _media_rows(spark, payloads):
    from m12_kafkastreams_python_azure_spark.operators.multimodal import MEDIA_SCHEMA

    rows = [
        (i, kind, "application/x-fake", bytearray(p), None, None, None, None)
        for i, (kind, p) in enumerate(payloads)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _ramp(n=720, seed=1):
    # smooth byte pattern (locality matters: neighbors similar)
    return bytes(((i * seed) // 3) % 251 for i in range(n))


def _noise(n=720, seed=99):
    state, out = seed, []
    for _ in range(n):
        state = (state * 1664525 + 1013904223) & 0xFFFFFFFF
        out.append(state % 256)
    return bytes(out)


def test_image_dhash_is_locality_preserving(spark):
    from m12_kafkastreams_python_azure_spark.operators.multimodal import image_dhash

    base = _ramp()
    tweaked = bytearray(base)
    tweaked[400] = (tweaked[400] + 3) % 256  # a near-identical "image"
    media = _media_rows(
        spark, [("image", base), ("image", bytes(tweaked)), ("image", _noise())]
    )
    h = {r.media_id: r.dhash64 for r in image_dhash(media).collect()}
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert ham(h[0], h[1]) <= 2, "one-byte tweak must barely move the dHash"
    assert ham(h[0], h[2]) > 10, "unrelated bytes must be far in hash space"


def test_phash_near_dup_finds_planted_pairs_and_clusters(spark):
    from m12_kafkastreams_python_azure_spark.operators.graph import (
        connected_components,
    )
    from m12_kafkastreams_python_azure_spark.operators.multimodal import (
        phash_near_dup,
    )

    base = _ramp()
    t1 = bytearray(base); t1[100] = (t1[100] + 2) % 256
    t2 = bytearray(base); t2[600] = (t2[600] + 4) % 256
    media = _media_rows(
        spark,
        [
            ("image", base),        # 0
            ("image", bytes(t1)),   # 1: near-dup of 0
            ("image", bytes(t2)),   # 2: near-dup of 0 (and transitively 1)
            ("image", _noise()),    # 3: unrelated
            ("audio", base),        # 4: not an image -> excluded entirely
        ],
    )
    pairs = phash_near_dup(media)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got and (0, 2) in got
    assert all(3 not in p and 4 not in p for p in got)
    # the standard downstream: transitive clustering via CC
    comp = {
        r.id: r.comp
        for r in connected_components(
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        ).collect()
    }
    assert comp[0] == comp[1] == comp[2] == 0


def test_phash_near_dup_identical_payloads_hamming_zero(spark):
    from m12_kafkastreams_python_azure_spark.operators.multimodal import (
        phash_near_dup,
    )

    media = _media_rows(spark, [("image", _ramp()), ("image", _ramp())])
    rows = phash_near_dup(media).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in rows] == [(0, 1, 0)]


def test_simhash_banding_unchanged_after_refactor(spark):
    """banded_hamming_pairs extraction must not change simhash output."""
    from m12_kafkastreams_python_azure_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )
    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    out = simhash_near_dup_pairs(docs)
    # schema + determinism smoke (full behavior pinned by test_dedup suites)
    assert out.columns == ["id_a", "id_b", "hamming"]
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, simhash_near_dup_pairs(docs).collect()))
    assert a == b


# ------------------------------------------------------------ bpe_train loop


def _bpe_reference(texts, n_merges):
    """Pure-Python Sennrich loop with the engine's exact contracts:
    whitespace word count, (count DESC, pair ASC) tie-break, two-pass
    left-to-right delimited replace."""
    from collections import Counter

    wc = Counter(w for t in texts for w in t.strip().split())
    vocab = {w: " ".join(w) for w in wc}
    merges = []
    for step in range(1, n_merges + 1):
        pc = Counter()
        for w, cnt in wc.items():
            syms = vocab[w].split(" ")
            for a, b in zip(syms, syms[1:]):
                pc[f"{a} {b}"] += cnt
        if not pc:
            break
        # max count, then lexicographically smallest pair
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        pair, cnt = best
        merged = pair.replace(" ", "")
        merges.append((step, pair, merged, cnt))
        search, repl = f" {pair} ", f" {merged} "
        for w in vocab:
            padded = f" {vocab[w]} "
            padded = padded.replace(search, repl).replace(search, repl)
            vocab[w] = padded.strip()
    return merges, vocab


def test_bpe_train_matches_python_reference_20_merges(spark):
    from m12_kafkastreams_python_azure_spark.operators.textops import bpe_train

    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest wide",
        "low new wide slow slower slowest",
        "newer lower wider slower",
        "bright brighter brightest bright",
        "strong stronger strongest strong stronger",
        "deep deeper deepest deep",
        "quick quicker quickest quick quicker quick",
    ] * 3
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got_merges, got_vocab = bpe_train(docs, n_merges=20, checkpoint_every=3)
    ref_merges, ref_vocab = _bpe_reference(texts, 20)
    assert got_merges == ref_merges
    assert len(got_merges) == 20
    assert {r.word: r.sym for r in got_vocab.collect()} == ref_vocab


def test_bpe_train_stops_when_merges_exhausted(spark):
    from m12_kafkastreams_python_azure_spark.operators.textops import bpe_train

    docs = spark.createDataFrame([(0, "ab ab cd")], "doc_id long, text string")
    merges, vocab = bpe_train(docs, n_merges=50, checkpoint_every=2)
    ref_merges, ref_vocab = _bpe_reference(["ab ab cd"], 50)
    assert merges == ref_merges
    assert len(merges) < 50  # exhausted early: every word fully merged
    out = {r.word: r.sym for r in vocab.collect()}
    assert out == ref_vocab
    assert out == {"ab": "ab", "cd": "cd"}


def test_bpe_train_first_merges_agree_with_unrolled_oracle_entry(spark):
    """bpe_train's first 3 merges == the oracle-checked unrolled bpe_merges
    on the same corpus — the loop and the driver entry cannot drift."""
    from m12_kafkastreams_python_azure_spark.operators.textops import (
        bpe_merges,
        bpe_train,
    )
    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    unrolled = [
        (r.merge_step, r.pair, r.merged, r.cnt)
        for r in bpe_merges(docs).orderBy("merge_step").collect()
    ]
    looped, _ = bpe_train(docs, n_merges=3)
    assert looped == unrolled


# ----------------------------------------------- streaming keep-best dedup


def _kb_corpus():
    # three near-dup families sharing their 20-char blocking prefix, one
    # cross-batch (doc 2 arrives a batch after 0/1 and must merge in;
    # doc 6's higher-quality text arrives LAST and must dethrone), plus
    # singletons. 3-gram shingle Jaccard >= 0.5 within families.
    fam_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    fam_b = "one two three four five six seven eight nine ten eleven"
    return [
        # batch 0
        [
            (0, fam_a),
            (1, fam_a + " extra"),
            (3, fam_b),
            (4, "lonely unique document with no twin anywhere at all"),
        ],
        # batch 1: doc 2 joins family A across batches
        [
            (2, fam_a + " tail"),
            (5, "another singleton body of words entirely its own"),
        ],
        # batch 2: doc 6 joins family B late (possible keeper change)
        [
            (6, fam_b + " twelve"),
        ],
    ]


def _keep_snapshot(spark, keep_dir):
    return {
        (r.doc_id, r.cluster, r.cluster_size, r.quality_score)
        for r in spark.read.parquet(keep_dir).collect()
    }


def test_keep_best_stream_equals_batch_after_every_batch(spark, tmp_path):
    from m12_kafkastreams_python_azure_spark.operators.graph import dedup_keep_best
    from m12_kafkastreams_python_azure_spark.streaming.advanced import (
        keep_best_batch_processor,
    )

    state = str(tmp_path / "kb_state")
    proc = keep_best_batch_processor(state)
    schema = "doc_id long, text string"
    seen: list = []
    last_batch_expected = None
    for bid, chunk in enumerate(_kb_corpus()):
        seen += chunk
        proc(spark.createDataFrame(chunk, schema), bid)
        expected = {
            (r.doc_id, r.cluster, r.cluster_size, r.quality_score)
            for r in dedup_keep_best(spark.createDataFrame(seen, schema)).collect()
        }
        got = _keep_snapshot(spark, f"{state}/keep")
        assert got == expected, f"stream != batch after batch {bid}"
        last_batch_expected = expected
    # the cross-batch merge actually happened: docs 0,1,2 share a cluster
    clusters = {d: c for d, c, *_ in last_batch_expected}
    sizes = {d: s for d, c, s, _ in last_batch_expected}
    assert sizes[min(clusters, key=lambda d: d)] >= 1
    a_keeper = [d for d, c, s, q in last_batch_expected if c == 0]
    assert len(a_keeper) == 1 and sizes[a_keeper[0]] == 3


def test_keep_best_stream_replay_is_idempotent(spark, tmp_path):
    from m12_kafkastreams_python_azure_spark.streaming.advanced import (
        keep_best_batch_processor,
    )

    state = str(tmp_path / "kb_replay")
    proc = keep_best_batch_processor(state)
    schema = "doc_id long, text string"
    chunks = _kb_corpus()
    for bid, chunk in enumerate(chunks):
        proc(spark.createDataFrame(chunk, schema), bid)
    before = _keep_snapshot(spark, f"{state}/keep")
    # at-least-once: the LAST batch is re-delivered with the same batch_id
    proc(spark.createDataFrame(chunks[-1], schema), len(chunks) - 1)
    assert _keep_snapshot(spark, f"{state}/keep") == before


def test_keep_best_live_stream(spark, tmp_path):
    import json as _json
    import os as _os

    from m12_kafkastreams_python_azure_spark.operators.graph import dedup_keep_best
    from m12_kafkastreams_python_azure_spark.streaming.advanced import (
        start_keep_best_stream,
    )

    src = str(tmp_path / "kb_src")
    _os.makedirs(src)
    all_rows = [r for chunk in _kb_corpus() for r in chunk]
    with open(f"{src}/f0.json", "w") as fh:
        for did, text in all_rows:
            fh.write(_json.dumps({"doc_id": did, "text": text}) + "\n")
    docs = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    state = str(tmp_path / "kb_live")
    q = start_keep_best_stream(docs, state, str(tmp_path / "kb_ck"))
    try:
        q.processAllAvailable()
        expected = {
            (r.doc_id, r.cluster, r.cluster_size, r.quality_score)
            for r in dedup_keep_best(
                spark.createDataFrame(all_rows, "doc_id long, text string")
            ).collect()
        }
        assert _keep_snapshot(spark, f"{state}/keep") == expected
    finally:
        q.stop()


def test_banded_hamming_collapse_matches_uncollapsed(spark):
    """Signature-level exact-collapse is LOSSLESS: on a duplicate-heavy
    corpus the collapsed and uncollapsed paths emit identical pair sets."""
    from m12_kafkastreams_python_azure_spark.operators.dedup import (
        banded_hamming_pairs,
    )

    base = _ramp()
    t1 = bytearray(base); t1[50] = (t1[50] + 2) % 256
    payloads = [("image", base)] * 4 + [("image", bytes(t1))] * 3 + [
        ("image", _noise(seed=7)),
        ("image", _noise(seed=8)),
    ]
    from m12_kafkastreams_python_azure_spark.operators.multimodal import image_dhash

    sigs = image_dhash(_media_rows(spark, payloads)).select(
        F.col("media_id").alias("id"), F.col("dhash64").alias("sim")
    )
    a = sorted(map(tuple, banded_hamming_pairs(sigs, 6, 8, collapse_identical=True).collect()))
    b = sorted(map(tuple, banded_hamming_pairs(sigs, 6, 8, collapse_identical=False).collect()))
    assert a == b
    # 4+3 dup family fully connected: C(4,2)+C(3,2)+4*3 = 6+3+12 = 21 pairs
    assert len(a) == 21


def test_banded_hamming_collapse_keeps_callers_pins(spark):
    """The collapse pins its own window but leaves the caller's pins
    alone: releasing the registry is the front door's job
    (``multimodal.phash_near_dup``), not the shared core's."""
    from m12_kafkastreams_python_azure_spark.operators.dedup import (
        banded_hamming_pairs,
    )
    from m12_kafkastreams_python_azure_spark.sources.readers import (
        register_parallel_cache,
    )

    mine = register_parallel_cache(spark.range(50).persist())
    mine.count()
    sigs = spark.createDataFrame(
        [(i, i % 3) for i in range(12)], "id long, sim long"
    )
    assert banded_hamming_pairs(sigs, collapse_identical=True).count() > 0
    assert mine.storageLevel.useMemory
