"""Seed determinism and planted properties of the benchmark's generators."""

from __future__ import annotations

import numpy as np

import gen


def _file_bytes(tmp_path, seed: int, name: str) -> list[bytes]:
    d = tmp_path / name
    d.mkdir()
    feed = gen.ExpediaFeed(seed, str(d))
    paths = [feed.next_file(300) for _ in range(3)]
    return [open(p, "rb").read() for p in paths]


def test_expedia_files_repeat_for_a_seed(tmp_path):
    assert _file_bytes(tmp_path, 7, "a") == _file_bytes(tmp_path, 7, "b")
    assert _file_bytes(tmp_path, 7, "c") != _file_bytes(tmp_path, 8, "d")


def test_expedia_expected_counts_follow_the_rows():
    rows = gen.expedia_rows(np.random.default_rng(3), 20000, 0)
    exp = gen.HotelsCount()
    exp.add_rows(rows)
    table = exp.table()
    kept = [r for r in rows if r["id"] is not None]
    assert sum(a for a, _ in table.values()) == len(kept)
    assert table["Short stay"][0] / len(kept) > 0.85
    assert 0 < table[gen.ERRONEOUS][0] / len(kept) < 0.005
    assert table["Short stay"][1] <= gen.N_HOTELS
    assert any(r["id"] is None for r in rows)


def test_category_of_matches_the_reference_buckets():
    assert gen.category_of("2025-01-01", "2025-01-05") == "Short stay"
    assert gen.category_of("2025-01-01", "2025-01-06") == "Standard stay"
    assert gen.category_of("2025-01-01", "2025-01-15") == "Standard extended stay"
    assert gen.category_of("2025-01-01", "2025-01-16") == "Long stay"
    assert gen.category_of("2025-01-01", "2025-01-01") == gen.ERRONEOUS
    assert gen.category_of("2025-01-01", "not-a-date") == gen.ERRONEOUS
    assert gen.category_of("2025-01-01", "") == gen.ERRONEOUS


def test_near_dup_corpus_repeats_for_a_seed():
    a = gen.near_dup_corpus(5, n_base=100, n_vectors=120, hot_bucket=10)
    b = gen.near_dup_corpus(5, n_base=100, n_vectors=120, hot_bucket=10)
    c = gen.near_dup_corpus(6, n_base=100, n_vectors=120, hot_bucket=10)
    assert a.docs == b.docs and np.array_equal(a.vectors, b.vectors)
    assert a.text_twins == b.text_twins and a.vec_twins == b.vec_twins
    assert a.docs != c.docs


def test_near_dup_corpus_plants_what_it_claims():
    c = gen.near_dup_corpus(11, n_base=200, n_vectors=300, hot_bucket=20)
    text = dict(c.docs)
    assert len(text) == len(c.docs)  # ids are unique
    for a, b in c.text_twins:
        # same byte length, one word swapped: high Jaccard
        assert len(text[a].encode()) == len(text[b].encode())
        assert gen.jaccard(gen.shingle_set(text[a]), gen.shingle_set(text[b])) >= 0.85
    for a, b in c.text_copies:
        assert text[a] == text[b]
    for base, ex in c.excerpts:
        assert text[ex] in text[base]
    for a, b in c.vec_twins:
        assert gen.cosine(c.vectors[a], c.vectors[b]) >= 0.97
    for a, b in c.vec_copies:
        assert np.array_equal(c.vectors[a], c.vectors[b])


def test_shingles_and_containment_follow_the_operator_definitions():
    assert gen.shingle_set("a b") == frozenset(["a b"])
    assert gen.shingle_set("a b c d") == frozenset(["a b c", "b c d"])
    docs = [(1, "x y z w"), (2, "x y z w"), (3, "y z w"), (4, "q r s")]
    sets = gen.containment_sets(docs, 3, max_df=1)
    # doc 2 collapses into doc 1; "y z w" occurs in two reps, above max_df
    assert set(sets) == {1, 3, 4}
    assert sets[1] == frozenset(["x y z"])
    assert sets[3] == frozenset()
