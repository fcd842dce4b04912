"""Seeded input generators and the expected results the checks compare to.

Everything here is plain Python/NumPy: the program under test only ever
sees the files these functions write. The same seed gives byte-identical
files and the same expected values.

Expedia ingest files follow the reference's key statistics (SURVEY.md,
"Observed key stats"): about 89% ``Short stay``, about 0.13% erroneous
dates, about 2.5k distinct ``hotel_id``. A few rows carry a null ``id``
so the enrichment's null filter (F1) has work to do.

The near-dup corpus plants known positives for each operator:

- near twins: a base document with one word swapped for another word of
  the SAME length, so the UTF-8 byte stream keeps its length and only a
  few dHash windows move (phash), while word shingles keep Jaccard ~0.9
  (minhash) and the SimHash stays within a few bits (simhash);
- exact copies (the collapse path every operator takes first);
- contained excerpts: a contiguous run of words cut from a base document
  (containment 1.0 before the ubiquity guard);
- one hot boilerplate bucket: many documents sharing one long boilerplate
  prefix, which makes one oversized LSH bucket and ubiquitous grams.

The embedding table holds 64-dim float32 vectors with planted near twins
(cosine >= ~0.98), exact copies and one hot cluster around one direction.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np

ERRONEOUS = "Erroneous data"
# stay-length buckets (days, inclusive) and their shares among rows
# with valid dates; the erroneous share is drawn separately
_DURATIONS = ((1, 4, 0.89), (5, 10, 0.08), (11, 14, 0.015), (15, 30, 0.0137))
ERRONEOUS_SHARE = 0.0013
NULL_ID_SHARE = 0.0005
N_HOTELS = 2500
_BASE_DATE = dt.date(2025, 1, 1)


def category_of(ci: str, co: str) -> str:
    """Reference semantics of the enrichment (src/main.py:71-95, intended
    form): unparseable date or a stay under one day is erroneous."""
    try:
        d = (dt.date.fromisoformat(co) - dt.date.fromisoformat(ci)).days
    except ValueError:
        return ERRONEOUS
    if 1 <= d <= 4:
        return "Short stay"
    if 5 <= d <= 10:
        return "Standard stay"
    if 11 <= d <= 14:
        return "Standard extended stay"
    if d > 14:
        return "Long stay"
    return ERRONEOUS


@dataclass
class HotelsCount:
    """Expected ``hotels_count`` state: per category, the non-null
    ``hotel_id`` count and the set of distinct ids (for exact COUNT
    DISTINCT), over the rows that survive the null-``id`` filter."""

    amount: dict[str, int] = field(default_factory=dict)
    hotels: dict[str, set[int]] = field(default_factory=dict)

    def add_rows(self, rows: list[dict]) -> None:
        for r in rows:
            if r["id"] is None:
                continue
            cat = category_of(r["srch_ci"], r["srch_co"])
            self.amount[cat] = self.amount.get(cat, 0) + 1
            self.hotels.setdefault(cat, set()).add(r["hotel_id"])

    def table(self) -> dict[str, tuple[int, int]]:
        """category -> (hotels_amount, distinct_hotels)."""
        return {c: (self.amount[c], len(self.hotels[c])) for c in self.amount}


def expedia_rows(rng: np.random.Generator, n: int, first_id: int) -> list[dict]:
    """``n`` 20-field expedia records with ids from ``first_id``."""
    ci_off = rng.integers(0, 300, n)
    u = rng.random(n)
    bucket = rng.choice(
        len(_DURATIONS), n, p=np.array([p for *_, p in _DURATIONS]) / sum(
            p for *_, p in _DURATIONS
        )
    )
    lo = np.array([d[0] for d in _DURATIONS])[bucket]
    hi = np.array([d[1] for d in _DURATIONS])[bucket]
    dur = lo + (rng.random(n) * (hi - lo + 1)).astype(np.int64)
    err_kind = rng.integers(0, 3, n)
    hotel = rng.integers(0, N_HOTELS, n)
    null_id = rng.random(n) < NULL_ID_SHARE
    site = rng.integers(0, 50, n)
    city = rng.integers(0, 50000, n)
    dist = np.round(rng.uniform(0, 12000, n), 4)
    user = rng.integers(0, 1_000_000, n)
    dest = rng.integers(0, 60000, n)
    rows = []
    for i in range(n):
        ci = _BASE_DATE + dt.timedelta(days=int(ci_off[i]))
        ci_s = ci.isoformat()
        if u[i] < ERRONEOUS_SHARE:
            k = int(err_kind[i])
            co_s = (
                "not-a-date" if k == 0
                else "" if k == 1
                else (ci - dt.timedelta(days=int(dur[i]) % 3)).isoformat()
            )
        else:
            co_s = (ci + dt.timedelta(days=int(dur[i]))).isoformat()
        rows.append({
            "id": None if null_id[i] else first_id + i,
            "date_time": f"2015-0{1 + i % 9}-1{i % 10} 12:{i % 60:02d}:00",
            "site_name": int(site[i]),
            "posa_container": int(site[i]) % 5,
            "user_location_country": int(city[i]) % 250,
            "user_location_region": int(city[i]) % 1000,
            "user_location_city": int(city[i]),
            "orig_destination_distance": float(dist[i]),
            "user_id": int(user[i]),
            "is_mobile": int(user[i]) % 2,
            "is_package": int(dest[i]) % 2,
            "channel": int(dest[i]) % 11,
            "srch_ci": ci_s,
            "srch_co": co_s,
            "srch_adults_cnt": 1 + int(site[i]) % 4,
            "srch_children_cnt": int(site[i]) % 3,
            "srch_rm_cnt": 1 + int(city[i]) % 2,
            "srch_destination_id": int(dest[i]),
            "srch_destination_type_id": int(dest[i]) % 9,
            "hotel_id": int(hotel[i]),
        })
    return rows


def write_json_lines(path: str, rows: list[dict]) -> None:
    """Write through a temporary name and rename into place, so a file
    source never lists a partially written file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(json.dumps(r, separators=(",", ":")) for r in rows))
        fh.write("\n")
    os.replace(tmp, path)


class ExpediaFeed:
    """Seeded stream of expedia ingest files plus the running expected
    ``hotels_count``. Each call to ``next_file`` writes one file of the
    requested size into ``directory`` and folds its rows into the
    expected state."""

    def __init__(self, seed: int, directory: str):
        self.rng = np.random.default_rng(seed)
        self.directory = directory
        self.expected = HotelsCount()
        self.files = 0
        self.rows = 0

    def next_rows(self, n: int) -> tuple[str, list[dict]]:
        rows = expedia_rows(self.rng, n, self.rows)
        name = f"part-{self.files:06d}.json"
        self.files += 1
        self.rows += n
        return name, rows

    def next_file(self, n: int) -> str:
        name, rows = self.next_rows(n)
        path = os.path.join(self.directory, name)
        write_json_lines(path, rows)
        self.expected.add_rows(rows)
        return path


# ------------------------------------------------------------ near-dup corpus


@dataclass
class NearDupCorpus:
    docs: list[tuple[int, str]]
    vectors: np.ndarray  # (n, dim) float32, row i has vec_id i
    # planted (id_a, id_b) pairs, id_a < id_b
    text_twins: list[tuple[int, int]]
    text_copies: list[tuple[int, int]]
    excerpts: list[tuple[int, int]]  # (base, excerpt) ids, unordered
    vec_twins: list[tuple[int, int]]
    vec_copies: list[tuple[int, int]]


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, n)))
    return sorted(words)


# planted shares of the base documents (and of the vectors, for twins)
TWIN_RATE = 0.08
COPY_RATE = 0.03
EXCERPT_RATE = 0.04
DIM = 64


def near_dup_corpus(seed: int, n_base: int, n_vectors: int, hot_bucket: int) -> NearDupCorpus:
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, 3000)
    by_len: dict[int, list[str]] = {}
    for w in vocab:
        by_len.setdefault(len(w), []).append(w)
    # Zipf-like word frequencies: a few common words, a long tail
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    weights /= weights.sum()

    docs: list[tuple[int, str]] = []
    base_words: list[list[str]] = []
    for i in range(n_base):
        n = int(rng.integers(60, 100))
        words = [vocab[j] for j in rng.choice(len(vocab), n, p=weights)]
        base_words.append(words)
        docs.append((i, " ".join(words)))

    def pick(rate: float) -> list[int]:
        k = max(1, int(round(rate * n_base)))
        return sorted(int(x) for x in rng.choice(n_base, k, replace=False))

    next_id = n_base
    twins, copies, excerpts = [], [], []
    for b in pick(TWIN_RATE):
        words = list(base_words[b])
        pos = int(rng.integers(0, len(words)))
        same = [w for w in by_len[len(words[pos])] if w != words[pos]]
        words[pos] = same[int(rng.integers(0, len(same)))]
        docs.append((next_id, " ".join(words)))
        twins.append((b, next_id))
        next_id += 1
    for b in pick(COPY_RATE):
        docs.append((next_id, docs[b][1]))
        copies.append((b, next_id))
        next_id += 1
    for b in pick(EXCERPT_RATE):
        words = base_words[b]
        span = int(len(words) * rng.uniform(0.4, 0.7))
        start = int(rng.integers(0, len(words) - span + 1))
        docs.append((next_id, " ".join(words[start:start + span])))
        excerpts.append((b, next_id))
        next_id += 1
    boiler = " ".join(vocab[j] for j in rng.choice(len(vocab), 60, p=weights))
    for _ in range(hot_bucket):
        tail = " ".join(vocab[j] for j in rng.choice(len(vocab), 3))
        docs.append((next_id, f"{boiler} {tail}"))
        next_id += 1

    # embeddings: random directions, planted near twins and copies, and a
    # hot cluster around one direction
    vecs = rng.standard_normal((n_vectors, DIM)).astype(np.float32)
    n_hot = max(2, n_vectors // 20)
    centre = rng.standard_normal(DIM)
    vecs[-n_hot:] = (centre + 0.15 * rng.standard_normal((n_hot, DIM))).astype(
        np.float32
    )
    k = max(1, int(round(TWIN_RATE * n_vectors)))
    sources = rng.choice(n_vectors - n_hot - 2 * k, 2 * k, replace=False)
    vec_twins, vec_copies = [], []
    slots = list(range(n_vectors - n_hot - 2 * k, n_vectors - n_hot))
    for j, src in enumerate(sources):
        dst = slots[j]
        src = int(src)
        if j % 2 == 0:
            noise = rng.standard_normal(DIM) * 0.08 * np.linalg.norm(vecs[src]) / np.sqrt(DIM)
            vecs[dst] = (vecs[src] + noise).astype(np.float32)
            vec_twins.append((src, dst))
        else:
            vecs[dst] = vecs[src]
            vec_copies.append((src, dst))
    return NearDupCorpus(docs, vecs, twins, copies, excerpts, vec_twins, vec_copies)


def write_corpus(corpus: NearDupCorpus, directory: str) -> tuple[str, str]:
    """Write the documents and embeddings as parquet; return their paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    docs_path = os.path.join(directory, "documents.parquet")
    emb_path = os.path.join(directory, "embeddings.parquet")
    pq.write_table(
        pa.table({
            "doc_id": pa.array([d for d, _ in corpus.docs], pa.int64()),
            "text": pa.array([t for _, t in corpus.docs], pa.string()),
        }),
        docs_path,
    )
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(len(corpus.vectors)), pa.int64()),
            "embedding": pa.array(
                list(corpus.vectors), pa.list_(pa.float32())
            ),
        }),
        emb_path,
    )
    return docs_path, emb_path


# ------------------------------------------------------ exact similarity twins


def shingle_set(text: str, n: int = 3) -> frozenset[str]:
    """Distinct word n-grams, the definition ``dedup.shingles`` documents:
    whitespace tokens of the trimmed text; a text with fewer than ``n``
    tokens is its single full-join shingle."""
    toks = text.strip(" ").split()
    if len(toks) < n:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def containment_sets(docs: list[tuple[int, str]], n: int, max_df: int) -> dict[int, frozenset]:
    """Per representative doc (min id per distinct text), its distinct
    n-grams minus the ubiquitous ones (document frequency over the
    representatives above ``max_df``) — the containment operators'
    documented denominator."""
    reps: dict[str, int] = {}
    for d, t in docs:
        if t not in reps or d < reps[t]:
            reps[t] = d
    grams = {d: shingle_set(t, n) for t, d in reps.items()}
    df: dict[str, int] = {}
    for g in grams.values():
        for s in g:
            df[s] = df.get(s, 0) + 1
    return {d: frozenset(s for s in g if df[s] <= max_df) for d, g in grams.items()}


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
