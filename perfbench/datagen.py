"""Seeded input generators for the benchmark workloads.

Everything here is pure NumPy: the same ``seed`` gives byte-identical
arrays, and the engine only ever sees what these functions return.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# serve: a clustered 64-d corpus, the shape of the engine's own
# ``embeddings`` fixture scaled up so that each request probes real cells
SERVE_N = 20_000
SERVE_DIM = 64
SERVE_CENTERS = 256
SERVE_SIGMA = 0.35
SERVE_QUERIES_PER_REQUEST = 10
SERVE_QUERY_SETS = 64

# bulk: overlapping clusters in 128-d, the generator shape of
# scripts/sift_scale.py (uniform centers, noise wide enough that true
# neighbours straddle cell boundaries, clipped to the descriptor range)
BULK_N = 16_000
BULK_DIM = 128
BULK_CENTERS = 512
BULK_SIGMA = 75.0
BULK_QUERIES = 500
BULK_DIST_QUERIES = 1_000
BULK_EXACT_QUERIES = 100
# one write batch into the engine wrapped around the fresh index: new ids
# plus upserts of existing ids, then a delete of other existing ids
INSERT_NEW = 14
INSERT_UPSERTS = 6
DELETE_BATCH = 5

# bulk text half: the FIXTURES.md ``documents`` schema
DOCS_N = 1_000
DOCS_VOCAB = 3_000
DOCS_ZIPF_S = 1.1
DOCS_DUP_SHARE = 0.05
DOCS_MIN_WORDS = 20
DOCS_MAX_WORDS = 100
BM25_QUERIES = 100
LANGS = ("en", "de", "es", "fr", "zh")
N_SOURCES = 20


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per input stream, so adding a stream
    never shifts the values another stream draws."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def clustered(
    rng: np.random.Generator,
    centers: np.ndarray,
    n: int,
    sigma: float,
    clip: tuple[float, float] | None = None,
) -> np.ndarray:
    a = rng.integers(0, len(centers), n)
    x = centers[a] + rng.normal(0.0, sigma, (n, centers.shape[1]))
    if clip is not None:
        x = np.clip(x, *clip)
    return x.astype(np.float32)


@dataclass
class ServeInputs:
    ids: np.ndarray
    vecs: np.ndarray
    query_sets: list[np.ndarray]


def serve_inputs(seed: int) -> ServeInputs:
    rng = _rng(seed, "serve")
    centers = rng.normal(0.0, 1.0, (SERVE_CENTERS, SERVE_DIM))
    vecs = clustered(rng, centers, SERVE_N, SERVE_SIGMA)
    qrng = _rng(seed, "queries")
    query_sets = [
        clustered(qrng, centers, SERVE_QUERIES_PER_REQUEST, SERVE_SIGMA)
        for _ in range(SERVE_QUERY_SETS)
    ]
    return ServeInputs(np.arange(SERVE_N, dtype=np.int64), vecs, query_sets)


@dataclass
class BulkVectors:
    ids: np.ndarray
    vecs: np.ndarray
    queries: np.ndarray  # (BULK_QUERIES, dim): search and knn_exact batches
    dist_queries: np.ndarray  # (BULK_DIST_QUERIES, dim)
    insert_ids: np.ndarray  # upserted existing ids, then new ids
    insert_vecs: np.ndarray
    delete_ids: np.ndarray  # existing ids, disjoint from the upserts


def bulk_vectors(seed: int) -> BulkVectors:
    rng = _rng(seed, "bulk")
    centers = rng.uniform(0.0, 255.0, (BULK_CENTERS, BULK_DIM))
    clip = (0.0, 255.0)
    vecs = clustered(rng, centers, BULK_N, BULK_SIGMA, clip)
    queries = clustered(rng, centers, BULK_QUERIES, BULK_SIGMA, clip)
    dist_queries = clustered(rng, centers, BULK_DIST_QUERIES, BULK_SIGMA, clip)
    wrng = _rng(seed, "writes")
    touched = wrng.choice(BULK_N, INSERT_UPSERTS + DELETE_BATCH, replace=False)
    insert_ids = np.concatenate([
        touched[:INSERT_UPSERTS], np.arange(BULK_N, BULK_N + INSERT_NEW)
    ]).astype(np.int64)
    insert_vecs = clustered(wrng, centers, len(insert_ids), BULK_SIGMA, clip)
    return BulkVectors(
        np.arange(BULK_N, dtype=np.int64), vecs, queries, dist_queries,
        insert_ids, insert_vecs, np.sort(touched[INSERT_UPSERTS:]).astype(np.int64),
    )


@dataclass
class Documents:
    doc_id: np.ndarray
    text: list[str]
    lang: list[str]
    source: list[str]
    planted: list[tuple[int, int]]  # (original, near-duplicate) doc ids
    term_queries: list[tuple[int, str]]  # exploded (query_id, term)

    @property
    def n_chars(self) -> np.ndarray:
        return np.array([len(t) for t in self.text], dtype=np.int64)


def documents(seed: int) -> Documents:
    """A ``documents`` table with a Zipf vocabulary and a planted share
    of near-duplicates: each planted doc copies an earlier doc and swaps
    its last word for another word of the same length, so the pair stays
    inside the length blocking band and differs in one 3-gram only."""
    rng = _rng(seed, "docs")
    vocab = [f"w{i}" for i in range(DOCS_VOCAB)]
    p = 1.0 / np.arange(1, DOCS_VOCAB + 1) ** DOCS_ZIPF_S
    p /= p.sum()
    by_len: dict[int, list[int]] = {}
    for i, w in enumerate(vocab):
        by_len.setdefault(len(w), []).append(i)
    words: list[np.ndarray] = []
    planted: list[tuple[int, int]] = []
    n_dup = int(DOCS_N * DOCS_DUP_SHARE)
    dup_at = set(
        (rng.choice(DOCS_N - 1, n_dup, replace=False) + 1).tolist()
    )
    for d in range(DOCS_N):
        if d in dup_at:
            src = int(rng.integers(0, d))
            w = words[src].copy()
            same = by_len[len(vocab[w[-1]])]
            w[-1] = same[int(rng.integers(0, len(same)))]
            words.append(w)
            planted.append((src, d))
        else:
            n = int(rng.integers(DOCS_MIN_WORDS, DOCS_MAX_WORDS + 1))
            words.append(rng.choice(DOCS_VOCAB, n, p=p))
    text = [" ".join(vocab[i] for i in w) for w in words]
    lang = [LANGS[i] for i in rng.integers(0, len(LANGS), DOCS_N)]
    source = [f"src{i}" for i in rng.integers(0, N_SOURCES, DOCS_N)]
    # mid-frequency terms: rank 10..500, so every query matches some
    # documents without degenerating to a stopword scan
    term_queries = []
    for q in range(BM25_QUERIES):
        n_terms = int(rng.integers(2, 5))
        for t in rng.choice(np.arange(10, 500), n_terms, replace=False):
            term_queries.append((q, vocab[int(t)]))
    return Documents(
        np.arange(DOCS_N, dtype=np.int64), text, lang, source, planted,
        term_queries,
    )
