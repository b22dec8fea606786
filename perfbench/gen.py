"""Seeded input generators for the benchmark.

Every generator is deterministic given its seed and sizes, and writes
parquet with pyarrow, so inputs exist before Spark reads them and the
reference checks (DuckDB, networkx, numpy) read the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"]
VOCAB_SIZE = 20000
ZIPF_A = 1.1
DOC_LEN = (60, 160)  # words, half-open
JUNK_SHARE = 0.05
NEAR_EDITS = 2
N_CENTERS = 16
_ONSETS = ["b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z"]
_VOWELS = ["a", "e", "i", "o", "u"]


def _write(table: dict, path: str) -> None:
    pq.write_table(pa.table(table), path)


# ---------------------------------------------------------------------------
# graph
# ---------------------------------------------------------------------------
def graph(seed: int, n_nodes: int, n_edges: int, hub_skew: float, out_dir: str) -> None:
    """Power-law multigraph with hubs on the source side.

    ``source = perm[floor(n_nodes * u ** hub_skew)]``: ``hub_skew`` > 1
    piles out-edges onto a few low ranks (hub_skew = 1 is uniform).
    Targets are uniform.  The first ``n_nodes`` edges give every node
    one out-edge, so no node is dangling and PageRank mass sums to 1.
    All features are integers, so sums and means agree exactly across
    engines.  Writes ``nodes.parquet`` (id, grp, score) and
    ``edges.parquet`` (source, target, weight).
    """
    rng = np.random.default_rng(seed)
    perm = rng.permutation(n_nodes).astype(np.int64)
    extra = n_edges - n_nodes
    ranks = np.floor(n_nodes * rng.random(extra) ** hub_skew).astype(np.int64)
    source = np.concatenate([np.arange(n_nodes, dtype=np.int64), perm[ranks]])
    target = rng.integers(0, n_nodes, n_edges, dtype=np.int64)
    weight = rng.integers(1, 101, n_edges, dtype=np.int64)
    n_groups = max(2, n_nodes // 1000)
    _write(
        {
            "id": np.arange(n_nodes, dtype=np.int64),
            "grp": rng.integers(0, n_groups, n_nodes, dtype=np.int64),
            "score": rng.integers(0, 1000, n_nodes, dtype=np.int64),
        },
        os.path.join(out_dir, "nodes.parquet"),
    )
    _write(
        {"source": source, "target": target, "weight": weight},
        os.path.join(out_dir, "edges.parquet"),
    )


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------
def vocabulary(size: int) -> list[str]:
    """``size`` distinct lowercase words of 4+ letters, in a fixed order."""
    syll = [o + v for o in _ONSETS for v in _VOWELS]
    words = []
    i = 0
    while len(words) < size:
        a, b = divmod(i, len(syll))
        c, a = divmod(a, len(syll))
        words.append(syll[b] + syll[a % len(syll)] + (syll[c % len(syll)] if c else "n"))
        i += 1
    return words


class Corpus:
    """Seeded documents with planted exact and near duplicates.

    Base documents are Zipf-distributed vocabulary words mixed with
    stopwords (so they pass the quality filter); ``JUNK_SHARE`` of the
    documents are too short to pass it.  ``exact_share`` of the
    documents are verbatim copies of an earlier base document and
    ``near_share`` are copies with ``NEAR_EDITS`` words replaced, which
    changes at most 6 of a document's 58+ word 3-shingles and keeps the
    pair's Jaccard similarity at 0.81 or more, above the default 0.8
    MinHash threshold.  Copies always carry a larger id than their
    original.
    """

    def __init__(self, seed: int, n_docs: int, exact_share: float, near_share: float):
        self.rng = np.random.default_rng(seed)
        self.vocab = vocabulary(VOCAB_SIZE)
        p = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -ZIPF_A
        self.p = p / p.sum()
        rng = self.rng
        n_exact = int(n_docs * exact_share)
        n_near = int(n_docs * near_share)
        n_junk = int(n_docs * JUNK_SHARE)
        n_base = n_docs - n_exact - n_near
        texts = [self.document() for _ in range(n_base - n_junk)]
        texts += [" ".join(rng.choice(self.vocab[:50], 3)) for _ in range(n_junk)]
        # originals of planted copies are drawn from the quality base docs
        good = n_base - n_junk
        self.exact_pairs = []
        self.near_pairs = []
        for _ in range(n_exact):
            orig = int(rng.integers(0, good))
            self.exact_pairs.append((orig, len(texts)))
            texts.append(texts[orig])
        for _ in range(n_near):
            orig = int(rng.integers(0, good))
            words = texts[orig].split(" ")
            for pos in rng.choice(len(words), NEAR_EDITS, replace=False):
                words[pos] = self.vocab[int(rng.integers(0, len(self.vocab)))]
            self.near_pairs.append((orig, len(texts)))
            texts.append(" ".join(words))
        self.texts = texts
        self.n_docs = len(texts)

    def words(self, n: int, rng: np.random.Generator | None = None) -> list[str]:
        rng = rng or self.rng
        return [self.vocab[i] for i in rng.choice(len(self.vocab), n, p=self.p)]

    def document(self, rng: np.random.Generator | None = None) -> str:
        rng = rng or self.rng
        n = int(rng.integers(*DOC_LEN))
        words = self.words(n, rng)
        stops = rng.random(n) < 0.3
        picks = rng.integers(0, len(STOPWORDS), n)
        return " ".join(STOPWORDS[k] if s else w for w, s, k in zip(words, stops, picks))


# ---------------------------------------------------------------------------
# serving: embeddings, query stream and add stream
# ---------------------------------------------------------------------------
def embeddings(rng: np.random.Generator, centers: np.ndarray, n: int, noise: float) -> np.ndarray:
    """``n`` vectors scattered around randomly chosen ``centers``."""
    pick = rng.integers(0, len(centers), n)
    return centers[pick] + noise * rng.standard_normal((n, centers.shape[1]))


class ServingStream:
    """Seeded serving inputs: a base corpus (with planted duplicates)
    and embeddings, then a stream of search batches (Zipf-skewed query
    terms, query vectors near the corpus clusters) and add batches of
    new documents.  :meth:`rewind` restarts the stream.
    """

    def __init__(self, seed: int, n_docs: int, dim: int, exact_share: float, near_share: float):
        self.seed = seed
        self.corpus = Corpus(seed, n_docs, exact_share, near_share)
        rng = np.random.default_rng(seed + 1)
        self.centers = rng.standard_normal((N_CENTERS, dim))
        self.emb = embeddings(rng, self.centers, self.corpus.n_docs, noise=0.3)
        self.rewind()

    def rewind(self) -> None:
        self.rng = np.random.default_rng(self.seed + 2)
        self.added_texts: list[str] = []
        self.added_emb: list[list[float]] = []
        self.next_query = 0

    @property
    def indexed(self) -> int:
        """Documents added so far."""
        return len(self.added_texts)

    def text(self, doc_id: int) -> str:
        n = self.corpus.n_docs
        return self.corpus.texts[doc_id] if doc_id < n else self.added_texts[doc_id - n]

    def vector(self, doc_id: int) -> list[float]:
        n = self.corpus.n_docs
        return list(map(float, self.emb[doc_id])) if doc_id < n else self.added_emb[doc_id - n]

    def write_base(self, path: str) -> None:
        _write(
            {
                "doc_id": np.arange(self.corpus.n_docs, dtype=np.int64),
                "text": self.corpus.texts,
                "embedding": [list(map(float, v)) for v in self.emb],
            },
            path,
        )

    def search_batch(self, n_queries: int, n_terms: int) -> list[tuple[int, list[str], list[float]]]:
        """``(query_id, terms, embedding)`` rows; query ids count down
        from -1 so they never collide with document ids."""
        rows = []
        for v in embeddings(self.rng, self.centers, n_queries, noise=0.3):
            self.next_query -= 1
            rows.append((self.next_query, self.corpus.words(n_terms, self.rng), list(map(float, v))))
        return rows

    def add_batch(self, n_docs: int) -> list[tuple[int, str, list[float]]]:
        """``(doc_id, text, embedding)`` rows of fresh documents."""
        rows = []
        for v in embeddings(self.rng, self.centers, n_docs, noise=0.3):
            doc_id = self.corpus.n_docs + len(self.added_texts)
            self.added_texts.append(self.corpus.document(self.rng))
            self.added_emb.append(list(map(float, v)))
            rows.append((doc_id, self.added_texts[-1], self.added_emb[-1]))
        return rows
