"""Seeded input generator for every benchmark workload.

One call builds the inputs of one workload from ``seed`` alone, so the
same seed always yields byte-identical files. Generation runs before any
timer starts; its cost is in no metric.

Text comes from a Zipf-distributed vocabulary of ~20k random words, so
shingle frequencies look like natural text (a few very common words, a
long tail) instead of the low-entropy word soup that makes LSH buckets
quadratic.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np

VOCAB_SIZE = 20_000
ZIPF_S = 1.07
EMB_DIM = 64
EMB_COMPONENTS = 16
REDELIVERY_WORDS = 60

# Same constants as operators.dedup (8 hashes, 4 bands of 2 rows, word
# 3-grams); the generator re-derives LSH bands in pure Python only to make
# sure every planted near-duplicate really collides with its cluster base.
_N_HASHES, _ROWS_PER_BAND, _NGRAM = 8, 2, 3


class Vocab:
    """Zipf sampler over a seeded random vocabulary. A word's length (3-9
    letters) follows its frequency rank, not the seed, so the mean word
    length, and with it the corpus bytes, is the same for every seed."""

    def __init__(self, rng: np.random.Generator, size: int = VOCAB_SIZE):
        letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
        words: dict[str, None] = {}
        while len(words) < size:
            n = 3 + len(words) % 7
            words.setdefault(letters[rng.integers(0, 26, n)].tobytes().decode(), None)
        self.words = np.array(list(words), dtype=object)
        p = 1.0 / np.arange(1, size + 1) ** ZIPF_S
        self.cdf = np.cumsum(p / p.sum())

    def sample(self, rng: np.random.Generator, n: int) -> list[str]:
        idx = np.minimum(np.searchsorted(self.cdf, rng.random(n)), len(self.words) - 1)
        return list(self.words[idx])


# ---------------------------------------------------------------------------
# LSH band collision, recomputed in Python (used only while generating)
# ---------------------------------------------------------------------------


def shingle_set(text: str) -> set[str]:
    ws = text.split()
    return {" ".join(ws[i : i + _NGRAM]) for i in range(len(ws) - _NGRAM + 1)}


def band_hashes(sh: set[str]) -> list[str]:
    sig = [min(hashlib.md5(f"{s}|{g}".encode()).hexdigest() for g in sh) for s in range(_N_HASHES)]
    return [
        hashlib.md5("|".join(sig[b * _ROWS_PER_BAND : (b + 1) * _ROWS_PER_BAND]).encode()).hexdigest()
        for b in range(_N_HASHES // _ROWS_PER_BAND)
    ]


def _linked(a: str, b: str) -> bool:
    """True when b is a verified LSH pair of a (band collision and
    word-3-gram Jaccard >= 0.5)."""
    sa, sb = shingle_set(a), shingle_set(b)
    if len(sa & sb) / len(sa | sb) < 0.5:
        return False
    return any(x == y for x, y in zip(band_hashes(sa), band_hashes(sb)))


# ---------------------------------------------------------------------------
# Document corpora
# ---------------------------------------------------------------------------

@dataclass
class Corpus:
    texts: list[str]
    clusters: list[list[int]]  # planted near-dup groups


def _variant(rng: np.random.Generator, vocab: Vocab, base: str) -> str:
    ws = base.split()
    for pos in rng.choice(len(ws), size=int(rng.integers(1, 4)), replace=False):
        ws[pos] = vocab.sample(rng, 1)[0]
    return " ".join(ws)


def make_corpus(
    rng: np.random.Generator,
    vocab: Vocab,
    n_docs: int,
    words: tuple[int, int] = (30, 90),
    cluster_share: float = 0.10,
    n_hubs: int = 3,
    hub_size: int = 120,
) -> Corpus:
    """``n_docs`` documents. About ``cluster_share`` of them sit in planted
    near-duplicate clusters of 2-8 members, each member a 1-3 word edit of
    the cluster base that is checked to be an LSH-verified pair of it.
    ``n_hubs`` groups of ``hub_size`` docs share a long boilerplate prefix:
    their signatures pile into a few band buckets (many candidate pairs)
    while their Jaccard stays near 0.3, below the 0.5 threshold."""
    texts: list[str] = []
    clusters: list[list[int]] = []
    planted = int(n_docs * cluster_share)
    while sum(len(c) for c in clusters) < planted:
        # sizes cycle through 2..8 instead of being drawn, so every seed
        # plants the same cluster shapes and only the text differs
        size = min(2 + len(clusters) % 7, planted - sum(len(c) for c in clusters))
        if size < 2:
            break
        base = " ".join(vocab.sample(rng, int(rng.integers(*words))))
        members = [base]
        while len(members) < size:
            v = _variant(rng, vocab, base)
            if _linked(base, v):
                members.append(v)
        clusters.append(list(range(len(texts), len(texts) + size)))
        texts.extend(members)
    for _ in range(n_hubs):
        boiler = " ".join(vocab.sample(rng, 30))
        texts.extend(boiler + " " + " ".join(vocab.sample(rng, 30)) for _ in range(hub_size))
    while len(texts) < n_docs:
        texts.append(" ".join(vocab.sample(rng, int(rng.integers(*words)))))
    # shuffle doc ids so clusters and hubs are spread over the id range
    perm = rng.permutation(len(texts))
    new_id = np.empty_like(perm)
    new_id[perm] = np.arange(len(perm))
    return Corpus(
        texts=[texts[i] for i in perm],
        clusters=[sorted(int(new_id[i]) for i in c) for c in clusters],
    )


def gaussian_mixture(rng: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    comp = rng.integers(0, len(centers), n)
    return (centers[comp] + 0.35 * rng.standard_normal((n, centers.shape[1]))).astype(np.float32)


# ---------------------------------------------------------------------------
# Workload inputs
# ---------------------------------------------------------------------------


@dataclass
class PdfFile:
    path: str  # relative to the tree root
    data: bytes
    pages: list[str] | None  # None: unreadable (not a PDF)


@dataclass
class PdfTree:
    root: str
    files: list[PdfFile]

    def sizes(self) -> dict:
        readable = [f for f in self.files if f.pages is not None]
        return {
            "files": len(self.files),
            "files_unreadable": len(self.files) - len(readable),
            "pages": sum(len(f.pages) for f in readable),
            "bytes": sum(len(f.data) for f in self.files),
        }


def _page_text(rng: np.random.Generator, vocab: Vocab) -> str:
    """One page: three paragraphs of four lines, some capitalised words and
    a rare literal backslash-u escape, so the preprocessing chain has work.
    The fixed layout keeps the corpus size nearly the same for every seed."""
    paras = []
    for _ in range(3):
        lines = []
        for _ in range(4):
            ws = vocab.sample(rng, int(rng.integers(6, 16)))
            if rng.random() < 0.3:
                ws[0] = ws[0].capitalize()
            if rng.random() < 0.02:
                ws.append("\\u00e9")
            lines.append(" ".join(ws))
        paras.append("\n".join(lines))
    return "\n\n".join(paras)


def make_pdf_tree(seed: int, root: str, n_files: int) -> PdfTree:
    """``n_files`` files under a nested tree. Most have 5-25 pages;
    ``n_files // 500`` (at least one) have 350 pages, the one-huge-file
    skew of the reference README; 1% (at least one) are random bytes that
    are not a PDF."""
    from calculate_file_content_size_for_vector_db_spark.sources.extract import make_simple_pdf

    rng = np.random.default_rng([seed, 1])
    vocab = Vocab(rng)
    n_big = max(1, n_files // 500)
    n_bad = max(1, n_files // 100)
    kinds = ["big"] * n_big + ["bad"] * n_bad + ["ok"] * (n_files - n_big - n_bad)
    kinds = [kinds[i] for i in rng.permutation(n_files)]
    files = []
    for i, kind in enumerate(kinds):
        rel = f"d{i % 4}/s{(i // 4) % 3}/doc{i:05d}.pdf"
        if kind == "bad":
            data = rng.integers(0, 256, 20_000, dtype=np.uint8).tobytes()
            data = data.replace(b"stream", b"strean")
            files.append(PdfFile(rel, b"JUNK" + data, None))
            continue
        # page counts follow the file index, not the seed, so every seed
        # has the same page total and only the text differs
        n_pages = 350 if kind == "big" else 5 + i % 21
        pages = [_page_text(rng, vocab) for _ in range(n_pages)]
        files.append(PdfFile(rel, make_simple_pdf(pages), pages))
    for f in files:
        full = os.path.join(root, f.path)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "wb") as fh:
            fh.write(f.data)
    return PdfTree(root, files)


@dataclass
class IngestInput:
    texts: list[str]
    vectors: np.ndarray  # (n, EMB_DIM) float32
    batches: list[tuple[list[int], list[str], np.ndarray]]  # (ids, new texts, new vectors)
    queries: list[list[int]]  # query-id batches
    clusters: list[list[int]]  # planted near-dup clusters of the initial corpus

    def sizes(self) -> dict:
        return {
            "docs": len(self.texts),
            "vectors": int(self.vectors.shape[0]),
            "dim": int(self.vectors.shape[1]),
            "batch_size": len(self.batches[0][0]),
            "batches": len(self.batches),
            "query_batch": len(self.queries[0]),
            "planted_clusters": len(self.clusters),
            "input_bytes": self.input_bytes(self.texts, self.vectors),
        }

    @staticmethod
    def input_bytes(texts: list[str], vectors: np.ndarray) -> int:
        return sum(len(t.encode()) for t in texts) + vectors.nbytes

    def current(self, n_applied: int) -> tuple[list[str], np.ndarray]:
        """Corpus texts and vectors after the first ``n_applied`` batches."""
        texts, vecs = list(self.texts), self.vectors.copy()
        for ids, new_texts, new_vecs in self.batches[:n_applied]:
            for j, i in enumerate(ids):
                texts[i] = new_texts[j]
                vecs[i] = new_vecs[j]
        return texts, vecs


def make_ingest_input(
    seed: int, n_docs: int, n_batches: int, n_query_batches: int, query_batch: int = 64
) -> IngestInput:
    """Corpus + Gaussian-mixture embeddings, then ``n_batches`` re-delivery
    batches of ~1% of the docs each (new text, new vector), and the
    query-id batches."""
    rng = np.random.default_rng([seed, 3])
    vocab = Vocab(rng)
    corpus = make_corpus(rng, vocab, n_docs, n_hubs=1, hub_size=max(20, n_docs // 100))
    centers = rng.standard_normal((EMB_COMPONENTS, EMB_DIM))
    vectors = gaussian_mixture(rng, centers, n_docs)
    batch_size = max(2, n_docs // 100)
    long_docs = [i for i, t in enumerate(corpus.texts) if len(t.split()) >= REDELIVERY_WORDS]
    batches = []
    for _ in range(n_batches):
        ids = sorted(int(i) for i in rng.choice(n_docs, batch_size, replace=False))
        # every new text has REDELIVERY_WORDS words, so batch bytes barely
        # move with the seed; every other one is an edited prefix of a
        # longer corpus doc, so it joins that doc's cluster
        new_texts = []
        for j in range(len(ids)):
            if j % 2 == 0:
                src = long_docs[int(rng.integers(len(long_docs)))]
                prefix = " ".join(corpus.texts[src].split()[:REDELIVERY_WORDS])
                new_texts.append(_variant(rng, vocab, prefix))
            else:
                new_texts.append(" ".join(vocab.sample(rng, REDELIVERY_WORDS)))
        batches.append((ids, new_texts, gaussian_mixture(rng, centers, batch_size)))
    queries = [
        sorted(int(i) for i in rng.choice(n_docs, query_batch, replace=False))
        for _ in range(n_query_batches)
    ]
    return IngestInput(corpus.texts, vectors, batches, queries, corpus.clusters)
