"""Seeded input generators.

Everything the benchmark feeds the program is derived from one integer
seed: the same seed always yields the same parquet files, so a
run can be repeated and two commits see the same inputs. The ground
truth the correctness checks need (planted duplicate pairs, exact
nearest neighbours) is computed here, from the generated arrays, never
from the program's output.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

#: text corpus shape: every base document passes the quality filter
#: (letters only, >= MIN_WORDS words, high token diversity)
VOCAB_SIZE = 4000
MIN_WORDS, MAX_WORDS = 40, 120
#: near-duplicates substitute this share of words (at least one), which
#: keeps the word-3-shingle Jaccard of a planted pair near 0.85
NEAR_DUP_EDIT = 0.02
#: related documents replace every RELATED_EVERY-th word: each edit
#: breaks three word-3-shingles and no two edits share one, so a related
#: pair's shingle Jaccard is about 0.53, above the candidate threshold of
#: 16 bands x 4 rows (about 0.5) and below the verify threshold (0.7)
RELATED_EVERY = 10
EMB_DIM = 64
EMB_CLUSTERS = 24


def _vocab(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, n)))
    return np.array(sorted(words))


def _texts(rng: np.random.Generator, vocab: np.ndarray, n: int) -> list[list[str]]:
    lens = rng.integers(MIN_WORDS, MAX_WORDS + 1, n)
    return [list(vocab[rng.integers(0, len(vocab), k)]) for k in lens]


def _near_copy(rng: np.random.Generator, vocab: np.ndarray, words: list[str]) -> list[str]:
    out = list(words)
    n_edit = max(1, int(len(out) * NEAR_DUP_EDIT))
    for pos in rng.choice(len(out), n_edit, replace=False):
        out[pos] = vocab[rng.integers(0, len(vocab))]
    return out


def _related_copy(rng: np.random.Generator, vocab: np.ndarray, words: list[str]) -> list[str]:
    out = list(words)
    for pos in range(int(rng.integers(0, RELATED_EVERY)), len(out), RELATED_EVERY):
        out[pos] = vocab[rng.integers(0, len(vocab))]
    return out


def _doc_table(ids: np.ndarray, texts: list[str], rng: np.random.Generator) -> pa.Table:
    langs = np.array(["de", "en", "es", "fr", "zh"])
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[rng.integers(0, 5, len(ids))], pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, len(ids))], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def curation_corpus(seed: int, n_base: int, n_exact: int, n_near: int, n_related: int,
                    n_low: int):
    """A document corpus with planted duplicates.

    Ids ``0..n_base-1`` are distinct base documents. Then follow
    ``n_exact`` exact copies (re-cased and re-spaced, so only the
    normalised text matches), ``n_near`` near copies, ``n_related``
    related documents (similar enough to become MinHash candidates of
    their source, too different to be verified duplicates; they must
    survive) and ``n_low`` documents the quality filter must drop. Each
    planted copy has a larger id than its source, so the program keeps
    the source.

    Returns ``(table, truth)`` where ``truth`` holds the planted
    ``(source, copy)`` pairs and the ids that must survive.
    """
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng)
    base = _texts(rng, vocab, n_base)
    srcs = rng.choice(n_base, n_exact + n_near + n_related, replace=False)
    texts = [" ".join(w) for w in base]
    exact_pairs, near_pairs = [], []
    nid = n_base
    for s in srcs[:n_exact]:
        w = base[s]
        texts.append("  ".join([w[0].upper()] + w[1:]) + "\n")
        exact_pairs.append((int(s), nid))
        nid += 1
    for s in srcs[n_exact:n_exact + n_near]:
        texts.append(" ".join(_near_copy(rng, vocab, base[s])))
        near_pairs.append((int(s), nid))
        nid += 1
    related_pairs, n_tokens = [], {i: len(w) for i, w in enumerate(base)}
    for s in srcs[n_exact + n_near:]:
        words = _related_copy(rng, vocab, base[s])
        texts.append(" ".join(words))
        related_pairs.append((int(s), nid))
        n_tokens[nid] = len(words)
        nid += 1
    low_ids = list(range(nid, nid + n_low))
    for i in range(n_low):
        # too short for min_tokens=10, or mostly symbols
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), 5)]) if i % 2 else "#$%&*" * 20)
    ids = np.arange(len(texts), dtype=np.int64)
    truth = {
        "exact_pairs": exact_pairs,
        "near_pairs": near_pairs,
        "related_pairs": related_pairs,
        "low_quality": low_ids,
        "survivors": list(range(n_base)) + [c for _s, c in related_pairs],
        "n_tokens": n_tokens,
    }
    return _doc_table(ids, texts, rng), truth


def embeddings(seed: int, n: int, n_queries: int):
    """``n`` clustered vectors, their cluster labels and ``n_queries``
    query vectors drawn from the same clusters."""
    rng = np.random.default_rng([seed, 2])
    centers = rng.normal(0.0, 1.0, (EMB_CLUSTERS, EMB_DIM))
    lab = rng.integers(0, EMB_CLUSTERS, n)
    X = (centers[lab] + rng.normal(0.0, 0.6, (n, EMB_DIM))).astype(np.float32)
    qlab = rng.integers(0, EMB_CLUSTERS, n_queries)
    Q = (centers[qlab] + rng.normal(0.0, 0.6, (n_queries, EMB_DIM))).astype(np.float32)
    return X, lab.astype(np.int32), Q


def exact_topk(X: np.ndarray, Q: np.ndarray, k: int) -> np.ndarray:
    """Exact cosine top-k row indices of ``X`` for each query, ties
    broken by lower index (the program's order)."""
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    sims = Qn.astype(np.float64) @ Xn.astype(np.float64).T
    order = np.lexsort((np.broadcast_to(np.arange(X.shape[0]), sims.shape), -sims), axis=1)
    return order[:, :k]


def _kmeans(X: np.ndarray, k: int, iters: int, rng: np.random.Generator) -> np.ndarray:
    C = X[rng.choice(len(X), k, replace=False)].copy()
    for _ in range(iters):
        a = np.argmin(((X[:, None, :] - C[None]) ** 2).sum(-1), axis=1)
        for j in range(k):
            if (a == j).any():
                C[j] = X[a == j].mean(axis=0)
    return C


def train_ivfpq(seed: int, T: np.ndarray, nlist: int, m_sub: int, ksub: int,
                iters: int = 5) -> tuple[np.ndarray, np.ndarray]:
    """IVF centroids ``(nlist, dim)`` and PQ codebooks
    ``(m_sub, ksub, dim // m_sub)`` from Lloyd iterations over the
    unit-normalised training sample: the frozen models a stream
    resolves on its first micro-batch."""
    rng = np.random.default_rng([seed, 5])
    X = (T / np.linalg.norm(T, axis=1, keepdims=True)).astype(np.float64)
    dsub = X.shape[1] // m_sub
    C = _kmeans(X, nlist, iters, rng)
    B = np.stack([_kmeans(X[:, s * dsub:(s + 1) * dsub], ksub, iters, rng)
                  for s in range(m_sub)])
    return C, B


def emb_table(ids: np.ndarray, X: np.ndarray, labels: np.ndarray | None = None) -> pa.Table:
    cols = {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(X), pa.list_(pa.float32())),
    }
    if labels is not None:
        cols["label"] = pa.array(labels, pa.int32())
    return pa.table(cols)


def stream_inputs(seed: int, n_batches: int, docs_per_batch: int, n_near: int,
                  n_queries: int, n_train: int):
    """Micro-batch tables for the stream, each row a document and its
    embedding, plus a separate training sample and the query set.

    ``n_near`` near copies are planted: each replaces the text of a
    row with an edited copy of an earlier row, in the same batch or a
    previous one, so both new-vs-new and new-vs-history pairs occur.
    Returns ``(batches, X, T, Q, pairs)``.
    """
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng)
    n = n_batches * docs_per_batch
    words = _texts(rng, vocab, n)
    X, _, Q = embeddings(seed, n + n_train, n_queries)
    X, T = X[:n], X[n:]
    texts = [" ".join(w) for w in words]
    copies = sorted(int(c) for c in rng.choice(np.arange(1, n), n_near, replace=False))
    used = set(copies)
    pairs = []
    for c in copies:
        s = int(rng.integers(0, c))
        while s in used:
            s = int(rng.integers(0, c))
        used.add(s)
        texts[c] = " ".join(_near_copy(rng, vocab, words[s]))
        pairs.append((s, c))
    batches = [
        pa.table({
            "doc_id": pa.array(np.arange(lo, lo + docs_per_batch), pa.int64()),
            "text": pa.array(texts[lo:lo + docs_per_batch], pa.string()),
            "embedding": pa.array(list(X[lo:lo + docs_per_batch]), pa.list_(pa.float32())),
        })
        for lo in range(0, n, docs_per_batch)
    ]
    return batches, X, T, Q, pairs
