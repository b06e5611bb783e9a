"""Seeded inputs for the benchmark workloads.

Everything the program receives is generated here from the workload seed:
the corpus (``corpus.make_corpus``), the doc ids, the ids to delete and the
serving query stream. ``input_hash`` digests all of it, so two runs with
the same seed can be shown to have received byte-identical inputs.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from sequential_query_expansion_spark.corpus import (
    VOCAB_SIZE,
    _zipf_probs,
    make_corpus,
    vocabulary,
)


def make_inputs(seed: int, n_docs: int, n_queries: int = 20,
                hard_fraction: float = 0.0, vocab_size: int = VOCAB_SIZE):
    """-> (corpus, docs) where ``docs`` is (doc_id, url, text) with dense
    ids 0..n-1 in url order, the ids ``index.build.assign_doc_ids`` gives
    and ``oracle.build_index`` assigns to url-sorted input."""
    corpus = make_corpus(
        n_docs=n_docs, n_queries=n_queries, seed=seed,
        hard_fraction=hard_fraction, vocab_size=vocab_size,
    )
    docs = corpus.pages.sort_values("url", kind="stable")[["url", "text"]]
    docs = docs.reset_index(drop=True)
    docs.insert(0, "doc_id", np.arange(len(docs), dtype=np.int64))
    return corpus, docs


def delete_ids(seed: int, n_docs: int, frac: float) -> list[int]:
    """A seeded ``frac`` of the doc ids, sorted."""
    rng = np.random.default_rng([seed, 1])
    n = max(1, int(round(n_docs * frac)))
    return sorted(int(d) for d in rng.choice(n_docs, size=n, replace=False))


def query_stream(seed: int, n: int, vocab_size: int = VOCAB_SIZE,
                 rm3_every: int = 20) -> list[tuple[str, list[str]]]:
    """``n`` serving queries of 1-5 terms -> [(kind, terms)], kind "bm25"
    or "rm3" (every ``rm3_every``-th query, so every window of the stream
    holds the same mix). Each term is drawn from the
    corpus Zipf distribution (head terms, stopwords included) or, with
    even odds, uniformly over the whole vocabulary, so the working set
    outgrows a cache sized for the head of the vocabulary."""
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary(vocab_size)
    lengths = rng.integers(1, 6, size=n)
    total = int(lengths.sum())
    ids = np.where(
        rng.random(total) < 0.5,
        rng.choice(vocab_size, size=total, p=_zipf_probs(vocab_size)),
        rng.integers(vocab_size, size=total),
    )
    ends = np.cumsum(lengths)
    return [
        ("rm3" if i % rm3_every == rm3_every - 1 else "bm25",
         [vocab[j] for j in ids[ends[i] - lengths[i]:ends[i]]])
        for i in range(n)
    ]


def input_hash(*parts) -> str:
    """sha256 over DataFrames (as CSV) and plain values (as repr)."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, pd.DataFrame):
            h.update(p.to_csv(index=False).encode())
        else:
            h.update(repr(p).encode())
    return h.hexdigest()
