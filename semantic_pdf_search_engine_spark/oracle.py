"""Pinned single-node BM25 oracle.

BASELINE.json demands rank-identity "to the reference engine" — the
Rust reference publishes no BM25 (it is vector search via Qdrant,
/root/reference/src/qdrant.rs:70-96), so per SURVEY.md §5 this pinned
single-node implementation *is* the reference scorer: float64, k1=1.2,
b=0.75, Lucene idf = ln(1 + (N - df + 0.5)/(df + 0.5)), score summed in
canonical (sorted-term) order, ties broken by ascending doc_id.
"""

from __future__ import annotations

import math
from collections import Counter

from semantic_pdf_search_engine_spark.config import B, K1
from semantic_pdf_search_engine_spark.functions.tokenize import tokenize_py


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_term(tf: float, dl: float, avgdl: float, term_idf: float) -> float:
    # parenthesization pinned. The posting build's argmax and the
    # scoring kernel call this same function on numpy arrays, so every
    # numpy BM25 path is bit-identical float64 to the oracle.
    return (term_idf * (tf * (K1 + 1.0))) / (tf + K1 * (1.0 - B + B * dl / avgdl))


class BM25Oracle:
    """In-memory inverted index + scorer over (doc_id, text) pairs."""

    def __init__(self, docs: list[tuple[int, str]], normalize: bool = True):
        self.doc_ids: list[int] = []
        self.dl: dict[int, int] = {}
        self.tf: dict[str, dict[int, int]] = {}
        for doc_id, text in docs:
            toks = tokenize_py(text, normalize=normalize)
            self.doc_ids.append(doc_id)
            self.dl[doc_id] = len(toks)
            for term, tf in Counter(toks).items():
                self.tf.setdefault(term, {})[doc_id] = tf
        self.n_docs = len(self.doc_ids)
        self.avgdl = (
            sum(self.dl.values()) / self.n_docs if self.n_docs else 0.0
        )

    def score_all(self, query: str) -> dict[int, float]:
        terms = sorted(set(tokenize_py(query)))  # canonical term order
        scores: dict[int, float] = {}
        for term in terms:
            postings = self.tf.get(term)
            if not postings:
                continue
            t_idf = idf(self.n_docs, len(postings))
            for doc_id, tf in postings.items():
                scores[doc_id] = scores.get(doc_id, 0.0) + bm25_term(
                    tf, self.dl[doc_id], self.avgdl, t_idf
                )
        return scores

    def top_k(self, query: str, k: int = 10) -> list[tuple[int, float]]:
        scores = self.score_all(query)
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
