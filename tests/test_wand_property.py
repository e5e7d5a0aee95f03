"""Property test (FIXTURES.md §3): on randomized small corpora, the
block-max-pruned engine ≡ brute-force relational path ≡ numpy oracle.
Randomization is seeded per case (deterministic suite)."""

from __future__ import annotations

import numpy as np
import pytest

from semantic_pdf_search_engine_spark.operators.bm25 import bm25_topk
from semantic_pdf_search_engine_spark.oracle import BM25Oracle
from semantic_pdf_search_engine_spark.plans.query import score_topk
from semantic_pdf_search_engine_spark.sources.index_store import build_index

WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


def _random_corpus(seed: int, n_docs: int):
    rng = np.random.default_rng(seed)
    rows = []
    for c in range(n_docs):
        n = int(rng.integers(1, 30))
        # skewed word choice → repeated tf patterns and score ties
        probs = np.arange(len(WORDS), 0, -1, dtype=float)
        probs /= probs.sum()
        text = " ".join(rng.choice(WORDS, size=n, p=probs))
        rows.append((f"c{c:04d}", 0, "user", text, None, None))
    return rows


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_engine_equals_brute_equals_oracle(spark, tmp_path, both_paths, seed):
    rows = _random_corpus(seed, n_docs=60)
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    idx = build_index(spark, df, str(tmp_path / f"i{seed}"), stripe_docs=16)
    oracle = BM25Oracle(
        [(r["doc_id"], r["text"]) for r in idx.docs.select("doc_id", "text").collect()]
    )
    rng = np.random.default_rng(seed + 100)
    for _ in range(4):
        k = int(rng.integers(1, 4))
        q = " ".join(rng.choice(WORDS, size=k, replace=False))
        want = oracle.top_k(q, 10)
        for path in both_paths():
            engine = [
                (r["doc_id"], r["score"])
                for r in score_topk(idx, q, 10, round_scores=False).collect()
            ]
            assert [d for d, _ in engine] == [d for d, _ in want], f"{path} q={q!r}"
            for (gd, gs), (_, ws) in zip(engine, want):
                assert abs(gs - ws) < 1e-9
        brute = [
            (r["doc_id"], r["score"])
            for r in bm25_topk(
                idx.docs, q, 10, round_scores=False
            ).collect()
        ]
        assert [d for d, _ in brute] == [d for d, _ in want], f"q={q!r} (brute)"
