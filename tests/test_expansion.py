"""Behavior tests for query-expansion retrieval (fuzzy_search,
synonym_search) and the positional serving ops added with them
(phrase_slop greedy chain fold, best_passage densest-window rule).
Exact-value parity vs DuckDB is covered by tests/test_entry_oracle.py;
these pin the semantics on crafted corpora where the right answer is
checkable by hand."""

from __future__ import annotations

import pytest

from semantic_pdf_search_engine_spark.operators import bm25
from semantic_pdf_search_engine_spark.operators.postings import (
    best_passage,
    build_positional_index,
    phrase_occurrences,
    phrase_slop,
)


def _mk(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


class TestFuzzySearch:
    def test_exact_vocab_far_apart_equals_bm25(self, spark):
        # no two vocabulary terms within levenshtein 1 of the query
        # term except itself -> fuzzy degenerates to plain BM25
        docs = _mk(spark, ["alpha bravo", "bravo charlie", "alpha alpha delta"])
        a = [(r.doc_id, r.score) for r in bm25.fuzzy_search(docs, "alpha", 10, 1).collect()]
        b = [(r.doc_id, r.score) for r in bm25.bm25_topk(docs, "alpha", 10).collect()]
        assert a == b

    def test_typo_reaches_vocab_term(self, spark):
        docs = _mk(spark, ["alpha bravo", "bravo charlie"])
        rows = bm25.fuzzy_search(docs, "alpho", 10, 1).collect()  # alpho -> alpha
        assert rows and rows[0].doc_id == 0

    def test_typo_weight_is_fuzzy_boost(self, spark):
        # single expansion at dist 1, len(q)=5 -> w = 0.8: the fuzzy
        # score must be 0.8x the exact-term score (up to rounding)
        docs = _mk(spark, ["alpha bravo", "bravo charlie"])
        fuzzy = bm25.fuzzy_search(docs, "alpho", 10, 1).collect()[0].score
        exact = bm25.bm25_topk(docs, "alpha", 10).collect()[0].score
        assert abs(fuzzy - 0.8 * exact) < 2e-6

    def test_zero_weight_expansion_excluded(self, spark):
        # len-1 query term: every dist-1 vocab term has w = 0 and must
        # NOT seed score-0 candidates into the result
        docs = _mk(spark, ["a c", "c d"])
        assert bm25.fuzzy_search(docs, "b", 10, 1).count() == 0

    def test_multi_expansion(self, spark):
        # "sow" reaches both "slow" and "row": docs containing either
        # must appear
        docs = _mk(spark, ["slow table", "row scan", "table scan"])
        ids = {r.doc_id for r in bm25.fuzzy_search(docs, "sow", 10, 1).collect()}
        assert ids == {0, 1}

    def test_empty_query(self, spark):
        docs = _mk(spark, ["alpha"])
        assert bm25.fuzzy_search(docs, "  ,, ", 10, 1).count() == 0


class TestSynonymSearch:
    def test_synonym_reaches_docs(self, spark):
        docs = _mk(spark, ["alpha x", "beta y", "gamma z"])
        rows = bm25.synonym_search(docs, "alpha", {"alpha": ["beta"]}, 0.8, 10).collect()
        ids = [r.doc_id for r in rows]
        assert set(ids) == {0, 1}
        # literal match outranks the 0.8-discounted synonym (same idf
        # shape: both terms appear in exactly one doc of equal length)
        assert ids[0] == 0

    def test_oov_synonym_is_free(self, spark):
        docs = _mk(spark, ["alpha x", "beta y"])
        with_oov = [
            (r.doc_id, r.score)
            for r in bm25.synonym_search(
                docs, "alpha", {"alpha": ["zeta", "beta"]}, 0.8, 10
            ).collect()
        ]
        without = [
            (r.doc_id, r.score)
            for r in bm25.synonym_search(docs, "alpha", {"alpha": ["beta"]}, 0.8, 10).collect()
        ]
        assert with_oov == without

    def test_query_term_keeps_full_weight(self, spark):
        # "beta" is both a query term (w=1) and a synonym (w=0.8):
        # max wins, so the result equals plain BM25 on the two terms
        docs = _mk(spark, ["alpha beta", "beta x", "alpha y"])
        a = [
            (r.doc_id, r.score)
            for r in bm25.synonym_search(docs, "alpha beta", {"alpha": ["beta"]}, 0.8, 10).collect()
        ]
        b = [(r.doc_id, r.score) for r in bm25.bm25_topk(docs, "alpha beta", 10).collect()]
        assert a == b

    def test_only_present_query_terms_expand(self, spark):
        # thesaurus entries for terms NOT in the query must not expand
        docs = _mk(spark, ["alpha x", "beta y"])
        rows = bm25.synonym_search(docs, "alpha", {"gamma": ["beta"]}, 0.8, 10).collect()
        assert {r.doc_id for r in rows} == {0}


class TestPhraseSlop:
    def test_slop0_equals_exact_phrase(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        a = sorted(tuple(r) for r in phrase_slop(docs, "filter join", 0).collect())
        b = sorted(tuple(r) for r in phrase_occurrences(docs, "filter join").collect())
        assert a == b and a  # non-trivial on the fixture

    def test_chain_span_bound(self, spark):
        # "a b c"~1 -> span <= 3
        docs = _mk(spark, ["a b x c", "a x x b c", "a c b"])
        rows = {r.doc_id: (r.n_occ, r.first_pos) for r in phrase_slop(docs, "a b c", 1).collect()}
        assert rows == {0: (1, 1)}

    def test_counts_and_first_pos(self, spark):
        docs = _mk(spark, ["a b c x a b c"])
        rows = phrase_slop(docs, "a b c", 0).collect()
        assert (rows[0].n_occ, rows[0].first_pos) == (2, 1)

    def test_greedy_min_next(self, spark):
        # t1 has two candidates; greedy takes the min (2), the chain
        # still completes within the span
        docs = _mk(spark, ["a b b c"])
        rows = phrase_slop(docs, "a b c", 1).collect()
        assert (rows[0].n_occ, rows[0].first_pos) == (1, 1)

    def test_order_required(self, spark):
        docs = _mk(spark, ["c b a"])
        assert phrase_slop(docs, "a b c", 5).count() == 0

    def test_repeated_term_phrase(self, spark):
        docs = _mk(spark, ["a b a"])
        rows = phrase_slop(docs, "a b a", 0).collect()
        assert (rows[0].n_occ, rows[0].first_pos) == (1, 1)

    def test_indexed_parity(self, spark, sf_dir, tmp_path):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        idx = str(tmp_path / "posidx")
        build_positional_index(docs, idx)
        a = sorted(tuple(r) for r in phrase_slop(docs, "spark filter join", 4).collect())
        b = sorted(tuple(r) for r in phrase_slop(idx, "spark filter join", 4).collect())
        assert a == b and a


class TestBestPassage:
    def test_densest_window_beats_earliest(self, spark):
        filler = " ".join(["x"] * 19)
        docs = _mk(spark, [f"alpha {filler} alpha beta alpha"])
        r = best_passage(docs, "alpha beta", window=5, k=5).collect()[0]
        # matches at 1, 21, 22, 23 -> window starting 21 holds 3
        assert (r.win_start, r.n_matched) == (21, 3)

    def test_tie_breaks_earliest(self, spark):
        docs = _mk(spark, ["alpha x alpha y alpha"])
        r = best_passage(docs, "alpha", window=3, k=5).collect()[0]
        # counts per start: 1->2 (pos 1,3), 3->2 (pos 3,5), 5->1
        assert (r.win_start, r.n_matched) == (1, 2)

    def test_restricted_to_winners(self, spark):
        docs = _mk(spark, ["alpha beta", "alpha x", "y z"])
        rows = best_passage(docs, "alpha beta", window=5, k=1).collect()
        assert len(rows) == 1 and rows[0].doc_id == 0

    def test_empty_query(self, spark):
        docs = _mk(spark, ["alpha"])
        assert best_passage(docs, " ", window=5, k=5).count() == 0
