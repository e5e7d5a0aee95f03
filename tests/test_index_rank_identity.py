"""The correctness spine (BASELINE.md rank-identity gate):

build the full compressed index over synthesized transcripts, run the
reference query set through the block-max query engine, and require
top-10 docIDs AND scores identical to the pinned single-node numpy
BM25 oracle (float64, canonical term order, ties → ascending doc_id).

Also: per-turn text equality after round-trip under stable ordering
(input_hint invariant), pruned ≡ unpruned.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from semantic_pdf_search_engine_spark.config import SCORE_DECIMALS
from semantic_pdf_search_engine_spark.fixtures import make_queries, make_transcripts
from semantic_pdf_search_engine_spark.oracle import BM25Oracle
from semantic_pdf_search_engine_spark.plans.query import score_topk, search
from semantic_pdf_search_engine_spark.sources.index_store import build_index

N_CONVS = 40
K = 10


@pytest.fixture(scope="module")
def corpus():
    return make_transcripts(n_convs=N_CONVS)


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    d = tmp_path_factory.mktemp("idx")
    df = spark.createDataFrame(corpus)
    # small stripes so multiple stripes exist even on a small corpus
    return build_index(spark, df, str(d), stripe_docs=64)


@pytest.fixture(scope="module")
def oracle(spark, index):
    docs = index.docs.select("doc_id", "text").collect()
    return BM25Oracle([(r["doc_id"], r["text"]) for r in docs])


def _topk(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_round_trip_text_equality(spark, corpus, index):
    """input_hint invariant: index → fetch → text == input text for every
    turn, docID order == (conv_id, turn_idx) order."""
    stored = (
        index.docs.select("conv_id", "turn_idx", "text", "doc_id")
        .orderBy("doc_id")
        .collect()
    )
    src = corpus.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(stored) == len(src)
    for i, r in enumerate(stored):
        assert r["doc_id"] == i
        assert r["conv_id"] == src["conv_id"][i]
        assert int(r["turn_idx"]) == int(src["turn_idx"][i])
        assert r["text"] == src["text"][i]


@pytest.mark.parametrize("qi", range(0, 60, 3))
def test_rank_identity(spark, index, oracle, qi):
    q = make_queries(100)[qi]
    got = _topk(score_topk(index, q, K, round_scores=False))
    want = oracle.top_k(q, K)
    assert [d for d, _ in got] == [d for d, _ in want], f"query={q!r}"
    for (gd, gs), (wd, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9, f"query={q!r} doc={gd}: {gs} != {ws}"


def test_pruned_equals_unpruned(spark, index, oracle):
    for q in make_queries(30)[:30:4]:
        a = _topk(score_topk(index, q, K, prune=True))
        b = _topk(score_topk(index, q, K, prune=False))
        assert a == b, f"query={q!r}"


def test_search_returns_text(spark, index):
    q = make_queries(3)[0]
    result = search(index, q, 5)
    # single-collect serving contract (VERDICT r4 #6): the returned
    # payload-fetch plan must NOT embed the live scoring DAG — no
    # grouped-pandas scoring node, so materializing it cannot re-score
    plan = result._jdf.queryExecution().optimizedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    rows = result.collect()
    assert 0 < len(rows) <= 5
    for r in rows:
        assert r["text"] and r["conv_id"].startswith("conv")
    # identical (doc_id, score) pairs as the raw scoring path, in order
    want = [(r["doc_id"], r["score"]) for r in score_topk(index, q, 5).collect()]
    assert [(r["doc_id"], r["score"]) for r in rows] == want


def test_empty_and_absent(spark, index):
    assert score_topk(index, "").count() == 0
    assert score_topk(index, "zzzznotaword").count() == 0


def test_scoped_search_matches_oracle(spark, index, oracle):
    """Conv-scoped search (reference filename filter inside the index,
    qdrant.rs:84-90): global stats, candidates restricted to one conv's
    contiguous docID range."""
    convs = [r["conv_id"] for r in index.docs.select("conv_id").distinct().limit(3).collect()]
    ranges = {
        r["conv_id"]: (r["lo"], r["hi"])
        for r in index.docs.groupBy("conv_id")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .collect()
    }
    for conv in convs:
        q = make_queries(10)[2]  # hot term → matches in most convs
        got = _topk(score_topk(index, q, K, round_scores=False, conv_id=conv))
        lo, hi = ranges[conv]
        scores = oracle.score_all(q)
        want = sorted(
            ((d, s) for d, s in scores.items() if lo <= d <= hi),
            key=lambda kv: (-kv[1], kv[0]),
        )[:K]
        assert [d for d, _ in got] == [d for d, _ in want], conv
        for (gd, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9


def test_scoped_search_missing_conv(spark, index):
    assert score_topk(index, make_queries(3)[2], K, conv_id="convNOPE").count() == 0


def test_batch_equals_single_query(spark, index):
    """score_topk_batch must return, per query, EXACTLY the single-query
    score_topk answer (ids and scores) — pruned and unpruned — with
    empty/absent queries simply absent from the output."""
    from semantic_pdf_search_engine_spark.plans.query import score_topk_batch

    queries = make_queries(12)[::2] + ["", "zzzzabsent"]
    for prune in (True, False):
        got: dict[int, list] = {}
        rows = score_topk_batch(index, queries, 10, prune=prune).collect()
        for r in rows:
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for qi, q in enumerate(queries):
            want = _topk(score_topk(index, q, 10, prune=prune))
            have = sorted(got.get(qi, []), key=lambda t: (-t[1], t[0]))
            assert have == sorted(want, key=lambda t: (-t[1], t[0])), (prune, q)


def test_more_like_this_indexed_equals_relational(spark, tmp_path_factory):
    """The index-served MLT twin returns exactly the relational
    operator's rows (ids + scores) — the same output-identity contract
    the shared DuckDB oracle pins at the fixture SFs, here on an
    independent corpus with multi-term docs and score ties."""
    from semantic_pdf_search_engine_spark.operators.bm25 import more_like_this
    from semantic_pdf_search_engine_spark.plans.query import (
        more_like_this_indexed,
    )

    rows = [
        (0, "zebra quagga okapi zebra"),
        (1, "zebra quagga okapi pad pad"),
        (2, "zebra pad pad pad"),
        (3, "quagga okapi pad pad"),
        (4, "pad pad pad pad"),
        (5, "zebra quagga okapi pad pad"),  # tie with doc 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = tmp_path_factory.mktemp("mlt_idx")
    transcripts = docs.select(
        F.format_string("%012d", F.col("doc_id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("doc_id").alias("orig_doc_id"),
        "text",
    )
    idx = build_index(spark, transcripts, str(d), stripe_docs=64)
    rel = [tuple(r) for r in more_like_this(docs, 0, m=3, k=5).collect()]
    srv = [tuple(r) for r in more_like_this_indexed(idx, 0, m=3, k=5).collect()]
    assert rel == srv and rel  # identical, non-empty, same order
