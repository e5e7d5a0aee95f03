"""The correctness spine (BASELINE.md rank-identity gate):

build the full compressed index over synthesized transcripts, run the
reference query set through the block-max query engine, and require
top-10 docIDs AND scores identical to the pinned single-node numpy
BM25 oracle (float64, canonical term order, ties → ascending doc_id).

Also: per-turn text equality after round-trip under stable ordering
(input_hint invariant), pruned ≡ unpruned, and the in-process serving
path ≡ the Spark DAG, bit for bit.
"""

from __future__ import annotations

import logging
import time
import uuid

import pytest
from pyspark.sql import functions as F

from semantic_pdf_search_engine_spark.config import SCORE_DECIMALS
from semantic_pdf_search_engine_spark.fixtures import make_queries, make_transcripts
from semantic_pdf_search_engine_spark.oracle import BM25Oracle
from semantic_pdf_search_engine_spark.plans import query
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
def test_rank_identity(spark, index, oracle, both_paths, qi):
    q = make_queries(100)[qi]
    want = oracle.top_k(q, K)
    # the Spark DAG on a subset: the local path runs every query
    for path in both_paths() if qi % 12 == 0 else ["local"]:
        got = _topk(score_topk(index, q, K, round_scores=False))
        assert [d for d, _ in got] == [d for d, _ in want], f"{path} query={q!r}"
        for (gd, gs), (wd, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, f"{path} query={q!r} doc={gd}: {gs} != {ws}"


def test_pruned_equals_unpruned(spark, index, oracle, both_paths):
    for path in both_paths():
        for q in make_queries(30)[:30:4]:
            a = _topk(score_topk(index, q, K, prune=True))
            b = _topk(score_topk(index, q, K, prune=False))
            assert a == b, f"{path} query={q!r}"


def test_search_returns_text(spark, index):
    q = make_queries(3)[0]
    result = search(index, q, 5)
    # single-collect serving contract (VERDICT r4 #6): the returned
    # payload-fetch plan must NOT embed the live scoring DAG — no
    # grouped-pandas scoring node, so materializing it cannot re-score
    plan = result._jdf.queryExecution().optimizedPlan().toString()
    assert "FlatMapGroupsIn" not in plan
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


def test_scoped_search_matches_oracle(spark, index, oracle, both_paths):
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
    q = make_queries(10)[2]  # hot term → matches in most convs
    scores = oracle.score_all(q)
    for path in both_paths():
        for conv in convs:
            got = _topk(score_topk(index, q, K, round_scores=False, conv_id=conv))
            lo, hi = ranges[conv]
            want = sorted(
                ((d, s) for d, s in scores.items() if lo <= d <= hi),
                key=lambda kv: (-kv[1], kv[0]),
            )[:K]
            assert [d for d, _ in got] == [d for d, _ in want], (path, conv)
            for (gd, gs), (_, ws) in zip(got, want):
                assert abs(gs - ws) < 1e-9


def test_scoped_search_missing_conv(spark, index, both_paths):
    for path in both_paths():
        assert score_topk(index, make_queries(3)[2], K, conv_id="convNOPE").count() == 0, path


def test_batch_equals_single_query(spark, index, both_paths):
    """score_topk_batch must return, per query, EXACTLY the single-query
    score_topk answer (ids and scores) — pruned and unpruned — with
    empty/absent queries simply absent from the output. The repeated
    query makes the same block rows serve two query ids."""
    from semantic_pdf_search_engine_spark.plans.query import score_topk_batch

    queries = make_queries(12)[::2] + ["", "zzzzabsent", make_queries(12)[0]]
    for prune in (True, False):
        for path in both_paths():
            got: dict[int, list] = {}
            rows = score_topk_batch(index, queries, 10, prune=prune).collect()
            for r in rows:
                got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
            for qi, q in enumerate(queries):
                want = _topk(score_topk(index, q, 10, prune=prune))
                have = sorted(got.get(qi, []), key=lambda t: (-t[1], t[0]))
                assert have == sorted(want, key=lambda t: (-t[1], t[0])), (path, prune, q)


def test_negative_k_rejected(spark, index, both_paths):
    """k < 0 raises on every path (the local merge would slice [:k],
    the Spark LIMIT rejects it, the batch window would return nothing);
    k = 0 is an empty answer everywhere."""
    from semantic_pdf_search_engine_spark.plans.query import score_topk_batch

    q = make_queries(10)[2]
    for path in both_paths():
        with pytest.raises(ValueError):
            score_topk(index, q, -1)
        assert score_topk(index, q, 0).count() == 0, path
        with pytest.raises(ValueError):
            score_topk_batch(index, [q], -1)
        assert score_topk_batch(index, [q], 0).count() == 0, path


def test_kernel_slices_equal_one_pass(spark, index, monkeypatch):
    """The scoring kernel's slicing (bounded scratch memory) changes no
    answer: one slice per (query, stripe) group, or slices cut by the
    postings bound, give exactly the one-pass batch."""
    from semantic_pdf_search_engine_spark.plans.query import score_topk_batch

    queries = make_queries(40)[::3]

    def batch():
        rows = score_topk_batch(index, queries, K, round_scores=False).collect()
        return sorted((r["query_id"], r["doc_id"], r["score"]) for r in rows)

    want = batch()
    assert want
    for slots, postings in ((1, 1 << 30), (1 << 30, 1), (3 * index.stripe_docs, 50)):
        with monkeypatch.context() as m:
            m.setattr(query, "_KERNEL_SLOTS", slots)
            m.setattr(query, "_KERNEL_POSTINGS", postings)
            assert batch() == want, (slots, postings)


@pytest.mark.parametrize("round_scores", [True, False])
def test_local_path_equals_spark_path(spark, index, both_paths, round_scores):
    """The in-process path runs the Spark path's kernel on the same
    stored idf and rounds before the same merge, so its answers are
    bit-identical (==, no tolerance), scoped and unscoped."""
    convs = [None] + [
        r["conv_id"] for r in index.docs.select("conv_id").distinct().limit(2).collect()
    ]
    cases = [(q, c) for q in make_queries(40)[::5] for c in convs]
    got = {
        path: [
            _topk(score_topk(index, q, K, round_scores=round_scores, conv_id=c))
            for q, c in cases
        ]
        for path in both_paths()
    }
    assert sum(map(len, got["local"])) > 0
    assert got["local"] == got["spark"]


def _jobs_launched(spark, action) -> int:
    """Spark jobs `action` launches, counted under its own job group.
    The status tracker is fed asynchronously; a sentinel job run after
    the action is waited for, and listener events arrive in order."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group, sentinel = f"count-{uuid.uuid4()}", f"sentinel-{uuid.uuid4()}"
    try:
        sc.setJobGroup(group, group)
        action()
        sc.setJobGroup(sentinel, sentinel)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(sentinel) and time.monotonic() < deadline:
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def test_small_footprint_query_launches_no_jobs(spark, index, both_paths):
    """A small-footprint query or batch and an empty answer are served
    in process: collect() launches no Spark job. With the cap at 0 the
    same query and batch take the Spark DAG and do launch jobs."""
    from semantic_pdf_search_engine_spark.plans.query import score_topk_batch

    q = make_queries(10)[2]
    batch = make_queries(12)[::3]
    for path in both_paths():
        n_query = _jobs_launched(spark, lambda: score_topk(index, q, K).collect())
        n_batch = _jobs_launched(spark, lambda: score_topk_batch(index, batch, K).collect())
        n_empty = _jobs_launched(spark, lambda: score_topk(index, "zzzznotaword", K).collect())
        assert n_empty == 0, path
        if path == "local":
            assert n_query == 0 and n_batch == 0
        else:
            assert n_query > 0 and n_batch > 0


def test_warm_up_runs_the_spark_plan(spark, index):
    """prepare()'s warm-up collects the Spark serving DAG even though,
    at the default cap, a query of its term would be served in process
    with no job."""
    term = index.docfreq.select("term").head(1)[0]["term"]
    assert query.LOCAL_POSTINGS_CAP > 0
    assert _jobs_launched(spark, lambda: score_topk(index, term, K).collect()) == 0
    assert _jobs_launched(spark, lambda: query.warm_spark_plan(index, term)) > 0


def test_path_is_logged(spark, index, both_paths, caplog):
    """One DEBUG record per score_topk and score_topk_batch call: which
    path ran and why, with Σdf, block rows read and stripes read."""
    from semantic_pdf_search_engine_spark.plans.query import score_topk_batch

    q = make_queries(10)[2]
    calls = {
        "score_topk": lambda: score_topk(index, q, K),
        "score_topk_batch": lambda: score_topk_batch(index, [q, "", q], K),
    }
    with caplog.at_level(logging.DEBUG, logger=query.__name__):
        for path in both_paths():
            for fn, call in calls.items():
                caplog.clear()
                call().collect()
                (msg,) = [r.getMessage() for r in caplog.records if r.name == query.__name__]
                assert msg.split()[0] == fn
                rec = dict(kv.split("=", 1) for kv in msg.split()[1:])
                assert rec["path"] == path, fn
                assert int(rec["sum_df"]) > 0
                if path == "local":
                    assert rec["reason"].startswith("sum_df<=")
                    assert int(rec["block_rows"]) > 0 and int(rec["stripes"]) > 0
                else:
                    assert rec["reason"] == "sum_df>0"


def test_cli_query_batch_numbers_lines(spark, index, tmp_path, capsys):
    """cli query-batch keeps blank lines when numbering: query_id is the
    0-based line number of the query in the file."""
    import json

    from semantic_pdf_search_engine_spark.cli import main

    q = make_queries(10)[2]
    path = tmp_path / "queries.txt"
    path.write_text(f"{q}\n\n{q}\n")
    assert main(["query-batch", "--index", index.index_dir, "--queries", str(path)]) == 0
    rows = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert rows and {r["query_id"] for r in rows} == {0, 2}


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


def test_null_text_is_a_zero_length_doc(spark, tmp_path_factory, both_paths):
    """A NULL, an empty and a punctuation-only turn are all zero-length
    docs in N and avgdl, on the relational spec (DataFrame form and the
    registry's stored Corpus alike), the numpy oracle and both index
    paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from semantic_pdf_search_engine_spark import registry
    from semantic_pdf_search_engine_spark.operators.bm25 import bm25_topk

    texts = ["alpha beta", None, "", "?! ...", "alpha", "beta gamma alpha"]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    sf = tmp_path_factory.mktemp("null_docs")
    pq.write_table(
        pa.table({"doc_id": list(range(len(texts))), "text": texts}),
        str(sf / "documents.parquet"),
    )
    stored = registry._corpus(spark, str(sf))
    assert (stored.n_docs, stored.avgdl) == (6.0, 1.0)
    transcripts = docs.select(
        F.format_string("%012d", F.col("doc_id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        "text",
    )
    idx = build_index(
        spark, transcripts, str(tmp_path_factory.mktemp("null_idx")), stripe_docs=64
    )
    oracle = BM25Oracle(list(enumerate(texts)), normalize=False)

    def rounded(rows):
        return [(d, round(s, 9)) for d, s in rows]

    for q in ("alpha", "beta", "alpha beta gamma"):
        want = rounded(oracle.top_k(q, K))
        assert rounded(_topk(bm25_topk(docs, q, K, round_scores=False))) == want, q
        assert rounded(_topk(bm25_topk(stored, q, K, round_scores=False))) == want, q
        for path in both_paths():
            got = rounded(_topk(score_topk(idx, q, K, round_scores=False)))
            assert got == want, (path, q)
