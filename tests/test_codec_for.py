"""End-to-end FOR codec: an index built with codec_name='for' must be
indistinguishable from the vbyte index at the query surface — identical
top-k docIDs and float64 scores — across build, append, and compaction.
The codec is recorded in the manifest and dispatched at decode; nothing
score-like depends on the block encoding.
"""

from __future__ import annotations

import pytest

from semantic_pdf_search_engine_spark.fixtures import make_queries, make_transcripts
from semantic_pdf_search_engine_spark.plans.query import score_topk, score_topk_batch
from semantic_pdf_search_engine_spark.sources.index_store import (
    build_index,
    append_to_index,
    compact_index,
    load_index,
)

N_CONVS = 24
K = 10
QUERIES = [make_queries(40)[i] for i in range(0, 40, 5)]


@pytest.fixture(scope="module")
def corpus():
    return make_transcripts(n_convs=N_CONVS)


@pytest.fixture(scope="module")
def vb_index(spark, corpus, tmp_path_factory):
    d = tmp_path_factory.mktemp("idx_vb")
    return build_index(
        spark, spark.createDataFrame(corpus), str(d), stripe_docs=64
    )


@pytest.fixture(scope="module", params=["for", "auto"])
def for_index(spark, corpus, tmp_path_factory, request):
    d = tmp_path_factory.mktemp(f"idx_{request.param}")
    return build_index(
        spark,
        spark.createDataFrame(corpus),
        str(d),
        stripe_docs=64,
        codec_name=request.param,
    )


def _topk(index, q):
    return [
        (r["doc_id"], r["score"])
        for r in score_topk(index, q, K, round_scores=False).collect()
    ]


def test_manifest_records_codec(spark, for_index, vb_index):
    assert for_index.codec in ("for", "auto")
    assert vb_index.codec == "vbyte"
    assert load_index(spark, for_index.index_dir).codec == for_index.codec
    assert load_index(spark, vb_index.index_dir).codec == "vbyte"


def test_unknown_codec_rejected(spark, corpus, tmp_path):
    with pytest.raises(ValueError, match="unknown postings codec"):
        build_index(
            spark,
            spark.createDataFrame(corpus),
            str(tmp_path / "idx_bad"),
            codec_name="snappy",
        )


def _batch(index):
    return sorted(
        (r["query_id"], r["doc_id"], r["score"])
        for r in score_topk_batch(index, QUERIES, K, round_scores=False).collect()
    )


@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_for_equals_vbyte_topk(for_index, vb_index, both_paths, qi):
    q = QUERIES[qi]
    assert _topk(for_index, q) == _topk(vb_index, q)
    if qi == 0:
        for path in both_paths():
            assert _batch(for_index) == _batch(vb_index), path


def test_append_and_compact_under_for(spark, corpus, tmp_path):
    d = str(tmp_path / "idx_for_inc")
    half = len(corpus) // 2
    first = corpus.iloc[:half]
    rest = corpus.iloc[half:]
    build_index(spark, spark.createDataFrame(first), d, stripe_docs=64,
                codec_name="for")
    idx = append_to_index(spark, spark.createDataFrame(rest), d)
    assert idx.codec == "for"  # appended segments inherit the codec

    before = {q: _topk(idx, q) for q in QUERIES[:3]}
    idx2 = compact_index(spark, d, include_docs_tf=False)
    assert idx2.codec == "for"
    for q in QUERIES[:3]:
        assert _topk(idx2, q) == before[q]
