"""Hybrid retrieval: reciprocal-rank fusion of lexical (BM25) and
vector (cosine) rankings.

The reference serves ONLY embedding similarity (Qdrant top-k,
/root/reference/src/qdrant.rs:70-96); this engine has both a lexical
index and an ANN path, and modern deployments fuse them — RRF
(Cormack, Clarke & Buettcher, SIGIR 2009) is the standard score-free
fusion: rrf(d) = Σ_r 1/(K + rank_r(d)), K=60, robust to incomparable
score scales.

Scale shape: each input ranking is already top-n (bounded rows), so
the fusion join, rank windows, and final top-k all run over ≤ Σn rows
— the expensive work stays in the underlying retrieval paths, which
keep their own pruned plans. Nothing here rescans a corpus.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from semantic_pdf_search_engine_spark.config import DEFAULT_TOP_K, SCORE_DECIMALS
from semantic_pdf_search_engine_spark.functions.rounding import round_half_up

DEFAULT_RRF_K = 60
DEFAULT_FUSE_N = 50


def ranked(df: DataFrame, order_col: str, id_col: str = "doc_id") -> DataFrame:
    """(id, rank) from a bounded result page: rank = dense position by
    (order_col DESC, id ASC). The window runs over ≤ page-size rows
    (inputs are top-n pages), so the single-partition sort is bounded
    by construction — never apply this to an unbounded table."""
    w = Window.orderBy(F.col(order_col).desc(), F.col(id_col).asc())
    return df.select(
        F.col(id_col), F.row_number().over(w).cast("int").alias("rank")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    rrf_k: int = DEFAULT_RRF_K,
) -> DataFrame:
    """(id, rrf) top-k over any number of (id, rank) rankings. A doc
    absent from a ranking contributes 0 for it (full-outer join +
    coalesce), the classic RRF convention."""
    tagged = [
        r.select(F.col(id_col), F.col("rank").alias(f"_rank_{i}"))
        for i, r in enumerate(rankings)
    ]
    joined = reduce(lambda a, b: a.join(b, id_col, "full_outer"), tagged)
    contribs = [
        F.coalesce(
            F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(f"_rank_{i}")), F.lit(0.0)
        )
        for i in range(len(rankings))
    ]
    score = round_half_up(reduce(lambda a, b: a + b, contribs), SCORE_DECIMALS)
    return (
        joined.select(F.col(id_col), score.alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col(id_col).asc())
        .limit(k)
    )


def hybrid_topk(
    docs: DataFrame,
    emb: DataFrame,
    query: str,
    query_vec: list[float],
    k: int = DEFAULT_TOP_K,
    n: int = DEFAULT_FUSE_N,
    rrf_k: int = DEFAULT_RRF_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid lexical+vector retrieval: BM25 top-n and exact-cosine
    top-n (vec ids aliased onto doc ids), RRF-fused to the k best.
    Both input pages keep their own audited plans (bm25_topk's pruned
    candidate join; cosine_topk_over's rounded TakeOrdered); fusion
    touches ≤ 2n rows. `docs` is a documents DataFrame or a
    `bm25.Corpus`, passed through to bm25_topk."""
    from semantic_pdf_search_engine_spark.operators.bm25 import bm25_topk
    from semantic_pdf_search_engine_spark.operators.similarity import (
        cosine_topk_over,
    )

    lex = ranked(bm25_topk(docs, query, n, id_col, text_col), "score", id_col)
    vec_page = cosine_topk_over(emb, query_vec, n, vec_id_col, vec_col)
    vec = ranked(
        vec_page.select(F.col(vec_id_col).alias(id_col), "sim"), "sim", id_col
    )
    return rrf_fuse([lex, vec], k, id_col, rrf_k)
