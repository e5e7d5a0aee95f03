"""Query-time top-k over the compressed inverted index.

Pipeline (replacing the reference's Qdrant search,
/root/reference/src/qdrant.rs:70-96):

  0. footprint gate (score_topk), before any Spark job: the query
     terms' df is read from docfreq with pyarrow; when
     Σdf ≤ LOCAL_POSTINGS_CAP the query is served IN PROCESS — pyarrow
     reads only its posting blocks and the same DAAT kernel as step 4
     scores them on the driver (the reference answers in process too,
     search.rs:16-65), returning a local relation that launches zero
     jobs. Otherwise steps 1-5 run as ONE Spark DAG for one or many
     queries (`_candidates`; score_topk is a batch of one);
  1. driver tokenizes the query with the pinned tokenizer (tiny — the
     analog of in-process embed_query, /root/reference/src/embed.rs:65-78);
  2. posting scan over the union of the queries' terms, pruned two
     ways: parquet partition pruning on `term_bucket` (buckets computed
     driver-side from the terms, pushed as a partition filter) +
     row-group min/max skipping on `term`; idf and the queries'
     (query_id, term) pairs are broadcast-joined onto the blocks;
  3. **stripe pruning (block-max)**: per (query, stripe), bounds
     recomputed from RAW block facts under CURRENT stats —
     ub = Σ_terms idf·contrib(max_tf, dl→0) (no doc can beat it);
     lb = max_terms idf·contrib(top_tf, top_dl) (achievable: (top_tf,
     top_dl) is a real stored posting, so some doc in the stripe scores
     ≥ lb). Threshold T = k-th largest lb across the query's stripes —
     at least k distinct docs (one per stripe) score ≥ T, so any stripe
     with ub < T cannot contribute to the top k. T is a window over the
     tiny (query, stripe) metadata; the kept set is broadcast back.
  4. per-(query, stripe) document-at-a-time scoring in one Arrow UDF:
     decode blocks, dense float64 accumulation over the ≤STRIPE_DOCS-wide
     doc range in canonical (sorted-term) order — bit-identical to the
     numpy oracle's summation order — emit the stripe-local top-k;
  5. merge: candidates ≤ (#stripes_kept × k) rows per query —
     TakeOrderedAndProject (ORDER BY score DESC, doc_id LIMIT k) for
     score_topk, a per-query row_number window for score_topk_batch.

Stripe-level block-max pruning is the engine's moral twin of the
reference's anchor-based candidate pruning before expensive scoring
(/root/reference/src/fuzzy.rs:31-51): skip regions whose upper bound
cannot beat the current threshold.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_pdf_search_engine_spark.config import (
    B,
    DEFAULT_TOP_K,
    K1,
    SCORE_DECIMALS,
)
from semantic_pdf_search_engine_spark.functions.tokenize import tokenize_py
from semantic_pdf_search_engine_spark.functions.rounding import (
    np_round_half_up,
    round_half_up,
)
from semantic_pdf_search_engine_spark.sources.index_store import (
    InvertedIndex,
    term_bucket_of,
)


def _bm25_bounds(avgdl: float):
    """(ub, lb) Column exprs over a block's RAW posting facts under
    CURRENT stats:

      ub: dl→0 limit of the contribution at the block's max tf — no
          posting can exceed it under any dl;
      lb: exact contribution of a real stored posting (top_tf, top_dl)
          — achievable now, however stats drifted since the block was
          built (append/merge-proof)."""
    ub = F.col("idf") * (
        F.col("max_tf") * F.lit(K1 + 1.0)
    ) / (F.col("max_tf") + F.lit(K1 * (1.0 - B)))
    lb = (
        F.col("idf") * (F.col("top_tf") * F.lit(K1 + 1.0))
    ) / (
        F.col("top_tf")
        + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col("top_dl") / F.lit(avgdl))
    )
    return ub, lb


def _kept_stripes(meta: DataFrame, k: int) -> DataFrame:
    """(query_id, stripe_id) whose ub can reach the query's
    k-th-largest lb threshold. The threshold stays IN-PLAN — two
    windows over the stripe-METADATA rows (#stripes per query, tiny)
    instead of a driver collect + second plan compile. _t is NULL when
    a query has fewer than k stripes ⇒ no valid threshold ⇒ nothing
    pruned. The 1e-12 relative shave is the
    cross-runtime (JVM lb vs numpy scores) 1-ulp guard."""
    from pyspark.sql.window import Window

    rnk = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.col("lb").desc())
    )
    wall = Window.partitionBy("query_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        meta.withColumn("_r", rnk)
        .withColumn("_t", F.max(F.when(F.col("_r") == k, F.col("lb"))).over(wall))
        .filter(
            F.col("_t").isNull() | (F.col("ub") >= F.col("_t") * (1.0 - 1e-12))
        )
        .select("query_id", "stripe_id")
    )


def _daat_stripe_topk(
    pdf: pd.DataFrame,
    stripe_docs: int,
    avgdl: float,
    k: int,
    scope_ids=None,
    scope_range=None,
    codec_name: str = "vbyte",
):
    """The per-stripe DAAT scoring kernel — ONE definition shared by the
    in-process and Spark paths: decode blocks, dense float64
    accumulation in canonical (sorted-term) order — bit-identical to
    the numpy oracle's summation order — stripe-local top-k with doc_id
    tie-break. Returns (doc_id int64 array, score float64 array)."""
    from semantic_pdf_search_engine_spark.operators.codec import decode_block

    k1, b = K1, B
    stripe = int(pdf["stripe_id"].iloc[0])
    base = stripe * stripe_docs
    scores = np.zeros(stripe_docs, dtype=np.float64)
    seen = np.zeros(stripe_docs, dtype=bool)
    pdf = pdf.sort_values("term", kind="mergesort")
    for row in pdf.itertuples(index=False):
        docs, tfs, dls = decode_block(row.gaps, row.tfs, row.dls, base, codec_name)
        if scope_ids is not None:
            mask = np.isin(docs, scope_ids)  # exact membership
            if not mask.any():
                continue
            docs, tfs, dls = docs[mask], tfs[mask], dls[mask]
        elif scope_range is not None:
            mask = (docs >= scope_range[0]) & (docs <= scope_range[1])
            if not mask.any():
                continue
            docs, tfs, dls = docs[mask], tfs[mask], dls[mask]
        off = docs - base
        idf = row.idf
        # op order pinned to match oracle.bm25_term bit-for-bit
        contrib = (idf * (tfs * (k1 + 1.0))) / (
            tfs + k1 * (1.0 - b + b * dls / avgdl)
        )
        scores[off] += contrib
        seen[off] = True
    hit = np.flatnonzero(seen)
    if hit.size == 0:
        return (
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.float64),
        )
    s = scores[hit]
    order = np.lexsort((hit, -s))[:k]  # stripe-local top-k, doc_id tie-break
    return (hit[order] + base).astype("int64"), s[order]


# Above this many member docIDs, a non-contiguous conversation's
# membership is NOT collected to the driver as a numpy mask; the scoped
# search falls back to an in-plan semi-join (see _candidates).
NONCONTIG_MEMBERSHIP_CAP = 100_000

# Σdf over the query terms up to which score_topk serves in process
# (pyarrow block read + _daat_stripe_topk on the driver) instead of the
# Spark DAG; it bounds the postings the driver decodes. Set from a
# measured local-vs-Spark crossover: score_topk(...).collect(), median
# of 3, a query of the j highest-df terms, indexes built from the
# benchmark generator (seed 7) with 4,096-doc stripes, local[4] on
# 4 vCPUs.
#   89,070 turns (2.95M postings)      local ms   Spark ms
#     j=8     Σdf    574,689               175       1248
#     j=160   Σdf  2,064,903               937       2112
#     j=500   Σdf  2,515,687         1969, 2311  3161, 4103
#     j=700   Σdf  2,631,219              2962       3728
#     j=1000  Σdf  2,745,403         3816, 4378  3758, 4362   tie
#   449,118 turns (14.8M postings)
#     j=10    Σdf  3,398,014               791       1866
#     j=120   Σdf  9,752,116              2206       2975
#     j=200   Σdf 10,882,973              4552       3961   Spark wins
# Local cost grows with Σdf and with the block count (one Python decode
# per block), so many-term queries cross first. The cap is the first
# measured point where local did not win (Σdf 2.75M), rounded down.
# Wall time, not memory, binds first: the Σdf 9.75M local query grew
# the driver's peak RSS by ~100 MB.
LOCAL_POSTINGS_CAP = 2_500_000

_HITS = pa.schema([("doc_id", pa.int64()), ("score", pa.float64())])

log = logging.getLogger(__name__)


def _local_frame(spark, schema: pa.Schema, cols: dict | None = None) -> DataFrame:
    """Driver rows (≤k results, a query map) as a local relation: Spark
    reads an Arrow table into a LocalRelation whose collect() launches
    no job — the zero-row case included (a Python list, or an empty
    pandas frame, goes through an RDD path instead: one job to collect,
    and a Python-worker job each time a plan broadcasts it, about 2 s
    a query on local[4], 4 vCPUs). Arrow-table input needs
    PySpark ≥ 4.0, the floor pinned in pyproject.toml."""
    table = pa.table(cols, schema=schema) if cols else schema.empty_table()
    return spark.createDataFrame(table)


def _log_path(path: str, reason: str, sum_df=None, block_rows=None, stripes=None):
    log.debug(
        "score_topk path=%s reason=%s sum_df=%s block_rows=%s stripes=%s",
        path, reason, sum_df, block_rows, stripes,
    )


def _conv_scope(index: InvertedIndex, conv_id: str):
    """conv_id → (lo, hi, ids, in_plan) from the docs table, streamed
    in doc_id batches under a pushed `conv_id ==` filter; None when the
    conversation is absent. For a non-contiguous conversation (count <
    hi−lo+1) `ids` is its sorted exact membership when it has
    ≤ NONCONTIG_MEMBERSHIP_CAP docs; above the cap `in_plan` is set
    instead and the membership is never materialized on the driver (at
    most the cap's worth of ids is held while streaming)."""
    cap = NONCONTIG_MEMBERSHIP_CAP
    lo, hi, n, kept = None, None, 0, []
    for batch in index.arrow_dataset("docs").to_batches(
        columns=["doc_id"], filter=ds.field("conv_id") == conv_id
    ):
        ids = batch.column(0).to_numpy()
        if ids.size == 0:
            continue
        lo = int(ids.min()) if lo is None else min(lo, int(ids.min()))
        hi = int(ids.max()) if hi is None else max(hi, int(ids.max()))
        n += ids.size
        if n <= cap:
            kept.append(ids)
        else:
            kept.clear()
    if lo is None:
        return None
    if n == hi - lo + 1:
        return lo, hi, None, False
    if n > cap:
        return lo, hi, None, True
    return lo, hi, np.sort(np.concatenate(kept)), False


def _local_topk(
    index: InvertedIndex,
    qidf: pa.Table,
    k: int,
    round_scores: bool,
    scope,
) -> tuple[DataFrame, int, int]:
    """score_topk served in process: pyarrow reads only the query's
    posting blocks, `_daat_stripe_topk` scores each stripe on the
    driver, and the stripe top-k lists merge under the Spark path's
    order. Returns (the ≤k winners as a local relation, block rows
    read, stripes scored). Only blocks of terms present in docfreq
    (`qidf`) are read — the Spark path's inner join with docfreq drops
    the rest, e.g. blocks an uncommitted append left for a new term."""
    terms = qidf.column("term").to_pylist()
    filt = ds.field("term_bucket").isin(sorted({term_bucket_of(t) for t in terms}))
    filt &= ds.field("term").isin(terms)
    scope_range = scope_ids = None
    if scope is not None:
        lo, hi, scope_ids, _ = scope
        scope_range = (lo, hi)
        filt &= (ds.field("max_doc") >= lo) & (ds.field("min_doc") <= hi)
    blocks = index.arrow_dataset("postings").to_table(
        columns=["term", "stripe_id", "gaps", "tfs", "dls"], filter=filt
    ).to_pandas()
    idf = dict(zip(qidf.column("term").to_pylist(), qidf.column("idf").to_pylist()))
    blocks["idf"] = blocks["term"].map(idf)
    stripes = [
        _daat_stripe_topk(
            pdf, index.stripe_docs, index.avgdl, k, scope_ids=scope_ids,
            scope_range=scope_range, codec_name=index.codec,
        )
        for _, pdf in blocks.groupby("stripe_id", sort=False)
    ]
    ids = np.concatenate([np.empty(0, dtype=np.int64), *(i for i, _ in stripes)])
    scores = np.concatenate([np.empty(0, dtype=np.float64), *(s for _, s in stripes)])
    if round_scores:
        # rounded before the merge, as the Spark path orders candidates
        scores = np_round_half_up(scores, SCORE_DECIMALS)
    top = np.lexsort((ids, -scores))[:k]
    hits = _local_frame(index.spark, _HITS, {"doc_id": ids[top], "score": scores[top]})
    return hits, len(blocks), len(stripes)


def score_topk(
    index: InvertedIndex,
    query: str,
    k: int = DEFAULT_TOP_K,
    round_scores: bool = True,
    prune: bool = True,
    conv_id: str | None = None,
) -> DataFrame:
    """Top-k (doc_id, score) from the compressed posting blocks.

    Step 0 is a footprint gate, decided before any Spark job: the query
    terms' (term, df, idf) are read from docfreq with pyarrow. When
    Σdf ≤ LOCAL_POSTINGS_CAP the query is served IN PROCESS — pyarrow
    reads only the query's blocks (`term_bucket` partitions, `term`
    filter, and for a scoped query the [lo, hi] block-range filter),
    the shared `_daat_stripe_topk` kernel scores each stripe on the
    driver, and the ≤k winners come back as a local relation whose
    collect() launches no job. Scores are bit-identical to the Spark
    path (same kernel, same stored idf, same rounding before the same
    (score DESC, doc_id) merge); `prune` does not apply there — every
    stripe of a bounded footprint is scored, so the answer is the
    unpruned one. Larger footprints run score_topk_batch's Spark DAG
    (steps 2-4, `_candidates`) as a batch of one query, merged by
    ORDER BY score DESC, doc_id LIMIT k (TakeOrderedAndProject).
    An empty query, a query with no indexed term and an absent
    conversation are answered empty in process. One DEBUG record per
    call says which path ran and why, with Σdf, block rows read and
    stripes scored (the last two only on the local path). k < 0 raises
    ValueError; k = 0 is an empty answer.

    `conv_id` scopes the search to one conversation — the reference's
    filename filter evaluated INSIDE the index (/root/reference/src/
    qdrant.rs:84-90), not as a post-filter: when appends arrive
    log-structured (new conv_ids sort after old) docIDs are dense in
    (conv_id, turn_idx) order, so a conversation is one contiguous
    docID range; blocks whose [min_doc, max_doc] miss the range are
    skipped at the scan, and the scorer masks the range inside the
    stripe. Contiguity is VERIFIED, not assumed: the same pass that
    finds [lo, hi] also counts the conversation's docs — if
    count < hi−lo+1 (an append added turns to an existing conv), the
    exact docID set (bounded by the conversation's size) is collected
    and the scorer masks by membership instead of range, so docs of
    OTHER conversations inside the range are never scored into scoped
    results. Above NONCONTIG_MEMBERSHIP_CAP member docs the driver
    collect is skipped entirely and the Spark DAG runs: the
    scorer masks by range with per-stripe truncation off, and the
    candidates are semi-joined against the conversation's doc_ids
    IN-PLAN before the global top-k (no broadcast hint — AQE picks
    broadcast only when the membership is measured small; a forced
    broadcast would itself collect the membership to the driver) —
    same results (pinned by test), no data-shaped driver
    materialization. Stats stay global
    (scoped BM25 semantics, same as the relational path). Threshold
    pruning is disabled under scope: a block's top posting may lie
    outside the range, making the lower bound unachievable in scope.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    q_terms = sorted(set(tokenize_py(query)))
    if not q_terms:
        # empty-query guard (reference P8, search.rs:20-22)
        _log_path("local", "empty_query", 0, 0, 0)
        return _local_frame(index.spark, _HITS)
    qidf = index.arrow_dataset("docfreq").to_table(
        columns=["term", "df", "idf"], filter=ds.field("term").isin(q_terms)
    )
    sum_df = int(pc.sum(qidf.column("df")).as_py() or 0)
    scope = None
    if sum_df and conv_id is not None:
        scope = _conv_scope(index, conv_id)
    if sum_df == 0 or (conv_id is not None and scope is None):
        reason = "no_indexed_term" if sum_df == 0 else "conv_absent"
        _log_path("local", reason, sum_df, 0, 0)
        return _local_frame(index.spark, _HITS)
    if sum_df > LOCAL_POSTINGS_CAP:
        reason = f"sum_df>{LOCAL_POSTINGS_CAP}"
    elif scope is not None and scope[3]:  # in_plan: membership above its cap
        reason = f"scope_members>{NONCONTIG_MEMBERSHIP_CAP}"
    else:
        hits, block_rows, stripes = _local_topk(index, qidf, k, round_scores, scope)
        _log_path("local", f"sum_df<={LOCAL_POSTINGS_CAP}", sum_df, block_rows, stripes)
        return hits
    _log_path("spark", reason, sum_df)
    pairs = [(0, t) for t in q_terms]
    return (
        _candidates(index, pairs, k, round_scores, prune, conv_id, scope)
        .select("doc_id", "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def _candidates(
    index: InvertedIndex,
    pairs: list[tuple[int, str]],
    k: int,
    round_scores: bool,
    prune: bool,
    conv_id: str | None = None,
    scope=None,
) -> DataFrame:
    """Steps 2-4 for the queries' (query_id, term) pairs: rounded
    (query_id, doc_id, score) stripe-local top-k candidates, which each
    caller merges into its top-k. `scope` is `_conv_scope(index,
    conv_id)` of a single query. Absent terms simply don't join the
    broadcast docfreq; a block row used by m queries is duplicated m×
    by the broadcast query map (block rows are compact; the
    alternative is m scans)."""
    scope_range: tuple[int, int] | None = None
    scope_ids: np.ndarray | None = None
    scope_semi: DataFrame | None = None
    terms = sorted({t for _, t in pairs})
    buckets = sorted({term_bucket_of(t) for t in terms})
    blocks = index.postings.filter(
        F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
    )
    if scope is not None:
        lo, hi, scope_ids, in_plan = scope
        scope_range = (lo, hi)
        # block-range skipping: pushed to the scan via min/max stats
        blocks = blocks.filter((F.col("max_doc") >= lo) & (F.col("min_doc") <= hi))
        if in_plan:
            # pathological million-turn conversation: keep the
            # membership IN-PLAN — the scorer masks by the [lo, hi]
            # range only and skips per-stripe truncation (a range hit
            # outside the membership must not displace a member from
            # a stripe's local top-k), then the candidate set is
            # semi-joined against the conversation's doc_ids before
            # the global top-k. NO broadcast hint: a forced
            # F.broadcast would collect the membership to the driver
            # to build the broadcast relation — the exact
            # data-shaped driver materialization this fallback
            # exists to avoid (and past Spark's 8 GB broadcast cap
            # it would fail outright instead of degrading). Left as
            # a plain join, AQE broadcasts it only when its measured
            # size is safely small and shuffles otherwise.
            scope_semi = index.docs.filter(F.col("conv_id") == conv_id).select("doc_id")
        prune = False  # lb not achievable-in-scope; range skipping above
    qidf = index.docfreq.filter(F.col("term").isin(terms)).select("term", "idf")
    qmap = _local_frame(
        index.spark,
        pa.schema([("query_id", pa.int32()), ("term", pa.string())]),
        {"query_id": [q for q, _ in pairs], "term": [t for _, t in pairs]},
    )
    qblocks = blocks.join(F.broadcast(qidf), "term").join(F.broadcast(qmap), "term")

    avgdl = index.avgdl
    stripe_docs = index.stripe_docs
    codec_name = index.codec

    if prune:
        ub, lb = _bm25_bounds(avgdl)
        meta = qblocks.groupBy("query_id", "stripe_id").agg(
            F.sum(ub).alias("ub"), F.max(lb).alias("lb")
        )
        kept = _kept_stripes(meta, k)
        qblocks = qblocks.join(F.broadcast(kept), ["query_id", "stripe_id"])

    # semi-join fallback: per-stripe truncation OFF (k_local = the
    # stripe width, so every in-range hit survives to the join) —
    # candidates stay ≤ stripe_docs per stripe either way
    k_local = stripe_docs if scope_semi is not None else k

    def score_stripe(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, s = _daat_stripe_topk(
            pdf, stripe_docs, avgdl, k_local, scope_ids=scope_ids,
            scope_range=scope_range, codec_name=codec_name,
        )
        qid = np.full(ids.size, pdf["query_id"].iloc[0], dtype="int32")
        return pd.DataFrame({"query_id": qid, "doc_id": ids, "score": s})

    candidates = qblocks.groupBy("query_id", "stripe_id").applyInPandas(
        score_stripe, schema="query_id int, doc_id long, score double"
    )
    if scope_semi is not None:
        candidates = candidates.join(scope_semi, "doc_id", "left_semi")
    if round_scores:
        candidates = candidates.withColumn(
            "score", round_half_up(F.col("score"), SCORE_DECIMALS)
        )
    return candidates


def score_topk_batch(
    index: InvertedIndex,
    queries: list[str],
    k: int = DEFAULT_TOP_K,
    round_scores: bool = True,
    prune: bool = True,
) -> DataFrame:
    """(query_id, doc_id, score): top-k for MANY queries in ONE job —
    the amortized serving shape (query replay, offline evaluation,
    batch retrieval for a training pipeline). query_id = position in
    `queries`; empty and absent queries are absent from the output.

    Identical per-query results to score_topk (pinned by test): the
    candidates come from `_candidates`, the DAG score_topk's
    large-footprint path runs as a batch of one (steps 2-4, ONE
    postings scan over the union of all query terms), merged by a
    per-query window top-k. Small-footprint single queries skip
    scheduling altogether (score_topk's in-process path); at the serve
    benchmark's scale their p50 is about the batch's per-query cost.
    k < 0 raises ValueError; k = 0 is an empty answer."""
    from pyspark.sql.window import Window

    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    pairs = [
        (qi, t) for qi, q in enumerate(queries) for t in sorted(set(tokenize_py(q)))
    ]
    if not pairs:
        return _local_frame(index.spark, pa.schema([("query_id", pa.int32()), *_HITS]))
    candidates = _candidates(index, pairs, k, round_scores, prune)
    wfin = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        candidates.withColumn("_r", F.row_number().over(wfin))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )


def search(
    index: InvertedIndex,
    query: str,
    k: int = DEFAULT_TOP_K,
    **kw,
) -> DataFrame:
    """Top-k joined back to the stored turns — the full reference query
    pipeline shape (top-k → payload fetch → result rows with text;
    /root/reference/src/bin/app/handlers/search.rs:16-65).

    ONE collect per call (the ≤k winner rows); the returned plan fetches
    payloads with the winner ids pushed into the docs scan as an In
    filter and the k scored rows rejoined as a broadcast LOCAL relation
    — collecting the result does NOT re-run the scoring DAG (the former
    shape joined the live score_topk plan, re-scoring on materialize)."""
    rows = score_topk(index, query, k, **kw).collect()
    if not rows:
        payload = [("conv_id", pa.string()), ("turn_idx", pa.int32()), ("text", pa.string())]
        return _local_frame(index.spark, pa.schema([*_HITS, *payload]))
    hits = _local_frame(
        index.spark,
        _HITS,
        {"doc_id": [r["doc_id"] for r in rows], "score": [r["score"] for r in rows]},
    )
    docs = index.fetch_docs([r["doc_id"] for r in rows]).select(
        "doc_id", "conv_id", "turn_idx", "text"
    )
    return (
        docs.join(F.broadcast(hits), "doc_id")
        .select("doc_id", "score", "conv_id", "turn_idx", "text")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
    )


def more_like_this_indexed(
    index: InvertedIndex,
    orig_doc_id: int,
    m: int = 8,
    k: int = DEFAULT_TOP_K,
    id_col: str = "orig_doc_id",
) -> DataFrame:
    """Similar-document retrieval served entirely from the prebuilt
    index — the scale twin of operators/bm25.more_like_this (same
    output, pinned by the shared oracle): instead of 4 corpus rescans,
    term selection reads ONE doc row (pushed filter on the docs table)
    + the vocab-sized docfreq, and scoring runs score_topk's pruned
    posting-block path (<=|terms| of 32 term_bucket dirs).

    Term selection stays relational: the source doc's tokens explode
    from its stored text, join docfreq for df, rank by the
    tfidf_top_terms weight shape (tf x ln(N/df), half-up-rounded,
    ties to term ASC). The <=m winning terms are a bounded driver
    collect (the same k-bounded serving contract as fuzzy_spans
    winners); k+1 winners are fetched so dropping the source doc
    still leaves a full top-k page."""
    from semantic_pdf_search_engine_spark.functions.tokenize import tokens_expr

    n_docs = float(index.n_docs)
    src_tf = (
        index.docs.filter(F.col(id_col) == orig_doc_id)
        .select(F.explode(tokens_expr(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    weight = round_half_up(
        F.col("tf") * F.log(F.lit(n_docs) / F.col("df").cast("double")),
        SCORE_DECIMALS,
    )
    terms = [
        r["term"]
        for r in src_tf.join(index.docfreq.select("term", "df"), "term")
        .select("term", weight.alias("weight"))
        .orderBy(F.col("weight").desc(), F.col("term").asc())
        .limit(m)
        .collect()
    ]
    if not terms:
        return _local_frame(index.spark, _HITS)
    winners = score_topk(index, " ".join(terms), k + 1)
    if id_col == "doc_id":
        return (
            winners.filter(F.col("doc_id") != orig_doc_id)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )
    # broadcast the <=k+1 winner rows INTO the docs scan (two pruned
    # int columns), never the docs table itself — same in-plan id
    # mapping shape as the fuzzy_spans serving path
    return (
        index.docs.select("doc_id", id_col)
        .join(F.broadcast(winners), "doc_id")
        .filter(F.col(id_col) != orig_doc_id)
        .select(F.col(id_col).alias("doc_id"), "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
