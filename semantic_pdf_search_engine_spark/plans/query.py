"""Query-time top-k over the compressed inverted index.

Pipeline (replacing the reference's Qdrant search,
/root/reference/src/qdrant.rs:70-96):

  0. footprint gate (score_topk and score_topk_batch alike), before any
     Spark job: the terms' df is read from docfreq with pyarrow; when
     Σdf over the (query, term) pairs is ≤ LOCAL_POSTINGS_CAP the call
     is served IN PROCESS — pyarrow reads the union of its posting
     blocks once, idf and the query map are joined in Arrow, and ONE
     call of the step-4 kernel scores the whole batch on the driver
     (the reference answers in process too, search.rs:16-65),
     returning a local relation that launches zero jobs. Otherwise
     steps 1-5 run as ONE Spark DAG for one or many queries
     (`_candidates`; score_topk is a batch of one);
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
  4. scoring by ONE columnar kernel (`_score_blocks`), run per (query,
     stripe) group by `applyInArrow` on the Spark path and once over
     every group in process: each binary column decoded once, doc gaps
     turned into ids by a segmented cumsum, contributions summed by one
     bincount in canonical (sorted-term) order — bit-identical to the
     numpy oracle's summation order — and the stripe-local top-k kept;
  5. merge: candidates ≤ (#stripes_kept × k) rows per query, rounded,
     then (score DESC, doc_id) top-k per query — TakeOrderedAndProject
     for a Spark single query, a per-query row_number window for a
     Spark batch, a numpy lexsort in process.

Stripe-level block-max pruning is the engine's moral twin of the
reference's anchor-based candidate pruning before expensive scoring
(/root/reference/src/fuzzy.rs:31-51): skip regions whose upper bound
cannot beat the current threshold.
"""

from __future__ import annotations

import logging

import numpy as np
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
from semantic_pdf_search_engine_spark.oracle import bm25_term
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


# The kernel scores whole (query, stripe) groups a slice at a time: a
# slice holds at most _KERNEL_SLOTS dense accumulator slots (16 MB) and
# about _KERNEL_POSTINGS postings (a larger single group is one slice),
# so the driver's scratch memory is bounded by these, not by n_docs, the
# number of groups or the footprint.
_KERNEL_SLOTS = 1 << 20
_KERNEL_POSTINGS = 1 << 19

_CANDIDATES = pa.schema(
    [("query_id", pa.int32()), ("doc_id", pa.int64()), ("score", pa.float64())]
)


def _first_k_per_run(run_ids: np.ndarray, k: int) -> np.ndarray:
    """Mask of the first k elements of each run of equal ids (sorted)."""
    if run_ids.size == 0:
        return np.zeros(0, dtype=bool)
    starts = np.flatnonzero(np.r_[True, run_ids[1:] != run_ids[:-1]])
    lens = np.diff(np.r_[starts, run_ids.size])
    return np.arange(run_ids.size) - np.repeat(starts, lens) < k


def _score_blocks(
    blocks: pa.Table,
    stripe_docs: int,
    avgdl: float,
    k: int,
    codec_name: str = "vbyte",
    scope_ids=None,
    scope_range=None,
) -> pa.Table:
    """The scoring kernel — ONE definition for the in-process path (all
    groups of a batch in one call) and the Spark path (one (query,
    stripe) group per applyInArrow call). `blocks` holds (query_id,
    term, stripe_id, n_postings, gaps, tfs, dls, idf) rows. Rows sort by
    (query_id, stripe_id, term) and are scored in slices of whole
    (query, stripe) groups, columnar within a slice: each binary column
    is decoded once (`codec.decode_rows`), a segmented cumsum turns gaps
    into doc offsets, one contribution array is computed by
    oracle.bm25_term itself, and one `np.bincount` sums it over
    (group, doc offset) slots. bincount adds in array order, which is
    term order within a group, so every doc's score is the numpy
    oracle's canonical-order sum, bit for bit. Returns each group's
    unrounded top-k (query_id, doc_id, score), score DESC with a doc_id
    tie-break."""
    if blocks.num_rows == 0:
        return _CANDIDATES.empty_table()
    blocks = blocks.take(
        pc.sort_indices(
            blocks,
            [("query_id", "ascending"), ("stripe_id", "ascending"), ("term", "ascending")],
        )
    )
    qid = blocks.column("query_id").to_numpy()
    stripe = blocks.column("stripe_id").to_numpy()
    n = blocks.column("n_postings").to_numpy()
    starts = np.flatnonzero(np.r_[True, (qid[1:] != qid[:-1]) | (stripe[1:] != stripe[:-1])])
    before = (np.cumsum(n) - n)[starts] // _KERNEL_POSTINGS
    per = np.arange(starts.size) // max(1, _KERNEL_SLOTS // stripe_docs)
    cuts = starts[np.r_[True, (before[1:] != before[:-1]) | (per[1:] != per[:-1])]]
    parts = [
        _score_slice(
            blocks.slice(lo, hi - lo), stripe_docs, avgdl, k, codec_name,
            scope_ids, scope_range,
        )
        for lo, hi in zip(cuts, np.r_[cuts[1:], blocks.num_rows])
    ]
    q, d, sc = (np.concatenate(col) for col in zip(*parts))
    return pa.table({"query_id": q, "doc_id": d, "score": sc}, schema=_CANDIDATES)


def _score_slice(blocks, stripe_docs, avgdl, k, codec_name, scope_ids, scope_range):
    """`_score_blocks` over one slice of whole groups, rows sorted."""
    from semantic_pdf_search_engine_spark.operators.codec import decode_rows

    qid = blocks.column("query_id").to_numpy()
    stripe = blocks.column("stripe_id").to_numpy().astype(np.int64)
    gaps, n = decode_rows(blocks.column("gaps"), codec_name)
    tfs = decode_rows(blocks.column("tfs"), codec_name)[0].astype(np.int64)
    dls = decode_rows(blocks.column("dls"), codec_name)[0].astype(np.int64)
    row = np.repeat(np.arange(qid.size), n)
    # segmented cumsum: a block's first gap is relative to its stripe base
    cs = np.cumsum(gaps.astype(np.int64))
    off = cs - np.r_[0, cs][np.cumsum(n) - n][row]
    docs = stripe[row] * stripe_docs + off
    if scope_ids is not None:
        keep = np.isin(docs, scope_ids)  # exact membership
    elif scope_range is not None:
        keep = (docs >= scope_range[0]) & (docs <= scope_range[1])
    else:
        keep = slice(None)
    row, off, tfs, dls = row[keep], off[keep], tfs[keep], dls[keep]
    idf = blocks.column("idf").to_numpy()[row]
    contrib = bm25_term(tfs, dls, avgdl, idf)
    new_group = np.r_[True, (qid[1:] != qid[:-1]) | (stripe[1:] != stripe[:-1])]
    group_of_row = np.cumsum(new_group) - 1
    slot = group_of_row[row] * stripe_docs + off
    size = (group_of_row[-1] + 1) * stripe_docs
    acc = np.bincount(slot, weights=contrib, minlength=size)
    seen = np.zeros(size, dtype=bool)
    seen[slot] = True
    hit = np.flatnonzero(seen)
    g, doc_off, sc = hit // stripe_docs, hit % stripe_docs, acc[hit]
    # per group: score DESC, then doc_id — one int64 sort key (group,
    # dense score rank, doc offset; < 2^40 under the slot bound) sorts
    # 3-4x faster than a three-key lexsort
    uniq, rank = np.unique(sc, return_inverse=True)
    order = np.argsort((g * uniq.size + (uniq.size - 1 - rank)) * stripe_docs + doc_off)
    g, doc_off, sc = g[order], doc_off[order], sc[order]
    top = _first_k_per_run(g, k)
    g = g[top]
    base = stripe[new_group] * stripe_docs
    return qid[new_group][g], base[g] + doc_off[top], sc[top]


# Above this many member docIDs, a non-contiguous conversation's
# membership is NOT collected to the driver as a numpy mask; the scoped
# search falls back to an in-plan semi-join (see _candidates).
NONCONTIG_MEMBERSHIP_CAP = 100_000

# Σdf over the (query, term) pairs up to which score_topk and
# score_topk_batch serve in process (pyarrow block read + _score_blocks
# on the driver) instead of the Spark DAG; it bounds the postings the
# driver decodes. Set from a measured local-vs-Spark crossover:
# score_topk(...).collect() on a prepare()d index, min / median of 3
# interleaved runs, a query of the j highest-df terms, indexes built
# from the benchmark generator (seed 7) with 4,096-doc stripes,
# local[4] on 4 vCPUs.
#   91,053 turns (3.0M postings)        local ms    Spark ms
#     j=8     Σdf    588,161             58 /  80   721 /  754
#     j=160   Σdf  2,111,474            126 / 133   666 /  709
#     j=500   Σdf  2,571,949            142 / 153   713 /  738
#     j=1000  Σdf  2,806,633            158 / 161   933 /  987
#   452,033 turns (15.0M postings)
#     j=10    Σdf  3,423,405            172 / 173   804 /  825
#     j=120   Σdf  9,831,317            397 / 402   886 /  994
#     j=400   Σdf 12,360,121            499 / 504   992 / 1013
#     j=1000  Σdf 13,938,812            561 / 578  1365 / 1569
#   1,124,170 turns (37.2M postings)
#     j=10    Σdf  8,510,562            301 / 316   685 /  831
#     j=100   Σdf 23,367,754            732 / 752   902 /  925
#     j=300   Σdf 29,356,023            931 / 940   934 / 1081   tie
#     j=1000  Σdf 34,665,881           1139 / 1168  1437 / 1504
# The local path is one columnar pass, so its cost is linear in Σdf; the
# Spark path pays a fixed ~0.7 s of scheduling. The cap is the first
# measured point where local did not win on the min (Σdf 29.4M),
# rounded down. Driver peak RSS grows about 20 bytes per posting
# decoded (+104 MB at Σdf 2.57M, +233 MB at 9.8M, +605 MB at 29.4M);
# the kernel's slices keep its scratch bounded, and the rest is the
# encoded blocks the query reads.
LOCAL_POSTINGS_CAP = 25_000_000

_HITS = pa.schema([("doc_id", pa.int64()), ("score", pa.float64())])

log = logging.getLogger(__name__)


_QUERY_MAP = pa.schema([("query_id", pa.int32()), ("term", pa.string())])


def _query_map(pairs: list[tuple[int, str]]) -> pa.Table:
    return pa.table(
        {"query_id": [q for q, _ in pairs], "term": [t for _, t in pairs]},
        schema=_QUERY_MAP,
    )


def _local_frame(spark, schema: pa.Schema, cols=None) -> DataFrame:
    """Driver rows (≤k results, a query map) as a local relation: Spark
    reads an Arrow table into a LocalRelation whose collect() launches
    no job — the zero-row case included (a Python list, or an empty
    pandas frame, goes through an RDD path instead: one job to collect,
    and a Python-worker job each time a plan broadcasts it, about 2 s
    a query on local[4], 4 vCPUs). Arrow-table input needs
    PySpark ≥ 4.0, the floor pinned in pyproject.toml."""
    table = schema.empty_table() if cols is None else pa.table(cols, schema=schema)
    return spark.createDataFrame(table)


def _log_path(
    fn: str, path: str, reason: str, sum_df=None, block_rows=None, stripes=None
):
    log.debug(
        "%s path=%s reason=%s sum_df=%s block_rows=%s stripes=%s",
        fn, path, reason, sum_df, block_rows, stripes,
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


def _footprint(index: InvertedIndex, pairs: list[tuple[int, str]]):
    """The queries' (term, idf) rows read from docfreq with pyarrow, and
    Σdf over the (query_id, term) pairs — the postings a batch decodes
    (a term shared by m queries counts m times, as its blocks are
    scored once per query)."""
    terms = sorted({t for _, t in pairs})
    qidf = index.arrow_dataset("docfreq").to_table(
        columns=["term", "df", "idf"], filter=ds.field("term").isin(terms)
    )
    df_of = dict(zip(qidf.column("term").to_pylist(), qidf.column("df").to_pylist()))
    return qidf.select(["term", "idf"]), sum(df_of.get(t, 0) for _, t in pairs)


def _serve_in_process(
    index: InvertedIndex,
    pairs: list[tuple[int, str]],
    qidf: pa.Table,
    k: int,
    round_scores: bool,
    scope=None,
) -> tuple[pa.Table, int, int]:
    """Top-k for the queries' (query_id, term) pairs served in process:
    pyarrow reads the union of their posting blocks once (`term_bucket`
    partitions, `term` filter, and for a scoped query the [lo, hi]
    block-range filter), joins idf and the query map in Arrow, and ONE
    `_score_blocks` call scores every (query, stripe) group; the
    stripe-local lists are rounded and merged per query under the Spark
    path's (score DESC, doc_id) order. Returns ((query_id, doc_id,
    score) rows, block rows read, stripes read). Only blocks of terms
    present in docfreq (`qidf`) are scored — the Spark path's inner join
    with docfreq drops the rest, e.g. blocks an uncommitted append left
    for a new term."""
    terms = qidf.column("term").to_pylist()
    filt = ds.field("term_bucket").isin(sorted({term_bucket_of(t) for t in terms}))
    filt &= ds.field("term").isin(terms)
    scope_range = scope_ids = None
    if scope is not None:
        lo, hi, scope_ids, _ = scope
        scope_range = (lo, hi)
        filt &= (ds.field("max_doc") >= lo) & (ds.field("min_doc") <= hi)
    blocks = index.arrow_dataset("postings").to_table(
        columns=["term", "stripe_id", "n_postings", "gaps", "tfs", "dls"], filter=filt
    )
    cands = _score_blocks(
        blocks.join(qidf, "term").join(_query_map(pairs), "term"),
        index.stripe_docs, index.avgdl, k, index.codec, scope_ids, scope_range,
    )
    q, d, sc = (cands.column(c).to_numpy() for c in _CANDIDATES.names)
    if round_scores:
        # rounded before the merge, as the Spark path orders candidates
        sc = np_round_half_up(sc, SCORE_DECIMALS)
    order = np.lexsort((d, -sc, q))
    top = order[_first_k_per_run(q[order], k)]
    hits = pa.table({"query_id": q[top], "doc_id": d[top], "score": sc[top]}, schema=_CANDIDATES)
    return hits, blocks.num_rows, len(pc.unique(blocks.column("stripe_id")))


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
    the shared `_score_blocks` kernel scores them on the driver (the
    in-process batch path, with one query), and the ≤k winners come
    back as a local relation whose collect() launches no job. Scores
    are bit-identical to the Spark path (same kernel, same stored idf,
    same rounding before the same (score DESC, doc_id) merge); `prune`
    does not apply there — every
    stripe of a bounded footprint is scored, so the answer is the
    unpruned one. Larger footprints run score_topk_batch's Spark DAG
    (steps 2-4, `_candidates`) as a batch of one query, merged by
    ORDER BY score DESC, doc_id LIMIT k (TakeOrderedAndProject).
    An empty query, a query with no indexed term and an absent
    conversation are answered empty in process. One DEBUG record per
    call says which path ran and why, with Σdf, block rows read and
    stripes read (the last two only on the local path). k < 0 raises
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
    pairs = [(0, t) for t in sorted(set(tokenize_py(query)))]
    if not pairs:
        # empty-query guard (reference P8, search.rs:20-22)
        _log_path("score_topk", "local", "empty_query", 0, 0, 0)
        return _local_frame(index.spark, _HITS)
    qidf, sum_df = _footprint(index, pairs)
    scope = None
    if sum_df and conv_id is not None:
        scope = _conv_scope(index, conv_id)
    if sum_df == 0 or (conv_id is not None and scope is None):
        reason = "no_indexed_term" if sum_df == 0 else "conv_absent"
        _log_path("score_topk", "local", reason, sum_df, 0, 0)
        return _local_frame(index.spark, _HITS)
    if sum_df > LOCAL_POSTINGS_CAP:
        reason = f"sum_df>{LOCAL_POSTINGS_CAP}"
    elif scope is not None and scope[3]:  # in_plan: membership above its cap
        reason = f"scope_members>{NONCONTIG_MEMBERSHIP_CAP}"
    else:
        hits, block_rows, stripes = _serve_in_process(
            index, pairs, qidf, k, round_scores, scope
        )
        _log_path(
            "score_topk", "local", f"sum_df<={LOCAL_POSTINGS_CAP}", sum_df, block_rows, stripes
        )
        return _local_frame(index.spark, _HITS, hits.select(_HITS.names))
    _log_path("score_topk", "spark", reason, sum_df)
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
    qmap = _local_frame(index.spark, _QUERY_MAP, _query_map(pairs))
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

    def score_group(blocks: pa.Table) -> pa.Table:
        return _score_blocks(
            blocks, stripe_docs, avgdl, k_local, codec_name, scope_ids, scope_range
        )

    candidates = (
        qblocks.select(
            "query_id", "term", "stripe_id", "n_postings", "gaps", "tfs", "dls", "idf"
        )
        .groupBy("query_id", "stripe_id")
        .applyInArrow(score_group, schema="query_id int, doc_id long, score double")
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
    """(query_id, doc_id, score): top-k for MANY queries in one call —
    the amortized serving shape (query replay, offline evaluation,
    batch retrieval for a training pipeline). query_id = position in
    `queries`; empty and absent queries are absent from the output.

    Identical per-query results to score_topk (pinned by test), under
    the same footprint gate: when Σdf over the batch's (query_id, term)
    pairs is ≤ LOCAL_POSTINGS_CAP the whole batch is served IN PROCESS
    by one `_score_blocks` call over the union of its blocks and comes
    back as a local relation (zero Spark jobs); `prune` does not apply
    there. Larger batches run `_candidates` (steps 2-4, ONE postings
    scan over the union of all query terms) merged by a per-query
    window top-k. One DEBUG record per call, as for score_topk.
    k < 0 raises ValueError; k = 0 is an empty answer."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    pairs = [
        (qi, t) for qi, q in enumerate(queries) for t in sorted(set(tokenize_py(q)))
    ]
    if not pairs:
        _log_path("score_topk_batch", "local", "empty_query", 0, 0, 0)
        return _local_frame(index.spark, _CANDIDATES)
    qidf, sum_df = _footprint(index, pairs)
    if sum_df == 0:
        _log_path("score_topk_batch", "local", "no_indexed_term", 0, 0, 0)
        return _local_frame(index.spark, _CANDIDATES)
    if sum_df > LOCAL_POSTINGS_CAP:
        _log_path("score_topk_batch", "spark", f"sum_df>{LOCAL_POSTINGS_CAP}", sum_df)
        return _spark_batch(index, pairs, k, round_scores, prune)
    hits, block_rows, stripes = _serve_in_process(index, pairs, qidf, k, round_scores)
    _log_path(
        "score_topk_batch", "local", f"sum_df<={LOCAL_POSTINGS_CAP}", sum_df, block_rows, stripes
    )
    return _local_frame(index.spark, _CANDIDATES, hits)


def _spark_batch(
    index: InvertedIndex,
    pairs: list[tuple[int, str]],
    k: int,
    round_scores: bool,
    prune: bool,
) -> DataFrame:
    """score_topk_batch's Spark DAG: `_candidates` merged per query by a
    row_number window."""
    from pyspark.sql.window import Window

    wfin = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        _candidates(index, pairs, k, round_scores, prune)
        .withColumn("_r", F.row_number().over(wfin))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )


def warm_spark_plan(index: InvertedIndex, term: str) -> None:
    """Collect score_topk_batch's Spark DAG for one term, whatever its
    footprint — the searcher warm-up `InvertedIndex.prepare()` runs.
    Under the footprint gate a warm-up query would be served in process
    and warm nothing; this one always pays the first-use costs
    (whole-stage codegen, the Python worker pool of the Arrow scoring
    UDF, first touch of the cached blocks) so that large-footprint
    queries do not."""
    _spark_batch(index, [(0, term)], DEFAULT_TOP_K, True, True).collect()


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
