"""Posting-list construction: the index-build heart of the engine.

Design for 10^12 turns (north_rule: "partitioning / shuffle / skew
handled explicitly"):

* **Stripe-aligned blocks.** Posting blocks are cut at fixed global
  doc_id boundaries (`stripe_id = doc_id // STRIPE_DOCS`), NOT at a
  fixed posting count. Two consequences:
  (1) for any doc, EVERY term's postings live in the same stripe, so
      query-time document-at-a-time scoring is a per-stripe group
      operation with no cross-partition score re-assembly;
  (2) the stripe IS the hot-term salt: a Zipf-head term touching 10^9
      docs is built as ~doc_range/STRIPE_DOCS independent (term,
      stripe) groups — contiguous doc ranges, so delta encoding stays
      valid per block and no single task ever sees a whole hot term.
      This is the "salted repartition-and-sort-within-partitions" of
      the north rule, with doc-range salting instead of hash salting
      precisely so the encoded lists remain ordered.

* **Shuffle inventory** (the only wide ops in the build):
  1. groupBy(term) docfreq — map-side combined counts;
  2. join tf⋈docfreq on term (sort-merge; co-partitioned with 3);
  3. repartition by (term, stripe_id) + applyInPandas encode.
  Everything else is narrow Arrow passes.

* **Raw block-max facts** (max_tf, top_tf, top_dl — the tf/dl of the
  posting whose contribution is maximal under build-time stats) give
  query-time block-max pruning tight, *achievable* bounds recomputed
  under CURRENT stats — so the per-stripe lower bound used to derive
  the pruning threshold is valid (some real doc attains it) even after
  incremental appends drift idf/avgdl.

Reference parity: this stage replaces embed+upsert
(/root/reference/src/embed.rs:44-63, /root/reference/src/qdrant.rs:36-68);
the anchor-prefix candidate pruning the reference does at match time
(/root/reference/src/fuzzy.rs:31-51) is morally this index + the
block-max bounds.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_pdf_search_engine_spark.config import STRIPE_DOCS
from semantic_pdf_search_engine_spark.functions.tokenize import term_freq_map_in_pandas
from semantic_pdf_search_engine_spark.operators import codec
from semantic_pdf_search_engine_spark.oracle import bm25_term

# Pruning metadata is stored as RAW POSTING FACTS, not scores:
# (top_tf, top_dl) are the tf/dl of the posting that maximizes the BM25
# contribution under build-time stats. Scores computed from them at
# query time with CURRENT (N, avgdl, df) are therefore achievable by a
# real document no matter how corpus stats drift under incremental
# appends — the block-max lower bound stays valid across segment
# merges, where a stored max_contrib would go stale (idf and avgdl
# change with every appended segment).
POSTINGS_SCHEMA = (
    "term string, stripe_id long, n_postings int, min_doc long, max_doc long, "
    "gaps binary, tfs binary, dls binary, max_tf int, top_tf int, top_dl int"
)

# encoder-internal block schema: the wide shuffle+sort runs on a dense
# int64 term_id (see build_posting_blocks); the term string is joined
# back on at block grain
_ENCODE_SCHEMA = POSTINGS_SCHEMA.replace("term string", "term_id long")


def term_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, term, tf, dl) — tokenize + term frequencies on the
    Arrow-batched pandas path: one vectorized pass per batch, map-side
    aggregated to (doc, term) grain before any shuffle (E2 parity
    shape: the reference's batch embed stage, `src/embed.rs:44-63`)."""
    return term_freq_map_in_pandas(docs, id_cols=("doc_id",), text_col=text_col)


def docfreq_with_tfsum(tf: DataFrame) -> DataFrame:
    """(term, df, tf_sum) in one pass — tf_sum lets the caller derive
    total corpus tokens (Σdl == Σtf) from the vocab-sized aggregate via
    an Observation, instead of a second full scan of tf."""
    return tf.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum(F.col("tf").cast("long")).alias("tf_sum"),
    )


def build_posting_blocks(
    tf: DataFrame,
    dfreq_idf: DataFrame,
    avgdl: float,
    stripe_docs: int = STRIPE_DOCS,
    num_partitions: int | None = None,
    codec_name: str = codec.DEFAULT_CODEC,
) -> DataFrame:
    """tf (doc_id, term, tf, dl) ⋈ (term, idf) → compressed posting blocks.

    One shuffle: repartition on (term, stripe_id), then per-group
    numpy encode inside applyInPandas. idf arrives precomputed so the
    block-max bounds are bit-identical to the scoring path's idf.
    `codec_name` selects the block compression ('vbyte' | 'for'); the
    caller records it in the index manifest so decode dispatches the
    same codec.
    """
    if codec_name not in codec.CODECS:
        raise ValueError(
            f"unknown postings codec {codec_name!r} (have {sorted(codec.CODECS)})"
        )
    from pyspark.sql.window import Window

    spark = tf.sparkSession
    num_partitions = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    # r6 (guide §2.3, narrower shuffle keys): the posting shuffle+sort
    # used to carry the TERM STRING on all ~n_postings rows; a dense
    # int64 `term_id` (row_number over the vocab-sized dfreq — Heaps-law
    # sublinear, the same single-group rank build_vocab performs)
    # replaces it for the wide repartition+sort, and the term string is
    # re-attached AFTER encoding by joining the ~|blocks| output against
    # the tiny vocab map — fixed-width integer sort keys and string
    # bytes moved once per BLOCK instead of once per posting.
    vocab = dfreq_idf.select("term", "idf").withColumn(
        "term_id", F.row_number().over(Window.orderBy("term")).cast("long")
    )
    # stripe_id never rides the shuffle: it is doc_id // stripe_docs,
    # recomputed inside the encoder — the repartition keys on the stripe
    # EXPRESSION (so (term, stripe) groups stay whole) and the
    # within-partition sort on (term_id, doc_id) already yields
    # (term_id, stripe_id, doc_id) order because stripe is monotone in
    # doc_id (guide §2.3: 8 fewer bytes per posting row through the
    # exchange and the Arrow boundary).
    keyed = tf.join(vocab.select("term", "term_id", "idf"), "term").select(
        "term_id", "doc_id", "tf", "dl", "idf"
    )

    group_encode = codec.CODECS[codec_name][0]  # module-level fn, pickles by ref

    # mapInPandas over repartition+sortWithinPartitions, NOT
    # groupBy().applyInPandas(): with |vocab|×|stripes| groups the
    # per-group UDF dispatch overhead (pandas frame per group) dwarfs
    # the actual numpy encode. Here groups arrive contiguous inside
    # Arrow batches; only the batch-boundary group needs carry-over.
    def encode_partition(batches):
        import numpy as np

        def encode_groups(pdf: pd.DataFrame) -> pd.DataFrame:
            # rows arrive sorted by (term_id, doc_id) ⇒ also by
            # (term_id, stripe_id, doc_id) since stripe is monotone in
            # doc_id; encode the whole batch with vectorized numpy and
            # split per group — per-group cost is a bytes slice, not a
            # pandas frame (440k groups at 900k turns made the groupby
            # loop the build's dominant cost).
            terms = pdf["term_id"].to_numpy()
            docs = pdf["doc_id"].to_numpy()
            stripes = docs // stripe_docs
            tfs = pdf["tf"].to_numpy()
            dls = pdf["dl"].to_numpy()
            idfs = pdf["idf"].to_numpy()
            n = len(pdf)
            new = np.ones(n, dtype=bool)
            new[1:] = (terms[1:] != terms[:-1]) | (stripes[1:] != stripes[:-1])
            starts = np.flatnonzero(new)
            ends = np.concatenate([starts[1:], [n]])
            bases = stripes[starts] * stripe_docs

            gaps = np.empty(n, dtype=np.uint64)
            if n > 1:
                gaps[1:] = np.diff(docs)
            gaps[starts] = docs[starts] - bases

            # contrib used only to pick the per-block argmax posting
            contrib = bm25_term(tfs, dls, avgdl, idfs)
            # per-group argmax via reduceat on (contrib) then a masked
            # first-match scan — contrib ties resolve to the earliest
            # (lowest doc_id) posting, deterministic
            seg_ids = np.repeat(np.arange(starts.size), ends - starts)
            grp_max = np.maximum.reduceat(contrib, starts)
            is_max = contrib == grp_max[seg_ids]
            # first True per group
            first_idx = np.zeros(starts.size, dtype=np.int64)
            idx_all = np.flatnonzero(is_max)
            # keep the first max index per group
            grp_of = seg_ids[idx_all]
            _, first_pos = np.unique(grp_of, return_index=True)
            first_idx = idx_all[first_pos]

            # group encoder: whole-batch compress, slice per block —
            # both codecs share the (flat buffer, per-group byte
            # counts) contract, so the split below is codec-agnostic
            g_buf, g_gb = group_encode(gaps, starts, ends)
            t_buf, t_gb = group_encode(tfs.astype(np.uint64), starts, ends)
            d_buf, d_gb = group_encode(dls.astype(np.uint64), starts, ends)
            g_off = np.concatenate([[0], np.cumsum(g_gb)])
            t_off = np.concatenate([[0], np.cumsum(t_gb)])
            d_off = np.concatenate([[0], np.cumsum(d_gb)])

            o = pd.DataFrame(
                {
                    "term_id": terms[starts].astype("int64"),
                    "stripe_id": stripes[starts].astype("int64"),
                    "n_postings": (ends - starts).astype("int32"),
                    "min_doc": docs[starts].astype("int64"),
                    "max_doc": docs[ends - 1].astype("int64"),
                    "gaps": [
                        g_buf[g_off[i] : g_off[i + 1]] for i in range(starts.size)
                    ],
                    "tfs": [
                        t_buf[t_off[i] : t_off[i + 1]] for i in range(starts.size)
                    ],
                    "dls": [
                        d_buf[d_off[i] : d_off[i + 1]] for i in range(starts.size)
                    ],
                    "max_tf": np.maximum.reduceat(tfs, starts).astype("int32"),
                    "top_tf": tfs[first_idx].astype("int32"),
                    "top_dl": dls[first_idx].astype("int32"),
                }
            )
            return o

        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if pdf.empty:
                carry = None
                continue
            # the last (term, stripe) run may continue into the next batch
            last_t = pdf["term_id"].iloc[-1]
            last_s = int(pdf["doc_id"].iloc[-1]) // stripe_docs
            mask = (pdf["term_id"] == last_t) & (
                pdf["doc_id"] // stripe_docs == last_s
            )
            carry = pdf[mask]
            body = pdf[~mask]
            if len(body):
                yield encode_groups(body)
        if carry is not None and len(carry):
            yield encode_groups(carry)

    stripe_expr = (F.col("doc_id") / F.lit(stripe_docs)).cast("long")
    encoded = (
        keyed.repartition(num_partitions, F.col("term_id"), stripe_expr)
        .sortWithinPartitions("term_id", "doc_id")
        .mapInPandas(encode_partition, schema=_ENCODE_SCHEMA)
    )
    # restore the term string on the block-grain output (~n_blocks rows,
    # orders of magnitude fewer than postings) via the tiny vocab map
    return encoded.join(F.broadcast(vocab.select("term_id", "term")), "term_id").select(
        "term",
        "stripe_id",
        "n_postings",
        "min_doc",
        "max_doc",
        "gaps",
        "tfs",
        "dls",
        "max_tf",
        "top_tf",
        "top_dl",
    )


# ---------------------------------------------------------------------------
# positional postings: the one (term, doc_id, positions) relation that
# phrase, NEAR/W, sloppy phrase and best passage read
# ---------------------------------------------------------------------------


def positional_postings(
    source: DataFrame | str,
    terms: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(term, doc_id, positions ARRAY<INT>): sorted 1-based token
    positions under the pinned tokenizer, restricted to `terms` (None
    keeps every term). The only place positions are produced or read.

    `source` is either
    - a documents DataFrame, tokenized here: the `terms` filter sits on
      the exploded stream below the one (term, doc) shuffle, so only
      the query terms' postings move; or
    - a positional-index directory (build_positional_index), read
      through the active session: the scan prunes to the terms'
      `term_bucket` partitions and pushes the term IN-list to parquet,
      so nothing is tokenized at query time.

    IN-lists are sorted so the plan text does not follow the hash
    seed."""
    from semantic_pdf_search_engine_spark.functions.tokenize import tokens_expr

    terms = None if terms is None else sorted(set(terms))
    if isinstance(source, str):
        from semantic_pdf_search_engine_spark.sources.index_store import term_bucket_of

        post = _session(source).read.parquet(source)
        if terms is not None:
            buckets = sorted({term_bucket_of(t) for t in terms})
            post = post.filter(F.col("term_bucket").isin(buckets)).filter(
                F.col("term").isin(terms)
            )
        return post.select("term", id_col, "positions")
    exploded = source.select(
        F.col(id_col), F.posexplode(tokens_expr(F.col(text_col))).alias("pos0", "term")
    )
    if terms is not None:
        exploded = exploded.filter(F.col("term").isin(terms))
    return exploded.groupBy("term", id_col).agg(
        F.sort_array(F.collect_list((F.col("pos0") + 1).cast("int"))).alias("positions")
    )


def _session(source: DataFrame | str):
    if isinstance(source, DataFrame):
        return source.sparkSession
    from pyspark.sql import SparkSession

    return SparkSession.active()


def _positions_by_doc(postings: DataFrame, n_terms: int, id_col: str) -> DataFrame:
    """(id, pm MAP<term, positions>) for the docs holding all `n_terms`
    distinct query terms: the per-doc pivot (second shuffle, on doc)
    under every phrase and NEAR fold. Docs missing a term drop at the
    map-size guard, before any fold runs."""
    return (
        postings.groupBy(id_col)
        .agg(F.map_from_entries(F.collect_list(F.struct("term", "positions"))).alias("pm"))
        .filter(F.size(F.col("pm")) == n_terms)
    )


def _term_positions(term: str):
    return F.element_at(F.col("pm"), term)


def _span_search(
    source: DataFrame | str, phrase: str, valid_starts, id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, n_occ, first_pos) for a phrase-shaped query: the
    phrase's token sequence `seq` (normalize=False, like the doc-side
    tokens_expr and the DuckDB oracle, so a phrase holding 'ﬁle' looks
    for the same un-normalized token), pivoted per doc, then
    `valid_starts(seq)` — an ARRAY<INT> Column of the matching start
    positions of seq[0] — counted and minimized."""
    from semantic_pdf_search_engine_spark.functions.tokenize import tokenize_py

    seq = tokenize_py(phrase, normalize=False)
    if not seq:
        return _session(source).createDataFrame(
            [], f"{id_col} long, n_occ int, first_pos int"
        )
    starts = valid_starts(seq)
    return (
        _positions_by_doc(
            positional_postings(source, seq, id_col, text_col), len(set(seq)), id_col
        )
        .select(
            F.col(id_col),
            F.size(starts).cast("int").alias("n_occ"),
            F.array_min(starts).cast("int").alias("first_pos"),
        )
        .filter(F.col("n_occ") > 0)
    )


def phrase_occurrences(
    source: DataFrame | str,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_occ, first_pos): token-adjacency phrase search over
    positional postings — the indexed-engine form of the reference's
    find_exact (src/fuzzy.rs:99-102), matching WHOLE token
    sequences (substring scans also hit mid-word prefixes; this does
    not). `source` is a documents DataFrame or a positional-index
    directory (see positional_postings). The adjacency fold is a pure
    Column expression: candidate starts = positions of token 0,
    filtered per later token j by `array_contains(positions[t_j],
    start + j)`. No UDF, no substring scan."""

    def adjacent(term: str, offset: int):
        # one-arg closure per fold step (extra lambda params would read
        # as a multi-arg HOF lambda to Spark's resolver)
        return lambda s: F.array_contains(_term_positions(term), s + offset)

    def valid_starts(seq):
        starts = _term_positions(seq[0])
        for j, t in enumerate(seq[1:], start=1):
            starts = F.filter(starts, adjacent(t, j))
        return starts

    return _span_search(source, phrase, valid_starts, id_col, text_col)


def _write_positions(
    docs: DataFrame, out_dir: str, mode: str, id_col: str, text_col: str
) -> None:
    from semantic_pdf_search_engine_spark.sources.index_store import (
        NUM_TERM_BUCKETS,
        term_bucket_col,
    )

    (
        positional_postings(docs, None, id_col, text_col)
        .withColumn("term_bucket", term_bucket_col(F.col("term")))
        .repartition(NUM_TERM_BUCKETS, "term_bucket")
        .write.mode(mode)
        .partitionBy("term_bucket")
        .parquet(out_dir)
    )


def build_positional_index(
    docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Materialize positional postings partitioned by `term_bucket`
    (same md5 bucketing as the BM25 index — sources/index_store.
    term_bucket_of), so a phrase query reads ≤ |distinct phrase terms|
    of NUM_TERM_BUCKETS directories via a static PartitionFilter
    instead of rescanning the corpus. One build shuffle (groupBy
    (term, doc)), one write repartition by bucket."""
    _write_positions(docs, out_dir, "overwrite", id_col, text_col)


def append_to_positional_index(
    new_docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Incremental positional-index maintenance: the new segment's
    (term, doc, positions) rows land as APPENDED files in the same
    term_bucket partition layout — no rewrite of existing postings
    (the LSM move, same as the BM25 index's append_to_index).
    Precondition: appended doc ids must be NEW (a doc split across
    segments would yield two rows for one (term, doc) and
    double-counted starts); phrase queries read old and new files
    transparently through the partition layout."""
    _write_positions(new_docs, out_dir, "append", id_col, text_col)


def proximity_search(
    source: DataFrame | str,
    term_a: str,
    term_b: str,
    window: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """NEAR/W retrieval: (doc_id, min_dist) for docs where `term_a` and
    `term_b` occur within `window` token positions, min_dist >= 1 —
    the unordered proximity operator classic fulltext engines expose
    beside exact phrase. The reference approximates proximity only
    through its fuzzy sliding window (src/fuzzy.rs:64-97); here it is exact over the same positional postings the
    phrase path intersects, from a documents DataFrame or a
    positional-index directory. The pairwise-min fold is a Column
    higher-order expression costing |positions_a| x |positions_b| per
    doc, both bounded by the terms' per-doc tf."""
    if term_a == term_b:
        raise ValueError("proximity_search requires two distinct terms")
    pa, pb = _term_positions(term_a), _term_positions(term_b)
    min_dist = F.array_min(
        F.transform(pa, lambda x: F.array_min(F.transform(pb, lambda y: F.abs(x - y))))
    )
    return (
        _positions_by_doc(
            positional_postings(source, [term_a, term_b], id_col, text_col), 2, id_col
        )
        .select(F.col(id_col), min_dist.cast("int").alias("min_dist"))
        .filter(F.col("min_dist") <= window)
    )


def phrase_slop(
    source: DataFrame | str,
    phrase: str,
    slop: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Ordered sloppy-phrase search ("search engine"~2): the phrase
    terms must appear IN ORDER within a token span of len(phrase)-1 +
    `slop` — the middle ground between exact phrase (slop=0) and
    unordered NEAR/W (proximity_search). Returns (doc_id, n_occ,
    first_pos), one occurrence per valid start position of the first
    term; `source` as in positional_postings.

    Semantics (Lucene SpanNearQuery, ordered): an occurrence at start
    s ∈ positions[t_0] exists iff there are p_0 = s < p_1 < … <
    p_{n-1} with p_j ∈ positions[t_j] and total span
    p_{n-1} - p_0 <= (n-1) + slop. Greedy min-next (p_j = smallest
    position of t_j greater than p_{j-1}) minimizes the chain end
    among all increasing chains from s, so existence under the span
    bound is decided by ONE deterministic fold — no backtracking.
    slop=0 degenerates to exact adjacency (strictly increasing + span
    <= n-1 forces p_j = s + j), pinned against phrase_occurrences in
    tests. Nulls propagate through the fold: an exhausted posting list
    yields array_min(empty) = NULL, every later comparison is NULL,
    and the start is filtered out."""

    def valid_starts(seq):
        span_bound = len(seq) - 1 + slop

        def valid(s):
            e = s
            for t in seq[1:]:
                e = F.array_min(
                    F.filter(_term_positions(t), (lambda prev: lambda x: x > prev)(e))
                )
            return e.isNotNull() & (e - s <= F.lit(span_bound))

        return F.filter(_term_positions(seq[0]), valid)

    return _span_search(source, phrase, valid_starts, id_col, text_col)


def best_passage(
    docs: DataFrame,
    query: str,
    window: int = 10,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Densest-window passage selection for the top-k BM25 winners
    (the best-fragment rule of Lucene's FastVectorHighlighter, in
    token space): among windows of `window` tokens, pick the one
    containing the MOST query-term occurrences; ties break to the
    earliest start. Complements term_snippets, which centers on the
    EARLIEST occurrence regardless of density. Returns
    (doc_id, score, win_start, n_matched).

    Only candidate starts at match positions need checking (a window
    not starting at a match is dominated by one that does), so the
    per-doc work is |matches|² Column-expression comparisons. Plan:
    the ≤ k winners are collected once (one TakeOrderedAndProject) →
    an id IN-list restricts the documents to them BEFORE they are
    tokenized for positions → per-doc flatten + sort → transform/filter
    fold → join to the winners as a local relation. `docs` is a
    documents DataFrame or a `bm25.Corpus`; positions come from its
    documents."""
    from semantic_pdf_search_engine_spark.functions.tokenize import tokenize_py
    from semantic_pdf_search_engine_spark.operators.bm25 import (
        bm25_topk,
        corpus,
        no_hits,
    )

    q_terms = sorted(set(tokenize_py(query)))
    if not q_terms:
        return no_hits(
            docs, f"{id_col} long, score double, win_start int, n_matched int"
        )
    c = corpus(docs, id_col, text_col)
    top = bm25_topk(c, query, k, id_col, text_col).toArrow()
    winners = c.docs.sparkSession.createDataFrame(top)
    ps = (
        positional_postings(
            c.docs.filter(F.col(id_col).isin(top.column(id_col).to_pylist())),
            q_terms, id_col, text_col,
        )
        .groupBy(id_col)
        .agg(F.sort_array(F.flatten(F.collect_list("positions"))).alias("ps"))
    )

    def _cnt(m):
        return F.size(
            F.filter(F.col("ps"), lambda x: (x >= m) & (x < m + F.lit(window)))
        )

    cnts = F.transform(F.col("ps"), _cnt)
    scored = ps.select(
        F.col(id_col),
        F.element_at(F.col("ps"), F.array_position(cnts, F.array_max(cnts)).cast("int"))
        .cast("int")
        .alias("win_start"),
        F.array_max(cnts).cast("int").alias("n_matched"),
    )
    return winners.join(scored, id_col).select(
        id_col, "score", "win_start", "n_matched"
    )
