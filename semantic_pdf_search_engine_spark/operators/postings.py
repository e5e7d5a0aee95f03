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


def docfreq(tf: DataFrame) -> DataFrame:
    """(term, df) — plain count: tf already has one row per (doc, term)."""
    return tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))


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
# positional postings + indexed phrase search
# ---------------------------------------------------------------------------


def positional_postings(
    docs: DataFrame,
    terms: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(term, doc_id, positions ARRAY<INT>): 1-based token positions
    under the pinned tokenizer — the positional posting lists a phrase
    query intersects. `terms` restricts to a query's vocabulary BEFORE
    the shuffle (the exploded stream is filtered at the scan, so only
    the phrase terms' postings ever move — the computed-on-the-fly
    analog of a pruned posting-list read; a materialized variant would
    persist this table partitioned by term_bucket exactly like the
    BM25 index). positions are sorted; ONE shuffle on (doc, term)."""
    from semantic_pdf_search_engine_spark.functions.tokenize import tokens_expr

    toks = tokens_expr(F.col(text_col))
    exploded = docs.select(
        F.col(id_col), F.posexplode(toks).alias("pos0", "term")
    )
    if terms is not None:
        # sorted: the plan's IN-list order must not follow the hash seed
        exploded = exploded.filter(F.col("term").isin(sorted(set(terms))))
    return (
        exploded.groupBy("term", id_col)
        .agg(
            F.sort_array(
                F.collect_list((F.col("pos0") + 1).cast("int"))
            ).alias("positions")
        )
    )


def phrase_occurrences(
    docs: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_occ, first_pos): token-adjacency phrase search via
    positional posting intersection — the indexed-engine form of
    find_exact (/root/reference/src/fuzzy.rs:99-102), matching WHOLE
    token sequences (substring scans also hit mid-word prefixes; this
    does not). Plan: positional_postings filtered to the phrase's
    distinct terms (only those postings shuffle), pivot to one
    term→positions map per doc (second shuffle on doc), then the
    adjacency fold is a pure Column expression — candidate starts =
    positions of token 0, filtered per subsequent token j by
    `array_contains(positions[t_j], start + j)`. Docs missing any
    phrase term drop at the map-size guard. No UDF, no substring scan
    over full text at query time once postings are materialized."""
    from semantic_pdf_search_engine_spark.functions.tokenize import tokenize_py

    # normalize=False mirrors tokens_expr, which builds the doc-side
    # positions WITHOUT ligature/artifact normalization (and matches the
    # DuckDB oracle's doc-side tokenization): a phrase containing 'ﬁle'
    # must look for the same un-normalized token the postings store
    seq = tokenize_py(phrase, normalize=False)
    if not seq:
        return docs.sparkSession.createDataFrame(
            [], f"{id_col} long, n_occ int, first_pos int"
        )
    return _phrase_over_postings(
        positional_postings(docs, sorted(set(seq)), id_col, text_col), seq, id_col
    )


def _phrase_over_postings(
    postings: DataFrame, seq: list[str], id_col: str
) -> DataFrame:
    """Shared tail of the on-the-fly and indexed phrase paths: pivot a
    (term, doc_id, positions) DataFrame — already filtered to the
    phrase's terms — to one term→positions map per doc, drop docs
    missing any term (map-size guard), then run the Column adjacency
    fold. ONE definition so the two sources cannot drift in phrase
    semantics (parity also pinned in tests/test_spans.py)."""
    distinct_terms = sorted(set(seq))
    per_doc = (
        postings.groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "positions"))
            ).alias("pm")
        )
        .filter(F.size(F.map_keys(F.col("pm"))) == len(distinct_terms))
    )

    def _adjacent(term: str, offset: int):
        # one-arg closure per fold step (extra lambda params would read
        # as a multi-arg HOF lambda to Spark's resolver)
        def pred(s):
            return F.array_contains(F.element_at(F.col("pm"), term), s + offset)

        return pred

    starts = F.element_at(F.col("pm"), seq[0])
    for j, t in enumerate(seq[1:], start=1):
        starts = F.filter(starts, _adjacent(t, j))
    return (
        per_doc.select(
            F.col(id_col),
            F.size(starts).cast("int").alias("n_occ"),
            F.array_min(starts).cast("int").alias("first_pos"),
        )
        .filter(F.col("n_occ") > 0)
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
    from semantic_pdf_search_engine_spark.sources.index_store import (
        NUM_TERM_BUCKETS,
        term_bucket_udf,
    )

    (
        positional_postings(docs, None, id_col, text_col)
        .withColumn("term_bucket", term_bucket_udf(F.col("term")))
        .repartition(NUM_TERM_BUCKETS, "term_bucket")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(out_dir)
    )


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
    from semantic_pdf_search_engine_spark.sources.index_store import (
        NUM_TERM_BUCKETS,
        term_bucket_udf,
    )

    (
        positional_postings(new_docs, None, id_col, text_col)
        .withColumn("term_bucket", term_bucket_udf(F.col("term")))
        .repartition(NUM_TERM_BUCKETS, "term_bucket")
        .write.mode("append")
        .partitionBy("term_bucket")
        .parquet(out_dir)
    )


def phrase_occurrences_indexed(
    spark,
    index_dir: str,
    phrase: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """phrase_occurrences served from a materialized positional index:
    the scan is partition-pruned to the phrase terms' buckets (filter
    on the `term_bucket` partition column + term equality pushed to
    parquet), then the same per-doc map pivot + Column adjacency fold.
    Identical output to the computed-on-the-fly form (asserted in
    tests/test_spans.py)."""
    from semantic_pdf_search_engine_spark.functions.tokenize import tokenize_py
    from semantic_pdf_search_engine_spark.sources.index_store import (
        term_bucket_of,
    )

    # normalize=False: same tokens_expr-mirroring contract as
    # phrase_occurrences (the index stores un-normalized tokens)
    seq = tokenize_py(phrase, normalize=False)
    if not seq:
        return spark.createDataFrame([], f"{id_col} long, n_occ int, first_pos int")
    distinct_terms = sorted(set(seq))
    buckets = sorted({term_bucket_of(t) for t in distinct_terms})
    postings = (
        spark.read.parquet(index_dir)
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(distinct_terms))
    )
    return _phrase_over_postings(postings, seq, id_col)


def _near_over_postings(
    postings: DataFrame,
    term_a: str,
    term_b: str,
    window: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Shared tail of the on-the-fly and indexed proximity paths:
    (doc_id, min_dist) for docs containing BOTH terms with token-
    position distance <= window. The pairwise-min fold is a pure
    Column higher-order expression (array_min over transform) — per
    doc it costs |positions_a| x |positions_b|, both bounded by the
    term's per-doc tf, and nothing but the two terms' postings ever
    shuffles. Same map-pivot shape as _phrase_over_postings (NOT a
    two-branch self-join, which would scan the postings source twice —
    on the on-the-fly path that source is the full corpus). One
    definition so the two sources cannot drift."""
    per_doc = (
        postings.groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "positions"))
            ).alias("pm")
        )
        .filter(F.size(F.map_keys(F.col("pm"))) == 2)  # both terms present
    )
    pa = F.element_at(F.col("pm"), term_a)
    pb = F.element_at(F.col("pm"), term_b)
    min_dist = F.array_min(
        F.transform(
            pa,
            lambda x: F.array_min(F.transform(pb, lambda y: F.abs(x - y))),
        )
    )
    return per_doc.select(
        F.col(id_col), min_dist.cast("int").alias("min_dist")
    ).filter(F.col("min_dist") <= window)


def proximity_search(
    docs: DataFrame,
    term_a: str,
    term_b: str,
    window: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """NEAR/W retrieval: docs where `term_a` and `term_b` occur within
    `window` token positions — the proximity operator classic fulltext
    engines expose beside exact phrase (phrase = NEAR/1 ordered; this
    is unordered). The reference approximates proximity only through
    its fuzzy sliding window (/root/reference/src/fuzzy.rs:64-97);
    here it is exact over the same positional postings the phrase path
    intersects: only the two terms' postings move, adjacency relaxed
    to a distance bound. Returns (doc_id, min_dist), min_dist >= 1."""
    if term_a == term_b:
        raise ValueError("proximity_search requires two distinct terms")
    return _near_over_postings(
        positional_postings(docs, [term_a, term_b], id_col, text_col),
        term_a,
        term_b,
        window,
        id_col,
    )


def proximity_search_indexed(
    spark,
    index_dir: str,
    term_a: str,
    term_b: str,
    window: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """proximity_search served from the materialized positional index:
    partition-pruned to the two terms' term_bucket directories (<=2 of
    NUM_TERM_BUCKETS) exactly like phrase_occurrences_indexed — the
    build-once/probe-many form. Identical output to the on-the-fly
    path by construction (pinned in tests/test_spans.py)."""
    from semantic_pdf_search_engine_spark.sources.index_store import (
        term_bucket_of,
    )

    if term_a == term_b:
        raise ValueError("proximity_search requires two distinct terms")
    buckets = sorted({term_bucket_of(term_a), term_bucket_of(term_b)})
    postings = (
        spark.read.parquet(index_dir)
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin([term_a, term_b]))
    )
    return _near_over_postings(postings, term_a, term_b, window, id_col)


def _slop_over_postings(
    postings: DataFrame, seq: list[str], slop: int, id_col: str
) -> DataFrame:
    """Shared tail of the on-the-fly and indexed sloppy-phrase paths
    (mirrors _phrase_over_postings so the two sources cannot drift):
    pivot to one term→positions map per doc, drop docs missing any
    phrase term, then run the GREEDY ordered-chain fold per candidate
    start.

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
    distinct_terms = sorted(set(seq))
    per_doc = (
        postings.groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "positions"))
            ).alias("pm")
        )
        .filter(F.size(F.map_keys(F.col("pm"))) == len(distinct_terms))
    )
    span_bound = len(seq) - 1 + slop

    def _chain_end(s):
        e = s
        for t in seq[1:]:
            arr = F.element_at(F.col("pm"), t)
            e = F.array_min(F.filter(arr, (lambda prev: lambda x: x > prev)(e)))
        return e

    def _valid(s):
        e = _chain_end(s)
        return e.isNotNull() & (e - s <= F.lit(span_bound))

    starts = F.filter(F.element_at(F.col("pm"), seq[0]), _valid)
    return (
        per_doc.select(
            F.col(id_col),
            F.size(starts).cast("int").alias("n_occ"),
            F.array_min(starts).cast("int").alias("first_pos"),
        )
        .filter(F.col("n_occ") > 0)
    )


def phrase_slop(
    docs: DataFrame,
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
    term.

    Same plan spine as phrase_occurrences: only the phrase terms'
    positional postings shuffle (filter pushed below the posting
    groupBy), one pivot shuffle to per-doc maps, then the greedy chain
    fold is pure Column expressions — no UDF, no corpus rescan. At
    100 TB the cost is bounded by the phrase terms' posting sizes,
    identical to the exact-phrase path."""
    from semantic_pdf_search_engine_spark.functions.tokenize import tokenize_py

    # normalize=False mirrors tokens_expr (the doc-side tokenization):
    # same contract as phrase_occurrences
    seq = tokenize_py(phrase, normalize=False)
    if not seq:
        return docs.sparkSession.createDataFrame(
            [], f"{id_col} long, n_occ int, first_pos int"
        )
    return _slop_over_postings(
        positional_postings(docs, sorted(set(seq)), id_col, text_col),
        seq,
        slop,
        id_col,
    )


def phrase_slop_indexed(
    spark,
    index_dir: str,
    phrase: str,
    slop: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """phrase_slop served from the materialized positional index:
    partition-pruned to the phrase terms' term_bucket directories,
    same greedy fold, identical output to the on-the-fly path by
    construction (shared _slop_over_postings tail)."""
    from semantic_pdf_search_engine_spark.functions.tokenize import tokenize_py
    from semantic_pdf_search_engine_spark.sources.index_store import (
        term_bucket_of,
    )

    seq = tokenize_py(phrase, normalize=False)
    if not seq:
        return spark.createDataFrame([], f"{id_col} long, n_occ int, first_pos int")
    distinct_terms = sorted(set(seq))
    buckets = sorted({term_bucket_of(t) for t in distinct_terms})
    postings = (
        spark.read.parquet(index_dir)
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(distinct_terms))
    )
    return _slop_over_postings(postings, seq, slop, id_col)


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
    per-doc work is |matches|² Column-expression comparisons over the
    winner docs only — k docs, never the corpus. Plan: winners
    (TakeOrderedAndProject) → semi-join restricts the positional
    postings stream → per-doc flatten + sort → transform/filter fold;
    zero Python, zero extra corpus scans. `docs` is a documents
    DataFrame or a `bm25.Corpus`; positions come from its documents."""
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
    winners = bm25_topk(c, query, k, id_col, text_col)
    post = positional_postings(c.docs, q_terms, id_col, text_col)
    ps = (
        post.join(winners.select(id_col), id_col, "leftsemi")
        .groupBy(id_col)
        .agg(
            F.sort_array(F.flatten(F.collect_list("positions"))).alias("ps")
        )
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
