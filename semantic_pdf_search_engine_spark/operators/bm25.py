"""BM25 relational path: tokenize → tf/dl → docfreq → score → top-k,
entirely in DataFrame expressions (zero UDFs, whole-stage codegen).

This is the engine's *semantic spec* and the DuckDB-oracle-parity path.
The scale path (compressed posting blocks + block-max WAND,
operators/postings.py + plans/query.py) is property-tested against it.

`corpus()` is the one corpus construction: every query here takes its
`Corpus` (docs, tf, dfreq, n_docs, avgdl) from it and scores through
`score_over_terms`. An operator accepts either a documents DataFrame or
a `Corpus` built earlier (the registry keeps one persisted per
documents table), so a caller that scores many queries over one table
tokenizes it once.

Replaces the reference's Qdrant top-k (/root/reference/src/qdrant.rs:70-96):
  - filename filter pushed into the index (qdrant.rs:84-90)  →
    `scope` predicate pushed to the parquet scan by Catalyst;
  - limit=5 top-k inside the index (qdrant.rs:88)            →
    ORDER BY score DESC LIMIT k → TakeOrderedAndProject.

Scale notes (100 TB / 10^12 turns):
  - tf/dl aggregation is map-side combinable (partial_count before the
    shuffle — Catalyst does this automatically for count);
  - the docfreq table is ~|vocab| rows → broadcast side of the score
    join (hot Zipf head would skew a shuffle join; broadcasting removes
    the shuffle entirely);
  - corpus stats (2 numbers) are collected once per corpus (one job)
    and enter every score expression as literals — no stats subplan,
    no cross join.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_pdf_search_engine_spark.config import B, DEFAULT_TOP_K, K1, SCORE_DECIMALS
from semantic_pdf_search_engine_spark.functions.tokenize import tokenize_py, tokens_expr
from semantic_pdf_search_engine_spark.functions.rounding import round_half_up


def tf_df(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, term, tf) term frequencies."""
    return (
        docs.select(F.col(id_col), F.explode(tokens_expr(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").cast("int").alias("tf"))
    )


def dl_df(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, dl) document lengths in tokens."""
    return (
        docs.select(
            F.col(id_col),
            F.size(tokens_expr(F.col(text_col))).cast("int").alias("dl"),
        )
    )


def tf_dl_df(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, term, tf, dl) — term frequencies with the doc length CARRIED
    THROUGH the aggregation key (dl is functionally dependent on id, so
    adding it to the groupBy changes nothing about the tf rows). One
    corpus tokenization feeds both tf and dl, and the scoring tail no
    longer joins a separate dl table on id — one less corpus scan and
    one less join per retrieval (r6; guide §2.4). The token array is
    materialized in its own projection below the explode so `size` and
    the generator share ONE evaluation (Catalyst keeps the split
    because the alias is referenced twice). explode_OUTER, not explode:
    InferFiltersFromGenerate would otherwise inject a
    `size(tokens) > 0` filter that re-evaluates the tokenizer TWICE
    more per row (the predicate is over a derived expression, so it
    cannot push to parquet); the outer form instead emits one NULL-term
    row per empty doc, and NULL terms can never survive the term
    equi-joins every consumer applies."""
    return (
        docs.select(
            F.col(id_col), tokens_expr(F.col(text_col)).alias("_toks")
        )
        .select(
            F.col(id_col),
            F.size("_toks").cast("int").alias("dl"),
            F.explode_outer("_toks").alias("term"),
        )
        .groupBy(id_col, "term", "dl")
        .agg(F.count("*").cast("int").alias("tf"))
    )


def docfreq_df(tf: DataFrame) -> DataFrame:
    """(term, df) document frequencies — tf already has one row per
    (doc, term), so df = plain count, no count-distinct shuffle."""
    return tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))


class Corpus(NamedTuple):
    """The corpus side of every relational BM25 query.

    - docs: the documents DataFrame it was built from (operators that
      need other document columns read them here);
    - tf: (id, term, dl, tf) from `tf_dl_df`;
    - dfreq: (term, df) over that SAME tf subtree, so a consumer's
      candidate and docfreq branches share one exchange
      (ReusedExchange), or one cache when tf is persisted;
    - n_docs, avgdl: the corpus stats as driver-side floats (avgdl is
      None for an empty table)."""

    docs: DataFrame
    tf: DataFrame
    dfreq: DataFrame
    n_docs: float
    avgdl: float | None

    def unpersist(self) -> None:
        """Release a persisted tf/dfreq (a no-op when never persisted)."""
        self.tf.unpersist()
        self.dfreq.unpersist()


def corpus(
    docs: DataFrame | Corpus, id_col: str = "doc_id", text_col: str = "text"
) -> Corpus:
    """The one corpus construction: a `Corpus` over a documents
    DataFrame, or `docs` itself when it already is one.

    tf and dfreq stay lazy; the stats are collected here, one job. A
    NULL-text doc counts as a zero-length doc (`coalesce(dl, 0)`), as
    it does in the index build and the numpy oracle. Consumers restrict
    dfreq to their term set before it broadcasts into
    `score_over_terms`."""
    if isinstance(docs, Corpus):
        return docs
    tf = tf_dl_df(docs, id_col, text_col)
    stats = (
        dl_df(docs, id_col, text_col)
        .agg(
            F.count("*").cast("double").alias("n_docs"),
            F.avg(F.coalesce(F.col("dl"), F.lit(0))).alias("avgdl"),
        )
        .first()
    )
    return Corpus(docs, tf, docfreq_df(tf), stats["n_docs"], stats["avgdl"])


def no_hits(docs: DataFrame | Corpus, schema: str) -> DataFrame:
    """The empty answer of a query with no usable terms, built without
    touching the corpus (no stats job for a DataFrame input)."""
    src = docs.docs if isinstance(docs, Corpus) else docs
    return src.sparkSession.createDataFrame([], schema)


def idf_expr(n_docs, df_col):
    return F.log(F.lit(1.0) + (n_docs - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)))


def bm25_contrib_expr(tf_col, dl_col, avgdl, idf_col):
    return idf_col * (
        tf_col
        * F.lit(K1 + 1.0)
        / (tf_col + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * dl_col / avgdl))
    )


def bm25_topk(
    docs: DataFrame | Corpus,
    query: str,
    k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_scores: bool = True,
    scope=None,
    scope_ids: DataFrame | None = None,
) -> DataFrame:
    """Brute-force BM25 top-k over a document DataFrame.

    Query is tokenized driver-side with the pinned tokenizer (tiny —
    the analog of the reference's in-process embed_query,
    /root/reference/src/embed.rs:65-78). Ties broken by ascending id;
    scores float64 rounded to SCORE_DECIMALS at the comparison boundary.

    `scope` (optional Column predicate over `docs`) restricts the
    CANDIDATE set while keeping GLOBAL corpus stats — the reference's
    filename filter runs inside the index against the full collection
    (/root/reference/src/qdrant.rs:84-90); scoped BM25 classically keeps
    global idf/avgdl. Catalyst pushes the resulting semi-join predicate
    into the scan.
    """
    scored = bm25_scores(
        docs, query, id_col, text_col, round_scores, scope, scope_ids
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def bm25_scores(
    docs: DataFrame | Corpus,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_scores: bool = True,
    scope=None,
    scope_ids: DataFrame | None = None,
) -> DataFrame:
    """(id, score) for every candidate document matching >=1 query term
    — bm25_topk without the final rank/limit, for consumers that rank
    under a different order (e.g. per-conversation collapse).

    (r6 note: a scan-local variant computing per-term tf columns via
    higher-order filters — zero corpus shuffles — was measured SLOWER
    here than this relational spine: HOFs evaluate interpreted, paying
    k array passes per row on both the stats and candidate scans. The
    relational explode+join form keeps whole-stage codegen and one
    shared exchange; see OPTIMIZATION_r06.md.)"""
    q_terms = sorted(set(tokenize_py(query)))
    if not q_terms:
        # empty-query guard — reference parity (search.rs:20-22)
        return no_hits(docs, f"{id_col} long, score double")

    c = corpus(docs, id_col, text_col)
    # restrict docfreq to query terms BEFORE the broadcast — we ship k
    # rows to every executor, not the whole vocabulary
    dfreq = c.dfreq.filter(F.col("term").isin(q_terms))

    candidates = c.tf
    if scope is not None:
        scoped_ids = c.docs.filter(scope).select(id_col)
        candidates = c.tf.join(scoped_ids, id_col, "left_semi")
    if scope_ids is not None:
        # candidate restriction by an id DataFrame (boolean_search's
        # conjunctive/negated set); stats stay GLOBAL, same as `scope`
        candidates = candidates.join(scope_ids.select(id_col), id_col, "left_semi")
    # the broadcast join to the query-restricted dfreq both filters the
    # candidate stream to the query terms and attaches their df
    return score_over_terms(c._replace(tf=candidates), dfreq, id_col, round_scores)


def score_over_terms(
    c: Corpus,
    dfreq_q: DataFrame,
    id_col: str = "doc_id",
    round_scores: bool = True,
    weight_col: str | None = None,
    dl: DataFrame | None = None,
) -> DataFrame:
    """Shared BM25 scoring tail: the corpus's candidate (id, term, tf)
    stream `c.tf` inner-joined to a PRE-RESTRICTED broadcastable
    (term, df) set (literal query terms, a doc's top TF-IDF terms, a
    prefix expansion...), summed per doc. The query-term set rides a
    broadcast; only matching tf rows reach the score agg. A caller
    that restricts the candidates passes `c._replace(tf=...)`.
    `dl=None` (the r6 fast shape) means the candidate stream already
    carries its `dl` column (tf_dl_df) — no per-doc length join at all;
    an (id, dl) frame is joined per doc instead (bm25f's weighted
    lengths).
    The corpus stats `c.n_docs`/`c.avgdl` are driver-side floats; they
    enter the contribution as literals in the op order a broadcast
    stats row had, so scores are unchanged and the plan carries no
    stats subplan or cross join.
    `weight_col` (optional column of dfreq_q) scales each term's
    contribution — weighted-query BM25 (Rocchio feedback, boosts)."""
    qcols = ["term", "df"] + ([weight_col] if weight_col else [])
    contrib = bm25_contrib_expr(
        F.col("tf").cast("double"),
        F.col("dl").cast("double"),
        F.lit(c.avgdl),
        idf_expr(F.lit(c.n_docs), F.col("df").cast("double")),
    )
    if weight_col:
        contrib = F.col(weight_col) * contrib
    scored = c.tf.join(F.broadcast(dfreq_q.select(*qcols)), "term")
    if dl is not None:
        scored = scored.join(dl, id_col)
    scored = (
        scored.withColumn("contrib", contrib)
        .groupBy(id_col)
        .agg(F.sum("contrib").alias("score"))
    )
    if round_scores:
        scored = scored.withColumn("score", round_half_up(F.col("score"), SCORE_DECIMALS))
    return scored


def collapse_topk(
    docs: DataFrame | Corpus,
    query: str,
    collapse_col: str,
    k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Field-collapsed BM25 top-k: at most ONE hit per `collapse_col`
    group (the group's best-scoring doc, ties to ascending id), then
    the k best groups by (score DESC, id ASC).

    The search-result diversity op every transcript deployment needs —
    without it, one verbose conversation's turns fill the whole page.
    Plan: scores → broadcast-joinable (id, collapse) projection →
    row_number window per collapse key → rn=1 filter. Spark rewrites
    the rank-then-filter pair to WindowGroupLimit (per-partition
    partial top-1 BEFORE the window shuffle), so the exchange carries
    at most one row per (input partition, collapse key); finish is
    TakeOrderedAndProject. Scales with |groups|, not |docs|.
    """
    from pyspark.sql import Window

    c = corpus(docs, id_col, text_col)
    scored = bm25_scores(c, query, id_col, text_col)
    keyed = scored.join(c.docs.select(id_col, collapse_col), id_col)
    w = Window.partitionBy(collapse_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .select(id_col, collapse_col, "score")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def boolean_search(
    docs: DataFrame | Corpus,
    must: list[str],
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_scores: bool = True,
    min_should_match: int = 0,
) -> DataFrame:
    """Boolean retrieval with BM25 ranking: candidates must contain
    EVERY `must` term, NO `must_not` term, and — when
    `min_should_match` > 0, the Elasticsearch bool-query knob — at
    least that many DISTINCT `should` terms (which also makes a
    pure-should query well-defined: must=[] + min_should_match>=1 is
    "match at least m of these"). Ranking scores must + should terms
    under the pinned BM25 (global stats). The classic engine query
    shape BM25 top-k alone can't express — bm25_topk is disjunctive
    (any query term qualifies a doc).

    Plan: every candidate set is one groupBy over tf rows filtered to
    the relevant term list (tf is unique per (doc, term), so a plain
    count IS the distinct-term count: == |must| for the conjunctive
    set, >= min_should_match for the should quorum); the negated set
    is a left_anti join; all are id-sets fed to bm25_topk's scope_ids
    (left_semi into the scoring join, stats untouched). On the
    compressed index the same sets come from decoding only those
    terms' postings — the relational form here is the oracle-parity
    spec, consistent with bm25_topk."""
    must_terms = sorted({t for w in must for t in tokenize_py(w)})
    should_terms = sorted({t for w in (should or []) for t in tokenize_py(w)})
    not_terms = sorted({t for w in (must_not or []) for t in tokenize_py(w)})
    quorum = bool(should_terms) and min_should_match > 0
    if not must_terms and not quorum:
        # no positive clause constrains the candidate set — refuse
        # rather than scan everything (ES rejects this shape too)
        return no_hits(docs, f"{id_col} long, score double")

    # same fused subtree as bm25_scores' candidate stream, so the
    # candidate-set branches share its exchange (ReusedExchange)
    c = corpus(docs, id_col, text_col)
    tf = c.tf
    cand = None
    if must_terms:
        cand = (
            tf.filter(F.col("term").isin(must_terms))
            .groupBy(id_col)
            .agg(F.count("*").alias("_m"))
            .filter(F.col("_m") == len(must_terms))
            .select(id_col)
        )
    if quorum:
        sh = (
            tf.filter(F.col("term").isin(should_terms))
            .groupBy(id_col)
            .agg(F.count("*").alias("_s"))
            .filter(F.col("_s") >= min_should_match)
            .select(id_col)
        )
        cand = sh if cand is None else cand.join(sh, id_col, "left_semi")
    if not_terms:
        excl = tf.filter(F.col("term").isin(not_terms)).select(id_col).distinct()
        cand = cand.join(excl, id_col, "left_anti")
    return bm25_topk(
        c,
        " ".join(must_terms + should_terms),
        k,
        id_col=id_col,
        text_col=text_col,
        round_scores=round_scores,
        scope_ids=cand,
    )


def search_facets(
    docs: DataFrame | Corpus,
    query: str,
    facet_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Facet counts over the BM25 candidate set: (facet, n_hits,
    best_score) per distinct `facet_col` value with >=1 matching doc —
    the result-page sidebar ("12 hits in conv A, 3 in conv B") every
    search UI derives from the full candidate set, not the top-k page.
    One extra groupBy on the facet key after the score agg; best_score
    is max of the already-rounded per-doc scores, so the facet row is
    exactly reproducible from the ranked results."""
    c = corpus(docs, id_col, text_col)
    scored = bm25_scores(c, query, id_col, text_col)
    return (
        scored.join(c.docs.select(id_col, facet_col), id_col)
        .groupBy(facet_col)
        .agg(
            F.count("*").cast("long").alias("n_hits"),
            F.max("score").alias("best_score"),
        )
    )


def more_like_this(
    docs: DataFrame | Corpus,
    doc_id_val,
    m: int = 8,
    k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Similar-document retrieval: the source doc's top-m TF-IDF terms
    become the query, BM25-ranked over every OTHER doc — the classic
    relevance-feedback "more like this" the reference serves through
    embedding nearest-neighbours (/root/reference/src/qdrant.rs:70-96);
    this is its sparse/lexical twin over the same index statistics.

    Fully one DAG, no driver collect: term selection is relational
    (tf rows of the source doc joined to docfreq, weight =
    tf * ln(N/df) rounded to SCORE_DECIMALS — the exact weight shape
    of traindata.tfidf_top_terms so ties break identically — top-m by
    weight DESC, term ASC), and the m-row term set broadcasts into the
    same candidate-scoring join bm25_scores uses. At 100 TB the extra
    cost over a literal-terms query is one broadcast of m rows."""
    c = corpus(docs, id_col, text_col)
    weight = round_half_up(
        F.col("tf").cast("double")
        * F.log(F.lit(c.n_docs) / F.col("df").cast("double")),
        SCORE_DECIMALS,
    )
    qterms = (
        c.tf.filter(F.col(id_col) == doc_id_val)
        .join(c.dfreq, "term")
        .select("term", weight.alias("weight"))
        .orderBy(F.col("weight").desc(), F.col("term").asc())
        .limit(m)
        .select("term")
    )
    # dfreq semi-filtered to qterms (<=m rows) both restricts tf to
    # the m query terms and attaches their df
    scored = score_over_terms(c, c.dfreq.join(qterms, "term", "left_semi"), id_col)
    return (
        scored.filter(F.col(id_col) != doc_id_val)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def search_histogram(
    docs: DataFrame | Corpus,
    query: str,
    field_col: str,
    width: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(bin, n_hits, best_score): fixed-width histogram of a numeric
    field over the BM25 CANDIDATE set — Elasticsearch's `histogram`
    aggregation on hits (the length/size distribution sidebar next to
    search_facets' categorical one). bin = floor(field / width) *
    width; one extra groupBy on the bin key after the score agg, and
    best_score aggregates the already-rounded per-doc scores so every
    bar is exactly reproducible from the ranked results."""
    c = corpus(docs, id_col, text_col)
    scored = bm25_scores(c, query, id_col, text_col)
    bin_expr = (
        F.floor(F.col(field_col).cast("double") / F.lit(float(width)))
        * F.lit(width)
    ).cast("long")
    return (
        scored.join(c.docs.select(id_col, field_col), id_col)
        .groupBy(bin_expr.alias("bin"))
        .agg(
            F.count("*").cast("long").alias("n_hits"),
            F.max("score").alias("best_score"),
        )
    )


def _expanded_term_topk(
    docs: DataFrame | Corpus,
    term_filter,
    k: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Shared tail of the vocabulary-expansion retrievals (wildcard,
    regex): filter the VOCAB-sized docfreq by `term_filter` (a Column
    predicate over `term`), ride the shared broadcast scoring tail,
    rank. One definition so the two expansion flavors cannot drift."""
    c = corpus(docs, id_col, text_col)
    return (
        score_over_terms(c, c.dfreq.filter(term_filter), id_col)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def wildcard_search(
    docs: DataFrame | Corpus,
    prefix: str,
    k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Prefix-wildcard retrieval (`sta*`): every vocabulary term
    matching the prefix becomes a disjunct, each scored with its OWN
    idf, summed per doc — classic fulltext wildcard semantics (a doc
    matching two expansions outranks one matching one). The expansion
    set is relational (a StartsWith filter over docfreq — pushed to
    the vocab scan, never enumerated driver-side) and rides the same
    broadcast the literal-terms path uses; at 100 TB the expansion is
    bounded by |vocab with that prefix|, not corpus size."""
    if not prefix:
        return no_hits(docs, f"{id_col} long, score double")
    return _expanded_term_topk(
        docs, F.col("term").startswith(prefix), k, id_col, text_col
    )


def bm25f_topk(
    docs: DataFrame,
    query: str,
    field_weights: dict[str, float],
    k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
) -> DataFrame:
    """Fielded retrieval (simplified BM25F, Robertson/Zaragoza): term
    frequencies and document length are WEIGHTED SUMS across fields
    before a single BM25 saturation — a title hit counts w_title times
    a body hit, but saturation applies once per term (unlike naive
    per-field score summing, which double-saturates). idf comes from
    the combined document frequency (doc contains the term in ANY
    field).

    Determinism/oracle shape: per-field tf and dl are INTEGER counts
    (one explode of per-field token structs — ONE corpus scan, not one
    per field), combined as w_f·tf_f exact double products with a
    single addition per field — no float accumulation whose order
    could differ between engines. Only avgdl and the final score sum
    are floating aggregations (same class as every BM25 path here,
    absorbed by SCORE_DECIMALS rounding).

    A NULL field has zero tokens, as an empty one does: its tf and dl
    are 0, so the doc keeps its other fields' matches and counts in
    avgdl.

    Scale: one scan + one (doc, term) groupBy + vocab-sized df
    broadcast — the identical shuffle budget as single-field BM25;
    adding fields adds zero corpus passes. Its weighted stats are
    collected once per call (one job), like `corpus()`'s."""
    q_terms = sorted(set(tokenize_py(query)))
    if not q_terms or not field_weights:
        return no_hits(docs, f"{id_col} long, score double")
    fields = sorted(field_weights)  # pinned field order

    def _toks(fname):
        return F.coalesce(
            tokens_expr(F.col(fname)), F.array().cast("array<string>")
        )

    # one scan: explode the concatenation of per-field (term, field)
    # structs. The tag lambda takes ONE arg through a closure factory —
    # a two-parameter lambda would make F.transform pass (element,
    # array_index) and silently overwrite the field tag.
    def _tag(fname):
        return lambda t: F.struct(t.alias("term"), F.lit(fname).alias("field"))

    tagged = F.flatten(
        F.array(*[F.transform(_toks(f), _tag(f)) for f in fields])
    )
    tok = docs.select(
        F.col(id_col), F.explode(tagged).alias("tk")
    ).select(id_col, F.col("tk.term").alias("term"), F.col("tk.field").alias("field"))
    per_field_tf = tok.groupBy(id_col, "term").agg(
        *[
            F.sum(F.when(F.col("field") == f, 1).otherwise(0))
            .cast("long")
            .alias(f"tf_{i}")
            for i, f in enumerate(fields)
        ]
    )
    tfw_expr = None
    for i, f in enumerate(fields):
        t = F.lit(field_weights[f]) * F.col(f"tf_{i}").cast("double")
        tfw_expr = t if tfw_expr is None else tfw_expr + t
    # weighted tf and dl take the single-field names, so the shared
    # scoring tail runs unchanged with the weighted lengths as its `dl`
    tfw = per_field_tf.select(id_col, "term", tfw_expr.alias("tf"))

    dlw_expr = None
    for f in fields:
        t = F.lit(field_weights[f]) * F.size(_toks(f)).cast("double")
        dlw_expr = t if dlw_expr is None else dlw_expr + t
    dlw = docs.select(F.col(id_col), dlw_expr.alias("dl"))
    stats = dlw.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    ).first()
    dfreq = docfreq_df(tfw)
    weighted = Corpus(docs, tfw, dfreq, stats["n_docs"], stats["avgdl"])
    dfreq_q = dfreq.filter(F.col("term").isin(q_terms))
    return (
        score_over_terms(weighted, dfreq_q, id_col, dl=dlw)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def regex_search(
    docs: DataFrame | Corpus,
    pattern: str,
    k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Regex-term retrieval (Lucene RegexpQuery semantics): every
    vocabulary term matching `pattern` (full-term anchored match)
    becomes a disjunct scored with its OWN idf, summed per doc — the
    generalization of wildcard_search from prefix to arbitrary term
    regex. Expansion is relational (an rlike filter over docfreq —
    vocab-sized, Heaps-law sublinear, never enumerated driver-side)
    and rides the same broadcast tail every other term set takes;
    a prefix-shaped pattern additionally keeps the vocab scan
    min/max-skippable. At 100 TB the cost above plain BM25 is one
    regex evaluation per vocab term, zero extra corpus passes."""
    if not pattern:
        return no_hits(docs, f"{id_col} long, score double")
    # anchor both ends: term-level regex semantics (Lucene RegexpQuery
    # matches the WHOLE term; DuckDB twin uses regexp_full_match)
    return _expanded_term_topk(
        docs, F.col("term").rlike(f"^(?:{pattern})$"), k, id_col, text_col
    )


def fuzzy_search(
    docs: DataFrame | Corpus,
    query: str,
    k: int = DEFAULT_TOP_K,
    max_dist: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fuzzy-term retrieval (Lucene FuzzyQuery semantics): each query
    term expands to every VOCABULARY term within levenshtein distance
    <= max_dist (itself at distance 0); each expansion is a disjunct
    scored with its OWN idf, weighted by the classic fuzzy boost
    1 - dist/len(query_term); a vocab term reachable from several
    query terms takes its best (max) weight. Zero-weight expansions
    (dist == len) are dropped on both engine and oracle sides so they
    cannot seed score-0 candidates into the top-k.

    The typo-tolerant twin of `term_correct`: correction SUGGESTS a
    vocabulary term; fuzzy search RETRIEVES through all of them in one
    DAG. The expansion never leaves the cluster — the query-term frame
    (a handful of rows) broadcasts into a length-banded non-equi join
    against docfreq (edit distance >= length difference prunes before
    the quadratic DP, exactly as in suggest.term_correct), and the
    surviving (term, df, w) set rides the same broadcast every other
    term set takes through score_over_terms. At 100 TB the cost above
    plain BM25 is |vocab in the length band| levenshtein DPs — vocab
    is Heaps-law sublinear and the DP is whole-stage-codegen'd
    (F.levenshtein), zero Python."""
    q_terms = sorted(set(tokenize_py(query)))
    if not q_terms:
        return no_hits(docs, f"{id_col} long, score double")
    c = corpus(docs, id_col, text_col)
    qdf = c.docs.sparkSession.createDataFrame(
        [(t, len(t)) for t in q_terms], "qterm string, qlen int"
    )
    expansion = (
        c.dfreq.join(
            F.broadcast(qdf),
            F.abs(F.length("term") - F.col("qlen")) <= F.lit(max_dist),
        )
        .withColumn("dist", F.levenshtein(F.col("term"), F.col("qterm")))
        .filter(F.col("dist") <= max_dist)
        .withColumn(
            "w",
            F.lit(1.0) - F.col("dist").cast("double") / F.col("qlen").cast("double"),
        )
        .filter(F.col("w") > 0)
        .groupBy("term", "df")
        .agg(F.max("w").alias("w"))
    )
    return (
        score_over_terms(c, expansion, id_col, weight_col="w")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def synonym_search(
    docs: DataFrame | Corpus,
    query: str,
    synonyms: dict[str, list[str]],
    syn_weight: float = 0.8,
    k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Thesaurus-expanded retrieval (Lucene SynonymQuery shape): each
    query term also matches its thesaurus synonyms, discounted to
    `syn_weight`; every expansion is scored with its OWN idf through
    the shared weighted tail, and a term reachable both literally and
    as a synonym keeps its best (max) weight. Synonyms absent from
    the corpus vocabulary drop at the docfreq join — they cost
    nothing.

    The thesaurus is query-state (dozens-to-thousands of rows), so it
    rides the same broadcast every term set takes; at 100 TB the plan
    is byte-identical to plain BM25 plus a broadcast of the expansion
    frame. Only synonyms of terms ACTUALLY IN the query expand."""
    q_terms = sorted(set(tokenize_py(query)))
    if not q_terms:
        return no_hits(docs, f"{id_col} long, score double")
    rows = [(t, 1.0) for t in q_terms]
    for qt, syns in synonyms.items():
        if qt in q_terms:
            rows.extend((s, float(syn_weight)) for s in syns)
    c = corpus(docs, id_col, text_col)
    wdf = (
        c.docs.sparkSession.createDataFrame(rows, "term string, w double")
        .groupBy("term")
        .agg(F.max("w").alias("w"))
    )
    expansion = c.dfreq.join(F.broadcast(wdf), "term")
    return (
        score_over_terms(c, expansion, id_col, weight_col="w")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def prf_expand(
    docs: DataFrame | Corpus,
    query: str,
    k_docs: int = DEFAULT_TOP_K,
    n_terms: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio's positive
    half): take the query's top-k_docs BM25 winners, rank the terms
    they contain — excluding the query's own terms — by summed TF-IDF
    (sum of tf over winners x ln(N/df), the tfidf_top_terms weight
    shape), and return the n_terms best as (term, weight). The
    expansion a search UI offers as "related searches" and a retrieval
    pipeline feeds back as query terms.

    Winner ids stay a DataFrame (semi-join, no collect); the term agg
    runs over only the winners' tf rows, so post-top-k cost is bounded
    by k_docs x avg doc vocab, and the final rank is
    TakeOrderedAndProject(n_terms)."""
    q_terms = sorted(set(tokenize_py(query)))
    c = corpus(docs, id_col, text_col)
    winners = bm25_topk(c, query, k_docs, id_col, text_col).select(id_col)
    expansion = (
        c.tf.join(winners, id_col, "left_semi")
        .filter(~F.col("term").isin(q_terms))
        .groupBy("term")
        .agg(F.sum("tf").cast("double").alias("tf_sum"))
        .join(c.dfreq, "term")
        .select(
            "term",
            round_half_up(
                F.col("tf_sum") * F.log(F.lit(c.n_docs) / F.col("df").cast("double")),
                SCORE_DECIMALS,
            ).alias("weight"),
        )
    )
    return expansion.orderBy(F.col("weight").desc(), F.col("term").asc()).limit(n_terms)


def search_after(
    docs: DataFrame | Corpus,
    query: str,
    cursor: tuple[float, int] | None = None,
    k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keyset (cursor) pagination: the k results strictly AFTER
    `cursor` = (score, doc_id) in the total order (score DESC, id ASC)
    — i.e. score < cursor_score OR (score == cursor_score AND
    id > cursor_id). cursor=None returns page 1.

    The scalable deep-pagination form: OFFSET n re-ranks n+k rows and
    the driver must ship/skip n of them every page; the keyset
    predicate is a plain filter on the scored stream, so page 100
    costs the same plan as page 1 (and on a sorted/indexed store it
    prunes the scan). The cursor is the last row of the previous page
    — exactly opaque-cursor pagination in fulltext serving APIs."""
    scored = bm25_scores(docs, query, id_col, text_col)
    if cursor is not None:
        cs, cd = float(cursor[0]), int(cursor[1])
        scored = scored.filter(
            (F.col("score") < cs)
            | ((F.col("score") == cs) & (F.col(id_col) > cd))
        )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def prf_search(
    docs: DataFrame | Corpus,
    query: str,
    k: int = DEFAULT_TOP_K,
    k_docs: int = DEFAULT_TOP_K,
    n_terms: int = 10,
    beta: float = 0.4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Closed-loop pseudo-relevance feedback (Rocchio positive half,
    end to end): run the query, expand with prf_expand's top n_terms,
    re-search with WEIGHTED BM25 — original terms at weight 1.0,
    expansion terms at `beta` (the classic 0.4) — and return the
    re-ranked top-k. The automatic-query-refinement op behind "did we
    miss relevant docs the user's words didn't name".

    One extra retrieval round over plain bm25_topk; the expansion term
    set stays a DataFrame (union of a literal q-term frame and the
    bounded expansion page) and rides the same broadcast as every
    other term set through score_over_terms(weight_col=...)."""
    q_terms = sorted(set(tokenize_py(query)))
    if not q_terms:
        return no_hits(docs, f"{id_col} long, score double")
    c = corpus(docs, id_col, text_col)
    exp = prf_expand(c, query, k_docs, n_terms, id_col, text_col).select("term")
    wq = c.docs.sparkSession.createDataFrame(
        [(t, 1.0) for t in q_terms], "term string, w double"
    )
    # prf_expand excludes the query's own terms, so the union is disjoint
    wterms = wq.unionByName(exp.withColumn("w", F.lit(float(beta))))
    return (
        score_over_terms(c, c.dfreq.join(wterms, "term"), id_col, weight_col="w")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )
