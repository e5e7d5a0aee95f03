"""Driver-facing query registry: Spark queries + DuckDB oracle SQL.

Every implemented operator from SURVEY.md §2 gets a `QUERIES` entry and
(when SQL-expressible) an `ORACLE_SQL` twin. Column names/aliases are
identical on both sides — the driver sorts columns by name and hashes
values, so parity is byte-level after SCORE_DECIMALS rounding.

Corpus: the driver's `documents` table (doc_id, text, lang, source,
n_chars) plays the transcript-shaped corpus (FIXTURES.md §4);
`events` exercises timestamp ops; `embeddings` the similarity ops.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from semantic_pdf_search_engine_spark.config import (
    B,
    DEFAULT_TOP_K,
    FUZZY_EARLY_EXIT,
    FUZZY_THRESHOLD,
    K1,
    SCORE_DECIMALS,
    TOKEN_SPLIT_RE,
)
from semantic_pdf_search_engine_spark.operators import bm25, suggest
from semantic_pdf_search_engine_spark.functions.rounding import round_half_up

# One fixed flagship query (terms present in the testdata vocabulary).
FLAGSHIP_QUERY = "spark filter join window"
SCOPED_SOURCE = "src1"

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect)
# ---------------------------------------------------------------------------

_TOKS_CTE = f"""
toks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                              x -> x <> '')) AS term
    FROM documents
)"""

# dl computed from `documents` directly (NOT from the unnested toks CTE,
# which silently drops zero-token docs), and a NULL text counts as 0
# tokens, so n_docs/avgdl match bm25.corpus's stats for every doc.
_DL_SQL = f"""dl AS (
    SELECT doc_id,
           CAST(COALESCE(len(list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                                         x -> x <> '')), 0) AS INT) AS dl
    FROM documents
)"""

_TF_CTE = (
    _TOKS_CTE
    + f""",
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS INT) AS tf FROM toks GROUP BY doc_id, term),
{_DL_SQL},
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term)"""
)


def _bm25_sql(query_terms: list[str], k: int, scope_pred: str = "TRUE") -> str:
    terms_list = ", ".join(f"'{t}'" for t in sorted(set(query_terms)))
    return f"""
WITH {_TF_CTE},
q AS (SELECT unnest([{terms_list}]) AS term),
scoped AS (SELECT doc_id FROM documents WHERE {scope_pred}),
scores AS (
    SELECT tf.doc_id,
           SUM( ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                * tf.tf * {K1 + 1.0}
                / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl)) ) AS s
    FROM tf
    JOIN q USING (term)
    JOIN dfreq ON tf.term = dfreq.term
    JOIN dl ON tf.doc_id = dl.doc_id
    JOIN scoped ON tf.doc_id = scoped.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
)
SELECT doc_id, floor((s) * 1000000.0 + 0.5) / 1000000.0 AS score
FROM scores
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------


def _stat_signature(path: str) -> str:
    """O(#files) stat-only fingerprint of a parquet file/directory:
    (name, size, mtime_ns) per file — no footer reads, no Spark job.
    Every cache below (schema memo, query vector, build-once stores)
    keys on it, so any rewrite of the source, even one with the same
    bytes, reads as a change."""
    import hashlib
    from pathlib import Path

    p = Path(path)
    files = sorted(p.rglob("*.parquet")) if p.is_dir() else [p]
    h = hashlib.md5()
    for f in files:
        st = f.stat()
        h.update(f"{f.name}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()


_SCHEMA_CACHE: dict[tuple[str, str], object] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet with the inferred schema memoized per
    (path, stat signature): a schemaless parquet read runs a 1-task
    footer-inference JOB on every call — one scheduler round-trip per
    registry query (~98 per bench pass). The memo holds the table's
    StructType (metadata only, never rows); every invocation still
    scans the parquet data itself. Keying on the stat signature means
    a table rewritten in-process — new files, sizes or mtimes — infers
    its schema afresh instead of reusing a stale one."""
    key = (path, _stat_signature(path))
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read_parquet(spark, f"{sf_dir}/documents.parquet")


# build-once/serve-many handles, keyed by (spark app, store kind,
# sf_dir) and holding (source stat signature, handle): repeated
# registry calls in one session reuse ONE built, prepare()'d handle
# instead of re-opening (and for the doc index, re-persisting) per call.
_STORE_HANDLES: dict[tuple[str, str, str], tuple[str, object]] = {}


def _read_record(sig_path: str) -> str | None:
    """The one-line `<kind> <signature>` record of a disk store, or
    None when there is none."""
    try:
        with open(sig_path) as f:
            return f.read()
    except FileNotFoundError:
        return None


def _store(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    table: str,
    build: Callable,
    load: Callable | None = None,
):
    """The one build-once path for the registry's stores over
    `<sf_dir>/<table>.parquet`. The source's stat signature is checked
    on every call (a stat walk, no Spark job), so a mid-session rewrite
    rebuilds. A stale handle releases its executor storage BEFORE the
    rebuild: a rewritten table reads through an equal plan, so a store
    still cached would serve the old rows to the new build.

    Without `load` the store lives in memory only: `build()`. With it,
    the store is kept on disk in `<SPSE_INDEX_CACHE>/<kind>_<md5(sf_dir)
    [:12]>` (default root: the temp dir) next to a `<kind> <signature>`
    record: a matching record reopens it with `load(dir)`, anything else
    runs `build(dir)` and then publishes the record (computed before the
    build) atomically, so a later process reopens what this one built."""
    import hashlib
    import tempfile

    data_path = f"{sf_dir}/{table}.parquet"
    sig = _stat_signature(data_path)
    app = spark.sparkContext.applicationId
    key = (app, kind, sf_dir)
    hit = _STORE_HANDLES.get(key)
    if hit is not None:
        if hit[0] == sig:
            return hit[1]
        if hasattr(hit[1], "unpersist"):
            hit[1].unpersist()
    # prune entries from dead SparkSessions (stale applicationIds):
    # their JVMs are gone, the handles are unusable, and the dict
    # would otherwise grow for the process lifetime
    for k in [k for k in _STORE_HANDLES if k[0] != app]:
        del _STORE_HANDLES[k]
    if load is None:
        handle = build()
    else:
        root = os.environ.get(
            "SPSE_INDEX_CACHE", os.path.join(tempfile.gettempdir(), "spse_index_cache")
        )
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
        d = os.path.join(root, f"{kind}_{tag}")
        sig_path = os.path.join(d, "cache_sig.txt")
        record = f"{kind} {sig}"
        if _read_record(sig_path) == record:
            handle = load(d)
        else:
            handle = build(d)
            os.makedirs(d, exist_ok=True)
            tmp = f"{sig_path}.tmp.{os.getpid()}"
            with open(tmp, "w") as f:
                f.write(record)
            os.replace(tmp, sig_path)
    _STORE_HANDLES[key] = (sig, handle)
    return handle


def _corpus(spark: SparkSession, sf_dir: str) -> bm25.Corpus:
    """Build-once store of the relational corpus (`bm25.corpus` over
    the documents table): tf and dfreq persisted and materialized once
    per session, the stats held as driver-side floats. Every relational
    BM25 query reads it instead of re-tokenizing the table. In memory
    only (see `_store`): a rewritten table rebuilds the store and the
    replaced one is unpersisted."""

    def build() -> bm25.Corpus:
        c = bm25.corpus(_docs(spark, sf_dir))
        # tf first: dfreq's plan then reads the tf cache, not the table
        c.tf.persist().count()
        c.dfreq.persist().count()
        return c

    return _store(spark, "corpus", sf_dir, "documents", build)


def q_tokenize_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25.tf_df(_docs(spark, sf_dir))


def q_doc_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25.dl_df(_docs(spark, sf_dir))


def q_docfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25.docfreq_df(bm25.tf_df(_docs(spark, sf_dir)))


# Fixed serving constants for the suggest/correct registry queries:
# "s" prefixes 6 of the corpus's vocabulary terms (scan/slow/small/
# sort/spark/stream); "grup" corrects to group (dist 1) and dup
# (dist 2), exercising the distance-then-df rank.
SUGGEST_PREFIX = "s"
CORRECT_TERM = "grup"


def q_term_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = bm25.docfreq_df(bm25.tf_df(_docs(spark, sf_dir)))
    return suggest.prefix_suggest(vocab, SUGGEST_PREFIX, DEFAULT_TOP_K)


def q_term_correct(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = bm25.docfreq_df(bm25.tf_df(_docs(spark, sf_dir)))
    return suggest.term_correct(vocab, CORRECT_TERM, DEFAULT_TOP_K)


def q_term_suggest_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocomplete served from the PREBUILT index's materialized
    docfreq table (prepare()'d in executor memory via _doc_index) —
    the serving-path twin of term_suggest: no corpus rescan, no
    tokenize, no groupBy; just a StartsWith filter + top-k over
    |vocab| rows. Same oracle as term_suggest (index tokenization is
    the identity on the artifact-free fixture)."""
    idx = _doc_index(spark, sf_dir)
    vocab = idx.docfreq.select("term", F.col("df").cast("long").alias("df"))
    return suggest.prefix_suggest(vocab, SUGGEST_PREFIX, DEFAULT_TOP_K)


def q_search_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-collapsed BM25: flagship query, at most one hit per
    `source` (the conversation/file analog), k best groups."""
    return bm25.collapse_topk(
        _corpus(spark, sf_dir), FLAGSHIP_QUERY, "source", DEFAULT_TOP_K
    )


def q_term_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snippet serving: fixed-width window around the earliest
    flagship-term occurrence in each BM25 winner — the exact-match
    half of the reference's highlight stage, hard-oracle-checked
    (the Jaro-Winkler fuzzy half stays rows-only in fuzzy_spans)."""
    from semantic_pdf_search_engine_spark.operators.spans import snippet_exprs

    c = _corpus(spark, sf_dir)
    winners = bm25.bm25_topk(c, FLAGSHIP_QUERY, DEFAULT_TOP_K)
    joined = winners.join(c.docs.select("doc_id", "text"), "doc_id")
    off, snip = snippet_exprs(F.col("text"), _FLAGSHIP_TERMS)
    return joined.select(
        "doc_id",
        "score",
        off.cast("int").alias("first_off"),
        snip.alias("snippet"),
    )


NEAR_A, NEAR_B = "filter", "join"
NEAR_WINDOW = 3
FUZZY_QUERY = "sow filtr"  # typos: sow→{slow,row}, filtr→filter
FUZZY_MAX_DIST = 1
SYNONYMS = {"filter": ["scan", "prune"], "join": ["merge"]}
SYN_WEIGHT = 0.8
SLOP_PHRASE = "spark filter join"
PHRASE_SLOP = 4
PASSAGE_WINDOW = 10
MLT_DOC_ID = 7
MLT_M = 8
WILDCARD_PREFIX = "s"
PRF_N_TERMS = 10


HYBRID_N = 50

PERCOLATE_QUERIES = {
    "alert_filter_window": "filter window",
    "alert_join_spark": "join spark",
    "alert_stream_table_hash": "stream table hash",
}


def q_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing-query percolation (streaming/percolate.percolate):
    every (doc, query) pair where the doc contains ALL the registered
    query's terms — the saved-search/alerting inverse of search. The
    batch core IS the streaming micro-batch body (foreachBatch reuses
    it verbatim), so this hard oracle pins the stream semantics too."""
    from semantic_pdf_search_engine_spark.streaming.percolate import (
        percolate,
        standing_queries_df,
    )

    return percolate(
        _docs(spark, sf_dir), standing_queries_df(spark, PERCOLATE_QUERIES)
    )


PRF_BETA = 0.4


def q_prf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-loop Rocchio feedback (bm25.prf_search): flagship query →
    PRF expansion → weighted-BM25 re-search (original terms 1.0,
    expansion terms 0.4) → re-ranked top-10. Hard oracle (weighted
    union of term sets + weighted score twin)."""
    return bm25.prf_search(
        _corpus(spark, sf_dir),
        FLAGSHIP_QUERY,
        DEFAULT_TOP_K,
        DEFAULT_TOP_K,
        PRF_N_TERMS,
        PRF_BETA,
    )


def q_fuzzy_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant retrieval (bm25.fuzzy_search, Lucene FuzzyQuery
    semantics): each query term expands to vocabulary terms within
    levenshtein 1, weighted 1 - dist/len(qterm), best weight wins,
    weighted-BM25 top-10. 'sow filtr' finds slow/row/filter docs.
    Hard oracle (DuckDB levenshtein + the weighted score twin)."""
    return bm25.fuzzy_search(
        _corpus(spark, sf_dir), FUZZY_QUERY, DEFAULT_TOP_K, FUZZY_MAX_DIST
    )


def q_synonym_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thesaurus-expanded retrieval (bm25.synonym_search): flagship
    query plus synonyms at weight 0.8 ('prune' is out-of-vocabulary
    and must drop at the docfreq join). Hard oracle (weighted union
    twin)."""
    return bm25.synonym_search(
        _corpus(spark, sf_dir), FLAGSHIP_QUERY, SYNONYMS, SYN_WEIGHT, DEFAULT_TOP_K
    )


def q_phrase_slop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered sloppy phrase (postings.phrase_slop): 'spark filter
    join'~4 — the three terms in order within a 7-token span, counted
    per valid start via the greedy min-next chain fold. Hard oracle
    (EXISTS chain join over unnested positions; greedy existence ≡
    join existence)."""
    from semantic_pdf_search_engine_spark.operators.postings import phrase_slop

    return phrase_slop(_docs(spark, sf_dir), SLOP_PHRASE, PHRASE_SLOP)


def q_phrase_slop_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`phrase_slop` served from the MATERIALIZED positional index
    (partition-pruned to the three terms' term_bucket dirs) — same
    hard oracle, identical output by construction (one phrase_slop,
    only the positional_postings source differs)."""
    from semantic_pdf_search_engine_spark.operators.postings import phrase_slop

    return phrase_slop(_pos_index(spark, sf_dir), SLOP_PHRASE, PHRASE_SLOP)


def q_best_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densest-window passage selection (postings.best_passage): for
    each flagship BM25 winner, the 10-token window with the most
    query-term occurrences, ties to the earliest start — the
    best-fragment highlighter rule. Hard oracle (window-count
    self-join over unnested positions)."""
    from semantic_pdf_search_engine_spark.operators.postings import best_passage

    return best_passage(
        _corpus(spark, sf_dir), FLAGSHIP_QUERY, PASSAGE_WINDOW, DEFAULT_TOP_K
    )


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval (operators/fusion.hybrid_topk):
    BM25 top-50 and exact-cosine top-50 (vec ids as doc ids),
    reciprocal-rank-fused (K=60) to the 10 best — the modern serving
    pattern the reference's embedding-only search lacks. Hard oracle
    (both rankings + the fusion are SQL-expressible)."""
    from semantic_pdf_search_engine_spark.operators.fusion import hybrid_topk

    return hybrid_topk(
        _corpus(spark, sf_dir),
        _emb(spark, sf_dir),
        FLAGSHIP_QUERY,
        _query_vec(sf_dir),
        DEFAULT_TOP_K,
        HYBRID_N,
    )


def q_search_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (cursor) pagination (bm25.search_after): page 2 of the
    flagship query — the cursor is page 1's last row, exactly the
    opaque-cursor protocol a serving API runs (client returns the
    cursor, server filters strictly-after). Hard oracle (ranks
    k+1..2k of the same scored stream)."""
    c = _corpus(spark, sf_dir)
    page1 = bm25.bm25_topk(c, FLAGSHIP_QUERY, DEFAULT_TOP_K).collect()
    cur = (page1[-1]["score"], page1[-1]["doc_id"])
    return bm25.search_after(c, FLAGSHIP_QUERY, cur, DEFAULT_TOP_K)


def q_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index health/ops surface: one row of corpus statistics served
    from the PREBUILT index (manifest scalars + one agg over the
    pinned vocab-sized docfreq — no corpus scan). Hard oracle
    (recomputed from documents)."""
    idx = _doc_index(spark, sf_dir)
    return idx.docfreq.agg(
        F.lit(int(idx.n_docs)).cast("long").alias("n_docs"),
        round_half_up(F.lit(float(idx.avgdl)), 6).alias("avgdl"),
        F.count("*").cast("long").alias("vocab_size"),
        F.sum("df").cast("long").alias("n_postings"),
    )


def q_more_like_this_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """more_like_this served from the PREBUILT compressed index
    (plans/query.more_like_this_indexed): term selection reads one doc
    row + the pinned docfreq, scoring runs the pruned posting-block
    WAND path. Same hard oracle as more_like_this (identical output —
    index tokenization is the identity on the artifact-free fixture,
    internal docID order preserves orig id order so ties agree)."""
    from semantic_pdf_search_engine_spark.plans.query import (
        more_like_this_indexed,
    )

    return more_like_this_indexed(
        _doc_index(spark, sf_dir), MLT_DOC_ID, MLT_M, DEFAULT_TOP_K
    )


def q_wildcard_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-wildcard BM25 (`s*`): every matching vocab term is a
    disjunct with its own idf; expansion is a relational StartsWith
    over docfreq, never a driver-side enumeration. Hard oracle
    (LIKE-filtered dfreq as the query-term set)."""
    return bm25.wildcard_search(
        _corpus(spark, sf_dir), WILDCARD_PREFIX, DEFAULT_TOP_K
    )


def q_prf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback expansion: terms characterizing the
    flagship query's top-10 winners (summed TF-IDF, query's own terms
    excluded) — "related searches". Hard oracle (winner subquery +
    weight twin)."""
    return bm25.prf_expand(
        _corpus(spark, sf_dir), FLAGSHIP_QUERY, DEFAULT_TOP_K, PRF_N_TERMS
    )


def q_near_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR/W proximity retrieval (postings.proximity_search): docs
    where both terms occur within NEAR_WINDOW token positions, exact
    over positional postings — only the two terms' postings shuffle.
    Hard oracle (position self-join over the tokenized corpus)."""
    from semantic_pdf_search_engine_spark.operators.postings import (
        proximity_search,
    )

    return proximity_search(_docs(spark, sf_dir), NEAR_A, NEAR_B, NEAR_WINDOW)


def q_near_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`near_search` served from the MATERIALIZED positional index
    (partition-pruned to the two terms' term_bucket dirs) — same hard
    oracle, identical output by construction (also pinned in
    tests/test_spans.py)."""
    from semantic_pdf_search_engine_spark.operators.postings import (
        proximity_search,
    )

    return proximity_search(_pos_index(spark, sf_dir), NEAR_A, NEAR_B, NEAR_WINDOW)


def q_search_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facet counts over the flagship query's full BM25 candidate set:
    (source, n_hits, best_score) — the result-page sidebar aggregate.
    Hard oracle (same scores CTE as search_collapse)."""
    return bm25.search_facets(_corpus(spark, sf_dir), FLAGSHIP_QUERY, "source")


def q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similar-document retrieval: MLT_DOC_ID's top-MLT_M TF-IDF terms
    as the query, BM25 top-k over every other doc, one DAG, no driver
    collect. Hard oracle (term-selection subquery + bm25 twin)."""
    return bm25.more_like_this(
        _corpus(spark, sf_dir), MLT_DOC_ID, MLT_M, DEFAULT_TOP_K
    )


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _corpus(spark, sf_dir)
    return spark.range(1).select(
        F.lit(int(c.n_docs)).cast("long").alias("n_docs"),
        round_half_up(F.lit(c.avgdl), SCORE_DECIMALS).alias("avgdl"),
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25.bm25_topk(_corpus(spark, sf_dir), FLAGSHIP_QUERY, DEFAULT_TOP_K)


def q_bm25_scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P6/J2 parity: scope predicate pushed into the scan, global stats
    # (/root/reference/src/qdrant.rs:84-90 — filename filter inside the index)
    return bm25.bm25_topk(
        _corpus(spark, sf_dir),
        FLAGSHIP_QUERY,
        DEFAULT_TOP_K,
        scope=F.col("source") == SCOPED_SOURCE,
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read_parquet(spark, f"{sf_dir}/embeddings.parquet")


def q_valid_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P5/F5 predicate flags (reference chunk.rs:64-126,214-223,
    345-380,512-518)."""
    from semantic_pdf_search_engine_spark.functions import quality as Q

    t = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        Q.is_valid_chunk(t).alias("is_valid"),
        Q.looks_like_code(t).alias("is_code"),
        Q.is_garbage(t).alias("is_garbage"),
        Q.is_header_like(t).alias("is_header"),
        Q.has_complete_sentence(t).alias("has_sentence"),
    )


def q_chunk_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: fixed 500-char sub-turn chunking, exploded
    (reference TextSplitter::new(500), chunk.rs:34-60)."""
    from semantic_pdf_search_engine_spark.operators.chunking import chunk_turns_fixed

    return chunk_turns_fixed(_docs(spark, sf_dir))


def q_smart_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: sentence-packed chunks with 2-sentence overlap carry
    (chunk.rs:521-560 + garbage filter per chunk_per_page). HARD oracle
    since r5 (was rows-only): the stateful fold IS SQL-expressible as a
    per-doc recursive CTE (_smart_chunks_sql) — state (cur, p1), flush
    emissions in an `emit` column, tail from the final state — matched
    byte-for-byte at sf0.001/0.01/0.1, with the flush/overlap-carry
    branch additionally pinned at chunk_size=120 in
    tests/test_chunking.py (439 multi-chunk docs). Reference behavior
    vectors stay unit-tested there too."""
    from semantic_pdf_search_engine_spark.operators.chunking import smart_chunks

    return smart_chunks(_docs(spark, sf_dir))


def q_remove_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: line-level section-header removal (chunk.rs:304-342)."""
    from semantic_pdf_search_engine_spark.functions.quality import (
        remove_section_headers,
    )

    return _docs(spark, sf_dir).select(
        "doc_id", remove_section_headers(F.col("text")).alias("cleaned")
    )


def q_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from semantic_pdf_search_engine_spark.functions import quality as Q
    from semantic_pdf_search_engine_spark.functions.tokenize import tokens_expr

    t = F.col("text")
    # layered projections: tokenize ONCE, stopword-filter ONCE, then
    # every consumer reads the precomputed columns (higher-order
    # functions are CodegenFallback — re-evaluating them per consumer
    # is interpreted, per row). Values are identical: the same
    # expressions over the same arrays, just not repeated.
    base = _docs(spark, sf_dir).select(
        "doc_id", t.alias("text"), tokens_expr(t).alias("_toks")
    )
    layered = base.select(
        "doc_id",
        "text",
        "_toks",
        Q.stopword_ratio(F.col("text"), toks=F.col("_toks")).alias("_sr"),
    )
    return layered.select(
        "doc_id",
        Q.lang_id(F.col("text"), sr=F.col("_sr")).alias("lang_pred"),
        Q.quality_score(
            F.col("text"), toks=F.col("_toks"), sr=F.col("_sr")
        ).alias("quality"),
        F.size("_toks").cast("int").alias("n_tokens"),
        Q.fingerprint(F.col("text")).alias("fp"),
    )


QF_MIN_WORDS = 30
QF_MIN_ALPHA = 0.81
QF_MIN_QUALITY = 0.62


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus-filter verdict (quality.quality_verdict): the
    keep/drop DECISION with a pinned first-failing-rule reason
    (too_short → garbage → low_alpha → low_quality → pass) — the
    filtering analog of dedup_clusters' role for pair generators.
    Demo thresholds chosen to exercise every reachable branch on the
    fixture corpus. Pure Column expr; hard oracle."""
    from semantic_pdf_search_engine_spark.functions.quality import quality_verdict
    from semantic_pdf_search_engine_spark.functions.tokenize import tokens_expr

    t = F.col("text")
    # layered: tokens and alpha_ratio projected once (shared by the
    # low_alpha branch and quality_score), and the verdict CASE itself
    # evaluated ONCE — `keep` derives from the reason COLUMN, not a
    # second copy of the whole rule tree
    base = _docs(spark, sf_dir).select(
        "doc_id",
        t.alias("text"),
        tokens_expr(t).alias("_toks"),
    )
    reason = quality_verdict(
        F.col("text"),
        min_words=QF_MIN_WORDS,
        min_alpha=QF_MIN_ALPHA,
        min_quality=QF_MIN_QUALITY,
        toks=F.col("_toks"),
    )
    layered = base.select("doc_id", reason.alias("reason"))
    return layered.select(
        "doc_id",
        "reason",
        (F.col("reason") == "pass").cast("int").alias("keep"),
    )


def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleaning pass: intra-document repeated-line removal
    (first occurrence kept — boilerplate cut) + pattern-based PII
    masking (emails → <EMAIL>, long digit runs → <NUM>); both pure
    Column exprs → hard oracle. The fixture corpus has no newlines, so
    the dedup column is exercised on a synthetic MULTI-LINE projection
    (spaces → newlines, giving real repeated lines); the oracle twin
    applies the identical projection, so the driver checks genuine
    order-preserving dedup behavior, not a vacuous identity."""
    from semantic_pdf_search_engine_spark.functions.quality import (
        dedup_lines,
        redact_pii,
    )

    t = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        dedup_lines(F.replace(t, F.lit(" "), F.lit("\n"))).alias("deduped"),
        redact_pii(t).alias("redacted"),
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from semantic_pdf_search_engine_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


# Pair-generating dedup demos run on a bounded doc range: the testdata
# vocabulary is ~31 words, so EVERY doc shares shingles — candidate
# generation is quadratic there by construction (real corpora have
# heavy-tailed shingle frequencies where banding actually prunes).
# The bound is applied identically in the SQL twins.
_PAIR_BOUND = 1000


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from semantic_pdf_search_engine_spark.operators.dedup import ngram_jaccard_pairs

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < _PAIR_BOUND)
    return ngram_jaccard_pairs(docs, threshold=0.5)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from semantic_pdf_search_engine_spark.operators.dedup import minhash_lsh_pairs

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < _PAIR_BOUND)
    return minhash_lsh_pairs(docs)


def q_minhash_lsh_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash banding at the PRODUCTION parameters (64 permutations /
    16 bands, r=4 rows per band → candidate threshold s ≈ 0.45,
    'universal' hash family: ONE md5 per shingle + multiply-shift
    permutations in a numpy broadcast — n_perms× fewer digests than the
    oracle family): the configuration a 100 TB near-dup pass would run,
    vs the 4/2 demo whose tiny signature space has an exact DuckDB
    twin. HARD oracle since r5 (was rows-only): the universal family is
    deterministic end-to-end, so _minhash_prod_sql embeds the seeded
    multiply-shift coefficients and replays the identical pipeline in
    DuckDB (matched at sf0.001/0.01/0.1). The banding-probability curve
    1−(1−J⁴)¹⁶ stays certified in tests/test_dedup.py
    (test_minhash_prod_banding_probability). Shuffle stays (doc, band)
    shaped at any parameter setting."""
    from semantic_pdf_search_engine_spark.operators.dedup import minhash_lsh_pairs

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < _PAIR_BOUND)
    return minhash_lsh_pairs(docs, n_perms=64, n_bands=16, hash_family="universal")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from semantic_pdf_search_engine_spark.operators.dedup import simhash

    return simhash(_docs(spark, sf_dir))


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pigeonhole band join over 16-bit simhashes: EXACT pairs at
    Hamming ≤ 3 (4-bit bands — all four differing implies distance ≥ 4)
    with a hard SQL oracle; candidate shuffle is (band, id, hash)
    triples, never all-pairs. Bounded to _PAIR_BOUND like the other
    pair demos (the 31-word testdata vocab clusters simhashes, making
    hamming ≤ 3 pairs quadratic by construction; oracle same bound)."""
    from semantic_pdf_search_engine_spark.operators.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(
        _docs(spark, sf_dir).filter(F.col("doc_id") < _PAIR_BOUND)
    )


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup decision step computed by LARGE-STAR/SMALL-STAR
    contraction (dedup.connected_components_star — the O(log n)-round
    chain-graph-safe path, new in r4) instead of min-label propagation.
    Same hard oracle as dedup_clusters (the DuckDB recursive transitive
    closure): a driver-green row proves the star fixpoint equals the
    declarative closure on real fixture data, not just the pytest
    graphs."""
    from semantic_pdf_search_engine_spark.operators.dedup import (
        dedup_clusters,
        simhash_neardup_pairs,
    )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < _PAIR_BOUND)
    return dedup_clusters(docs, simhash_neardup_pairs(docs), method="star")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION step (dedup.dedup_clusters): simhash near-dup
    pairs (the exact hamming ≤ 3 generator) transitively closed into
    clusters by min-label propagation; one canonical doc kept per
    cluster (min id). Hard oracle: the pair SQL reused as a CTE feeding
    a DuckDB RECURSIVE min-label closure — the driver checks the
    iterative distributed fixpoint against the declarative transitive
    closure."""
    from semantic_pdf_search_engine_spark.operators.dedup import (
        dedup_clusters,
        simhash_neardup_pairs,
    )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < _PAIR_BOUND)
    return dedup_clusters(docs, simhash_neardup_pairs(docs))


_QVEC_CACHE: dict[str, list[float]] = {}


def _query_vec(sf_dir: str, vec_id: int = 0) -> list[float]:
    """The deterministic ANN query vector, read DRIVER-SIDE with
    pyarrow (row-group statistics prune the scan to the group holding
    `vec_id`) — replaces the 1-row Spark job each ann_* registry entry
    used to run (a scheduler round-trip per query at serving time;
    VERDICT r3 'what's wrong' #5). Cached per (sf_dir, vec_id, source
    stat signature): a mid-session regeneration of the embeddings
    table invalidates this cache the same way it invalidates the store
    handles — the serving path never scores against a vector that no
    longer exists in the data."""
    path = f"{sf_dir}/embeddings.parquet"
    key = f"{path}:{vec_id}:{_stat_signature(path)}"
    if key not in _QVEC_CACHE:
        import pyarrow.dataset as ds

        tbl = ds.dataset(path).to_table(
            filter=ds.field("vec_id") == vec_id, columns=["embedding"]
        )
        _QVEC_CACHE[key] = [float(x) for x in tbl.column("embedding")[0].as_py()]
    return _QVEC_CACHE[key]


def q_ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from semantic_pdf_search_engine_spark.operators.similarity import brute_cosine_topk

    emb = _emb(spark, sf_dir)
    return brute_cosine_topk(emb, _query_vec(sf_dir), k=10, exclude_ids=(0,))


def _ann_index(spark: SparkSession, sf_dir: str):
    """Build-once/probe-many: the materialized ANN store over the
    embeddings table (see `_store`) — queries against it are parquet
    PARTITION PRUNING on the bucket column, not full-corpus rescans."""
    from semantic_pdf_search_engine_spark.sources import ann_store

    _N_PLANES = 6  # 64 LSH bucket dirs: right-sized for the testdata
    # corpus (bucket occupancy ~n/64); at production corpus sizes raise
    # n_planes so buckets stay directory-sized

    # the plane count is part of the kind: a store built with another
    # count lives in its own directory and is never loaded here
    return _store(
        spark,
        f"ann{_N_PLANES}",
        sf_dir,
        "embeddings",
        lambda d: ann_store.build_ann_index(
            spark, _emb(spark, sf_dir), d, n_planes=_N_PLANES
        ),
        lambda d: ann_store.load_ann_index(spark, d),
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN over the MATERIALIZED LSH store (probe set →
    PartitionFilters on `_bucket`) — HARD oracle since r5 (was
    rows-only): the seeded-plane bucketing is deterministic, so
    `_ann_lsh_sql` replays it in DuckDB with the same plane constants.
    Recall vs the brute path and equality with the on-the-fly path are
    asserted in tests/test_similarity.py."""
    from semantic_pdf_search_engine_spark.sources.ann_store import lsh_topk

    return lsh_topk(_ann_index(spark, sf_dir), _query_vec(sf_dir), k=10)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the MATERIALIZED store (n_probe nearest centroids →
    PartitionFilters on `_ivf_bucket`) — HARD oracle since r5 (was
    rows-only): train_ivf_centroids now uses the kmeans_fit determinism
    posture (md5-ranked sample, first-k init, per-round 1e-6 centroid
    snap), so `_ann_ivf_sql` unrolls the full train→assign→probe→top-k
    pipeline in DuckDB; recall vs brute asserted in
    tests/test_similarity.py."""
    from semantic_pdf_search_engine_spark.sources.ann_store import ivf_topk

    return ivf_topk(_ann_index(spark, sf_dir), _query_vec(sf_dir), k=10)


def _knn_queries(emb: DataFrame) -> DataFrame:
    """The batch query set shared by knn_join, knn_join_ann, and the
    DuckDB twin's WHERE vec_id < 20 — one definition."""
    return emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join (query TABLE × corpus): exact top-10 neighbors
    for each of the first 20 vectors, per-batch matmul top-k + window —
    no Q×N shuffle (operators/similarity.knn_join_brute). Hard oracle:
    DuckDB cross join + ROW_NUMBER twin."""
    from semantic_pdf_search_engine_spark.operators.similarity import knn_join_brute

    emb = _emb(spark, sf_dir)
    return knn_join_brute(emb, _knn_queries(emb), k=10)


def q_knn_join_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN against the MATERIALIZED store via the DISTRIBUTED
    path (queries stay a DataFrame: probe-bucket assignment is an Arrow
    matmul, candidates come from a cogroup on the store's partition
    column, per-bucket blocked matmul top-k — NO driver collect of the
    query side). HARD oracle since r5 (was rows-only): bucket recall
    < 1 vs the exact join, but the seeded-plane probe set is
    deterministic, so `_knn_join_ann_sql` replays the probe-bucket
    candidate join in DuckDB. Equality with the broadcast path and
    recall vs the exact batch join asserted in
    tests/test_similarity.py."""
    from semantic_pdf_search_engine_spark.sources.ann_store import knn_join_lsh_dist

    emb = _emb(spark, sf_dir)
    return knn_join_lsh_dist(
        _ann_index(spark, sf_dir), _knn_queries(emb), k=10, multiprobe_bits=2
    )


def q_knn_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN against the materialized IVF table (distributed
    centroid probe assignment + cogroup on `_ivf_bucket`, n_probe=4).
    HARD oracle since r5 (was rows-only): bucket recall < 1 vs the
    exact join, but the md5-deterministic quantized IVF training is
    SQL-replayable (see q_ann_ivf), so `_knn_join_ivf_sql` unrolls
    train→probe-assign→bucket-join→top-k in DuckDB; recall vs the
    exact batch join asserted in tests/test_similarity.py."""
    from semantic_pdf_search_engine_spark.sources.ann_store import knn_join_ivf_dist

    emb = _emb(spark, sf_dir)
    return knn_join_ivf_dist(
        _ann_index(spark, sf_dir), _knn_queries(emb), k=10, n_probe=4
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bounded spine (DuckDB twin); the unbounded scale path is
    q_embedding_neardup_lsh below."""
    from semantic_pdf_search_engine_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    return embedding_neardup_pairs(_emb(spark, sf_dir), threshold=0.3, max_id=300)


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH near-dup pairs over the FULL embeddings table — no
    id bound, no cartesian join (candidates come from the band-bucket
    equality join), hot-bucket skew guard ON at its default
    (max_band_df=100k: a band key shared by more vectors is dropped
    from pair generation with a logged count — see
    operators/similarity.embedding_neardup_lsh_pairs). HARD oracle
    since r5 (was rows-only): approximate vs the all-pairs spine but
    deterministic, so `_embedding_neardup_lsh_sql` replays the banded
    bucketing (and the skew guard, as a HAVING) in DuckDB; recall
    ≥ 0.95 vs the exact spine at threshold 0.3 and the skew-guard
    behavior are asserted in tests/test_similarity.py."""
    from semantic_pdf_search_engine_spark.operators.similarity import (
        embedding_neardup_lsh_pairs,
    )

    return embedding_neardup_lsh_pairs(_emb(spark, sf_dir), threshold=0.3)


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring occurrence count (reference find_exact,
    /root/reference/src/fuzzy.rs:99-102)."""
    phrase = "filter window"
    t = F.col("text")
    n = (
        (F.length(t) - F.length(F.replace(t, F.lit(phrase), F.lit(""))))
        / F.lit(len(phrase))
    ).cast("int")
    return (
        _docs(spark, sf_dir)
        .select("doc_id", n.alias("n_occ"))
        .filter(F.col("n_occ") > 0)
    )


POSITIONAL_PHRASE = "stream table hash"


BOOL_MUST = ["filter", "window"]
BOOL_SHOULD = ["scan"]
BOOL_MUST_NOT = ["slow"]


def q_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean retrieval + BM25 rank (bm25.boolean_search): docs with
    ALL must terms and NO must_not terms, scored over must+should with
    GLOBAL stats — the conjunctive/negated query shape the disjunctive
    bm25_topk cannot express. Hard oracle (bm25 twin + IN/NOT IN
    candidate subqueries)."""
    from semantic_pdf_search_engine_spark.operators.bm25 import boolean_search

    return boolean_search(
        _corpus(spark, sf_dir),
        must=BOOL_MUST,
        should=BOOL_SHOULD,
        must_not=BOOL_MUST_NOT,
        k=DEFAULT_TOP_K,
    )


def q_phrase_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-adjacency phrase search via positional posting
    intersection (postings.phrase_occurrences) — the indexed-engine
    upgrade of `phrase_match`: only the phrase terms' postings shuffle,
    and the adjacency fold is pure Column exprs over per-doc
    term→positions maps (no substring scan, no UDF). Hard oracle."""
    from semantic_pdf_search_engine_spark.operators.postings import (
        phrase_occurrences,
    )

    return phrase_occurrences(_docs(spark, sf_dir), POSITIONAL_PHRASE)


def _pos_index(spark: SparkSession, sf_dir: str) -> str:
    """Path of the materialized positional posting index over documents
    (postings.build_positional_index), a disk store like the BM25/ANN
    stores (see `_store`)."""
    from semantic_pdf_search_engine_spark.operators.postings import (
        build_positional_index,
    )

    def build(d: str) -> str:
        build_positional_index(_docs(spark, sf_dir), os.path.join(d, "postings"))
        return os.path.join(d, "postings")

    return _store(
        spark, "pos", sf_dir, "documents", build,
        lambda d: os.path.join(d, "postings"),
    )


def q_phrase_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`phrase_positional` served from the MATERIALIZED positional
    index: the scan partition-prunes to the phrase terms' term_bucket
    directories (≤ |distinct terms| of 32) — the build-once/
    probe-many form. Same hard oracle as phrase_positional (identical
    output by construction, also pinned in tests/test_spans.py)."""
    from semantic_pdf_search_engine_spark.operators.postings import (
        phrase_occurrences,
    )

    return phrase_occurrences(_pos_index(spark, sf_dir), POSITIONAL_PHRASE)


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped agg (classical-relational coverage, SURVEY §2.13)."""
    li = _read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            round_half_up(F.sum("l_quantity"), 2).alias("sum_qty"),
            round_half_up(F.sum("l_extendedprice"), 2).alias("sum_base"),
            round_half_up(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("sum_disc"),
            F.count("*").cast("long").alias("n"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join + agg + top-k (join/agg coverage)."""
    orders = _read_parquet(spark, f"{sf_dir}/orders.parquet")
    cust = _read_parquet(spark, f"{sf_dir}/customer.parquet")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            round_half_up(F.sum("o_totalprice"), 2).alias("total"),
            F.count("*").cast("long").alias("n_orders"),
        )
        .orderBy(F.col("total").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


def q_events_daily_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function coverage + timestamp handling on the events table."""
    from pyspark.sql.window import Window

    ev = _read_parquet(spark, f"{sf_dir}/events.parquet")
    d = (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        ).agg(
            F.count("*").cast("long").alias("n"),
            round_half_up(F.sum("value"), 2).alias("total"),
        )
    )
    w = Window.partitionBy("day").orderBy(F.col("n").desc(), F.col("event_type"))
    return d.withColumn("rnk", F.row_number().over(w))


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time rollup: ROLLUP(day, event_type) — per-type,
    per-day and grand totals in one pass (GROUPING SETS; partial
    aggregation handles all levels map-side)."""
    ev = _read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        ev.select(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type", "value")
        .rollup("day", "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            round_half_up(F.sum("value"), 2).alias("total"),
        )
        .select(
            F.coalesce(F.col("day"), F.lit("ALL")).alias("day"),
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            "n",
            "total",
        )
    )


def q_events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event_type (Spark `percentile`
    == DuckDB `quantile_cont` semantics — a sort-based exact aggregate,
    NOT the approximate sketch)."""
    ev = _read_parquet(spark, f"{sf_dir}/events.parquet")
    return ev.groupBy("event_type").agg(
        round_half_up(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        round_half_up(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
        round_half_up(F.min("value"), 6).alias("vmin"),
        round_half_up(F.max("value"), 6).alias("vmax"),
    )


def _clicks_and_deduped_purchases(spark: SparkSession, sf_dir: str):
    """Shared input shape of the two as-of entries: clicks, plus
    purchases deduplicated to ONE row per (user_id, ts) (max event_id
    wins) — DuckDB ASOF's duplicate-timestamp pick is unspecified, so
    parity must not depend on the fixture having unique timestamps.
    ONE definition so the base and skew-safe entries cannot drift."""
    from pyspark.sql.window import Window

    ev = _read_parquet(spark, f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    wd = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "value")
        .withColumn("_rn", F.row_number().over(wd))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return clicks, purchases


def _asof_project(j: DataFrame) -> DataFrame:
    """Null-free output projection shared by both as-of entries
    (no-match sentinels -1 / 0.0 keep the hash compare null-free)."""
    return j.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("r_event_id"), F.lit(-1)).cast("long").alias("p_event_id"),
        round_half_up(F.coalesce(F.col("r_value"), F.lit(0.0)), 6).alias("p_value"),
    )


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed as-of join: every click matched to the user's latest
    prior-or-equal purchase (operators/temporal.asof_join — union-tag +
    window, one shuffle, no range fan-out). Hard oracle: DuckDB native
    ASOF LEFT JOIN over the deduplicated purchase side (see
    _clicks_and_deduped_purchases)."""
    from semantic_pdf_search_engine_spark.operators.temporal import asof_join

    clicks, purchases = _clicks_and_deduped_purchases(spark, sf_dir)
    j = asof_join(clicks, purchases, by=("user_id",), right_cols=("event_id", "value"))
    return _asof_project(j)


def q_events_asof_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKEW-SAFE as-of join (operators/temporal.asof_join_bucketed:
    per-(key, time-bucket) windows + aggregated carry-in seed — a hot
    key is sorted by many tasks, not one) on the SAME input/projection
    helpers as events_asof. The bucketed plan is EXACT, so it shares
    the DuckDB ASOF hard oracle — the driver itself verifies the skew
    variant's equality, not just pytest."""
    from semantic_pdf_search_engine_spark.operators.temporal import asof_join_bucketed

    clicks, purchases = _clicks_and_deduped_purchases(spark, sf_dir)
    j = asof_join_bucketed(
        clicks, purchases, by=("user_id",), right_cols=("event_id", "value"),
        bucket_sec=86400,
    )
    return _asof_project(j)


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: clicks paired with same-user purchases within ±5
    minutes — binned equality join (no per-key cartesian), exact |dt|
    filter; hard oracle = the plain inequality join in DuckDB."""
    from semantic_pdf_search_engine_spark.operators.temporal import range_join_binned

    ev = _read_parquet(spark, f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    j = range_join_binned(clicks, purchases, window_sec=300)
    return j.select(
        "event_id",
        "user_id",
        F.col("r_event_id").alias("p_event_id"),
        round_half_up(F.col("r_value"), 6).alias("p_value"),
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (operators/temporal.sessionize):
    per-user sessions at a 30-minute gap, 0-based session ids and
    in-session sequence — exact integer output, hard DuckDB oracle
    (lag + windowed sum twin)."""
    from semantic_pdf_search_engine_spark.operators.temporal import sessionize

    ev = _read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    return sessionize(ev, gap_sec=1800).select(
        "event_id", "user_id", "session_id", "session_seq"
    )


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test assignment by hashing the DOC ID
    (operators/traindata.assign_split — md5-bucket thresholds, not
    rand(): the split survives reruns, engines, partitionings and
    corpus growth). Pure Column expr, hard oracle."""
    from semantic_pdf_search_engine_spark.operators.traindata import assign_split

    return assign_split(_docs(spark, sf_dir)).select("doc_id", "split")


PMI_MIN_COUNT = 5
KEYNESS_LANG = "en"


def q_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-likelihood keyness (Dunning G²) of English-document terms
    vs the rest of the corpus (traindata.keyness_terms) — "which terms
    characterize this slice"; one conditional-sum groupBy over the
    tagged token stream, totals broadcast, rank window over min_count
    survivors. Hard oracle (pinned ln-argument shape)."""
    from semantic_pdf_search_engine_spark.operators.traindata import keyness_terms

    return keyness_terms(
        _docs(spark, sf_dir), F.col("lang") == KEYNESS_LANG, min_count=PMI_MIN_COUNT
    )


def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-pair PMI collocations (traindata.pmi_pairs) — the
    association-strength refinement of bpe_merge_pairs; min_count
    floor before the vocab²-bounded rank window, ln arguments are
    ratios of exact integer products in a pinned association order.
    Hard oracle."""
    from semantic_pdf_search_engine_spark.operators.traindata import pmi_pairs

    return pmi_pairs(_docs(spark, sf_dir), min_count=PMI_MIN_COUNT)


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction (traindata.
    tfidf_top_terms): top-5 terms per doc by tf·ln(N/df), per-doc rank
    window, pinned weight shape. Hard oracle."""
    from semantic_pdf_search_engine_spark.operators.traindata import (
        tfidf_top_terms,
    )

    return tfidf_top_terms(_docs(spark, sf_dir))


def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent token-pair counts ranked by frequency
    (traindata.bpe_merge_pairs) — one BPE merge iteration's candidate
    table, deterministic rank (count DESC, pair ASC), min_count floor
    applied before the vocab²-bounded rank window. Hard oracle."""
    from semantic_pdf_search_engine_spark.operators.traindata import (
        bpe_merge_pairs,
    )

    return bpe_merge_pairs(_docs(spark, sf_dir))


def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary under the pinned tokenizer: (term, df,
    tf_total, vocab_id) ranked by collection frequency with a min_df=2
    floor (operators/traindata.build_vocab) — the id-assignment step in
    front of count-based tokenizer training. Hard oracle."""
    from semantic_pdf_search_engine_spark.operators.traindata import build_vocab

    return build_vocab(_docs(spark, sf_dir), min_df=2)


SHARD_TOKENS = 5000


def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-then-split sequence packing (traindata.shard_plan):
    each doc's global token start offset → (shard_id, shard_offset) at
    5k tokens/shard. The Spark side runs the docids-style two-phase
    prefix sum (range partitions + driver offsets — NO single-partition
    window sort); the oracle is the plain window-sum spec, so the
    driver verifies the scale-shaped plan against the textbook
    formulation. Hard oracle."""
    from semantic_pdf_search_engine_spark.operators.traindata import shard_plan

    return shard_plan(_docs(spark, sf_dir), tokens_per_shard=SHARD_TOKENS)


def q_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination check (traindata.split_contamination):
    per non-train doc, the fraction of its distinct 3-gram shingles
    that occur anywhere in the train split. Join output bounded by
    |eval shingles| (train side distinct — no hot-shingle fanout).
    Hard oracle."""
    from semantic_pdf_search_engine_spark.operators.traindata import (
        split_contamination,
    )

    return split_contamination(_docs(spark, sf_dir))


STRATIFIED_N = 10


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size per-language sample
    (traindata.stratified_sample): the 10 smallest salted md5 hashes
    per lang, exact ranks — KMV-shaped map-side bottom-k feeding a
    bounded rank window; the oracle is the textbook ROW_NUMBER spec.
    Hard oracle."""
    from semantic_pdf_search_engine_spark.operators.traindata import (
        stratified_sample,
    )

    return stratified_sample(_docs(spark, sf_dir), n_per=STRATIFIED_N)


TF_COSINE_MAX_ID = 200
TF_COSINE_THRESHOLD = 0.9


def q_tf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words cosine near-dup pairs over integer tf vectors
    (dedup.tf_cosine_pairs) — sparse lexical similarity with
    bit-identical cross-engine sims (exact int64 sums; only
    correctly-rounded float ops). Bounded id range like the other
    pair demos (tiny fixture vocabulary makes candidate generation
    quadratic by construction). Hard oracle."""
    from semantic_pdf_search_engine_spark.operators.dedup import tf_cosine_pairs

    return tf_cosine_pairs(
        _docs(spark, sf_dir),
        threshold=TF_COSINE_THRESHOLD,
        max_id=TF_COSINE_MAX_ID,
    )


def q_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-passage exposure (dedup.
    dup_passage_stats): per doc, the fraction of its 5-token windows
    whose fingerprint occurs in >= 2 distinct documents — the
    document-level signal of exact substring dedup (Lee et al. 2022).
    Linear shuffle pipeline over md5 window fingerprints; per-doc
    totals come from the token count, not a second windows pass. Hard
    oracle."""
    from semantic_pdf_search_engine_spark.operators.dedup import dup_passage_stats

    return dup_passage_stats(_docs(spark, sf_dir))


def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (dedup.repetition_metrics) in
    the Gopher/MassiveText shape: per (doc, n) for n in {2, 3, 5}, the
    top-n-gram occupancy and the duplicate-occurrence fraction. One
    Arrow gram pass + two partial-agg shuffles. Hard oracle."""
    from semantic_pdf_search_engine_spark.operators.dedup import repetition_metrics

    return repetition_metrics(_docs(spark, sf_dir))


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language Bernoulli sampling with
    Horvitz-Thompson reweighting (traindata.sample_corpus) — the
    data-mixing step (keep all en, half de/es, a quarter fr/zh).
    Salted-hash thresholds, not rand(): reproducible and stable under
    appends; independent of the train/val/test coin. Pure Column expr
    (filter + projection push into the scan). Hard oracle."""
    from semantic_pdf_search_engine_spark.operators.traindata import sample_corpus

    return sample_corpus(_docs(spark, sf_dir))


KMV_K = 64


def q_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count SKETCH with a deterministic twin: k-minimum-values
    over md5(user_id). The k-th smallest 32-bit hash prefix v_k gives
    estimate = (k-1)·2^32/v_k (classic KMV); below k distinct members
    the sketch is exact. md5 is shared with DuckDB, so unlike HLL
    sketches the ESTIMATE itself is byte-reproducible → hard oracle.

    Scale shape — genuine bottom-k, never a per-key global sort:
    phase 1 folds each partition's Arrow batches into the k smallest
    hashes per key (map-side — survivors are ≤ k×n_partitions per key,
    bounded state per task); phase 2 aggregates those survivors (the
    global k smallest each survive their own partition's cut, so the
    result is exact). `n_true` is a VERIFICATION column for the demo
    (an exact distinct count a production sketch would not compute)."""
    ev = _read_parquet(spark, f"{sf_dir}/events.parquet")
    h = F.md5(F.col("user_id").cast("string").cast("binary"))
    v = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    du = (
        ev.select("event_type", "user_id")
        .distinct()
        .select("event_type", v.alias("v"))
    )

    def bottom_k(batches):
        import pandas as pd

        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            both = pdf if acc is None else pd.concat([acc, pdf], ignore_index=True)
            acc = (
                both.sort_values("v", kind="mergesort")
                .groupby("event_type", sort=False, dropna=False)
                .head(KMV_K)
            )
        if acc is not None and len(acc):
            yield acc

    partial = du.mapInPandas(bottom_k, schema="event_type string, v long")
    sketch = partial.groupBy("event_type").agg(
        F.slice(F.sort_array(F.collect_list("v")), 1, KMV_K).alias("vs")
    )
    stats = du.groupBy("event_type").agg(F.count("*").cast("long").alias("n_true"))
    # LEFT join: a NULL event_type group has no sketch row (SQL equality
    # never matches NULL) but must still appear with the exact fallback
    return stats.join(sketch, "event_type", "left").select(
        "event_type",
        "n_true",
        round_half_up(
            F.when(
                F.size("vs") >= KMV_K,
                F.lit(float(KMV_K - 1))
                * F.lit(4294967296.0)
                / F.element_at("vs", KMV_K),
            ).otherwise(F.col("n_true").cast("double")),
            6,
        ).alias("kmv_estimate"),
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload plumbing: bytes → Arrow UDF → typed metadata
    (decode step stubbed; see operators/multimodal.py)."""
    from semantic_pdf_search_engine_spark.operators.multimodal import (
        attach_payload,
        extract_media_meta,
    )

    return extract_media_meta(attach_payload(_docs(spark, sf_dir)))


SPAN_PHRASE = "filter window"


def q_exact_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The span pipeline's exact-substring short-circuit
    (/root/reference/src/fuzzy.rs:24-26) as a HARD oracle row: for
    every doc containing the phrase, the occurrence count and the
    first/last 0-based offsets into the lowered turn text —
    SQL-expressible (replace-count + strpos + reversed strpos), unlike
    the Jaro-Winkler fallback which stays rows-only in fuzzy_spans.
    Offsets agree with spans.fuzzy_find's exact path (unit-tested)."""
    p = SPAN_PHRASE
    plen = len(p)
    lt = F.lower(F.col("text"))
    docs = _docs(spark, sf_dir).select("doc_id", lt.alias("lt"))
    n = (
        (F.length("lt") - F.length(F.replace(F.col("lt"), F.lit(p), F.lit(""))))
        / F.lit(plen)
    ).cast("int")
    pos = F.instr(F.col("lt"), p)
    rpos = F.instr(F.reverse(F.col("lt")), p[::-1])
    first = (pos - 1).cast("int")
    last = (F.length("lt") - rpos + 1 - plen).cast("int")
    return docs.select(
        "doc_id",
        n.alias("n_matches"),
        first.alias("first_off"),
        last.alias("last_off"),
    ).filter(F.col("n_matches") > 0)


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform temporal frame sampling over the media metadata (up to 4
    evenly spaced frame indices per item) — plans the decode set without
    touching payload bytes; exact integer arithmetic, hard oracle."""
    from semantic_pdf_search_engine_spark.operators.multimodal import (
        attach_payload,
        extract_media_meta,
        sample_frame_indices,
    )

    meta = extract_media_meta(attach_payload(_docs(spark, sf_dir)))
    return sample_frame_indices(meta, k=4)


def q_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize planning over media metadata (long side
    → 224, never upscaled) — payload untouched; exact integer/round
    arithmetic, hard oracle."""
    from semantic_pdf_search_engine_spark.operators.multimodal import (
        attach_payload,
        extract_media_meta,
        resize_plan,
    )

    meta = extract_media_meta(attach_payload(_docs(spark, sf_dir)))
    return resize_plan(meta, max_side=224)


def _doc_index(spark: SparkSession, sf_dir: str):
    """Prebuilt COMPRESSED inverted index over the documents table, a
    disk store (see `_store`): serving-path queries read
    partition-pruned posting blocks instead of re-running the 4-scan
    relational BM25 spec per query. Documents map to the transcript
    shape via conv_id = zero-padded doc_id (one turn per doc), so
    assigned docIDs follow doc_id order; the original id travels as
    `orig_doc_id` in the docs table.

    The returned handle is prepare()'d (postings + docfreq pinned in
    executor memory — query-serving posture) and memoized per (session,
    sf_dir), so serving-path entries in one session share ONE handle
    instead of re-opening the store and re-reading parquet per call
    (part of the fuzzy_spans regression fix, VERDICT r3 next #3)."""
    from semantic_pdf_search_engine_spark.sources import index_store

    def build(d: str):
        transcripts = _docs(spark, sf_dir).select(
            F.format_string("%012d", F.col("doc_id")).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.col("doc_id").alias("orig_doc_id"),
            "text",
        )
        return index_store.build_index(spark, transcripts, d, resume=False).prepare()

    return _store(
        spark, "docidx", sf_dir, "documents", build,
        lambda d: index_store.load_index(spark, d).prepare(),
    )


def q_fuzzy_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-top-k span refinement (reference fuzzy.rs pipeline) over the
    flagship query's BM25 winners — HARD oracle since r5 (was the last
    rows-only entry): the Jaro-Winkler pipeline IS SQL-expressible —
    `_fuzzy_spans_sql` replays it bit-for-bit in DuckDB (bitmask-fold
    Jaro, windowed early-exit, recursive-CTE greedy dedups, regexp
    sentence snap; see the generator's comment block for the three
    DuckDB v1.0 list_reduce defects worked around). Also unit-tested
    against the reference's artifact vectors in tests/test_spans.py.
    Winners come from the PREBUILT
    compressed index (plans/query.score_topk over partition-pruned
    posting blocks) instead of re-running the 4-scan relational BM25
    spec — identical winner set on this corpus (the index tokenizes
    normalized text; normalization is the identity on the artifact-free
    fixture — equality with the relational path pinned in
    tests/test_spans.py). Winner ids (k rows) are then pushed into the
    docs scan as an In filter, the same k-bounded payload-fetch shape
    as plans/query.search.

    Serving shape (r4, closing the r3 regression): ONE driver collect —
    the ≤k winner rows are broadcast-joined to the index docs table
    IN-PLAN to carry `orig_doc_id` out with the scores (the docs scan
    prunes to two int columns), instead of the former
    collect-winners → collect-orig-ids double round-trip; the index
    handle itself arrives prepare()'d and memoized from _doc_index."""
    from semantic_pdf_search_engine_spark.operators.spans import refine_spans
    from semantic_pdf_search_engine_spark.plans.query import score_topk

    idx = _doc_index(spark, sf_dir)
    winners = score_topk(idx, FLAGSHIP_QUERY, DEFAULT_TOP_K)
    orig_ids = [
        r["orig_doc_id"]
        for r in idx.docs.join(F.broadcast(winners), "doc_id")
        .select("orig_doc_id")
        .collect()
    ]
    hits = _docs(spark, sf_dir).select("doc_id", "text").filter(
        F.col("doc_id").isin(orig_ids)
    )
    refined = refine_spans(hits, "filter window")
    return refined.select(
        "doc_id",
        F.size("matches").alias("n_matches"),
        round_half_up(
            F.coalesce(F.array_max(F.col("matches.score")), F.lit(0.0)), 6
        ).alias("best_score"),
    )


# BPE-ish tokenization regex: letter runs, 1-3 digit groups, single
# punctuation — deliberately RE2-safe (no lookarounds) so Java (Spark)
# and RE2 (DuckDB) agree byte-for-byte.
BPE_RE = r"[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]"


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish subword pieces."""
    from semantic_pdf_search_engine_spark.functions.quality import word_count

    t = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        word_count(t).cast("int").alias("ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(BPE_RE), 0)).cast("int").alias(
            "bpe_tokens"
        ),
    )


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: Σ position·tokhash over the
    pinned token stream (tokhash = first 4 md5 bytes). Exact int64
    arithmetic — identical in Spark and DuckDB."""
    from semantic_pdf_search_engine_spark.functions.tokenize import tokens_expr

    toks = tokens_expr(F.col("text"))
    exploded = _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(toks).alias("pos", "tok")
    )
    tokhash = F.conv(
        F.substring(F.md5(F.col("tok").cast("binary")), 1, 8), 16, 10
    ).cast("long")
    return exploded.groupBy("doc_id").agg(
        F.sum((F.col("pos") + F.lit(1)) * tokhash).alias("fp")
    )


# ORDERING CONTRACT (see ROTATION.md): the driver's CORRECTNESS gate
# checks only the FIRST 50 entries of this dict, so order is coverage
# policy, not style. Round 4 front-loads (a) the NEW r4 query
# (dedup_clusters_star, position 1 per invariant #1), (b) fuzzy_spans,
# whose serving implementation CHANGED this round (invariant #4 —
# changed code gets a driver row in the round it changes), (c) the 12
# operators that had never received a driver-green row (appended past
# position 50 in r3), and (d) the hard-oracle stable set (positions
# 15-50). The 13 entries rotated out to positions 51-63 are 7
# rows-only (no-oracle-by-design) entries plus 6 hard-oracle entries
# each green in the immediately preceding round (multimodal_meta,
# frame_sample, resize_plan, exact_spans, pmi_pairs, token_stats) —
# they rotate back into the window in round 5 per ROTATION.md.

# -- round-5 additions: regex retrieval, term vectors, mixture/LM/
#    classifier training-data ops --------------------------------------

# matches exactly {scan, small, spark} in the fixture vocabulary —
# a multi-term expansion distinct from the prefix wildcard's set
REGEX_PATTERN = "s[a-z]*a[a-z]*"


def q_regex_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-term BM25 (Lucene RegexpQuery): every vocab term fully
    matching REGEX_PATTERN is a disjunct with its own idf; expansion is
    an rlike filter over docfreq (vocab-sized), zero extra corpus
    passes. Hard oracle (regexp_full_match-filtered dfreq)."""
    return bm25.regex_search(_corpus(spark, sf_dir), REGEX_PATTERN, DEFAULT_TOP_K)


def q_term_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document term vectors for the flagship query's top-k winners,
    served from the PREBUILT index's materialized tf table (the
    Elasticsearch _termvectors surface): winners come off the pruned
    posting-block WAND path, their ≤k ids broadcast into the tf scan —
    no re-tokenization, no corpus scan. Hard oracle (tf CTE joined to
    the BM25 winner subquery)."""
    from semantic_pdf_search_engine_spark.plans.query import score_topk

    idx = _doc_index(spark, sf_dir)
    winners = score_topk(idx, FLAGSHIP_QUERY, DEFAULT_TOP_K).select("doc_id")
    orig = idx.docs.join(F.broadcast(winners), "doc_id").select(
        "doc_id", "orig_doc_id"
    )
    return idx.tf.join(F.broadcast(orig), "doc_id").select(
        F.col("orig_doc_id").alias("doc_id"),
        "term",
        F.col("tf").cast("int").alias("tf"),
    )


MIXTURE_ALPHA = 0.7


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source-mixing weights (mT5/XLM-R exponentiated
    sampling, alpha=0.7) — the sampling-rate step of a multi-source
    training pipeline. One groupBy + a 1-row broadcast; hard oracle."""
    from semantic_pdf_search_engine_spark.operators.traindata import mixture_weights

    return mixture_weights(_docs(spark, sf_dir), alpha=MIXTURE_ALPHA)


def q_lm_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-quality bucketing: per-doc cross-entropy under the
    corpus unigram MLE, exact equal-count tertiles via the two-phase
    prefix-sum rank (no single-partition sort). Hard oracle
    (row_number twin with identical floor arithmetic)."""
    from semantic_pdf_search_engine_spark.operators.traindata import (
        lm_logloss_buckets,
    )

    return lm_logloss_buckets(_docs(spark, sf_dir), n_buckets=3)


CLF_ITERS = 5
CLF_LR = 1.0


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed full-batch logistic regression distilling the
    quality_filter rule cascade into 4 structural features — the
    GPT-3/FineWeb quality-classifier step, trained as pure DataFrame
    aggregates (one bounded |beta|-number collect per iteration).
    Hard oracle: the SAME gradient-descent arithmetic unrolled as
    5 chained CTEs in DuckDB."""
    from semantic_pdf_search_engine_spark.functions.quality import quality_verdict
    from semantic_pdf_search_engine_spark.operators.traindata import (
        quality_classifier,
    )

    label = (
        quality_verdict(
            F.col("text"),
            min_words=QF_MIN_WORDS,
            min_alpha=QF_MIN_ALPHA,
            min_quality=QF_MIN_QUALITY,
        )
        == "pass"
    ).cast("int")
    return quality_classifier(
        _docs(spark, sf_dir), label, iters=CLF_ITERS, lr=CLF_LR
    )










BUDGET_TOKENS = 15_000


def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained corpus selection (traindata.select_by_budget):
    greedily keep the highest-quality_score docs until BUDGET_TOKENS is
    spent — the "you can afford N tokens, take the best N" step of
    budgeted pretraining. Global greedy order via shard_plan's
    two-phase prefix sum (no single-partition sort). Hard oracle (the
    textbook running-SUM window spec, exactly the equality the driver
    already checks for shard_plan)."""
    from semantic_pdf_search_engine_spark.functions.quality import quality_score
    from semantic_pdf_search_engine_spark.operators.traindata import (
        select_by_budget,
    )

    return select_by_budget(
        _docs(spark, sf_dir), BUDGET_TOKENS, quality_score(F.col("text"))
    )


HIST_WIDTH = 200


def q_search_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric histogram over the flagship query's candidate set
    (Elasticsearch histogram aggregation on hits): n_chars bucketed at
    width 200, per-bin hit count + best (already-rounded) score — the
    size-distribution sidebar next to search_facets' categorical one.
    Hard oracle (floor-division bin twin)."""
    from semantic_pdf_search_engine_spark.operators.bm25 import search_histogram

    return search_histogram(
        _corpus(spark, sf_dir), FLAGSHIP_QUERY, "n_chars", HIST_WIDTH
    )


BOOL_MSM_SHOULD = ["filter", "scan", "window"]
BOOL_MSM = 2


def q_boolean_msm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quorum boolean retrieval (the Elasticsearch minimum_should_match
    knob): docs matching at least 2 of 3 should terms, none negated,
    BM25-ranked over the should set with global stats — the
    "match-most-of-these" shape between pure AND and pure OR. Hard
    oracle (HAVING COUNT(*) >= m candidate subquery)."""
    from semantic_pdf_search_engine_spark.operators.bm25 import boolean_search

    return boolean_search(
        _corpus(spark, sf_dir),
        must=[],
        should=BOOL_MSM_SHOULD,
        must_not=BOOL_MUST_NOT,
        min_should_match=BOOL_MSM,
    )


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup decision (dedup.dedup_keep_best): the
    simhash near-dup clusters of dedup_clusters, but each cluster keeps
    its highest-quality_score member (ties to lowest id) and every
    duplicate carries canonical_id for reference remapping. Hard
    oracle: the dedup_clusters recursive-closure SQL reused verbatim as
    the cluster CTE, then the same rank/first windows over the pinned
    quality score."""
    from semantic_pdf_search_engine_spark.functions.quality import quality_score
    from semantic_pdf_search_engine_spark.operators.dedup import (
        dedup_keep_best,
        simhash_neardup_pairs,
    )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < _PAIR_BOUND)
    return dedup_keep_best(
        docs, simhash_neardup_pairs(docs), quality_score(F.col("text"))
    )


SIGTERMS_K = 3


def q_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source significant terms (Elasticsearch significant_terms /
    grouped Dunning-G² keyness, traindata.significant_terms): top-k
    characterizing terms of EVERY source vs the rest in one corpus
    pass. Hard oracle (same pinned integer-derived G² arithmetic as
    keyness, grouped)."""
    from semantic_pdf_search_engine_spark.operators.traindata import (
        significant_terms,
    )

    return significant_terms(
        _docs(spark, sf_dir), "source", top_k=SIGTERMS_K, min_count=PMI_MIN_COUNT
    )


KMEANS_K = 4
KMEANS_ITERS = 3
KMEANS_QDEC = 6  # centroid quantization decimals (see kmeans_fit docstring)


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus distributed k-means over the embeddings table
    (SemDeDup-style corpus organization; also the 100 TB path for IVF
    coarse-quantizer training): iters scans, driver state O(k*d + P*k).

    HARD oracle since r5 (was rows-only): with md5-ranked deterministic
    init and per-iteration centroid quantization to a 1e-6 grid
    (floor(x*1e6+0.5)/1e6 — the identical IEEE op sequence in numpy and
    DuckDB), the float-sum partition-order variance (~1e-15 relative)
    is absorbed by the grid. The (vec_id, cluster) assignment equality
    vs the unrolled-Lloyd's SQL twin is verified EMPIRICALLY at
    sf0.001/0.01/0.1 (the gate's exact inputs); the snap pins
    centroids, not the assignment dot products, so a hypothetical
    top-2 cosine tie within ~1e-15 could still differ cross-engine —
    none exists in the fixture corpus (see kmeans_fit's docstring for
    the full scope statement). Membership determinism on separated
    data additionally pinned in tests/test_similarity.py (blob
    recovery + partition invariance)."""
    from semantic_pdf_search_engine_spark.operators.similarity import (
        assign_clusters,
        kmeans_fit,
    )

    emb = _read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    c = kmeans_fit(
        emb, k=KMEANS_K, iters=KMEANS_ITERS, init_rank="md5", quantize=KMEANS_QDEC
    )
    return assign_clusters(emb, c).select(
        "vec_id", F.col("cluster").cast("int").alias("cluster")
    )


# alphabetical field order is pinned (operator sorts field names):
# body carries weight 1.0, title 2.0 — a title hit counts double.
BM25F_WEIGHTS = {"title": 2.0, "body": 1.0}


def q_bm25f_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fielded BM25F retrieval (title = through the first period, body =
    the rest — the deterministic field split both engines compute from
    `text`): weighted tf/dl combined BEFORE one saturation, idf from
    any-field document frequency. ONE corpus scan (per-field token
    structs exploded together). Hard oracle (same integer per-field
    counts and weighted arithmetic)."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(
            "CASE WHEN locate('.', text) > 0 "
            "THEN substring(text, 1, locate('.', text)) ELSE text END"
        ).alias("title"),
        F.expr(
            "CASE WHEN locate('.', text) > 0 "
            "THEN substring(text, locate('.', text) + 1) ELSE '' END"
        ).alias("body"),
    )
    return bm25.bm25f_topk(d, FLAGSHIP_QUERY, BM25F_WEIGHTS, DEFAULT_TOP_K)


TREND_K = 3


def q_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day top-k RISING event types — the batch twin of the
    streaming trending-terms monitor (streaming/windows.trending_terms
    ranks the SAME columns over the watermarked sink; here the counts
    come from a batch groupBy over events, the day-string convention of
    events_daily_rank). rising = n / (1 + prev-day n), add-one
    smoothed. Hard oracle (LAG + ROW_NUMBER twin)."""
    from semantic_pdf_search_engine_spark.streaming.windows import trending_terms

    ev = _read_parquet(spark, f"{sf_dir}/events.parquet")
    counts = (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("window_start"),
            F.col("event_type").alias("term"),
        )
        .agg(F.count("*").cast("long").alias("n"))
        .withColumn("window_end", F.col("window_start"))
    )
    prev_day = F.date_format(
        F.date_sub(F.to_date("window_start"), 1), "yyyy-MM-dd"
    )
    return trending_terms(counts, k=TREND_K, prev_window_expr=prev_day).drop(
        "window_end"
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # ================= ROUND-6 WINDOW (positions 1-50) =================
    # The driver's correctness gate records only the FIRST 50 entries
    # (ROTATION.md). Round 6 is the optimization round: per invariant
    # #4 every query whose implementation changed this round sits in
    # the window (positions 1-35), fuzzy_spans leads (the one query
    # that has never had a hash-class driver row — VERDICT r5 next #2),
    # and the remaining 15 slots go to entries whose last driver row
    # is r4 (they were outside the r5 window).
    "fuzzy_spans": q_fuzzy_spans,
    "dedup_clusters": q_dedup_clusters,
    "dedup_clusters_star": q_dedup_clusters_star,
    "dedup_keep_best": q_dedup_keep_best,
    "simhash": q_simhash,
    "simhash_neardup": q_simhash_neardup,
    "repetition_metrics": q_repetition_metrics,
    "dup_passages": q_dup_passages,
    "embedding_neardup": q_embedding_neardup,
    "quality_filter": q_quality_filter,
    "lang_quality": q_lang_quality,
    "lm_logloss": q_lm_logloss,
    "bm25_topk": q_bm25_topk,
    "bm25_scoped": q_bm25_scoped,
    "boolean_search": q_boolean_search,
    "boolean_msm": q_boolean_msm,
    "search_collapse": q_search_collapse,
    "search_facets": q_search_facets,
    "search_histogram": q_search_histogram,
    "search_page2": q_search_page2,
    "term_snippets": q_term_snippets,
    "best_passage": q_best_passage,
    "hybrid_rrf": q_hybrid_rrf,
    "more_like_this": q_more_like_this,
    "prf_expand": q_prf_expand,
    "prf_search": q_prf_search,
    "fuzzy_search": q_fuzzy_search,
    "synonym_search": q_synonym_search,
    "wildcard_search": q_wildcard_search,
    "regex_search": q_regex_search,
    "term_suggest_indexed": q_term_suggest_indexed,
    "index_stats": q_index_stats,
    "more_like_this_indexed": q_more_like_this_indexed,
    "term_vectors": q_term_vectors,
    "quality_classifier": q_quality_classifier,
    "percolate": q_percolate,
    "near_search": q_near_search,
    "near_search_indexed": q_near_search_indexed,
    "phrase_slop": q_phrase_slop,
    "phrase_slop_indexed": q_phrase_slop_indexed,
    "term_suggest": q_term_suggest,
    "term_correct": q_term_correct,
    "budget_select": q_budget_select,
    "significant_terms": q_significant_terms,
    "bm25f_search": q_bm25f_search,
    "trending_terms": q_trending_terms,
    "mixture_weights": q_mixture_weights,
    "keyness": q_keyness,
    "tfidf_top_terms": q_tfidf_top_terms,
    "shard_plan": q_shard_plan,
    # ============== ROTATED OUT OF THE R6 WINDOW (51-98) ===============
    # 41 entries driver-green in CORRECTNESS_r05 (invariant #2) + 7
    # entries green in r4 and re-verified against their oracles by the
    # r6 session's strict sweeps (see ROTATION.md round-6 note).
    "tokenize_tf": q_tokenize_tf,
    "doc_length": q_doc_length,
    "docfreq": q_docfreq,
    "corpus_stats": q_corpus_stats,
    "valid_chunks": q_valid_chunks,
    "chunk_turns": q_chunk_turns,
    "remove_headers": q_remove_headers,
    "clean_text": q_clean_text,
    "exact_dedup": q_exact_dedup,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_lsh": q_minhash_lsh,
    "ann_brute": q_ann_brute,
    "knn_join": q_knn_join,
    "phrase_match": q_phrase_match,
    "phrase_positional": q_phrase_positional,
    "phrase_indexed": q_phrase_indexed,
    "pricing_summary": q_pricing_summary,
    "top_customers": q_top_customers,
    "events_daily_rank": q_events_daily_rank,
    "events_rollup": q_events_rollup,
    "events_asof": q_events_asof,
    "events_asof_skew": q_events_asof_skew,
    "events_sessionize": q_events_sessionize,
    "train_split": q_train_split,
    "vocab_build": q_vocab_build,
    "bpe_merge_pairs": q_bpe_merge_pairs,
    "pmi_pairs": q_pmi_pairs,
    "token_stats": q_token_stats,
    "smart_chunks": q_smart_chunks,
    "minhash_lsh_prod": q_minhash_lsh_prod,
    "knn_join_ann": q_knn_join_ann,
    "knn_join_ivf": q_knn_join_ivf,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "embedding_neardup_lsh": q_embedding_neardup_lsh,
    "multimodal_meta": q_multimodal_meta,
    "frame_sample": q_frame_sample,
    "resize_plan": q_resize_plan,
    "exact_spans": q_exact_spans,
    "kmeans_clusters": q_kmeans_clusters,
    "rolling_fingerprint": q_rolling_fingerprint,
    "split_contamination": q_split_contamination,
    "tf_cosine": q_tf_cosine,
    "sample_weighted": q_sample_weighted,
    "stratified_sample": q_stratified_sample,
    "events_range_join": q_events_range_join,
    "distinct_kmv": q_distinct_kmv,
    "events_percentiles": q_events_percentiles,
}

from semantic_pdf_search_engine_spark.functions.tokenize import tokenize_py

_FLAGSHIP_TERMS = sorted(set(tokenize_py(FLAGSHIP_QUERY)))

ORACLE_SQL: dict[str, str] = {
    "tokenize_tf": f"""
WITH {_TOKS_CTE}
SELECT doc_id, term, CAST(COUNT(*) AS INT) AS tf FROM toks GROUP BY doc_id, term
""",
    "doc_length": f"""
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                            x -> x <> '')) AS INT) AS dl
FROM documents
""",
    "docfreq": f"""
WITH {_TOKS_CTE}
SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY term
""",
    "corpus_stats": f"""
WITH {_DL_SQL}
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, floor((AVG(dl)) * 1000000.0 + 0.5) / 1000000.0 AS avgdl
FROM dl
""",
    "bm25_topk": _bm25_sql(_FLAGSHIP_TERMS, DEFAULT_TOP_K),
    "exact_spans": f"""
WITH d AS (SELECT doc_id, lower(text) AS lt FROM documents)
SELECT doc_id,
       CAST((length(lt) - length(replace(lt, '{SPAN_PHRASE}', ''))) / {len(SPAN_PHRASE)} AS INT) AS n_matches,
       CAST(strpos(lt, '{SPAN_PHRASE}') - 1 AS INT) AS first_off,
       CAST(length(lt) - strpos(reverse(lt), reverse('{SPAN_PHRASE}')) + 1 - {len(SPAN_PHRASE)} AS INT) AS last_off
FROM d
WHERE (length(lt) - length(replace(lt, '{SPAN_PHRASE}', ''))) / {len(SPAN_PHRASE)} >= 1
""",
    "bm25_scoped": _bm25_sql(
        _FLAGSHIP_TERMS, DEFAULT_TOP_K, scope_pred=f"source = '{SCOPED_SOURCE}'"
    ),
    "boolean_search": _bm25_sql(
        sorted({t for w in BOOL_MUST + BOOL_SHOULD for t in tokenize_py(w)}),
        DEFAULT_TOP_K,
        scope_pred=(
            "doc_id IN (SELECT doc_id FROM tf WHERE term IN ("
            + ", ".join(
                f"'{t}'"
                for t in sorted({t for w in BOOL_MUST for t in tokenize_py(w)})
            )
            + f") GROUP BY doc_id HAVING COUNT(*) = "
            f"{len({t for w in BOOL_MUST for t in tokenize_py(w)})})"
            " AND doc_id NOT IN (SELECT doc_id FROM tf WHERE term IN ("
            + ", ".join(
                f"'{t}'"
                for t in sorted({t for w in BOOL_MUST_NOT for t in tokenize_py(w)})
            )
            + "))"
        ),
    ),
}

# ---------------------------------------------------------------------------
# quality / dedup / similarity / relational oracle twins
# ---------------------------------------------------------------------------

from semantic_pdf_search_engine_spark.functions.quality import (  # noqa: E402
    ARTIFACT_WORDS,
    CODE_INDICATORS,
    EMAIL_RE,
    LONG_NUM_RE,
    STOPWORDS,
)

# the patterns are RE2-safe and contain no single quotes; escape nothing
EMAIL_RE_SQL = EMAIL_RE
LONG_NUM_RE_SQL = LONG_NUM_RE

_ALPHA = "CASE WHEN length({t}) > 0 THEN CAST(length(regexp_replace({t}, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length({t}) ELSE 0.0 END"
_WC = "CASE WHEN length(trim({t})) = 0 THEN 0 ELSE len(regexp_split_to_array(trim({t}), '\\s+')) END"
def _code_n(t: str) -> str:
    # function, not a .format template: the indicators contain literal
    # braces which break str.format
    return " + ".join(f"CAST(contains({t}, '{i}') AS INT)" for i in CODE_INDICATORS)
_ARTIFACTS_IN = ", ".join(f"'{w}'" for w in ARTIFACT_WORDS)
_STOP_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)

_SHINGLES_CTE = f"""
tk AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                       x -> x <> '') AS toks
    FROM documents WHERE doc_id < 1000
),
sh AS (
    SELECT doc_id,
           unnest(list_distinct(
               CASE WHEN len(toks) >= 3 THEN
                   list_transform(generate_series(1, len(toks) - 2),
                                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               ELSE CAST([] AS VARCHAR[]) END)) AS shingle
    FROM tk
)"""

_COS = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)

def _is_header_sql(t: str) -> str:
    """DuckDB twin of quality.is_header_like over expression `t`."""
    return f"""(length(trim({t})) <= 100 AND (
            (regexp_matches(trim({t}), '^[0-9]') AND {_WC.format(t=t)} <= 6)
         OR (upper(trim({t})) = trim({t}) AND regexp_matches(trim({t}), '[A-Z]')
             AND {_WC.format(t=t)} <= 5)
         OR (regexp_matches(trim({t}), '^[0-9][^\\n]*:') AND {_WC.format(t=t)} <= 8)
       ))"""


# P5 twin: same three reference regexes + the is_header_like heuristic,
# applied per line; empty lines dropped; survivors joined verbatim.
_REMOVE_HEADERS_SQL = f"""
SELECT doc_id,
       array_to_string(list_filter(regexp_split_to_array(text, chr(10)), l ->
           length(trim(l)) > 0 AND NOT (
               regexp_matches(trim(l), '^(\\d+\\.)+\\d*\\s*[A-Z]')
            OR regexp_matches(trim(l), '^(Chapter|Section|Part|Appendix)\\s+(\\d+|[A-Z])')
            OR regexp_matches(trim(l), '^\\d+\\.\\s*[A-Z][a-z]+')
            OR {_is_header_sql("l")}
           )), chr(10)) AS cleaned
FROM documents
"""

_HAS_SENTENCE_SQL = (
    "((contains(text, '. ') OR text LIKE '%.' "
    "OR contains(text, '? ') OR text LIKE '%?' "
    "OR contains(text, '! ') OR text LIKE '%!') "
    "AND regexp_matches(substr(text, 1, 1), '[A-Z]'))"
)

ORACLE_SQL.update(
    {
        "valid_chunks": f"""
SELECT doc_id,
       (length(trim(text)) >= 50
        AND {_WC.format(t="text")} >= 8
        AND {_ALPHA.format(t="trim(text)")} >= 0.5
        AND lower(trim(text)) NOT IN ({_ARTIFACTS_IN})
        AND (length(text) - length(replace(text, '...', ''))) / 3 <= 2
        AND NOT ({_code_n("trim(text)")} >= 3)) AS is_valid,
       ({_code_n("text")} >= 3) AS is_code,
       ((length(text) - length(replace(text, '.', ''))) > 10
        AND length(regexp_replace(text, '[^A-Za-z]', '', 'g')) < 5
        AND length(regexp_replace(text, '[^0-9]', '', 'g')) > 0) AS is_garbage,
       {_is_header_sql("text")} AS is_header,
       {_HAS_SENTENCE_SQL} AS has_sentence
FROM documents
""",
        "remove_headers": _REMOVE_HEADERS_SQL,
        "lang_quality": f"""
WITH t AS (
    SELECT doc_id, text,
           list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                       x -> x <> '') AS toks
    FROM documents
), r AS (
    SELECT doc_id, text, toks,
           CASE WHEN len(toks) > 0
                THEN CAST(len(list_filter(toks, x -> list_contains([{_STOP_LIST}], x))) AS DOUBLE) / len(toks)
                ELSE 0.0 END AS stop_ratio
    FROM t
)
SELECT doc_id,
       CASE WHEN stop_ratio >= 0.05 THEN 'en' ELSE 'und' END AS lang_pred,
       floor((LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0) * 0.5
             + {_ALPHA.format(t="text")} * 0.3
             + LEAST(stop_ratio * 4.0, 1.0) * 0.2) * 1000000.0 + 0.5) / 1000000.0 AS quality,
       CAST(len(toks) AS INT) AS n_tokens,
       md5(text) AS fp
FROM r
""",
        "clean_text": f"""
WITH lines AS (
    SELECT doc_id, text,
           string_split(replace(COALESCE(text, ''), ' ', chr(10)), chr(10)) AS L
    FROM documents
)
SELECT doc_id,
       array_to_string(
           list_transform(
               list_filter(generate_series(1, len(L)),
                           i -> list_position(L, L[i]) = i),
               i -> L[i]),
           chr(10)) AS deduped,
       regexp_replace(regexp_replace(COALESCE(text, ''),
                      '{EMAIL_RE_SQL}', '<EMAIL>', 'g'),
                      '{LONG_NUM_RE_SQL}', '<NUM>', 'g') AS redacted
FROM lines
""",
        "exact_dedup": """
SELECT md5(text) AS fp, MIN(doc_id) AS rep_id, CAST(COUNT(*) AS BIGINT) AS n_dups
FROM documents GROUP BY md5(text)
""",
        "ngram_jaccard": f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
sdf AS (SELECT shingle, COUNT(*) AS sh_df FROM sh GROUP BY shingle),
cold AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN sdf USING (shingle) WHERE sh_df <= 1000),
inter AS (
    SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
    FROM cold x JOIN cold y USING (shingle)
    WHERE x.doc_id < y.doc_id
    GROUP BY x.doc_id, y.doc_id
)
SELECT a, b,
       floor((CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE floor((CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter)) * 1000000.0 + 0.5) / 1000000.0 >= 0.5
""",
        "minhash_lsh": f"""
WITH {_SHINGLES_CTE},
shl AS (SELECT doc_id, list(shingle) AS shingles FROM sh GROUP BY doc_id),
sigs AS (
    SELECT doc_id,
           list_min(list_transform(shingles, s -> md5('1:' || s))) AS sig_1,
           list_min(list_transform(shingles, s -> md5('2:' || s))) AS sig_2,
           list_min(list_transform(shingles, s -> md5('3:' || s))) AS sig_3,
           list_min(list_transform(shingles, s -> md5('4:' || s))) AS sig_4
    FROM shl
),
bands AS (
    SELECT doc_id, 0 AS band_idx, sig_1 || '|' || sig_2 AS band_val FROM sigs
    UNION ALL
    SELECT doc_id, 1 AS band_idx, sig_3 || '|' || sig_4 AS band_val FROM sigs
)
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
FROM bands x JOIN bands y USING (band_idx, band_val)
WHERE x.doc_id < y.doc_id
""",
        "simhash": f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
h AS (SELECT doc_id, tf, md5(term) AS h FROM tf),
bits AS (
    SELECT doc_id, j,
           SUM(tf * CASE WHEN strpos('0123456789abcdef', substr(h, CAST(j AS INT), 1)) - 1 >= 8
                         THEN 1 ELSE -1 END) AS s
    FROM h CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS j) js
    GROUP BY doc_id, j
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN CAST(pow(2, j - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
""",
        "simhash_neardup": f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
h AS (SELECT doc_id, tf, md5(term) AS h FROM tf),
bits AS (
    SELECT doc_id, j,
           SUM(tf * CASE WHEN strpos('0123456789abcdef', substr(h, CAST(j AS INT), 1)) - 1 >= 8
                         THEN 1 ELSE -1 END) AS s
    FROM h CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS j) js
    GROUP BY doc_id, j
),
sh AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN CAST(pow(2, j - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
),
bands AS (
    SELECT doc_id, simhash, b AS band_idx, (simhash >> (CAST(b AS INT) * 4)) & 15 AS band_val
    FROM sh, unnest(generate_series(0, 3)) AS g(b)
    WHERE doc_id < 1000
)
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
FROM bands x JOIN bands y USING (band_idx, band_val)
WHERE x.doc_id < y.doc_id
  AND bit_count(xor(x.simhash, y.simhash)) <= 3
""",
        "knn_join": f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 20),
s AS (
    SELECT q.q_id, e.vec_id, floor(({_COS.format(a="e.embedding", b="q.q_vec")}) * 1000000.0 + 0.5) / 1000000.0 AS sim
    FROM q CROSS JOIN embeddings e
),
r AS (
    SELECT q_id, vec_id, sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS INT) AS rnk
    FROM s
)
SELECT q_id, vec_id, sim, rnk FROM r WHERE rnk <= 10
""",
        "ann_brute": f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, floor(({_COS.format(a="embedding", b="qv")}) * 1000000.0 + 0.5) / 1000000.0 AS sim
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY sim DESC, vec_id ASC
LIMIT 10
""",
        "embedding_neardup": f"""
SELECT x.vec_id AS a, y.vec_id AS b,
       floor(({_COS.format(a="x.embedding", b="y.embedding")}) * 1000000.0 + 0.5) / 1000000.0 AS sim
FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
WHERE x.vec_id < 300 AND y.vec_id < 300
  AND floor(({_COS.format(a="x.embedding", b="y.embedding")}) * 1000000.0 + 0.5) / 1000000.0 >= 0.3
""",
        "phrase_match": """
SELECT doc_id,
       CAST((length(text) - length(replace(text, 'filter window', ''))) / 13 AS INT) AS n_occ
FROM documents
WHERE (length(text) - length(replace(text, 'filter window', ''))) / 13 >= 1
""",
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       floor((SUM(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
       floor((SUM(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS sum_base,
       floor((SUM(l_extendedprice * (1.0 - l_discount))) * 100.0 + 0.5) / 100.0 AS sum_disc,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
        "top_customers": """
SELECT c_custkey, c_name, floor((SUM(o_totalprice)) * 100.0 + 0.5) / 100.0 AS total,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total DESC, c_custkey ASC
LIMIT 10
""",
        "events_asof": """
SELECT l.event_id,
       l.user_id,
       CAST(COALESCE(r.event_id, -1) AS BIGINT) AS p_event_id,
       floor((COALESCE(r.value, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS p_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (
    SELECT event_id, user_id, ts, value FROM (
        SELECT event_id, user_id, ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase')
    WHERE rn = 1) r
  ON l.user_id = r.user_id AND l.ts >= r.ts
""",
        "events_range_join": """
SELECT l.event_id, l.user_id,
       r.event_id AS p_event_id,
       floor((r.value) * 1000000.0 + 0.5) / 1000000.0 AS p_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
JOIN (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id
 AND abs(epoch(r.ts) - epoch(l.ts)) <= 300
""",
        "events_rollup": """
SELECT COALESCE(strftime(ts, '%Y-%m-%d'), 'ALL') AS day,
       COALESCE(event_type, 'ALL') AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       floor((SUM(value)) * 100.0 + 0.5) / 100.0 AS total
FROM events
GROUP BY ROLLUP (strftime(ts, '%Y-%m-%d'), event_type)
""",
        "events_percentiles": """
SELECT event_type,
       floor((quantile_cont(value, 0.5)) * 1000000.0 + 0.5) / 1000000.0 AS p50,
       floor((quantile_cont(value, 0.95)) * 1000000.0 + 0.5) / 1000000.0 AS p95,
       floor((MIN(value)) * 1000000.0 + 0.5) / 1000000.0 AS vmin,
       floor((MAX(value)) * 1000000.0 + 0.5) / 1000000.0 AS vmax
FROM events GROUP BY event_type
""",
        "events_daily_rank": """
WITH d AS (
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n, floor((SUM(value)) * 100.0 + 0.5) / 100.0 AS total
    FROM events GROUP BY 1, 2
)
SELECT day, event_type, n, total,
       CAST(ROW_NUMBER() OVER (PARTITION BY day ORDER BY n DESC, event_type) AS INT) AS rnk
FROM d
""",
    }
)
# the bucketed as-of plan is exact → it shares events_asof's hard oracle
ORACLE_SQL["events_asof_skew"] = ORACLE_SQL["events_asof"]

# null-ts handling pinned to the Spark operator: nulls sort FIRST
# (Spark ASC default; DuckDB defaults NULLS LAST — made explicit) and a
# null gap (either endpoint null) always starts a new session.
ORACLE_SQL["events_sessionize"] = """
WITH l AS (
    SELECT event_id, user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                THEN 1 ELSE 0 END AS ns
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id)
),
s AS (
    SELECT event_id, user_id, ts,
           CAST(SUM(ns) OVER (PARTITION BY user_id
                              ORDER BY ts ASC NULLS FIRST, event_id
                              ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
    FROM l
)
SELECT event_id, user_id, session_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                               ORDER BY ts ASC NULLS FIRST, event_id) - 1 AS BIGINT) AS session_seq
FROM s
"""

ORACLE_SQL["vocab_build"] = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
agg AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS tf_total
    FROM tf GROUP BY term
)
SELECT term, df, tf_total,
       CAST(ROW_NUMBER() OVER (ORDER BY tf_total DESC, term ASC) - 1 AS BIGINT) AS vocab_id
FROM agg WHERE df >= 2
"""

# hex-nibble → byte value, portable across Spark/DuckDB (no conv() in DuckDB)
_NIBBLE = "(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1)"


def _byte(h: str, pos: int) -> str:
    """byte `pos` (0-based) of an md5 hex string as an int expression."""
    hi = _NIBBLE.format(h=h, i=2 * pos + 1)
    lo = _NIBBLE.format(h=h, i=2 * pos + 2)
    return f"({hi} * 16 + {lo})"


ORACLE_SQL["multimodal_meta"] = f"""
WITH p AS (SELECT doc_id, encode(text) AS payload, md5(text) AS h FROM documents)
SELECT doc_id,
       CAST(octet_length(payload) AS BIGINT) AS n_bytes,
       h AS content_md5,
       CAST(64 + {_byte("h", 0)} % 192 AS INT) AS width,
       CAST(64 + {_byte("h", 1)} % 192 AS INT) AS height,
       CAST(1 + {_byte("h", 2)} % 30 AS INT) AS n_frames
FROM p
"""

from semantic_pdf_search_engine_spark.operators.chunking import (  # noqa: E402
    chunk_turns_fixed_sql,
)

ORACLE_SQL["chunk_turns"] = chunk_turns_fixed_sql()

ORACLE_SQL["frame_sample"] = f"""
WITH p AS (SELECT doc_id, md5(text) AS h FROM documents),
meta AS (SELECT doc_id, CAST(1 + {_byte("h", 2)} % 30 AS BIGINT) AS n_frames FROM p),
m AS (SELECT doc_id, n_frames, LEAST(4, n_frames) AS m FROM meta)
SELECT doc_id,
       CAST(j AS INT) AS frame_rank,
       CAST(floor(CAST(j AS BIGINT) * n_frames / m) AS BIGINT) AS frame_idx
FROM m, unnest(generate_series(0, CAST(m - 1 AS INT))) AS g(j)
WHERE n_frames > 0
"""

ORACLE_SQL["resize_plan"] = f"""
WITH p AS (SELECT doc_id, md5(text) AS h FROM documents),
meta AS (SELECT doc_id,
                CAST(64 + {_byte("h", 0)} % 192 AS BIGINT) AS width,
                CAST(64 + {_byte("h", 1)} % 192 AS BIGINT) AS height
         FROM p),
m AS (SELECT doc_id, width, height, GREATEST(width, height) AS ls FROM meta)
SELECT doc_id, width, height,
       CAST(CASE WHEN ls > 224 THEN floor(width * 224 / ls) ELSE width END AS INT) AS out_w,
       CAST(CASE WHEN ls > 224 THEN floor(height * 224 / ls) ELSE height END AS INT) AS out_h,
       floor((CASE WHEN ls > 224 THEN 224.0 / ls ELSE 1.0 END) * 1000000.0 + 0.5) / 1000000.0 AS scale
FROM m
"""

ORACLE_SQL["distinct_kmv"] = f"""
WITH du AS (
    SELECT DISTINCT event_type, user_id FROM events
),
h AS (
    SELECT event_type,
           ({_byte("md5(CAST(user_id AS VARCHAR))", 0)}::BIGINT * 16777216
            + {_byte("md5(CAST(user_id AS VARCHAR))", 1)} * 65536
            + {_byte("md5(CAST(user_id AS VARCHAR))", 2)} * 256
            + {_byte("md5(CAST(user_id AS VARCHAR))", 3)}) AS v
    FROM du
),
r AS (
    SELECT event_type, v, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v ASC) AS rk
    FROM h
),
s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_true FROM h GROUP BY event_type),
kth AS (SELECT event_type, v AS vk FROM r WHERE rk = 64)
SELECT s.event_type, s.n_true,
       floor((CASE WHEN kth.vk IS NOT NULL THEN 63.0 * 4294967296.0 / kth.vk
                  ELSE CAST(s.n_true AS DOUBLE) END) * 1000000.0 + 0.5) / 1000000.0 AS kmv_estimate
FROM s LEFT JOIN kth USING (event_type)
"""

_SPLIT_H = "md5(CAST(doc_id AS VARCHAR))"
_SPLIT_B = (
    f"({_byte(_SPLIT_H, 0)}::BIGINT * 16777216 "
    f"+ {_byte(_SPLIT_H, 1)} * 65536 "
    f"+ {_byte(_SPLIT_H, 2)} * 256 "
    f"+ {_byte(_SPLIT_H, 3)}) % 10000"
)

ORACLE_SQL["train_split"] = f"""
WITH h AS (SELECT doc_id, {_SPLIT_B} AS b FROM documents)
SELECT doc_id,
       CASE WHEN b < 9000 THEN 'train'
            WHEN b < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM h
"""

ORACLE_SQL["shard_plan"] = f"""
WITH t AS (
    SELECT doc_id,
           CAST(COALESCE(len(list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                                         x -> x <> '')), 0) AS BIGINT) AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, n_tokens,
           COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
    FROM t
)
SELECT doc_id, n_tokens,
       CAST(floor(s / {SHARD_TOKENS}) AS BIGINT) AS shard_id,
       CAST(s % {SHARD_TOKENS} AS BIGINT) AS shard_offset
FROM c
"""

ORACLE_SQL["split_contamination"] = f"""
WITH sp AS (
    SELECT doc_id, text,
           CASE WHEN {_SPLIT_B} < 9000 THEN 'train'
                WHEN {_SPLIT_B} < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
),
tk AS (
    SELECT doc_id, split,
           list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                       x -> x <> '') AS toks
    FROM sp
),
sh AS (
    SELECT doc_id, split,
           unnest(list_distinct(
               CASE WHEN len(toks) >= 3 THEN
                   list_transform(generate_series(1, len(toks) - 2),
                                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               ELSE CAST([] AS VARCHAR[]) END)) AS shingle
    FROM tk
),
tr AS (SELECT DISTINCT shingle FROM sh WHERE split = 'train'),
ev AS (SELECT * FROM sh WHERE split <> 'train'),
tot AS (SELECT doc_id, split, CAST(COUNT(*) AS BIGINT) AS n_shingles
        FROM ev GROUP BY doc_id, split),
shd AS (SELECT ev.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM ev JOIN tr USING (shingle) GROUP BY ev.doc_id)
SELECT tot.doc_id, split, n_shingles,
       COALESCE(n_shared, 0) AS n_shared,
       floor((CAST(COALESCE(n_shared, 0) AS DOUBLE) / n_shingles) * 1000000.0 + 0.5) / 1000000.0 AS contamination
FROM tot LEFT JOIN shd ON tot.doc_id = shd.doc_id
"""

from semantic_pdf_search_engine_spark.operators.dedup import (  # noqa: E402
    MAX_SHINGLE_DF,
    PASSAGE_K,
    REPETITION_NS,
)
from semantic_pdf_search_engine_spark.operators.traindata import (  # noqa: E402
    DEFAULT_SAMPLE_RATES,
    SAMPLE_SALT,
)

ORACLE_SQL["dup_passages"] = f"""
WITH tk AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                       x -> x <> '') AS toks
    FROM documents
),
w AS (
    SELECT doc_id, md5(array_to_string(toks[i:i+{PASSAGE_K - 1}], ' ')) AS fp
    FROM tk, unnest(generate_series(1, len(toks) - {PASSAGE_K - 1})) AS g(i)
    WHERE len(toks) >= {PASSAGE_K}
),
pfd AS (SELECT fp, doc_id, CAST(COUNT(*) AS BIGINT) AS occ FROM w GROUP BY fp, doc_id),
dup AS (
    SELECT doc_id, SUM(occ) AS n_dup
    FROM (SELECT fp, doc_id, occ, COUNT(*) OVER (PARTITION BY fp) AS n_docs FROM pfd)
    WHERE n_docs >= 2 GROUP BY doc_id
),
tot AS (SELECT doc_id, CAST(len(toks) - {PASSAGE_K - 1} AS BIGINT) AS n_windows
        FROM tk WHERE len(toks) >= {PASSAGE_K})
SELECT tot.doc_id, n_windows,
       CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup_windows,
       floor((CAST(COALESCE(n_dup, 0) AS DOUBLE) / n_windows) * 1000000.0 + 0.5) / 1000000.0 AS dup_frac
FROM tot LEFT JOIN dup USING (doc_id)
"""

_REP_NS_VALUES = ",".join(f"({n})" for n in sorted(set(REPETITION_NS)))

ORACLE_SQL["repetition_metrics"] = f"""
WITH tk AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                       x -> x <> '') AS toks
    FROM documents
),
g AS (
    SELECT doc_id, n, md5(array_to_string(toks[i:i+n-1], ' ')) AS fp
    FROM tk, (VALUES {_REP_NS_VALUES}) AS s(n),
         unnest(generate_series(1, len(toks) - n + 1)) AS w(i)
    WHERE len(toks) >= n
),
c AS (SELECT doc_id, n, fp, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY doc_id, n, fp)
SELECT doc_id, CAST(n AS INT) AS n,
       CAST(SUM(c) AS BIGINT) AS total_ngrams,
       CAST(COUNT(*) AS BIGINT) AS distinct_ngrams,
       CAST(MAX(c) AS BIGINT) AS top_count,
       floor((CAST(MAX(c) AS DOUBLE) / SUM(c)) * 1000000.0 + 0.5) / 1000000.0 AS top_frac,
       floor((CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c)) * 1000000.0 + 0.5) / 1000000.0 AS dup_frac
FROM c GROUP BY doc_id, n
"""

# thresholds/weights generated from the SAME dict the operator reads, so
# the two engines compare literal-identical constants by construction
_SAMPLE_H = f"md5(CAST(doc_id AS VARCHAR) || ':{SAMPLE_SALT}')"
_SAMPLE_B = (
    f"({_byte(_SAMPLE_H, 0)}::BIGINT * 16777216 "
    f"+ {_byte(_SAMPLE_H, 1)} * 65536 "
    f"+ {_byte(_SAMPLE_H, 2)} * 256 "
    f"+ {_byte(_SAMPLE_H, 3)}) % 10000"
)
_SAMPLE_THR = " ".join(
    f"WHEN '{k}' THEN {int(round(r * 10000))}"
    for k, r in DEFAULT_SAMPLE_RATES.items()
)
_SAMPLE_WGT = " ".join(
    f"WHEN '{k}' THEN {round(1.0 / r, 6)!r}"
    for k, r in DEFAULT_SAMPLE_RATES.items()
    if r > 0
)

ORACLE_SQL["sample_weighted"] = f"""
SELECT doc_id, lang,
       CAST(CASE lang {_SAMPLE_WGT} ELSE 0.0 END AS DOUBLE) AS weight
FROM documents
WHERE {_SAMPLE_B} < CASE lang {_SAMPLE_THR} ELSE 0 END
"""

# normalize=False mirrors phrase_occurrences' query-side tokenization
# (doc-side postings are built by tokens_expr, un-normalized — and so
# is the oracle's regexp_split_to_array below)
_PP_TOKS = tokenize_py(POSITIONAL_PHRASE, normalize=False)
_PP_CONDS = " AND ".join(
    f"toks[i+{j}] = '{t}'" for j, t in enumerate(_PP_TOKS)
)

ORACLE_SQL["phrase_positional"] = f"""
WITH tk AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                       x -> x <> '') AS toks
    FROM documents
),
occ AS (
    SELECT doc_id, i
    FROM tk, unnest(generate_series(1, len(toks) - {len(_PP_TOKS) - 1})) AS g(i)
    WHERE len(toks) >= {len(_PP_TOKS)} AND {_PP_CONDS}
)
SELECT doc_id, CAST(COUNT(*) AS INT) AS n_occ, CAST(MIN(i) AS INT) AS first_pos
FROM occ GROUP BY doc_id
"""

ORACLE_SQL["phrase_indexed"] = ORACLE_SQL["phrase_positional"]

_STRAT_H = f"md5(CAST(doc_id AS VARCHAR) || ':{SAMPLE_SALT}')"

ORACLE_SQL["stratified_sample"] = f"""
SELECT doc_id, lang,
       CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY {_STRAT_H} ASC, doc_id ASC) AS INT) AS rank
FROM documents
QUALIFY rank <= {STRATIFIED_N}
"""

ORACLE_SQL["tf_cosine"] = f"""
WITH tk AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                              x -> x <> '')) AS term
    FROM documents WHERE doc_id < {TF_COSINE_MAX_ID}
),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
keep AS (SELECT term FROM tf GROUP BY term HAVING COUNT(*) <= {MAX_SHINGLE_DF}),
tfk AS (SELECT tf.* FROM tf JOIN keep USING (term)),
nrm AS (SELECT doc_id, SUM(tf*tf) AS s2 FROM tfk GROUP BY doc_id),
num AS (
    SELECT x.doc_id AS a, y.doc_id AS b, SUM(x.tf * y.tf) AS num
    FROM tfk x JOIN tfk y USING (term)
    WHERE x.doc_id < y.doc_id
    GROUP BY 1, 2
),
sims AS (
    SELECT a, b,
           floor((CAST(num AS DOUBLE) / (sqrt(CAST(na.s2 AS DOUBLE)) * sqrt(CAST(nb.s2 AS DOUBLE)))) * 1000000.0 + 0.5) / 1000000.0 AS sim
    FROM num JOIN nrm na ON num.a = na.doc_id JOIN nrm nb ON num.b = nb.doc_id
)
SELECT * FROM sims WHERE sim >= {TF_COSINE_THRESHOLD}
"""

ORACLE_SQL["tfidf_top_terms"] = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
s AS (
    SELECT tf.doc_id, tf.term, tf.tf,
           floor((CAST(tf.tf AS DOUBLE) * ln(n_docs / CAST(df AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 AS weight
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, weight,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY weight DESC, term ASC) AS INT) AS rank
FROM s
QUALIFY rank <= 5
"""

ORACLE_SQL["keyness"] = f"""
WITH tagged AS (
    SELECT CASE WHEN lang = '{KEYNESS_LANG}' THEN 1 ELSE 0 END AS f,
           unnest(list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                              x -> x <> '')) AS term
    FROM documents
),
c AS (
    SELECT term,
           CAST(SUM(f) AS BIGINT) AS a,
           CAST(SUM(1 - f) AS BIGINT) AS b
    FROM tagged GROUP BY term
),
tot AS (SELECT CAST(SUM(a) AS DOUBLE) AS ta, CAST(SUM(b) AS DOUBLE) AS tb FROM c),
s AS (
    SELECT term, a AS focus_count, b AS ref_count,
           floor((2.0 * (
               (CASE WHEN a > 0 THEN CAST(a AS DOUBLE) * ln(CAST(a AS DOUBLE) / (ta * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)) / (ta + tb))) ELSE 0.0 END)
             + (CASE WHEN b > 0 THEN CAST(b AS DOUBLE) * ln(CAST(b AS DOUBLE) / (tb * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)) / (ta + tb))) ELSE 0.0 END)
           )) * 1000000.0 + 0.5) / 1000000.0 AS g2
    FROM c CROSS JOIN tot
    WHERE a + b >= {PMI_MIN_COUNT}
)
SELECT term, focus_count, ref_count, g2,
       CAST(ROW_NUMBER() OVER (ORDER BY g2 DESC, term ASC) AS INT) AS rank
FROM s
QUALIFY rank <= 50
"""

ORACLE_SQL["pmi_pairs"] = f"""
WITH tk AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                       x -> x <> '') AS toks
    FROM documents
),
uni AS (SELECT unnest(toks) AS term FROM tk),
uc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY term),
p AS (
    SELECT toks[i] AS "left", toks[i+1] AS "right"
    FROM tk, unnest(generate_series(1, len(toks) - 1)) AS g(i)
    WHERE len(toks) >= 2
),
pc AS (
    SELECT "left", "right", CAST(COUNT(*) AS BIGINT) AS pair_count
    FROM p GROUP BY 1, 2 HAVING COUNT(*) >= {PMI_MIN_COUNT}
),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t_tokens FROM uc),
pt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t_pairs FROM p),
s AS (
    SELECT pc."left", pc."right", pair_count,
           floor((ln((CAST(pair_count AS DOUBLE) * t_tokens * t_tokens)
                     / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE) * t_pairs))) * 1000000.0 + 0.5) / 1000000.0 AS pmi
    FROM pc
    JOIN uc a ON pc."left" = a.term
    JOIN uc b ON pc."right" = b.term
    CROSS JOIN tot CROSS JOIN pt
)
SELECT "left", "right", pair_count, pmi,
       CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, "left" ASC, "right" ASC) AS INT) AS rank
FROM s
QUALIFY rank <= 50
"""

ORACLE_SQL["bpe_merge_pairs"] = f"""
WITH tk AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                       x -> x <> '') AS toks
    FROM documents
),
p AS (
    SELECT toks[i] AS "left", toks[i+1] AS "right"
    FROM tk, unnest(generate_series(1, len(toks) - 1)) AS g(i)
    WHERE len(toks) >= 2
),
c AS (
    SELECT "left", "right", CAST(COUNT(*) AS BIGINT) AS pair_count
    FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT "left", "right", pair_count,
       CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, "left" ASC, "right" ASC) AS INT) AS rank
FROM c
QUALIFY rank <= 50
"""

ORACLE_SQL["token_stats"] = f"""
SELECT doc_id,
       {_WC.format(t="text")}::INT AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS INT) AS bpe_tokens
FROM documents
"""

_TOKHASH = (
    f"({_byte('h', 0)}::BIGINT * 16777216 + {_byte('h', 1)} * 65536 "
    f"+ {_byte('h', 2)} * 256 + {_byte('h', 3)})"
)

ORACLE_SQL["rolling_fingerprint"] = f"""
WITH tk AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                       x -> x <> '') AS toks
    FROM documents
),
pos AS (
    SELECT doc_id, i, md5(toks[i]) AS h
    FROM tk, unnest(generate_series(1, len(toks))) AS g(i)
)
SELECT doc_id, CAST(SUM(i * {_TOKHASH}) AS BIGINT) AS fp
FROM pos GROUP BY doc_id
"""

# Remaining rows-only entries (no SQL oracle possible): the IVF pair
# (ann_ivf / knn_join_ivf — centroid training samples by Spark crc32,
# which DuckDB lacks) and fuzzy_spans (imperative anchor-scan +
# Jaro-Winkler window search). The sign-LSH family (ann_lsh,
# knn_join_ann, embedding_neardup_lsh) became HARD oracles in r5 —
# seeded-plane bucketing replayed in DuckDB, see the generators at the
# end of this file. IVF/ANN recall is asserted in
# tests/test_similarity.py, fuzzy span behavior in tests/test_spans.py
# (ported reference artifact vectors).

_QF_WC = _WC.format(t="text")
_QF_ALPHA = _ALPHA.format(t="text")
_QF_GARBAGE = (
    "((length(text) - length(replace(text, '.', ''))) > 10 "
    "AND length(regexp_replace(text, '[^A-Za-z]', '', 'g')) < 5 "
    "AND length(regexp_replace(text, '[^0-9]', '', 'g')) > 0)"
)

ORACLE_SQL["quality_filter"] = f"""
WITH t AS (
    SELECT doc_id, text,
           list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                       x -> x <> '') AS toks
    FROM documents
), r AS (
    SELECT doc_id, text, toks,
           CASE WHEN len(toks) > 0
                THEN CAST(len(list_filter(toks, x -> list_contains([{_STOP_LIST}], x))) AS DOUBLE) / len(toks)
                ELSE 0.0 END AS sr
    FROM t
), v AS (
    SELECT doc_id,
           CASE WHEN {_QF_WC} < {QF_MIN_WORDS} THEN 'too_short'
                WHEN {_QF_GARBAGE} THEN 'garbage'
                WHEN {_QF_ALPHA} < {QF_MIN_ALPHA} THEN 'low_alpha'
                WHEN floor((LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0) * 0.5
                            + {_QF_ALPHA} * 0.3
                            + LEAST(sr * 4.0, 1.0) * 0.2) * 1000000.0 + 0.5) / 1000000.0 < {QF_MIN_QUALITY} THEN 'low_quality'
                ELSE 'pass' END AS reason
    FROM r
)
SELECT doc_id, reason,
       CAST(CASE WHEN reason = 'pass' THEN 1 ELSE 0 END AS INT) AS keep
FROM v
"""

# dedup_clusters oracle: the simhash_neardup pair SQL becomes a CTE
# feeding a RECURSIVE min-label closure — built by reusing the pair
# oracle VERBATIM (string surgery keeps the two queries' pair
# definitions literally identical, so a change to one cannot drift)
_SIM_SQL = ORACLE_SQL["simhash_neardup"].strip()
assert _SIM_SQL.startswith("WITH")
_SIM_CHAIN, _SIM_FINAL = _SIM_SQL[len("WITH"):].rsplit("SELECT DISTINCT", 1)

ORACLE_SQL["dedup_clusters"] = f"""
WITH RECURSIVE {_SIM_CHAIN.rstrip().rstrip(',')},
pairs AS (SELECT DISTINCT {_SIM_FINAL.strip()}),
e AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
ids AS (SELECT doc_id AS node FROM documents WHERE doc_id < {_PAIR_BOUND}),
reach AS (
    SELECT node, node AS lab FROM ids
    UNION
    SELECT e.b AS node, reach.lab FROM reach JOIN e ON reach.node = e.a
)
SELECT node AS doc_id,
       CAST(MIN(lab) AS BIGINT) AS cluster_rep,
       CAST(CASE WHEN MIN(lab) = node THEN 1 ELSE 0 END AS INT) AS keep
FROM reach GROUP BY node
"""

# star contraction must reach the identical fixpoint as min-label —
# same declarative transitive-closure oracle
ORACLE_SQL["dedup_clusters_star"] = ORACLE_SQL["dedup_clusters"]

_VOCAB_CTE = f"""{_TOKS_CTE},
v AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY term)"""

ORACLE_SQL["term_suggest"] = f"""
WITH {_VOCAB_CTE}
SELECT term, df FROM v
WHERE starts_with(term, '{SUGGEST_PREFIX}')
ORDER BY df DESC, term ASC
LIMIT {DEFAULT_TOP_K}
"""

ORACLE_SQL["term_correct"] = f"""
WITH {_VOCAB_CTE}
SELECT term, df, CAST(levenshtein(term, '{CORRECT_TERM}') AS INT) AS dist
FROM v
WHERE abs(length(term) - {len(CORRECT_TERM)}) <= {suggest.DEFAULT_MAX_DIST}
  AND levenshtein(term, '{CORRECT_TERM}') BETWEEN 1 AND {suggest.DEFAULT_MAX_DIST}
ORDER BY dist ASC, df DESC, term ASC
LIMIT {DEFAULT_TOP_K}
"""

# index tokenization (normalize + lower + split) is the identity on the
# artifact-free fixture, so the indexed autocomplete path shares the
# recompute path's oracle
ORACLE_SQL["term_suggest_indexed"] = ORACLE_SQL["term_suggest"]

_FLAGSHIP_LIST = ", ".join(f"'{t}'" for t in _FLAGSHIP_TERMS)

_SCORES_CTE = f"""{_TF_CTE},
q AS (SELECT unnest([{_FLAGSHIP_LIST}]) AS term),
scores AS (
    SELECT tf.doc_id,
           floor((SUM( ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                * tf.tf * {K1 + 1.0}
                / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl)) ))
                 * 1000000.0 + 0.5) / 1000000.0 AS score
    FROM tf
    JOIN q USING (term)
    JOIN dfreq ON tf.term = dfreq.term
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
)"""

ORACLE_SQL["search_collapse"] = f"""
WITH {_SCORES_CTE},
best AS (
    SELECT s.doc_id, d.source, s.score,
           ROW_NUMBER() OVER (PARTITION BY d.source
                              ORDER BY s.score DESC, s.doc_id ASC) AS rn
    FROM scores s JOIN documents d ON s.doc_id = d.doc_id
)
SELECT doc_id, source, score FROM best WHERE rn = 1
ORDER BY score DESC, doc_id ASC
LIMIT {DEFAULT_TOP_K}
"""

ORACLE_SQL["term_snippets"] = f"""
WITH {_SCORES_CTE},
win AS (
    SELECT doc_id, score FROM scores
    ORDER BY score DESC, doc_id ASC LIMIT {DEFAULT_TOP_K}
)
SELECT w.doc_id, w.score,
       CAST(least({", ".join(f"nullif(strpos(lower(d.text), '{t}'), 0)" for t in _FLAGSHIP_TERMS)}) AS INT) AS first_off,
       substr(lower(d.text),
              greatest(1, least({", ".join(f"nullif(strpos(lower(d.text), '{t}'), 0)" for t in _FLAGSHIP_TERMS)}) - 60),
              160) AS snippet
FROM win w JOIN documents d ON w.doc_id = d.doc_id
"""

ORACLE_SQL["near_search"] = f"""
WITH tk AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                       x -> x <> '') AS toks
    FROM documents
),
pos AS (
    SELECT doc_id, i, toks[i] AS term
    FROM tk, unnest(generate_series(1, len(toks))) AS g(i)
    WHERE toks[i] IN ('{NEAR_A}', '{NEAR_B}')
)
SELECT a.doc_id, CAST(MIN(abs(a.i - b.i)) AS INT) AS min_dist
FROM (SELECT doc_id, i FROM pos WHERE term = '{NEAR_A}') a
JOIN (SELECT doc_id, i FROM pos WHERE term = '{NEAR_B}') b USING (doc_id)
GROUP BY a.doc_id
HAVING MIN(abs(a.i - b.i)) <= {NEAR_WINDOW}
"""

# the indexed path is output-identical by construction (same postings,
# pruned read) — same oracle
ORACLE_SQL["near_search_indexed"] = ORACLE_SQL["near_search"]

ORACLE_SQL["search_facets"] = f"""
WITH {_SCORES_CTE}
SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_hits, MAX(s.score) AS best_score
FROM scores s JOIN documents d ON s.doc_id = d.doc_id
GROUP BY d.source
"""

ORACLE_SQL["more_like_this"] = f"""
WITH {_TF_CTE},
qt AS (
    SELECT term FROM (
        SELECT tf.term,
               floor((CAST(tf.tf AS DOUBLE) * ln(stats.n_docs / CAST(dfreq.df AS DOUBLE)))
                     * 1000000.0 + 0.5) / 1000000.0 AS weight
        FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN stats
        WHERE tf.doc_id = {MLT_DOC_ID}
        ORDER BY weight DESC, tf.term ASC
        LIMIT {MLT_M}
    )
),
scores AS (
    SELECT tf.doc_id,
           floor((SUM( ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                * tf.tf * {K1 + 1.0}
                / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl)) ))
                 * 1000000.0 + 0.5) / 1000000.0 AS score
    FROM tf
    JOIN qt USING (term)
    JOIN dfreq ON tf.term = dfreq.term
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
)
SELECT doc_id, score FROM scores
WHERE doc_id <> {MLT_DOC_ID}
ORDER BY score DESC, doc_id ASC
LIMIT {DEFAULT_TOP_K}
"""

ORACLE_SQL["wildcard_search"] = f"""
WITH {_TF_CTE},
qt AS (SELECT term FROM dfreq WHERE term LIKE '{WILDCARD_PREFIX}%'),
scores AS (
    SELECT tf.doc_id,
           floor((SUM( ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                * tf.tf * {K1 + 1.0}
                / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl)) ))
                 * 1000000.0 + 0.5) / 1000000.0 AS score
    FROM tf
    JOIN qt USING (term)
    JOIN dfreq ON tf.term = dfreq.term
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
)
SELECT doc_id, score FROM scores
ORDER BY score DESC, doc_id ASC
LIMIT {DEFAULT_TOP_K}
"""

ORACLE_SQL["prf_expand"] = f"""
WITH {_SCORES_CTE},
win AS (
    SELECT doc_id FROM scores
    ORDER BY score DESC, doc_id ASC LIMIT {DEFAULT_TOP_K}
),
exp AS (
    SELECT tf.term, CAST(SUM(tf.tf) AS DOUBLE) AS tf_sum
    FROM tf JOIN win USING (doc_id)
    WHERE tf.term NOT IN ({_FLAGSHIP_LIST})
    GROUP BY tf.term
)
SELECT exp.term,
       floor((exp.tf_sum * ln(stats.n_docs / CAST(dfreq.df AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS weight
FROM exp JOIN dfreq ON exp.term = dfreq.term CROSS JOIN stats
ORDER BY weight DESC, exp.term ASC
LIMIT {PRF_N_TERMS}
"""

# index-served twin: identical output by construction (shared weight
# shape, shared score convention, internal docID order preserves orig
# id order) — same oracle
ORACLE_SQL["more_like_this_indexed"] = ORACLE_SQL["more_like_this"]

ORACLE_SQL["hybrid_rrf"] = f"""
WITH {_SCORES_CTE},
lexr AS (
    SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS r
    FROM scores ORDER BY score DESC, doc_id ASC LIMIT {HYBRID_N}
),
qv AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
sims AS (
    SELECT vec_id AS doc_id,
           floor(({_COS.format(a="embedding", b="qvec")}) * 1000000.0 + 0.5) / 1000000.0 AS sim
    FROM embeddings, qv
),
vecr AS (
    SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id ASC) AS INT) AS r
    FROM sims ORDER BY sim DESC, doc_id ASC LIMIT {HYBRID_N}
),
f AS (
    SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
           floor((COALESCE(1.0/(60 + l.r), 0.0) + COALESCE(1.0/(60 + v.r), 0.0))
                 * 1000000.0 + 0.5) / 1000000.0 AS rrf
    FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id
)
SELECT doc_id, rrf FROM f ORDER BY rrf DESC, doc_id ASC LIMIT {DEFAULT_TOP_K}
"""

ORACLE_SQL["search_page2"] = f"""
WITH {_SCORES_CTE},
r AS (
    SELECT doc_id, score,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
    FROM scores
)
SELECT doc_id, score FROM r
WHERE rnk BETWEEN {DEFAULT_TOP_K + 1} AND {2 * DEFAULT_TOP_K}
"""

ORACLE_SQL["index_stats"] = f"""
WITH {_TF_CTE}
SELECT (SELECT CAST(n_docs AS BIGINT) FROM stats) AS n_docs,
       (SELECT floor(avgdl * 1000000.0 + 0.5) / 1000000.0 FROM stats) AS avgdl,
       CAST(COUNT(*) AS BIGINT) AS vocab_size,
       CAST(SUM(df) AS BIGINT) AS n_postings
FROM dfreq
"""

_PERC_VALUES = ", ".join(
    f"('{qid}', '{t}')"
    for qid, qtext in sorted(PERCOLATE_QUERIES.items())
    for t in sorted(set(tokenize_py(qtext)))
)

ORACLE_SQL["percolate"] = f"""
WITH dt AS (
    SELECT DISTINCT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                              x -> x <> '')) AS term
    FROM documents
),
q AS (SELECT * FROM (VALUES {_PERC_VALUES}) AS t(query_id, term)),
qs AS (SELECT query_id, CAST(COUNT(*) AS INT) AS nq FROM q GROUP BY query_id),
m AS (
    SELECT dt.doc_id, q.query_id, COUNT(*) AS n
    FROM dt JOIN q USING (term)
    GROUP BY dt.doc_id, q.query_id
)
SELECT m.doc_id, m.query_id
FROM m JOIN qs USING (query_id)
WHERE m.n = qs.nq
"""

ORACLE_SQL["prf_search"] = f"""
WITH {_SCORES_CTE},
win AS (
    SELECT doc_id FROM scores
    ORDER BY score DESC, doc_id ASC LIMIT {DEFAULT_TOP_K}
),
expw AS (
    SELECT e.term,
           floor((e.tf_sum * ln(stats.n_docs / CAST(dfreq.df AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS weight
    FROM (
        SELECT tf.term, CAST(SUM(tf.tf) AS DOUBLE) AS tf_sum
        FROM tf JOIN win USING (doc_id)
        WHERE tf.term NOT IN ({_FLAGSHIP_LIST})
        GROUP BY tf.term
    ) e
    JOIN dfreq ON e.term = dfreq.term
    CROSS JOIN stats
    ORDER BY weight DESC, e.term ASC
    LIMIT {PRF_N_TERMS}
),
wt AS (
    SELECT term, 1.0 AS w FROM (SELECT unnest([{_FLAGSHIP_LIST}]) AS term)
    UNION ALL
    SELECT term, {PRF_BETA} AS w FROM expw
),
final AS (
    SELECT tf.doc_id,
           floor((SUM( wt.w * (ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                * (tf.tf * {K1 + 1.0}
                / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl)))) ))
                 * 1000000.0 + 0.5) / 1000000.0 AS score
    FROM tf
    JOIN wt USING (term)
    JOIN dfreq ON tf.term = dfreq.term
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
)
SELECT doc_id, score FROM final
ORDER BY score DESC, doc_id ASC
LIMIT {DEFAULT_TOP_K}
"""

_FUZZY_QLIST = ", ".join(f"'{t}'" for t in sorted(set(FUZZY_QUERY.split())))

ORACLE_SQL["fuzzy_search"] = f"""
WITH {_TF_CTE},
q AS (SELECT unnest([{_FUZZY_QLIST}]) AS qterm),
exp AS (
    SELECT dfreq.term, dfreq.df,
           MAX(1.0 - CAST(levenshtein(dfreq.term, q.qterm) AS DOUBLE)
                   / CAST(length(q.qterm) AS DOUBLE)) AS w
    FROM dfreq JOIN q
      ON abs(length(dfreq.term) - length(q.qterm)) <= {FUZZY_MAX_DIST}
     AND levenshtein(dfreq.term, q.qterm) <= {FUZZY_MAX_DIST}
     AND 1.0 - CAST(levenshtein(dfreq.term, q.qterm) AS DOUBLE)
             / CAST(length(q.qterm) AS DOUBLE) > 0
    GROUP BY dfreq.term, dfreq.df
),
final AS (
    SELECT tf.doc_id,
           floor((SUM( exp.w * (ln(1.0 + (stats.n_docs - exp.df + 0.5) / (exp.df + 0.5))
                * (tf.tf * {K1 + 1.0}
                / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl)))) ))
                 * 1000000.0 + 0.5) / 1000000.0 AS score
    FROM tf
    JOIN exp USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
)
SELECT doc_id, score FROM final
ORDER BY score DESC, doc_id ASC
LIMIT {DEFAULT_TOP_K}
"""

_SYN_WT_ROWS = " UNION ALL ".join(
    [f"SELECT unnest([{_FLAGSHIP_LIST}]) AS term, 1.0 AS w"]
    + [
        f"SELECT '{s}' AS term, {SYN_WEIGHT} AS w"
        for qt, syns in sorted(SYNONYMS.items())
        for s in syns
        if qt in _FLAGSHIP_TERMS
    ]
)

ORACLE_SQL["synonym_search"] = f"""
WITH {_TF_CTE},
wt AS ({_SYN_WT_ROWS}),
wmax AS (SELECT term, MAX(w) AS w FROM wt GROUP BY term),
exp AS (SELECT dfreq.term, dfreq.df, wmax.w FROM dfreq JOIN wmax USING (term)),
final AS (
    SELECT tf.doc_id,
           floor((SUM( exp.w * (ln(1.0 + (stats.n_docs - exp.df + 0.5) / (exp.df + 0.5))
                * (tf.tf * {K1 + 1.0}
                / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl)))) ))
                 * 1000000.0 + 0.5) / 1000000.0 AS score
    FROM tf
    JOIN exp USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
)
SELECT doc_id, score FROM final
ORDER BY score DESC, doc_id ASC
LIMIT {DEFAULT_TOP_K}
"""


def _slop_oracle_sql(phrase: str, slop: int) -> str:
    """EXISTS-chain twin of the greedy fold: an occurrence at start s
    exists iff an increasing chain of the phrase terms fits in the
    span bound — equivalent to greedy min-next existence."""
    seq = phrase.split()
    span = len(seq) - 1 + slop
    terms_list = ", ".join(f"'{t}'" for t in sorted(set(seq)))
    joins = "\n".join(
        f"        JOIN pos p{j} ON p{j}.doc_id = p0.doc_id AND p{j}.term = '{t}'"
        f" AND p{j}.i > p{j - 1}.i"
        + (f" AND p{j}.i - p0.i <= {span}" if j == len(seq) - 1 else "")
        for j, t in enumerate(seq[1:], start=1)
    )
    return f"""
WITH tk AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                       x -> x <> '') AS toks
    FROM documents
),
pos AS (
    SELECT doc_id, i, toks[i] AS term
    FROM tk, unnest(generate_series(1, len(toks))) AS g(i)
    WHERE toks[i] IN ({terms_list})
),
occ AS (
    SELECT p0.doc_id, p0.i AS s
    FROM pos p0
{joins}
    WHERE p0.term = '{seq[0]}'
    GROUP BY p0.doc_id, p0.i
)
SELECT doc_id, CAST(COUNT(*) AS INT) AS n_occ, CAST(MIN(s) AS INT) AS first_pos
FROM occ GROUP BY doc_id
"""


ORACLE_SQL["phrase_slop"] = _slop_oracle_sql(SLOP_PHRASE, PHRASE_SLOP)
ORACLE_SQL["phrase_slop_indexed"] = ORACLE_SQL["phrase_slop"]

ORACLE_SQL["best_passage"] = f"""
WITH {_SCORES_CTE},
win AS (
    SELECT doc_id, score FROM scores
    ORDER BY score DESC, doc_id ASC LIMIT {DEFAULT_TOP_K}
),
tkp AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                       x -> x <> '') AS toks
    FROM documents
),
p AS (
    SELECT tkp.doc_id, i
    FROM tkp, unnest(generate_series(1, len(toks))) AS g(i)
    WHERE toks[i] IN ({_FLAGSHIP_LIST})
      AND tkp.doc_id IN (SELECT doc_id FROM win)
),
cnt AS (
    SELECT a.doc_id, a.i AS s, COUNT(*) AS n
    FROM p a JOIN p b ON a.doc_id = b.doc_id
                     AND b.i >= a.i AND b.i < a.i + {PASSAGE_WINDOW}
    GROUP BY a.doc_id, a.i
),
best AS (SELECT doc_id, MAX(n) AS mx FROM cnt GROUP BY doc_id),
sel AS (
    SELECT c.doc_id, CAST(MIN(c.s) AS INT) AS win_start,
           CAST(b.mx AS INT) AS n_matched
    FROM cnt c JOIN best b ON c.doc_id = b.doc_id AND c.n = b.mx
    GROUP BY c.doc_id, b.mx
)
SELECT w.doc_id, w.score, sel.win_start, sel.n_matched
FROM win w JOIN sel USING (doc_id)
"""


# -- round-5-prep oracles ------------------------------------------------

ORACLE_SQL["regex_search"] = f"""
WITH {_TF_CTE},
qt AS (SELECT term FROM dfreq WHERE regexp_full_match(term, '{REGEX_PATTERN}')),
scores AS (
    SELECT tf.doc_id,
           floor((SUM( ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                * tf.tf * {K1 + 1.0}
                / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl)) ))
                 * 1000000.0 + 0.5) / 1000000.0 AS score
    FROM tf
    JOIN qt USING (term)
    JOIN dfreq ON tf.term = dfreq.term
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
)
SELECT doc_id, score FROM scores
ORDER BY score DESC, doc_id ASC
LIMIT {DEFAULT_TOP_K}
"""

ORACLE_SQL["term_vectors"] = f"""
WITH {_SCORES_CTE},
win AS (
    SELECT doc_id FROM scores ORDER BY score DESC, doc_id ASC LIMIT {DEFAULT_TOP_K}
)
SELECT tf.doc_id, tf.term, tf.tf
FROM tf JOIN win USING (doc_id)
"""

ORACLE_SQL["mixture_weights"] = f"""
WITH t AS (
    SELECT source,
           len(list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                           x -> x <> '')) AS ntok
    FROM documents
),
per AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens
    FROM t GROUP BY source
),
tot AS (
    SELECT source, n_docs, n_tokens,
           SUM(pow(CAST(n_tokens AS DOUBLE), {MIXTURE_ALPHA})) OVER () AS pow_sum,
           CAST(SUM(n_tokens) OVER () AS DOUBLE) AS tok_sum
    FROM per
)
SELECT source, n_docs, n_tokens,
       floor((pow(CAST(n_tokens AS DOUBLE), {MIXTURE_ALPHA}) / pow_sum)
             * 1000000.0 + 0.5) / 1000000.0 AS weight,
       floor((CASE WHEN n_tokens > 0
                   THEN pow(CAST(n_tokens AS DOUBLE), {MIXTURE_ALPHA}) / pow_sum * tok_sum
                        / CAST(n_tokens AS DOUBLE)
                   ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS epochs
FROM tot
"""

ORACLE_SQL["lm_logloss"] = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS INT) AS tf FROM toks GROUP BY doc_id, term),
ctf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY term),
tot AS (SELECT CAST(SUM(ctf) AS DOUBLE) AS total FROM ctf),
ll AS (
    SELECT doc_id,
           floor(((-SUM(CAST(tf AS DOUBLE) * ln(CAST(ctf AS DOUBLE) / total)))
                  / CAST(SUM(tf) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS logloss
    FROM tf JOIN ctf USING (term) CROSS JOIN tot
    GROUP BY doc_id
),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM ll),
r AS (
    SELECT doc_id, logloss,
           ROW_NUMBER() OVER (ORDER BY logloss ASC, doc_id ASC) - 1 AS rn
    FROM ll
)
SELECT doc_id, logloss, CAST(floor((rn * 3) / n) AS INT) AS bucket
FROM r CROSS JOIN n
"""


def _clf_oracle_sql(iters: int, lr: float) -> str:
    """The quality_classifier twin: the SAME standardization and
    full-batch GD arithmetic the Spark path performs, unrolled as
    chained CTEs (b0cte → g1/b1cte → … → b{{iters}}cte). Generated, not
    hand-written, so iteration count/learning rate stay pinned to the
    registry constants."""
    feats = f"""
WITH t AS (
    SELECT doc_id, text,
           list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                       x -> x <> '') AS toks
    FROM documents
), r AS (
    SELECT doc_id, text, toks,
           CASE WHEN len(toks) > 0
                THEN CAST(len(list_filter(toks, x -> list_contains([{_STOP_LIST}], x))) AS DOUBLE) / len(toks)
                ELSE 0.0 END AS sr
    FROM t
), feats AS (
    SELECT doc_id,
           ln(1.0 + CAST(len(toks) AS DOUBLE)) AS f1,
           {_QF_ALPHA} AS f2,
           sr AS f3,
           ln(1.0 + CAST(length(text) AS DOUBLE)) AS f4,
           CAST(CASE WHEN {_QF_WC} < {QF_MIN_WORDS} THEN 0
                WHEN {_QF_GARBAGE} THEN 0
                WHEN {_QF_ALPHA} < {QF_MIN_ALPHA} THEN 0
                WHEN floor((LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0) * 0.5
                            + {_QF_ALPHA} * 0.3
                            + LEAST(sr * 4.0, 1.0) * 0.2) * 1000000.0 + 0.5) / 1000000.0 < {QF_MIN_QUALITY} THEN 0
                ELSE 1 END AS DOUBLE) AS y
    FROM r
), m AS (
    SELECT {", ".join(f"avg(f{j}) AS m{j}, avg(f{j}*f{j}) AS q{j}" for j in range(1, 5))}
    FROM feats
), s AS (
    SELECT doc_id, y,
           {", ".join(f"(f{j} - m{j}) / sqrt(GREATEST(q{j} - m{j}*m{j}, 1e-24)) AS x{j}" for j in range(1, 5))}
    FROM feats CROSS JOIN m
), b0cte AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2, 0.0 AS b3, 0.0 AS b4)"""
    z = "(b0 + b1*x1 + b2*x2 + b3*x3 + b4*x4)"
    sig = f"(1.0 / (1.0 + exp(-{z})))"
    parts = [feats]
    for i in range(1, iters + 1):
        prev = f"b{i - 1}cte"
        parts.append(f""",
g{i} AS (
    SELECT avg(y - {sig}) AS g0,
           {", ".join(f"avg((y - {sig}) * x{j}) AS gx{j}" for j in range(1, 5))}
    FROM s CROSS JOIN {prev}
),
b{i}cte AS (
    SELECT b0 + {lr} * g0 AS b0,
           {", ".join(f"b{j} + {lr} * gx{j} AS b{j}" for j in range(1, 5))}
    FROM {prev} CROSS JOIN g{i}
)""")
    parts.append(f"""
SELECT doc_id,
       floor({sig} * 1000000.0 + 0.5) / 1000000.0 AS prob,
       CAST({sig} >= 0.5 AS INT) AS pred
FROM s CROSS JOIN b{iters}cte
""")
    return "".join(parts)


ORACLE_SQL["quality_classifier"] = _clf_oracle_sql(CLF_ITERS, CLF_LR)


ORACLE_SQL["trending_terms"] = f"""
WITH c AS (
    SELECT strftime(ts, '%Y-%m-%d') AS window_start, event_type AS term,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
s AS (
    SELECT window_start, term, n,
           floor((CAST(n AS DOUBLE)
                  / (1.0 + CAST(COALESCE(
                        CASE WHEN LAG(window_start) OVER (PARTITION BY term ORDER BY window_start)
                                  = strftime(CAST(window_start AS DATE) - 1, '%Y-%m-%d')
                             THEN LAG(n) OVER (PARTITION BY term ORDER BY window_start)
                             END, 0) AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS rising
    FROM c
)
SELECT window_start, term, n, rising, rank FROM (
    SELECT s.*, CAST(ROW_NUMBER() OVER (PARTITION BY window_start
                     ORDER BY rising DESC, n DESC, term ASC) AS INT) AS rank
    FROM s
) WHERE rank <= {TREND_K}
"""


# fields sorted alphabetically by the operator: tf_0/w=1.0 is body,
# tf_1/w=2.0 is title — the CASE sums below are pinned to that order.
# A NULL field counts 0 tokens in dlw, as in bm25.bm25f_topk.
ORACLE_SQL["bm25f_search"] = f"""
WITH base AS (
    SELECT doc_id,
           CASE WHEN strpos(text, '.') > 0
                THEN substr(text, 1, strpos(text, '.')) ELSE text END AS title,
           CASE WHEN strpos(text, '.') > 0
                THEN substr(text, strpos(text, '.') + 1) ELSE '' END AS body
    FROM documents
),
tok AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(body), '{TOKEN_SPLIT_RE}'),
                              x -> x <> '')) AS term,
           'body' AS f
    FROM base
    UNION ALL
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(title), '{TOKEN_SPLIT_RE}'),
                              x -> x <> '')) AS term,
           'title' AS f
    FROM base
),
tf2 AS (
    SELECT doc_id, term,
           CAST(SUM(CASE WHEN f = 'body' THEN 1 ELSE 0 END) AS BIGINT) AS tf_0,
           CAST(SUM(CASE WHEN f = 'title' THEN 1 ELSE 0 END) AS BIGINT) AS tf_1
    FROM tok GROUP BY doc_id, term
),
tfw AS (
    SELECT doc_id, term,
           1.0 * CAST(tf_0 AS DOUBLE) + 2.0 * CAST(tf_1 AS DOUBLE) AS tfw
    FROM tf2
),
dlw AS (
    SELECT doc_id,
           1.0 * CAST(COALESCE(len(list_filter(regexp_split_to_array(lower(body), '{TOKEN_SPLIT_RE}'), x -> x <> '')), 0) AS DOUBLE)
           + 2.0 * CAST(COALESCE(len(list_filter(regexp_split_to_array(lower(title), '{TOKEN_SPLIT_RE}'), x -> x <> '')), 0) AS DOUBLE) AS dlw
    FROM base
),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dlw) AS avgdlw FROM dlw),
dfq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df
    FROM tfw WHERE term IN ({_FLAGSHIP_LIST}) GROUP BY term
),
scores AS (
    SELECT tfw.doc_id,
           floor((SUM( ln(1.0 + (stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                * (tfw.tfw * {K1 + 1.0}
                   / (tfw.tfw + {K1} * (1.0 - {B} + {B} * dlw.dlw / stats.avgdlw))) ))
                 * 1000000.0 + 0.5) / 1000000.0 AS score
    FROM tfw
    JOIN dfq ON tfw.term = dfq.term
    JOIN dlw ON tfw.doc_id = dlw.doc_id
    CROSS JOIN stats
    GROUP BY tfw.doc_id
)
SELECT doc_id, score FROM scores
ORDER BY score DESC, doc_id ASC
LIMIT {DEFAULT_TOP_K}
"""


ORACLE_SQL["significant_terms"] = f"""
WITH tagged AS (
    SELECT source AS grp,
           unnest(list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                              x -> x <> '')) AS term
    FROM documents
),
gc AS (
    SELECT grp, term, CAST(COUNT(*) AS BIGINT) AS a
    FROM tagged GROUP BY grp, term
),
tc AS (SELECT term, CAST(SUM(a) AS BIGINT) AS t FROM gc GROUP BY term),
gt AS (
    SELECT grp, CAST(SUM(a) AS BIGINT) AS ta_i,
           CAST(SUM(SUM(a)) OVER () AS BIGINT) AS tot_i
    FROM gc GROUP BY grp
),
s AS (
    SELECT gc.grp AS source, gc.term,
           gc.a AS focus_count,
           tc.t - gc.a AS ref_count,
           floor((2.0 * (
               (CASE WHEN gc.a > 0 THEN CAST(gc.a AS DOUBLE) * ln(CAST(gc.a AS DOUBLE) /
                    (CAST(gt.ta_i AS DOUBLE) * (CAST(gc.a AS DOUBLE) + CAST(tc.t - gc.a AS DOUBLE)) / (CAST(gt.ta_i AS DOUBLE) + CAST(gt.tot_i - gt.ta_i AS DOUBLE)))) ELSE 0.0 END)
             + (CASE WHEN tc.t - gc.a > 0 THEN CAST(tc.t - gc.a AS DOUBLE) * ln(CAST(tc.t - gc.a AS DOUBLE) /
                    (CAST(gt.tot_i - gt.ta_i AS DOUBLE) * (CAST(gc.a AS DOUBLE) + CAST(tc.t - gc.a AS DOUBLE)) / (CAST(gt.ta_i AS DOUBLE) + CAST(gt.tot_i - gt.ta_i AS DOUBLE)))) ELSE 0.0 END)
           )) * 1000000.0 + 0.5) / 1000000.0 AS g2
    FROM gc JOIN tc USING (term) JOIN gt USING (grp)
    WHERE tc.t >= {PMI_MIN_COUNT}
)
SELECT source, term, focus_count, ref_count, g2,
       CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY g2 DESC, term ASC) AS INT) AS rank
FROM s
QUALIFY rank <= {SIGTERMS_K}
"""


# dedup_keep_best oracle: the dedup_clusters closure SQL reused
# VERBATIM up to its final aggregate (same string-surgery contract as
# dedup_clusters itself uses on the simhash pair SQL — the two queries'
# cluster definitions cannot drift), then per-cluster quality windows.
_DKB_SQL = ORACLE_SQL["dedup_clusters"].strip()
_DKB_PREFIX, _DKB_FINAL = _DKB_SQL.rsplit("SELECT node AS doc_id", 1)
assert "GROUP BY node" in _DKB_FINAL
ORACLE_SQL["dedup_keep_best"] = f"""{_DKB_PREFIX}
SELECT doc_id, cluster_rep,
       FIRST_VALUE(doc_id) OVER (
           PARTITION BY cluster_rep ORDER BY qv DESC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS canonical_id,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY cluster_rep ORDER BY qv DESC, doc_id ASC
       ) = 1 AS INT) AS keep
FROM (
    SELECT node AS doc_id, CAST(MIN(lab) AS BIGINT) AS cluster_rep
    FROM reach GROUP BY node
) cl
JOIN (
    SELECT doc_id,
           floor((LEAST(1.0, CAST(len(qtoks) AS DOUBLE) / 100.0) * 0.5
                  + {_QF_ALPHA} * 0.3
                  + LEAST(qsr * 4.0, 1.0) * 0.2) * 1000000.0 + 0.5) / 1000000.0 AS qv
    FROM (
        SELECT doc_id, text, qtoks,
               CASE WHEN len(qtoks) > 0
                    THEN CAST(len(list_filter(qtoks, x -> list_contains([{_STOP_LIST}], x))) AS DOUBLE) / len(qtoks)
                    ELSE 0.0 END AS qsr
        FROM (
            SELECT doc_id, text,
                   list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                               x -> x <> '') AS qtoks
            FROM documents WHERE doc_id < {_PAIR_BOUND}
        )
    )
) q USING (doc_id)
"""


ORACLE_SQL["boolean_msm"] = f"""
WITH {_TF_CTE},
q AS (SELECT unnest([{", ".join(f"'{t}'" for t in sorted(BOOL_MSM_SHOULD))}]) AS term),
scoped AS (
    SELECT doc_id FROM tf
    WHERE term IN ({", ".join(f"'{t}'" for t in sorted(BOOL_MSM_SHOULD))})
    GROUP BY doc_id HAVING COUNT(*) >= {BOOL_MSM}
),
neg AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ({", ".join(f"'{t}'" for t in sorted(BOOL_MUST_NOT))})),
scores AS (
    SELECT tf.doc_id,
           floor((SUM( ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                * tf.tf * {K1 + 1.0}
                / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl)) ))
                 * 1000000.0 + 0.5) / 1000000.0 AS score
    FROM tf
    JOIN q USING (term)
    JOIN dfreq ON tf.term = dfreq.term
    JOIN dl ON tf.doc_id = dl.doc_id
    JOIN scoped ON tf.doc_id = scoped.doc_id
    CROSS JOIN stats
    WHERE tf.doc_id NOT IN (SELECT doc_id FROM neg)
    GROUP BY tf.doc_id
)
SELECT doc_id, score FROM scores
ORDER BY score DESC, doc_id ASC
LIMIT {DEFAULT_TOP_K}
"""


ORACLE_SQL["search_histogram"] = f"""
WITH {_SCORES_CTE}
SELECT CAST(floor(CAST(d.n_chars AS DOUBLE) / {HIST_WIDTH}.0) * {HIST_WIDTH} AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_hits,
       MAX(s.score) AS best_score
FROM scores s JOIN documents d ON s.doc_id = d.doc_id
GROUP BY 1
"""


ORACLE_SQL["budget_select"] = f"""
WITH t AS (
    SELECT doc_id, text,
           list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT_RE}'),
                       x -> x <> '') AS toks
    FROM documents
), r AS (
    SELECT doc_id, text, toks,
           CASE WHEN len(toks) > 0
                THEN CAST(len(list_filter(toks, x -> list_contains([{_STOP_LIST}], x))) AS DOUBLE) / len(toks)
                ELSE 0.0 END AS sr
    FROM t
), base AS (
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           floor((LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0) * 0.5
                  + {_QF_ALPHA} * 0.3
                  + LEAST(sr * 4.0, 1.0) * 0.2) * 1000000.0 + 0.5) / 1000000.0 AS quality
    FROM r
)
SELECT doc_id, n_tokens, quality,
       CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
                                ROWS UNBOUNDED PRECEDING) <= {BUDGET_TOKENS} AS INT) AS keep
FROM base
"""


def _kmeans_sql(k: int, iters: int, qdec: int) -> str:
    """Unrolled-Lloyd's DuckDB twin of q_kmeans_clusters (the same
    shape as quality_classifier's unrolled-GD oracle): md5-ranked
    deterministic init, `iters` assignment+update rounds, per-round
    centroid quantization to the 10^-qdec grid via the exact
    floor(x*10^qdec + 0.5)/10^qdec op sequence kmeans_fit snaps with,
    empty clusters keeping the previous centroid verbatim. Output:
    (vec_id, cluster) — the final argmax-cosine assignment with the
    lowest-cid tie-break numpy argmax uses."""
    scale = f"{10.0 ** qdec:.1f}"

    def snap(expr: str) -> str:
        return f"floor(({expr}) * {scale} + 0.5) / {scale}"

    def assign_body(cent: str) -> str:
        return f"""
    SELECT vec_id, v, cid FROM (
        SELECT n.vec_id, n.v, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY n.vec_id
                   ORDER BY list_dot_product(n.v, c.cv) DESC, c.cid
               ) AS rn
        FROM n CROSS JOIN {cent} c) t
    WHERE rn = 1"""

    parts = [
        f"""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
    FROM embeddings
), n AS (
    SELECT vec_id,
           list_transform(
               v0, x -> x / GREATEST(sqrt(list_sum(list_transform(v0, y -> y * y))), 1e-12)
           ) AS v
    FROM e
), c0 AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) - 1 AS cid,
           list_transform(v, x -> {snap('x')}) AS cv
    FROM (SELECT vec_id, v FROM n
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k})
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", a{i} AS ({assign_body(f'c{i - 1}')}
), g{i} AS (
    SELECT cid, COUNT(*) AS cnt FROM a{i} GROUP BY cid
), u{i} AS (
    SELECT cid, i, SUM(val) AS s FROM (
        SELECT cid, UNNEST(v) AS val,
               UNNEST(generate_series(1, len(v))) AS i
        FROM a{i}
    ) GROUP BY cid, i
), m{i} AS (
    SELECT u.cid, list(u.s / g.cnt ORDER BY u.i) AS mv
    FROM u{i} u JOIN g{i} g USING (cid) GROUP BY u.cid
), mn{i} AS (
    SELECT cid, mv,
           GREATEST(sqrt(list_sum(list_transform(mv, y -> y * y))), 1e-12) AS nrm
    FROM m{i}
), c{i} AS (
    SELECT p.cid,
           CASE WHEN m.cid IS NULL THEN p.cv
                ELSE list_transform(m.mv, x -> {snap('(x / m.nrm)')})
           END AS cv
    FROM c{i - 1} p LEFT JOIN mn{i} m ON m.cid = p.cid
)"""
        )
    parts.append(
        f"""
SELECT vec_id, CAST(cid AS INT) AS cluster FROM ({assign_body(f'c{iters}')})
"""
    )
    return "".join(parts)


ORACLE_SQL["kmeans_clusters"] = _kmeans_sql(KMEANS_K, KMEANS_ITERS, KMEANS_QDEC)


def _minhash_prod_sql(n_perms: int, n_bands: int) -> str:
    """DuckDB twin of q_minhash_lsh_prod (64-perm / 16-band banding,
    'universal' hash family) — HARD oracle since r5 (was rows-only).

    The universal family is deterministic end-to-end: h = first 8
    bytes of md5(shingle) as a big-endian uint64, sig_i = min over
    shingles of (a_i·h + b_i) mod 2⁶⁴ with the seeded coefficients
    from dedup.universal_hash_params — embedded here as literals so
    both engines hash with the SAME constants. Cross-engine parity of
    each primitive is exact: '0x'||hex → UBIGINT equals numpy's
    big-endian view of the digest; (a·h+b) via HUGEINT mod 2⁶⁴ equals
    numpy uint64 wraparound (a < 2⁶³, h < 2⁶⁴ → product < 2¹²⁷, no
    HUGEINT overflow); lpad(lower(hex(v)),16,'0') equals
    format(v,'016x'). Banding concat and the distinct pair join reuse
    the demo oracle's shape."""
    from semantic_pdf_search_engine_spark.operators.dedup import (
        universal_hash_params,
    )

    pa, pb = universal_hash_params(n_perms)
    per_band = n_perms // n_bands
    m64 = "18446744073709551616::HUGEINT"
    sig_exprs = ",\n           ".join(
        "lpad(lower(hex(MIN((({a}::HUGEINT * h + {b}::HUGEINT) % {m}))"
        "::UBIGINT)), 16, '0') AS sig_{i}".format(
            a=int(pa[i]), b=int(pb[i]), m=m64, i=i + 1
        )
        for i in range(n_perms)
    )
    band_selects = "\n    UNION ALL\n    ".join(
        "SELECT doc_id, {b} AS band_idx, {concat} AS band_val FROM sigs".format(
            b=b,
            concat=" || '|' || ".join(
                f"sig_{b * per_band + j + 1}" for j in range(per_band)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
WITH {_SHINGLES_CTE},
hs AS (
    SELECT doc_id,
           ('0x' || substr(md5(shingle), 1, 16))::UBIGINT::HUGEINT AS h
    FROM sh
),
sigs AS (
    SELECT doc_id,
           {sig_exprs}
    FROM hs GROUP BY doc_id
),
bands AS (
    {band_selects}
)
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
FROM bands x JOIN bands y USING (band_idx, band_val)
WHERE x.doc_id < y.doc_id
"""


ORACLE_SQL["minhash_lsh_prod"] = _minhash_prod_sql(64, 16)


def _smart_chunks_sql(chunk_size: int) -> str:
    """DuckDB twin of q_smart_chunks (C3 sentence packing + 2-sentence
    overlap carry + header skip + garbage drop) — HARD oracle since r5
    (was rows-only 'stateful fold → no SQL twin').

    The fold IS SQL-expressible as a per-doc recursive CTE: state =
    (cur, p1) where p1 is the last sentence appended since the last
    flush (buffer[-2:] only ever needs p1 + the incoming sentence), one
    recursion step per kept sentence, flush emissions carried in an
    `emit` column, the tail chunk read off the final state. Recursion
    depth = max sentences per doc (breadth = all docs at once), so the
    oracle stays cheap on fixture data at any SF.

    Cross-engine parity notes: RE2 has no lookbehind, so Python's
    `(?<=[.!?])\\s+` splitter is replayed as marker-replace
    `([.!?])\\s+ → \\1 || chr(1)` then split on chr(1) (identical
    pieces — the separator run is consumed either way); Python
    .strip() is trim(x, <6 ASCII whitespace chars>); ASCII-only
    letter/digit counts use [^A-Za-z]/[^0-9] regexp_replace. Flush
    branch parity (never reached at chunk_size=2000 on ≤577-char
    fixture turns) is pinned by tests/test_chunking.py at
    chunk_size=120 against smart_chunk_py.

    ORACLE SCOPE — ASCII corpora only (the fixture corpus is verified
    pure ASCII): Python's re `\\s` and str.strip() are Unicode-aware
    while RE2's `\\s` is ASCII [\\t\\n\\f\\r ] — a terminator followed
    by VT (\\x0b) or NBSP (\\xa0) splits in the engine but not in this
    twin — and text already containing chr(1) would collide with the
    split marker. Pinned as documented divergences in
    tests/test_chunking.py (TestSmartChunksSqlDivergence) so they
    cannot silently widen; a non-ASCII corpus needs the oracle's
    charset notes revisited, not the engine changed."""
    ws = "' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)"
    newcur = "w.cur || s.s || ' '"
    carry = (
        "CASE WHEN w.p1 IS NULL THEN s.s || ' ' "
        "ELSE w.p1 || ' ' || s.s || ' ' END"
    )
    return f"""
WITH RECURSIVE
raw AS (
    SELECT doc_id,
           list_filter(
               string_split(
                   regexp_replace(COALESCE(text, ''), '([.!?])\\s+',
                                  '\\1' || chr(1), 'g'),
                   chr(1)),
               x -> x <> '') AS L
    FROM documents
),
cand AS (
    SELECT doc_id, i AS raw_i, L[i] AS s, trim(L[i], {ws}) AS t
    FROM raw, unnest(generate_series(1, len(L))) AS g(i)
),
hdr AS (
    SELECT doc_id, raw_i, s,
           length(t) <= 100 AND (
               (regexp_matches(t, '^[0-9]')
                AND len(list_filter(regexp_split_to_array(t, '\\s+'), x -> x <> '')) <= 6)
            OR (upper(t) = t AND regexp_matches(t, '[A-Z]')
                AND len(list_filter(regexp_split_to_array(t, '\\s+'), x -> x <> '')) <= 5)
            OR (regexp_matches(t, '^[0-9][^\\n]*:')
                AND len(list_filter(regexp_split_to_array(t, '\\s+'), x -> x <> '')) <= 8)
           ) AS is_hdr
    FROM cand
),
sents AS (
    SELECT doc_id,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY raw_i) AS i,
           s
    FROM hdr WHERE NOT is_hdr
),
nmax AS (SELECT doc_id, MAX(i) AS n FROM sents GROUP BY doc_id),
walk AS (
    SELECT doc_id, CAST(0 AS BIGINT) AS i, '' AS cur,
           CAST(NULL AS VARCHAR) AS p1, CAST(NULL AS VARCHAR) AS emit
    FROM nmax
    UNION ALL
    SELECT w.doc_id, s.i,
           CASE WHEN length({newcur}) >= {chunk_size}
                THEN {carry} ELSE {newcur} END,
           CASE WHEN length({newcur}) >= {chunk_size}
                THEN CAST(NULL AS VARCHAR) ELSE s.s END,
           CASE WHEN length({newcur}) >= {chunk_size}
                THEN trim({newcur}, {ws}) ELSE CAST(NULL AS VARCHAR) END
    FROM walk w JOIN sents s ON s.doc_id = w.doc_id AND s.i = w.i + 1
),
emitted AS (
    SELECT doc_id, i, 0 AS tail, emit AS chunk FROM walk WHERE emit IS NOT NULL
    UNION ALL
    SELECT w.doc_id, w.i, 1 AS tail, trim(w.cur, {ws}) AS chunk
    FROM walk w JOIN nmax USING (doc_id)
    WHERE w.i = nmax.n AND trim(w.cur, {ws}) <> ''
),
kept AS (
    SELECT doc_id, i, tail, chunk FROM emitted
    WHERE NOT (
        (length(chunk) - length(replace(chunk, '.', ''))) > 10
        AND length(regexp_replace(chunk, '[^A-Za-z]', '', 'g')) < 5
        AND length(regexp_replace(chunk, '[^0-9]', '', 'g')) > 0
    )
)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i, tail) - 1 AS INT)
           AS chunk_idx,
       chunk
FROM kept
"""


from semantic_pdf_search_engine_spark.operators.chunking import (  # noqa: E402
    SMART_CHUNK_CHARS as _SMART_CHUNK_CHARS,
)

ORACLE_SQL["smart_chunks"] = _smart_chunks_sql(_SMART_CHUNK_CHARS)


# ---------------------------------------------------------------------------
# sign-LSH family oracles (HARD since r5; were rows-only)
# ---------------------------------------------------------------------------
#
# The sign-LSH bucketing is deterministic end-to-end: planes come from
# `similarity.hyperplanes(dim, n, seed)` — a seeded generator with no
# data dependence beyond the (fixture-pinned, verified) embedding dim —
# so the DuckDB twin replays the bucket assignment with the SAME plane
# constants inlined as literals, exactly the `_minhash_prod_sql`
# pattern. Cross-engine parity holds because the only nonlinearity is
# `dot > 0` and the only rounding is the shared 1e-6 ARITHMETIC floor:
# measured over every (vector, plane) pair at sf0.001/0.01/0.1 the
# smallest |dot| is 3.5e-5 and the smallest distance of any compared
# sim from a 1e-6 rounding boundary is 1.1e-7 (in grid units), both
# orders of magnitude above worst-case summation-order drift (~1e-9 on
# the grid for 64-d float64 dots) — so numpy matmul (engine) and
# list_dot_product (oracle) can never disagree post-rounding on this
# corpus. Honest scope: the margin claim is EMPIRICAL on the fixture
# corpus (re-verified each round by the full-registry sweeps), same
# footing as the knn_join / embedding_neardup hard oracles.

_ANN_EMB_DIM = 64  # fixture embeddings dim, asserted by the generators


def _planes_values_sql(planes, alias: str) -> str:
    """VALUES table `alias(i, v)` of hyperplane row-vectors as DOUBLE[]
    literals (repr() round-trips float64 exactly)."""
    rows = ",\n      ".join(
        "({i}, [{vals}]::DOUBLE[])".format(
            i=i, vals=", ".join(repr(float(x)) for x in p)
        )
        for i, p in enumerate(planes)
    )
    return f"(VALUES\n      {rows}) AS {alias}(i, v)"


def _lsh_bucket_cte(planes) -> str:
    """CTE `bkt(vec_id, bucket)`: bit i of `bucket` set iff
    dot(embedding, plane_i) > 0 — the similarity.lsh_assign contract."""
    return f"""pl AS (SELECT * FROM {_planes_values_sql(planes, "t")}),
bkt AS (
    SELECT e.vec_id,
           CAST(SUM(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), p.v) > 0
                         THEN CAST(1 AS BIGINT) << p.i ELSE CAST(0 AS BIGINT) END)
                AS BIGINT) AS bucket
    FROM embeddings e CROSS JOIN pl p
    GROUP BY e.vec_id
)"""


def _probe_masks(n_planes: int, multiprobe_bits: int) -> list[int]:
    """XOR masks of the Hamming-ball probe set — one definition with
    similarity.lsh_probe_buckets / ann_store.lsh_probe_assign."""
    masks = [0]
    if multiprobe_bits >= 1:
        masks += [1 << i for i in range(n_planes)]
    if multiprobe_bits >= 2:
        masks += [
            (1 << i) ^ (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    return sorted(set(masks))


def _ann_lsh_sql(n_planes: int, seed: int, multiprobe_bits: int) -> str:
    """DuckDB twin of q_ann_lsh (materialized-store LSH top-10 for the
    vec_id=0 query, probe set = own bucket + 1-bit flips). The store's
    partition column is exactly `lsh_assign`'s bucket id under the
    manifest planes, so recomputing the bucket per vector in SQL and
    filtering to the probe set reproduces the PartitionFilters scan;
    the scoring tail is the shared cosine_topk_over contract
    (round-6 sim DESC, vec_id ASC, LIMIT 10; the query row itself is
    NOT excluded)."""
    from semantic_pdf_search_engine_spark.operators.similarity import hyperplanes

    planes = hyperplanes(_ANN_EMB_DIM, n_planes, seed)
    masks = ", ".join(
        f"({m})" for m in _probe_masks(n_planes, multiprobe_bits)
    )
    return f"""
WITH {_lsh_bucket_cte(planes)},
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
qb AS (SELECT bucket AS qbucket FROM bkt WHERE vec_id = 0),
probes AS (SELECT xor(qbucket, CAST(m AS BIGINT)) AS pb
           FROM qb CROSS JOIN (VALUES {masks}) AS f(m))
SELECT e.vec_id,
       floor(({_COS.format(a="e.embedding", b="qv")}) * 1000000.0 + 0.5) / 1000000.0 AS sim
FROM embeddings e JOIN bkt USING (vec_id) CROSS JOIN q
WHERE bkt.bucket IN (SELECT pb FROM probes)
ORDER BY sim DESC, e.vec_id ASC
LIMIT 10
"""


def _knn_join_ann_sql(n_planes: int, seed: int, multiprobe_bits: int, k: int) -> str:
    """DuckDB twin of q_knn_join_ann (knn_join_lsh_dist: 20-query batch
    ANN, 2-bit multiprobe). A store vector lives in exactly ONE bucket
    and probe masks are distinct, so the probe-bucket join yields each
    (q_id, vec_id) candidate at most once; rnk is ROW_NUMBER under the
    shared (sim DESC, vec_id ASC) key — the same containment argument
    as _bucket_knn_cogroup."""
    from semantic_pdf_search_engine_spark.operators.similarity import hyperplanes

    planes = hyperplanes(_ANN_EMB_DIM, n_planes, seed)
    masks = ", ".join(
        f"({m})" for m in _probe_masks(n_planes, multiprobe_bits)
    )
    return f"""
WITH {_lsh_bucket_cte(planes)},
qs AS (
    SELECT e.vec_id AS q_id, CAST(e.embedding AS DOUBLE[]) AS qv, bkt.bucket AS qbucket
    FROM embeddings e JOIN bkt USING (vec_id)
    WHERE e.vec_id < 20
),
probe AS (
    SELECT q_id, qv, xor(qbucket, CAST(f.m AS BIGINT)) AS pb
    FROM qs CROSS JOIN (VALUES {masks}) AS f(m)
),
s AS (
    SELECT p.q_id, e.vec_id,
           floor(({_COS.format(a="e.embedding", b="p.qv")}) * 1000000.0 + 0.5) / 1000000.0 AS sim
    FROM probe p
    JOIN bkt ON bkt.bucket = p.pb
    JOIN embeddings e ON e.vec_id = bkt.vec_id
),
r AS (
    SELECT q_id, vec_id, sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS INT) AS rnk
    FROM s
)
SELECT q_id, vec_id, sim, rnk FROM r WHERE rnk <= {k}
"""


def _embedding_neardup_lsh_sql(
    n_bands: int, band_bits: int, seed: int, threshold: float, max_band_df: int
) -> str:
    """DuckDB twin of q_embedding_neardup_lsh (banded sign-LSH near-dup
    pairs over the FULL table). Band keys replay
    similarity.band_planes/_band_keys_udf exactly: plane row (t·r + j)
    contributes bit j of band t's key, tagged (t << 32); a pair is a
    candidate iff it shares ≥1 band key whose corpus membership is
    ≤ max_band_df (the hot-bucket guard, replayed as a HAVING — inert
    on fixture data but faithful at any scale); survivors score with
    the shared round-6 cosine and the ≥ threshold cut is applied to
    the ROUNDED sim, as in score_bucket."""
    from semantic_pdf_search_engine_spark.operators.similarity import band_planes

    planes = band_planes(_ANN_EMB_DIM, n_bands, band_bits, seed).reshape(
        n_bands * band_bits, _ANN_EMB_DIM
    )
    cos = _COS.format(a="ea.embedding", b="eb.embedding")
    return f"""
WITH pl AS (SELECT * FROM {_planes_values_sql(planes, "t")}),
bits AS (
    SELECT e.vec_id,
           CAST(p.i // {band_bits} AS BIGINT) AS band,
           CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), p.v) > 0
                THEN CAST(1 AS BIGINT) << (p.i % {band_bits}) ELSE CAST(0 AS BIGINT) END AS bit
    FROM embeddings e CROSS JOIN pl p
),
keys AS (
    SELECT vec_id, (band << 32) + SUM(bit) AS bk
    FROM bits GROUP BY vec_id, band
),
live AS (SELECT bk FROM keys GROUP BY bk HAVING COUNT(*) <= {max_band_df}),
cand AS (
    SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
    FROM keys x JOIN live USING (bk) JOIN keys y ON x.bk = y.bk AND x.vec_id < y.vec_id
)
SELECT c.a, c.b,
       floor(({cos}) * 1000000.0 + 0.5) / 1000000.0 AS sim
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.a
JOIN embeddings eb ON eb.vec_id = c.b
WHERE floor(({cos}) * 1000000.0 + 0.5) / 1000000.0 >= {threshold}
"""


ORACLE_SQL["ann_lsh"] = _ann_lsh_sql(6, 7, 1)
ORACLE_SQL["knn_join_ann"] = _knn_join_ann_sql(6, 7, 2, 10)
ORACLE_SQL["embedding_neardup_lsh"] = _embedding_neardup_lsh_sql(
    16, 2, 7, 0.3, 100_000
)


# ---------------------------------------------------------------------------
# IVF family oracles (HARD since r5; were the last ANN rows-only pair)
# ---------------------------------------------------------------------------
#
# train_ivf_centroids switched from a crc32/rng-seeded sample to the
# kmeans_fit determinism posture: the training sample is the `sample`
# lowest md5(id-as-string)-ranked vectors, init is the first
# n_centroids rows of that same ordering, and every centroid
# coordinate is snapped to the 10^-qdec grid after each normalize
# (the exact floor(x*10^qdec + 0.5)/10^qdec IEEE op sequence DuckDB
# computes). That makes the ENTIRE pipeline — sample, init, `iters`
# Lloyd's rounds, full-table bucket assignment, probe selection,
# cosine top-k — SQL-replayable, so the twins below unroll it the way
# _kmeans_sql does. Honest scope (same as kmeans_clusters): the snap
# pins the centroids; assignment/probe argmaxes still compare raw
# float64 dots, so a top-2 tie within ~1e-15 could in principle differ
# cross-engine — none exists in the fixture corpus (verified at
# sf0.001/0.01/0.1, the gate's exact inputs).

_IVF_QDEC = 6  # centroid quantization decimals (train_ivf_centroids default)


def _ivf_train_assign_cte(n_centroids: int, iters: int, sample: int, qdec: int) -> str:
    """CTE chain `e, n, samp, c0..c{iters}, asg` — `asg(vec_id, cid)`
    is the full-table IVF bucket assignment under centroids trained by
    train_ivf_centroids' exact op sequence (md5-ranked sample, first-k
    init, per-round snap, empty clusters keeping the previous centroid,
    assignment ties to the lowest cid — numpy argmax semantics)."""
    scale = f"{10.0 ** qdec:.1f}"

    def snap(expr: str) -> str:
        return f"floor(({expr}) * {scale} + 0.5) / {scale}"

    def assign_body(src: str, cent: str) -> str:
        return f"""
    SELECT vec_id, v, cid FROM (
        SELECT s.vec_id, s.v, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id
                   ORDER BY list_dot_product(s.v, c.cv) DESC, c.cid
               ) AS rn
        FROM {src} s CROSS JOIN {cent} c) t
    WHERE rn = 1"""

    parts = [
        f"""e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
    FROM embeddings
), n AS (
    SELECT vec_id,
           list_transform(
               v0, x -> x / GREATEST(sqrt(list_sum(list_transform(v0, y -> y * y))), 1e-12)
           ) AS v
    FROM e
), samp AS (
    SELECT vec_id, v FROM n
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {sample}
), c0 AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) - 1 AS cid,
           list_transform(v, x -> {snap('x')}) AS cv
    FROM (SELECT vec_id, v FROM samp
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_centroids})
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", a{i} AS ({assign_body('samp', f'c{i - 1}')}
), g{i} AS (
    SELECT cid, COUNT(*) AS cnt FROM a{i} GROUP BY cid
), u{i} AS (
    SELECT cid, i, SUM(val) AS s FROM (
        SELECT cid, UNNEST(v) AS val,
               UNNEST(generate_series(1, len(v))) AS i
        FROM a{i}
    ) GROUP BY cid, i
), m{i} AS (
    SELECT u.cid, list(u.s / g.cnt ORDER BY u.i) AS mv
    FROM u{i} u JOIN g{i} g USING (cid) GROUP BY u.cid
), mn{i} AS (
    SELECT cid, mv,
           GREATEST(sqrt(list_sum(list_transform(mv, y -> y * y))), 1e-12) AS nrm
    FROM m{i}
), c{i} AS (
    SELECT p.cid,
           CASE WHEN m.cid IS NULL THEN p.cv
                ELSE list_transform(m.mv, x -> {snap('(x / m.nrm)')})
           END AS cv
    FROM c{i - 1} p LEFT JOIN mn{i} m ON m.cid = p.cid
)"""
        )
    parts.append(
        f""", asg AS (SELECT vec_id, cid FROM ({assign_body('n', f'c{iters}')}))"""
    )
    return "".join(parts)


def _ann_ivf_sql(
    n_centroids: int, iters: int, sample: int, qdec: int, n_probe: int, k: int
) -> str:
    """DuckDB twin of q_ann_ivf (materialized-store IVF top-k for the
    vec_id=0 query): probe set = the n_probe nearest trained centroids
    (dot DESC, cid ASC — ivf_probe_buckets' stable argsort tie-break),
    candidates = full-table assignment ∈ probes (the PartitionFilters
    scan), scoring = the shared round-6 cosine tail (query row NOT
    excluded)."""
    return f"""
WITH {_ivf_train_assign_cte(n_centroids, iters, sample, qdec)},
q AS (SELECT v AS qv FROM n WHERE vec_id = 0),
qe AS (SELECT CAST(embedding AS DOUBLE[]) AS qraw FROM embeddings WHERE vec_id = 0),
probes AS (
    SELECT cid FROM c{iters} CROSS JOIN q
    ORDER BY list_dot_product(cv, qv) DESC, cid LIMIT {n_probe}
)
SELECT e.vec_id,
       floor(({_COS.format(a="e.embedding", b="qraw")}) * 1000000.0 + 0.5) / 1000000.0 AS sim
FROM embeddings e JOIN asg ON asg.vec_id = e.vec_id CROSS JOIN qe
WHERE asg.cid IN (SELECT cid FROM probes)
ORDER BY sim DESC, e.vec_id ASC
LIMIT {k}
"""


def _knn_join_ivf_sql(
    n_centroids: int, iters: int, sample: int, qdec: int, n_probe: int, k: int
) -> str:
    """DuckDB twin of q_knn_join_ivf (knn_join_ivf_dist: 20-query batch
    ANN over the IVF table). Each query explodes into its n_probe
    nearest centroids (ivf_probe_assign's stable tie-break); a store
    vector lives in exactly ONE IVF bucket and a query's probe cids are
    distinct, so the probe join yields each (q_id, vec_id) candidate
    once — the _bucket_knn_cogroup containment argument; rnk is
    ROW_NUMBER under the shared (sim DESC, vec_id ASC) key."""
    return f"""
WITH {_ivf_train_assign_cte(n_centroids, iters, sample, qdec)},
qs AS (
    SELECT e.vec_id AS q_id, CAST(e.embedding AS DOUBLE[]) AS qraw, n.v AS qv
    FROM embeddings e JOIN n USING (vec_id)
    WHERE e.vec_id < 20
),
probe AS (
    SELECT q_id, qraw, cid FROM (
        SELECT qs.q_id, qs.qraw, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY qs.q_id
                   ORDER BY list_dot_product(c.cv, qs.qv) DESC, c.cid
               ) AS rn
        FROM qs CROSS JOIN c{iters} c) t
    WHERE rn <= {n_probe}
),
s AS (
    SELECT p.q_id, e.vec_id,
           floor(({_COS.format(a="e.embedding", b="p.qraw")}) * 1000000.0 + 0.5) / 1000000.0 AS sim
    FROM probe p
    JOIN asg ON asg.cid = p.cid
    JOIN embeddings e ON e.vec_id = asg.vec_id
),
r AS (
    SELECT q_id, vec_id, sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS INT) AS rnk
    FROM s
)
SELECT q_id, vec_id, sim, rnk FROM r WHERE rnk <= {k}
"""


ORACLE_SQL["ann_ivf"] = _ann_ivf_sql(16, 5, 2048, _IVF_QDEC, 4, 10)
ORACLE_SQL["knn_join_ivf"] = _knn_join_ivf_sql(16, 5, 2048, _IVF_QDEC, 4, 10)


# ---------------------------------------------------------------------------
# fuzzy_spans oracle (HARD since r5; the last rows-only entry)
# ---------------------------------------------------------------------------
#
# The Jaro-Winkler span-refinement pipeline (operators/spans.py:
# fuzzy_find -> dedup_spans -> snap_to_sentence -> dedup_spans, the
# reference's fuzzy.rs relocation semantics) replayed op-for-op in
# DuckDB SQL. Long believed non-SQL-expressible; it is expressible:
#
# * Jaro's greedy two-pointer match loop is a `list_reduce` fold whose
#   state is a pair of BIGINT bitmasks + a count. Per position i the
#   candidate j-set is precompiled to a bitmask jm; the transition is
#   pure integer arithmetic (eligible = jm & ~bm; lowest set bit via
#   eligible & -eligible), deliberately containing NO nested lambdas.
#   Three DuckDB v1.0 list_reduce defects are worked around, each
#   isolated by A/B here: (1) lambdas that ITERATE the accumulator
#   (list_filter/transform over acc) mis-evaluate — the folds use
#   scalar bitmask state or index only the accumulator tail;
#   (2) lambdas over NON-FLAT input vectors corrupt deterministically
#   (48/32,462 rows in a full scan) — every list a reduce consumes is
#   built in its own AS MATERIALIZED CTE, which flattens it;
#   (3) indexing an EMPTY list accumulator (acc[len(acc)] or acc[-1])
#   poisons subsequent iterations (reproduced on pure literals) — the
#   list-accumulator folds short-circuit `len(acc) = 0 THEN x` before
#   ever indexing acc.
# * Transpositions need no fold: they are the aligned mismatch count
#   of the two matched-position subsequences (list_filter over the
#   final bitmasks).
# * The float tail copies Python's exact op order —
#   (m/la + m/lb + (m - t/2.0)/m) / 3.0, then j + prefix*0.1*(1.0-j)
#   — so scores are BIT-IDENTICAL (same IEEE ops, same order), and
#   the >= threshold / > early-exit / > best comparisons take the
#   same branches. Verified: 7,008-pair random+adversarial harness,
#   0 ULP diffs; then fuzzy_find / full-refine equality vs the Python
#   implementation for EVERY document (not just winners) at
#   sf0.001/0.01/0.1 x 4 needles: 0 diffs.
# * Candidate scan order, the exact-substring short-circuit, the
#   anchor-prefix scan (pos-3 clamp, sorted-set dedup), the sparse
#   fallback stride, the early-exit window cut, and the last_end
#   carry are replayed with window functions + one list_reduce fold
#   per doc (accepted span ends are strictly increasing, so last_end
#   is the tail element — no nested acc iteration needed).
# * Both greedy keep-best-non-overlap dedups are WITH RECURSIVE
#   CTEs whose state rows carry the kept/remaining span lists;
#   Python's stable sort-by-(-score) is replayed by an explicit
#   (negsc, seq) struct sort key where seq pins the pre-sort order.
# * snap_to_sentence is pure regexp arithmetic on the haystack.
#
# Honest scope: assumes the corpus text is ASCII with
# normalize_py(text) == text (true for the driver fixtures at all
# three SFs, asserted in tests/test_spans.py's generator pins), so
# lower(text) is the haystack both engines see. The winner set is the
# proven bm25_topk top-10 (rounded score DESC, doc_id ASC).


def _jw_cte_chain(prefix: str, src: str) -> str:
    """CTE chain computing jaro_winkler(a, b) for rows of `src`
    (cols: doc_id, c, w, a, b) -> CTE `{prefix}jw` (doc_id, c, w, jw).
    Bit-exact twin of operators/spans.jaro / jaro_winkler."""
    p = prefix
    return f"""{p}st0 AS MATERIALIZED (
  SELECT doc_id, c, w, a, b, length(a) AS la, length(b) AS lb,
         greatest((greatest(length(a), length(b)) // 2) - 1, 0) AS win
  FROM {src}
),
{p}st1a AS MATERIALIZED (
  SELECT *,
         CASE WHEN la = 0 OR lb = 0 OR a = b THEN NULL ELSE
           list_concat(
             [{{'bm': 0::BIGINT, 'am': 0::BIGINT, 'cnt': 0}}],
             list_transform(range(0, la), i -> {{
               'bm': list_sum(list_transform(
                       list_filter(range(greatest(0, i - win), least(lb, i + win + 1)),
                                   j -> substr(b, j + 1, 1) = substr(a, i + 1, 1)),
                       j -> (1::BIGINT << j)))::BIGINT,
               'am': (1::BIGINT << i), 'cnt': 0}})
           ) END AS melems
  FROM {p}st0
),
{p}st1 AS MATERIALIZED (
  SELECT * EXCLUDE (melems),
         CASE WHEN melems IS NULL THEN NULL ELSE
           list_reduce(melems,
             (acc, x) -> CASE
               WHEN (x.bm & ~acc.bm) != 0
               THEN {{'bm': acc.bm | ((x.bm & ~acc.bm) & -(x.bm & ~acc.bm)),
                     'am': acc.am | x.am, 'cnt': acc.cnt + 1}}
               ELSE acc END
           ) END AS mst
  FROM {p}st1a
),
{p}st2 AS MATERIALIZED (
  SELECT doc_id, c, w, a, b, la, lb,
         CASE WHEN a = b THEN NULL ELSE mst.cnt END AS m,
         CASE WHEN a = b OR la = 0 OR lb = 0 OR mst.cnt = 0 THEN NULL ELSE
           len(list_filter(range(1, mst.cnt + 1), k ->
             substr(a, list_filter(range(0, la), i -> (mst.am & (1::BIGINT << i)) != 0)[k] + 1, 1)
             != substr(b, list_filter(range(0, lb), j -> (mst.bm & (1::BIGINT << j)) != 0)[k] + 1, 1)))
         END AS tcnt
  FROM {p}st1
),
{p}st3 AS MATERIALIZED (
  SELECT doc_id, c, w,
         CASE WHEN a = b THEN 1.0
              WHEN la = 0 OR lb = 0 OR m = 0 THEN 0.0
              ELSE (m / CAST(la AS DOUBLE) + m / CAST(lb AS DOUBLE)
                    + (m - tcnt / 2.0) / CAST(m AS DOUBLE)) / 3.0 END AS j,
         coalesce(list_filter(range(0, least(least(4, la), lb)),
                              p -> substr(a, 1, p + 1) != substr(b, 1, p + 1))[1],
                  least(least(4, la), lb)) AS prefix
  FROM {p}st2
),
{p}jw AS (
  SELECT doc_id, c, w, j + prefix * 0.1 * (1.0 - j) AS jw FROM {p}st3
)"""


def _fuzzy_find_cte_chain(
    prefix: str, needle: str, threshold: float, early_exit: float
) -> str:
    """CTE chain replaying operators/spans.fuzzy_find(h, needle) per
    doc of `haydocs(doc_id, h, lh)` -> CTE `{prefix}spans`
    (doc_id, sp LIST<STRUCT(s, e, sc)>), one row per doc."""
    import math as _math

    p = prefix
    n = needle.lower()
    ln = len(n)
    nl = n.replace("'", "''")
    alen = min(8, max(2, ln // 6))
    anchor = nl[:alen]
    step = max(ln // 4, 1)
    max_w = int(_math.ceil(1.3 * ln))
    return f"""{p}exacta AS MATERIALIZED (
  SELECT doc_id,
         list_concat(
           [[]::INT[]],
           list_transform(
             list_filter(range(0, greatest(lh - {ln} + 1, 0)),
                         q -> substr(h, q + 1, {ln}) = '{nl}'),
             q -> [q])) AS qls
  FROM haydocs
),
{p}exact AS MATERIALIZED (
  SELECT doc_id,
         list_reduce(qls,
           (acc, x) -> CASE WHEN len(acc) = 0 THEN x
                            WHEN x[1] >= acc[len(acc)] + {ln}
                            THEN list_concat(acc, x) ELSE acc END
         ) AS ps
  FROM {p}exacta
),
{p}cands AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN len(anch) > 0 THEN anch
              ELSE range(0, greatest(lh - {ln} + 1, 1), {step}) END AS cs
  FROM (
    SELECT doc_id, lh,
           list_sort(list_distinct(list_transform(
             list_filter(range(0, greatest(lh - {alen} + 1, 0)),
                         q -> substr(h, q + 1, {alen}) = '{anchor}'),
             q -> greatest(q - 3, 0)))) AS anch
    FROM haydocs
  )
),
{p}cw AS MATERIALIZED (
  SELECT d.doc_id, c.c, w.w, substr(d.h, c.c + 1, w.w) AS a,
         '{nl}' AS b
  FROM haydocs d
  JOIN {p}exact x ON d.doc_id = x.doc_id AND len(x.ps) = 0
  JOIN {p}cands cc ON d.doc_id = cc.doc_id
  CROSS JOIN LATERAL (SELECT UNNEST(cc.cs) AS c) c
  CROSS JOIN LATERAL (SELECT UNNEST(range({ln}, {max_w} + 1)) AS w) w
  WHERE c.c + w.w <= d.lh
),
{_jw_cte_chain(p, p + "cw")},
{p}best AS MATERIALIZED (
  SELECT doc_id, c, w AS bw, jw AS sc FROM (
    SELECT doc_id, c, w, jw,
           min(CASE WHEN jw > {early_exit!r} THEN w END)
             OVER (PARTITION BY doc_id, c) AS we
    FROM {p}jw
  ) t
  WHERE (we IS NULL OR w <= we)
),
{p}bestpick AS MATERIALIZED (
  SELECT doc_id, c, bw, sc FROM (
    SELECT doc_id, c, bw, sc,
           ROW_NUMBER() OVER (PARTITION BY doc_id, c
                              ORDER BY sc DESC, bw ASC) AS rn
    FROM {p}best
    WHERE sc >= {threshold!r}
  ) WHERE rn = 1
),
{p}folda AS MATERIALIZED (
  SELECT doc_id,
         list_concat(
           [[]::STRUCT(c INT, e INT, sc DOUBLE)[]],
           list_transform(
             list_sort(list(ROW(c, c + bw, sc)::STRUCT(c INT, e INT, sc DOUBLE))),
             x -> [x])) AS cls
  FROM {p}bestpick
  GROUP BY doc_id
),
{p}fold AS MATERIALIZED (
  SELECT doc_id,
         list_reduce(cls,
           (acc, x) -> CASE WHEN len(acc) = 0 THEN x
                            WHEN x[1].c >= acc[len(acc)].e
                            THEN list_concat(acc, x) ELSE acc END
         ) AS sp
  FROM {p}folda
),
{p}spans AS MATERIALIZED (
  SELECT d.doc_id,
         CASE WHEN len(x.ps) > 0
              THEN list_transform(x.ps, q -> {{'s': q, 'e': q + {ln}, 'sc': 1.0}})
              ELSE coalesce(
                list_transform(f.sp, y -> {{'s': y.c, 'e': y.e, 'sc': y.sc}}),
                []::STRUCT(s INT, e INT, sc DOUBLE)[])
         END AS sp
  FROM haydocs d
  JOIN {p}exact x ON d.doc_id = x.doc_id
  LEFT JOIN {p}fold f ON d.doc_id = f.doc_id
)"""


def _dedup_rec_cte(name: str, src: str) -> str:
    """Recursive greedy keep-best-non-overlap dedup (Python
    dedup_spans) over `{src}(doc_id, items LIST<STRUCT(negsc, seq, s,
    e, sc)>)` -> CTE `{name}(doc_id, kept)` sorted by start; the
    (negsc, seq) struct prefix replays Python's STABLE sort by
    -score."""
    st = "STRUCT(negsc DOUBLE, seq INT, s INT, e INT, sc DOUBLE)"
    return f"""{name}_it AS (
  SELECT doc_id, items AS remaining, []::{st}[] AS kept, 0 AS lvl
  FROM {src}
  UNION ALL
  SELECT doc_id,
         list_filter(remaining, r -> r.seq != pick.seq),
         list_append(kept, pick),
         lvl + 1
  FROM (
    SELECT doc_id, remaining, kept, lvl,
           list_sort(list_filter(remaining,
             r -> len(list_filter(kept, k -> NOT (r.e <= k.s OR r.s >= k.e))) = 0))[1] AS pick
    FROM {name}_it
  )
  WHERE pick IS NOT NULL
),
{name} AS MATERIALIZED (
  SELECT doc_id,
         list_sort(list_transform(kept, k -> {{'s': k.s, 'e': k.e, 'sc': k.sc}})) AS kept
  FROM (SELECT doc_id, kept,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY lvl DESC) AS rn
        FROM {name}_it)
  WHERE rn = 1
)"""


def _fuzzy_spans_sql(
    query_terms: list[str],
    needle: str,
    k: int,
    threshold: float = FUZZY_THRESHOLD,
    early_exit: float = FUZZY_EARLY_EXIT,
    haydocs_sql: str | None = None,
) -> str:
    """Complete fuzzy_spans oracle: BM25 top-`k` winners for
    `query_terms` (the proven _bm25_sql shape), then the refine_spans
    pipeline for `needle` (phrase fuzzy_find; per-term fallback +
    dedup when the phrase finds nothing; sentence snap; final dedup)
    -> (doc_id, n_matches, best_score). `haydocs_sql` overrides the
    winner-derived haystack CTE body (used by the pytest generator
    pins to run over the whole corpus)."""
    terms = [t for t in needle.lower().split() if t]
    terms_list = ", ".join(f"'{t}'" for t in sorted(set(query_terms)))
    if haydocs_sql is None:
        haydocs_sql = f"""
  SELECT d.doc_id, lower(d.text) AS h, length(d.text) AS lh
  FROM documents d
  JOIN win ON d.doc_id = win.doc_id"""
    chains = [_fuzzy_find_cte_chain("np_", needle, threshold, early_exit)]
    for i, t in enumerate(terms):
        chains.append(_fuzzy_find_cte_chain(f"t{i}_", t, threshold, early_exit))
    if len(terms) > 1:
        cat = "list_concat(" * (len(terms) - 1) + "t0.sp"
        for i in range(1, len(terms)):
            cat += f", t{i}.sp)"
        fb_joins = "\n".join(
            f"  JOIN t{i}_spans t{i} ON p.doc_id = t{i}.doc_id"
            for i in range(len(terms))
        )
        fallback = f""",
fb_in AS MATERIALIZED (
  SELECT p.doc_id, {cat} AS cat
  FROM np_spans p
{fb_joins}
  WHERE len(p.sp) = 0
),
fb_items AS MATERIALIZED (
  SELECT doc_id,
         list_transform(range(1, len(cat) + 1),
           i -> {{'negsc': -cat[i].sc, 'seq': i, 's': cat[i].s,
                 'e': cat[i].e, 'sc': cat[i].sc}}) AS items
  FROM fb_in
),
{_dedup_rec_cte("fb_dd", "fb_items")},
pre AS MATERIALIZED (
  SELECT p.doc_id,
         CASE WHEN len(p.sp) > 0 THEN p.sp
              ELSE coalesce(d.kept, []::STRUCT(s INT, e INT, sc DOUBLE)[]) END AS sp
  FROM np_spans p
  LEFT JOIN fb_dd d ON p.doc_id = d.doc_id
)"""
    else:
        fallback = """,
pre AS MATERIALIZED (SELECT doc_id, sp FROM np_spans)"""
    left_i0 = "length(regexp_replace(substr(hd.h, 1, sp[i].s), '[^.!?]*$', ''))"
    chains_sql = ",\n".join(chains)
    right_nonend = "length(regexp_extract(substr(hd.h, sp[i].e + 1), '^[^.!?]*'))"
    return f"""
WITH RECURSIVE {_TF_CTE},
q AS (SELECT unnest([{terms_list}]) AS term),
scores AS (
    SELECT tf.doc_id,
           SUM( ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                * tf.tf * {K1 + 1.0}
                / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl)) ) AS s
    FROM tf
    JOIN q USING (term)
    JOIN dfreq ON tf.term = dfreq.term
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
),
win AS (
    SELECT doc_id FROM (
        SELECT doc_id, floor((s) * 1000000.0 + 0.5) / 1000000.0 AS score
        FROM scores
        ORDER BY score DESC, doc_id ASC
        LIMIT {k}
    )
),
haydocs AS MATERIALIZED ({haydocs_sql}
),
{chains_sql}{fallback},
snapped AS MATERIALIZED (
  SELECT pre.doc_id,
         list_transform(range(1, len(sp) + 1), i -> {{
           'negsc': -sp[i].sc,
           'seq': i,
           's': CAST(
             {left_i0}
             + length(regexp_extract(
                 substr(hd.h, {left_i0} + 1, sp[i].s - {left_i0}),
                 '^[ \t\n]*')) AS INT),
           'e': CAST(
             CASE WHEN {right_nonend} = hd.lh - sp[i].e
                  THEN hd.lh
                  ELSE sp[i].e + {right_nonend} + 1
                       + length(regexp_extract(
                           substr(hd.h, sp[i].e + {right_nonend} + 2),
                           '^["'')\\]]*'))
             END AS INT),
           'sc': sp[i].sc}}) AS items
  FROM pre JOIN haydocs hd ON pre.doc_id = hd.doc_id
),
{_dedup_rec_cte("fin_dd", "snapped")}
SELECT s.doc_id,
       CAST(len(coalesce(d.kept, []::STRUCT(s INT, e INT, sc DOUBLE)[])) AS INT) AS n_matches,
       floor(coalesce(list_max(list_transform(d.kept, k -> k.sc)), 0.0)
             * 1000000.0 + 0.5) / 1000000.0 AS best_score
FROM snapped s LEFT JOIN fin_dd d ON s.doc_id = d.doc_id
"""


ORACLE_SQL["fuzzy_spans"] = _fuzzy_spans_sql(
    _FLAGSHIP_TERMS, "filter window", DEFAULT_TOP_K
)
