"""Span refinement — the 8 artifact classes from the reference's fuzzy
tests (/root/reference/src/fuzzy.rs:183-287; FIXTURES.md §3) must match
after normalization, plus Jaro-Winkler sanity and the end-to-end
search+refine pipeline."""

from __future__ import annotations

import pytest

from semantic_pdf_search_engine_spark.functions.normalize import normalize_py
from semantic_pdf_search_engine_spark.operators.spans import (
    dedup_spans,
    fuzzy_find,
    jaro,
    jaro_winkler,
    refine_spans,
    snap_to_sentence,
)

ARTIFACT_CASES = [
    ("infor-\nmation retrieval", "information", 0.95),
    ("the  quick   brown  fox", "quick brown", 0.90),
    ("a self-\ncontained system", "self-contained", 0.85),
    ("compre­hensive guide", "comprehensive", 0.95),
    ("the  result.  The  value  is  correct", "result. The value", 0.90),
    ("wordswithoutspaces", "without", 0.99),  # exact substring
    ("“quoted text”", '"quoted text"', 0.95),
    ("well—known fact", "well-known", 0.95),
]


@pytest.mark.parametrize("haystack,needle,thr", ARTIFACT_CASES)
def test_artifact_match(haystack, needle, thr):
    h = normalize_py(haystack)
    n = normalize_py(needle)
    spans = fuzzy_find(h, n, threshold=thr)
    assert spans, f"no match: {h!r} / {n!r}"
    assert spans[0][2] >= thr


def test_jaro_known_values():
    assert jaro("martha", "marhta") == pytest.approx(0.944444, abs=1e-5)
    assert jaro_winkler("martha", "marhta") == pytest.approx(0.961111, abs=1e-5)
    assert jaro("abc", "abc") == 1.0
    assert jaro("abc", "xyz") == 0.0
    assert jaro("", "x") == 0.0


def test_exact_short_circuit_all_occurrences():
    spans = fuzzy_find("ab cd ab cd ab", "ab")
    assert [(s, e) for s, e, _ in spans] == [(0, 2), (6, 8), (12, 14)]
    assert all(sc == 1.0 for _, _, sc in spans)


def test_dedup_keeps_best_non_overlapping():
    spans = [(0, 10, 0.9), (5, 15, 0.95), (20, 25, 0.86)]
    assert dedup_spans(spans) == [(5, 15, 0.95), (20, 25, 0.86)]


def test_snap_to_sentence():
    text = "First one. The match is here. Another trails."
    s, e = snap_to_sentence(text, 15, 20)  # inside second sentence
    assert text[s:e] == "The match is here."


def test_refine_spans_end_to_end(spark):
    df = spark.createDataFrame(
        [(1, "Alpha beta. The infor-\nmation lives here. Tail."),
         (2, "no relevant content at all")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["matches"] for r in refine_spans(df, "information").collect()}
    assert len(out[1]) == 1
    m = out[1][0]
    norm = normalize_py("Alpha beta. The infor-\nmation lives here. Tail.")
    assert "information" in norm[m["start"] : m["end"]].lower()
    assert out[2] == []


def test_exact_spans_matches_fuzzy_find_exact_path():
    """The exact_spans registry columns (n/first/last) must agree with
    the span pipeline's exact short-circuit (fuzzy_find score-1.0 path)."""
    from semantic_pdf_search_engine_spark.operators.spans import fuzzy_find

    hay = "the filter window starts here; another filter window ends it"
    needle = "filter window"
    spans = fuzzy_find(hay, needle)
    assert all(s[2] == 1.0 for s in spans)
    n, first, last = len(spans), spans[0][0], spans[-1][0]
    # the Column formulas, evaluated in plain python
    plen = len(needle)
    assert n == (len(hay) - len(hay.replace(needle, ""))) // plen
    assert first == hay.find(needle)
    assert last == len(hay) - (hay[::-1].find(needle[::-1])) - plen


def test_fuzzy_spans_index_backed_matches_relational(spark, sf_dir, tmp_path, monkeypatch):
    """q_fuzzy_spans sources its winners from the prebuilt compressed
    index (plans/query.score_topk); output must be IDENTICAL to the
    relational-BM25 formulation it replaced — the rank-identity
    invariant extended through the span pipeline."""
    import os

    from pyspark.sql import functions as F

    from semantic_pdf_search_engine_spark import registry
    from semantic_pdf_search_engine_spark.config import DEFAULT_TOP_K
    from semantic_pdf_search_engine_spark.operators import bm25
    from semantic_pdf_search_engine_spark.operators.spans import refine_spans

    monkeypatch.setenv("SPSE_INDEX_CACHE", str(tmp_path / "idxcache"))

    got = {
        (r["doc_id"], r["n_matches"], r["best_score"])
        for r in registry.q_fuzzy_spans(spark, sf_dir).collect()
    }

    # the old relational formulation, inline
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    winner_ids = [
        r["doc_id"]
        for r in bm25.bm25_topk(
            docs, registry.FLAGSHIP_QUERY, DEFAULT_TOP_K
        ).collect()
    ]
    hits = docs.select("doc_id", "text").filter(F.col("doc_id").isin(winner_ids))
    want = {
        (r["doc_id"], r["n_matches"], r["best_score"])
        for r in refine_spans(hits, "filter window")
        .select(
            "doc_id",
            F.size("matches").alias("n_matches"),
            F.round(
                F.coalesce(F.array_max(F.col("matches.score")), F.lit(0.0)), 6
            ).alias("best_score"),
        )
        .collect()
    }
    assert got == want

    # second call serves from the cache (no rebuild): same answer
    again = {
        (r["doc_id"], r["n_matches"], r["best_score"])
        for r in registry.q_fuzzy_spans(spark, sf_dir).collect()
    }
    assert again == got


# --- positional phrase search --------------------------------------------


def test_phrase_occurrences_basic_and_overlap(spark):
    """Token adjacency with repeated occurrences, overlapping matches
    of a self-similar phrase, and docs missing a term."""
    from semantic_pdf_search_engine_spark.operators.postings import (
        phrase_occurrences,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox the quick brown"),
            (2, "quick the brown"),          # terms present, never adjacent
            (3, "a b a b a"),
            (4, "no relevant terms at all"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in phrase_occurrences(docs, "quick brown").collect()}
    assert set(got) == {1}
    assert (got[1]["n_occ"], got[1]["first_pos"]) == (2, 2)

    # self-overlapping phrase "a b a": starts at 1 and 3
    got = {r["doc_id"]: r for r in phrase_occurrences(docs, "a b a").collect()}
    assert (got[3]["n_occ"], got[3]["first_pos"]) == (2, 1)


def test_phrase_occurrences_whole_token_not_substring(spark):
    """'filter window' must NOT match 'filter windows' — whole-token
    semantics, the divergence from the substring-scan phrase_match."""
    from semantic_pdf_search_engine_spark.operators.postings import (
        phrase_occurrences,
    )

    docs = spark.createDataFrame(
        [(1, "we filter windows here"), (2, "we filter window here")],
        "doc_id long, text string",
    )
    got = {r["doc_id"] for r in phrase_occurrences(docs, "filter window").collect()}
    assert got == {2}


def test_positional_postings_sorted_and_pruned(spark):
    """positions are sorted 1-based; the terms filter prunes before the
    shuffle (absent terms yield no rows)."""
    from semantic_pdf_search_engine_spark.operators.postings import (
        positional_postings,
    )

    docs = spark.createDataFrame(
        [(1, "b a b b a")], "doc_id long, text string"
    )
    rows = {
        r["term"]: r["positions"]
        for r in positional_postings(docs, ["a", "b", "zz"]).collect()
    }
    assert rows == {"a": [2, 5], "b": [1, 3, 4]}


def test_phrase_indexed_equals_on_the_fly(spark, tmp_path):
    """The materialized positional index serves the same rows as the
    computed-on-the-fly phrase query, and its scan partition-prunes to
    the phrase terms' buckets."""
    from semantic_pdf_search_engine_spark.operators.postings import (
        build_positional_index,
        phrase_occurrences,
    )

    docs = spark.createDataFrame(
        [
            (1, "stream table hash join stream table hash"),
            (2, "stream of hash table"),
            (3, "stream table hash"),
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "posidx")
    build_positional_index(docs, d)
    live = sorted(
        tuple(r) for r in phrase_occurrences(docs, "stream table hash").collect()
    )
    idx = sorted(tuple(r) for r in phrase_occurrences(d, "stream table hash").collect())
    assert idx == live
    assert live == [(1, 2, 1), (3, 1, 1)]

    plan = phrase_occurrences(d, "stream table hash")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "term_bucket" in plan


def test_phrase_occurrences_matches_python_twin_property(spark):
    """phrase_occurrences == a naive python scan over random token
    sequences from a 2-letter alphabet (maximizing overlaps and
    repeated-term phrases)."""
    import random

    from semantic_pdf_search_engine_spark.operators.postings import (
        phrase_occurrences,
    )

    rng = random.Random(11)
    for trial in range(3):
        docs = [
            (i, " ".join(rng.choice(["a", "b"]) for _ in range(rng.randint(0, 10))))
            for i in range(10)
        ]
        phrase = " ".join(rng.choice(["a", "b"]) for _ in range(rng.randint(1, 3)))
        seq = phrase.split()
        want = {}
        for i, t in docs:
            toks = t.split()
            starts = [
                j + 1
                for j in range(len(toks) - len(seq) + 1)
                if toks[j : j + len(seq)] == seq
            ]
            if starts:
                want[i] = (len(starts), starts[0])
        got = {
            r["doc_id"]: (r["n_occ"], r["first_pos"])
            for r in phrase_occurrences(
                spark.createDataFrame(docs, "doc_id long, text string"), phrase
            ).collect()
        }
        assert got == want, f"trial {trial}: phrase={phrase!r}"


def test_positional_index_append_equals_full_build(spark, tmp_path):
    """build(A) + append(B) answers phrase queries identically to
    build(A ∪ B) — appended segments land as new files in the same
    term_bucket layout, no rewrite."""
    from semantic_pdf_search_engine_spark.operators.postings import (
        append_to_positional_index,
        build_positional_index,
        phrase_occurrences,
    )

    a = [(1, "x y z x y"), (2, "x z y")]
    b = [(3, "w x y w"), (4, "y x")]
    d_inc = str(tmp_path / "pos_inc")
    d_full = str(tmp_path / "pos_full")
    build_positional_index(spark.createDataFrame(a, "doc_id long, text string"), d_inc)
    append_to_positional_index(
        spark.createDataFrame(b, "doc_id long, text string"), d_inc
    )
    build_positional_index(
        spark.createDataFrame(a + b, "doc_id long, text string"), d_full
    )
    for phrase in ("x y", "w x y", "y x"):
        got = sorted(tuple(r) for r in phrase_occurrences(d_inc, phrase).collect())
        want = sorted(tuple(r) for r in phrase_occurrences(d_full, phrase).collect())
        assert got == want, phrase
    got = {
        r["doc_id"]: (r["n_occ"], r["first_pos"])
        for r in phrase_occurrences(d_inc, "x y").collect()
    }
    # doc 1 "x y z x y" → starts 1, 4; doc 3 "w x y w" → start 2;
    # doc 4 is "y x" (reversed) → no match
    assert got == {1: (2, 1), 3: (1, 2)}


def test_proximity_known_values(spark):
    from semantic_pdf_search_engine_spark.operators.postings import (
        proximity_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "filter pad pad join"),      # dist 3 — at the window edge
            (2, "join filter"),              # dist 1, order-independent
            (3, "filter pad pad pad join"),  # dist 4 — outside window
            (4, "filter only here"),         # missing one term
            (5, "join filter pad filter"),   # multiple pairs: min wins
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["min_dist"]
        for r in proximity_search(docs, "filter", "join", window=3).collect()
    }
    assert got == {1: 3, 2: 1, 5: 1}


def test_proximity_same_term_rejected(spark):
    from semantic_pdf_search_engine_spark.operators.postings import (
        proximity_search,
    )

    docs = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        proximity_search(docs, "a", "a", window=3)


def test_proximity_indexed_equals_on_the_fly(spark, tmp_path):
    from semantic_pdf_search_engine_spark.operators.postings import (
        build_positional_index,
        proximity_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "filter pad join pad filter"),
            (2, "join pad pad pad pad filter"),
            (3, "filter join filter join"),
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "posidx_near")
    build_positional_index(docs, d)
    live = sorted(
        tuple(r) for r in proximity_search(docs, "filter", "join", 2).collect()
    )
    idx = sorted(tuple(r) for r in proximity_search(d, "filter", "join", 2).collect())
    assert live == idx and live  # non-empty and identical


def test_cli_phrase_and_near_pos_equals_input(spark, tmp_path, capsys):
    """cli `phrase` and `near` print identical rows whether they read
    the positional index `build-pos-index` wrote (--pos) or tokenize the
    documents parquet (--input), and still demand exactly one of the
    two."""
    import json

    from semantic_pdf_search_engine_spark.cli import main

    inp = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [
            (1, "stream table hash join stream table"),
            (2, "filter pad join stream of table"),
            (3, "join filter stream table"),
            (4, "nothing to see"),
        ],
        "doc_id long, text string",
    ).write.parquet(inp)
    pos = str(tmp_path / "pos")
    assert main(["build-pos-index", "--input", inp, "--pos", pos]) == 0
    capsys.readouterr()

    def rows(*argv):
        assert main(list(argv)) == 0
        return [json.loads(line) for line in capsys.readouterr().out.splitlines()]

    for cmd, want in (
        (["phrase", "--phrase", "stream table"], [1, 3]),
        (["near", "--a", "filter", "--b", "join", "--window", "2"], [2, 3]),
    ):
        via_pos = rows(*cmd, "--pos", pos)
        assert via_pos == rows(*cmd, "--input", inp)
        assert [r["doc_id"] for r in via_pos] == want
        with pytest.raises(SystemExit):
            main(cmd)


def test_fuzzy_spans_sql_generator_other_params(spark, sf_dir):
    """Second parameter point for the fuzzy_spans hard oracle
    (registry instance: flagship winners, needle 'filter window',
    threshold 0.85): needle 'sort merge' at threshold 0.8 over the
    WHOLE sf0.001 corpus (haydocs override — 500 docs, not 10
    winners), Spark refine_spans vs the unrolled DuckDB twin. This
    pin drives every branch the registry instance may not: the
    exact-phrase short-circuit ('sort merge' occurs literally),
    the sparse-candidate fallback (docs without the 'so' anchor),
    sub-1.0 Jaro-Winkler bests, and empty results — and asserts each
    branch is non-trivially represented."""
    import duckdb

    import pyspark.sql.functions as F

    from semantic_pdf_search_engine_spark.functions.rounding import round_half_up
    from semantic_pdf_search_engine_spark.registry import (
        _FLAGSHIP_TERMS,
        _fuzzy_spans_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    out = refine_spans(docs, "sort merge", threshold=0.8).select(
        "doc_id",
        F.size("matches").alias("n_matches"),
        round_half_up(
            F.coalesce(F.array_max(F.col("matches.score")), F.lit(0.0)), 6
        ).alias("best_score"),
    )
    got = {r["doc_id"]: (r["n_matches"], r["best_score"]) for r in out.collect()}

    sql = _fuzzy_spans_sql(
        _FLAGSHIP_TERMS,
        "sort merge",
        10,
        threshold=0.8,
        haydocs_sql="SELECT doc_id, lower(text) AS h, length(text) AS lh FROM documents",
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = {d: (nm, bs) for d, nm, bs in con.execute(sql).fetchall()}
    assert got == want and len(got) == 500
    bests = [bs for _, bs in got.values()]
    assert any(bs == 1.0 for bs in bests)  # exact-phrase / exact-term branch
    assert any(0.0 < bs < 1.0 for bs in bests)  # Jaro-Winkler window branch
    assert any(bs == 0.0 for bs in bests)  # no-span branch


def test_fuzzy_spans_oracle_fixture_scope_assumptions(sf_dir):
    """The fuzzy_spans oracle's documented scope: fixture text is
    ASCII, already lowercase, and normalize_py-invariant, so both
    engines see lower(text) as the haystack with 1 char == 1 byte ==
    1 offset. Pin it so a fixture change can't silently break the
    scope argument."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    assert len(rows) > 0
    for (t,) in rows:
        assert t is not None and t.isascii() and t == t.lower()
        assert normalize_py(t) == t


def test_fuzzy_spans_sql_snap_branch_synthetic_docs():
    """The driver fixtures contain no sentence enders, so on them the
    snap stage degenerates to whole-doc spans and the final dedup
    keeps exactly one. Pin the GENERAL snap arithmetic of the SQL
    twin — previous-ender left walk + whitespace skip, next-ender
    right walk, closing-quote/paren absorption, multi-span survival —
    against the Python composition on 150 seeded synthetic docs WITH
    '.', '!', '?' and closing chars. 100+ docs end up with multiple
    surviving spans, so the branch is non-trivially represented."""
    import math
    import random

    import duckdb
    import pandas as pd

    from semantic_pdf_search_engine_spark.registry import (
        _FLAGSHIP_TERMS,
        _fuzzy_spans_sql,
    )

    words = (
        "sort merge row scan key hash join table part filter window value "
        "fast slow agg group spark line batch data query"
    ).split()
    rng = random.Random(41)
    docs = []
    for d in range(150):
        toks = []
        for _ in range(rng.randint(30, 90)):
            toks.append(rng.choice(words))
            if rng.random() < 0.12:
                toks[-1] += rng.choice([".", "!", "?", '."', ".)", "?']"])
        docs.append((d, " ".join(toks)))
    # the oracle's documented scope must hold for the synthetic corpus
    for _, t in docs:
        assert t.isascii() and t == t.lower() and normalize_py(t) == t

    def py_refine(h, np, thr):
        terms = [t for t in np.lower().split() if t]
        spans = fuzzy_find(h, np, thr)
        if not spans and len(terms) > 1:
            pt = []
            for t in terms:
                pt.extend(fuzzy_find(h, t, thr))
            spans = dedup_spans(pt)
        spans = dedup_spans(
            [(*snap_to_sentence(h, s, e), sc) for s, e, sc in spans]
        )
        best = max((sc for _, _, sc in spans), default=0.0)
        return len(spans), math.floor(best * 1e6 + 0.5) / 1e6

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    for needle, thr in [("sort merge", 0.8), ("filter window", 0.85)]:
        sql = _fuzzy_spans_sql(
            _FLAGSHIP_TERMS,
            needle,
            10,
            threshold=thr,
            haydocs_sql=(
                "SELECT doc_id, lower(text) AS h, length(text) AS lh "
                "FROM documents"
            ),
        )
        got = {d: (nm, bs) for d, nm, bs in con.execute(sql).fetchall()}
        want = {d: py_refine(t, needle, thr) for d, t in docs}
        assert got == want
        assert sum(1 for nm, _ in want.values() if nm > 1) >= 100
