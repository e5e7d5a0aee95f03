"""Sessionization + deterministic split + vocab: edge behaviors beyond
the oracle parity the driver checks."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from semantic_pdf_search_engine_spark.operators.temporal import sessionize
from semantic_pdf_search_engine_spark.operators.traindata import (
    SPLIT_BUCKETS,
    assign_split,
    build_vocab,
)


def T(s):
    return dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(seconds=s)


def test_sessionize_gap_boundary(spark):
    """gap == gap_sec stays in the SAME session; gap_sec + epsilon
    starts a new one (strict >); per-key isolation; seq restarts."""
    rows = [
        (1, 7, T(0)),
        (2, 7, T(1800)),     # exactly the gap: same session
        (3, 7, T(3600)),     # again exactly: still session 0
        (4, 7, T(5401)),     # 1801s after: NEW session
        (5, 8, T(0)),        # other key: its own session 0
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {
        r["event_id"]: (r["session_id"], r["session_seq"])
        for r in sessionize(ev, gap_sec=1800).collect()
    }
    assert got[1] == (0, 0) and got[2] == (0, 1) and got[3] == (0, 2)
    assert got[4] == (1, 0)
    assert got[5] == (0, 0)


def test_sessionize_subsecond_gap(spark):
    """Fractional-epoch arithmetic: a gap of gap_sec + 0.5s must open a
    new session (whole-second flooring would miss it)."""
    rows = [(1, 7, T(0)), (2, 7, T(10) + dt.timedelta(milliseconds=500))]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {
        r["event_id"]: r["session_id"]
        for r in sessionize(ev, gap_sec=10).collect()
    }
    assert got[1] == 0 and got[2] == 1


def test_assign_split_deterministic_and_stable(spark):
    """Same id → same split regardless of corpus contents or
    partitioning; proportions track the weights; appending documents
    never moves an existing doc's split (eval-contamination guard)."""
    docs = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in assign_split(docs).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in assign_split(docs.repartition(13)).collect()
    }
    assert a == b
    grown = spark.range(0, 8000).withColumnRenamed("id", "doc_id")
    g = {r["doc_id"]: r["split"] for r in assign_split(grown).collect()}
    assert all(g[k] == v for k, v in a.items())
    from collections import Counter

    c = Counter(a.values())
    assert abs(c["train"] / 4000 - 0.9) < 0.03
    assert abs(c["val"] / 4000 - 0.05) < 0.02
    assert abs(c["test"] / 4000 - 0.05) < 0.02

    with pytest.raises(ValueError, match="sum to 1"):
        assign_split(docs, weights={"train": 0.5, "val": 0.1})


def test_build_vocab_ranking_and_floor(spark):
    docs = spark.createDataFrame(
        [
            (0, "alpha alpha alpha beta beta gamma"),
            (1, "alpha beta delta"),
        ],
        "doc_id long, text string",
    )
    v = {r["term"]: r for r in build_vocab(docs, min_df=1).collect()}
    assert v["alpha"]["vocab_id"] == 0 and v["alpha"]["tf_total"] == 4
    assert v["beta"]["vocab_id"] == 1 and v["beta"]["df"] == 2
    # tie on tf_total=1 between gamma/delta → term-asc order
    assert v["delta"]["vocab_id"] == 2 and v["gamma"]["vocab_id"] == 3
    v2 = {r["term"] for r in build_vocab(docs, min_df=2).collect()}
    assert v2 == {"alpha", "beta"}  # the OOV floor drops df=1 terms


def test_sessionize_agrees_with_native_session_window(spark):
    """Internal consistency: the hand-rolled gaps-and-islands sessionize
    and Spark's built-in F.session_window must carve IDENTICAL sessions
    — same (key, start=min ts, n_events) set, including at the exact
    gap boundary (both merge at gap == G, split at > G) — on the real
    events fixture plus boundary probes."""
    from semantic_pdf_search_engine_spark.streaming.windows import (
        session_window_stats,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    probes = spark.createDataFrame(
        [
            (900001, 999901, T(0)),
            (900002, 999901, T(1800)),   # exact boundary: merges
            (900003, 999901, T(3601)),   # > gap: splits
        ],
        "event_id long, user_id long, ts timestamp",
    )
    ev = ev.unionByName(probes)

    ours = (
        sessionize(ev, gap_sec=1800)
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("session_start"), F.count("*").alias("n_events"))
    )
    ours_set = {
        (r["user_id"], r["session_start"], r["n_events"]) for r in ours.collect()
    }
    native = session_window_stats(ev, gap="1800 seconds")
    native_set = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in native.collect()
    }
    assert ours_set == native_set and len(ours_set) > 10


def test_sessionize_bucketed_equals_base_under_skew(spark):
    """sessionize_bucketed must return EXACTLY sessionize's labels while
    splitting a hot key across (key, time-bucket) window groups —
    including sessions that span bucket boundaries, exact gap-boundary
    events, sparse keys crossing many empty buckets, and null-ts rows
    (each its own session, ordered first)."""
    import random

    from semantic_pdf_search_engine_spark.operators.temporal import (
        sessionize_bucketed,
    )

    rng = random.Random(11)
    rows = []
    eid = 0
    # hot key 7: 4000 events over ~40 days (bucket = 1 day)
    for _ in range(4000):
        eid += 1
        rows.append((eid, 7, T(rng.randrange(3_500_000))))
    # key 8: session spanning a bucket boundary (events 10 min apart
    # across midnight day 2)
    base = 2 * 86400 - 300
    for d in (0, 600, 1200):
        eid += 1
        rows.append((eid, 8, T(base + d)))
    # key 9: exact gap boundary across a bucket edge (stays one session)
    eid += 1; rows.append((eid, 9, T(86400 - 900)))
    eid += 1; rows.append((eid, 9, T(86400 + 900)))      # exactly 1800s
    eid += 1; rows.append((eid, 9, T(86400 + 2701)))     # 1801s: splits
    # key 10: sparse — events days apart (empty buckets between)
    for d in (0, 5, 11, 30):
        eid += 1
        rows.append((eid, 10, T(d * 86400)))
    # key 11: null timestamps (each its own session) + one real event
    eid += 1; rows.append((eid, 11, None))
    eid += 1; rows.append((eid, 11, None))
    eid += 1; rows.append((eid, 11, T(1000)))

    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    )
    base_out = {
        r["event_id"]: (r["session_id"], r["session_seq"])
        for r in sessionize(ev, gap_sec=1800).collect()
    }
    bucketed = {
        r["event_id"]: (r["session_id"], r["session_seq"])
        for r in sessionize_bucketed(ev, gap_sec=1800, bucket_sec=86400).collect()
    }
    assert bucketed == base_out

    # the hot key genuinely splits across many window groups
    n_buckets = (
        ev.filter(F.col("user_id") == 7)
        .selectExpr("floor(cast(ts as double) / 86400) b")
        .distinct()
        .count()
    )
    assert n_buckets > 30


def test_shard_plan_partition_invariant_and_exact(spark):
    """The two-phase prefix-sum plan must be invariant to input
    partitioning and match a driver-side greedy pack exactly, including
    docs straddling shard boundaries."""
    from semantic_pdf_search_engine_spark.operators.traindata import shard_plan

    rows = [(i, " ".join(f"w{j}" for j in range((i * 7) % 23 + 1))) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["shard_id"], r["shard_offset"])
        for r in shard_plan(docs, tokens_per_shard=50).collect()
    }
    scrambled = {
        r["doc_id"]: (r["n_tokens"], r["shard_id"], r["shard_offset"])
        for r in shard_plan(docs.repartition(7), tokens_per_shard=50).collect()
    }
    assert scrambled == got
    start = 0
    for i in range(200):
        n = (i * 7) % 23 + 1
        assert got[i] == (n, start // 50, start % 50), i
        start += n
    assert max(s for _, s, _ in got.values()) > 10  # genuinely multi-shard


def test_split_contamination_known_overlap(spark):
    """A synthetic corpus where one eval doc copies a train doc verbatim
    (contamination 1.0) and another shares nothing (0.0)."""
    from semantic_pdf_search_engine_spark.operators.traindata import (
        assign_split,
        split_contamination,
    )

    base = spark.range(0, 3000).withColumnRenamed("id", "doc_id")
    splits = {r["doc_id"]: r["split"] for r in assign_split(base).collect()}
    train_id = next(d for d, s in splits.items() if s == "train")
    eval_ids = [d for d, s in splits.items() if s != "train"][:2]

    train_text = "alpha beta gamma delta epsilon zeta"
    rows = [(train_id, train_text),
            (eval_ids[0], train_text),                      # verbatim copy
            (eval_ids[1], "one two three four five six")]   # disjoint
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in split_contamination(docs).collect()}
    assert got[eval_ids[0]]["contamination"] == 1.0
    assert got[eval_ids[1]]["contamination"] == 0.0
    assert got[eval_ids[1]]["n_shared"] == 0
    assert train_id not in got  # train docs are not tested against themselves


def test_shard_plan_null_text_safe(spark):
    """NULL text contributes 0 tokens (coalesced on BOTH engine and
    oracle sides) — never NaN in the prefix sum."""
    from semantic_pdf_search_engine_spark.operators.traindata import shard_plan

    docs = spark.createDataFrame(
        [(0, "one two three"), (1, None), (2, "four five")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["shard_id"], r["shard_offset"])
        for r in shard_plan(docs, tokens_per_shard=4).collect()
    }
    assert got[0] == (3, 0, 0)
    assert got[1] == (0, 0, 3)   # zero-width doc sits at the running offset
    assert got[2] == (2, 0, 3)


def test_sessionize_null_ts_matches_duckdb_oracle(spark):
    """The events_sessionize DuckDB twin must agree with the operator
    even with NULL timestamps (nulls first, each its own session) —
    the fixture has none, so this pins the latent case."""
    import duckdb

    from semantic_pdf_search_engine_spark import registry

    rows = [
        (1, 7, None),
        (2, 7, None),
        (3, 7, T(0)),
        (4, 7, T(1800)),
        (5, 7, T(3601 + 1800)),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {
        (r["event_id"], r["session_id"], r["session_seq"])
        for r in sessionize(ev, gap_sec=1800).collect()
    }
    con = duckdb.connect()
    pdf = ev.toPandas()
    con.register("events", pdf)
    want = {
        (int(r[0]), int(r[2]), int(r[3]))
        for r in con.execute(
            registry.ORACLE_SQL["events_sessionize"]
        ).fetchall()
    }
    got_cmp = {(e, s, q) for e, s, q in got}
    assert got_cmp == want
    # semantic spot-check: each null-ts row is its own leading session
    by_event = {e: (s, q) for e, s, q in got}
    assert by_event[1] == (0, 0) and by_event[2] == (1, 0)
    assert by_event[3] == (2, 0)


# --- sample_corpus --------------------------------------------------------


def _sample_docs(spark, n=400):
    rows = [(i, ["en", "de", "zh"][i % 3]) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_sample_corpus_deterministic_and_weighted(spark):
    """Same input → identical sample across invocations; weights are
    the exact 1/rate reweighting factors; rate-1.0 strata keep every
    member and rate-0 strata vanish."""
    from semantic_pdf_search_engine_spark.operators.traindata import sample_corpus

    docs = _sample_docs(spark)
    rates = {"en": 1.0, "de": 0.25, "zh": 0.0}
    a = sorted(sample_corpus(docs, rates).collect())
    b = sorted(sample_corpus(docs, rates).collect())
    assert a == b
    langs = {}
    for r in a:
        langs.setdefault(r["lang"], []).append(r)
    assert len(langs["en"]) == 134  # every en doc (ids ≡ 0 mod 3)
    assert all(r["weight"] == 1.0 for r in langs["en"])
    assert all(r["weight"] == 4.0 for r in langs.get("de", []))
    assert "zh" not in langs
    # de rate: thresholds are exact, so the observed fraction is a
    # fixed deterministic number near 0.25 — bound it loosely
    assert 0.10 < len(langs.get("de", [])) / 133 < 0.40


def test_sample_corpus_stable_under_append(spark):
    """A doc's fate never changes when the corpus grows: the sample of
    a subset equals the subset of the full sample."""
    from semantic_pdf_search_engine_spark.operators.traindata import sample_corpus

    full = _sample_docs(spark, 400)
    sub = full.filter(F.col("doc_id") < 200)
    rates = {"en": 0.5, "de": 0.5, "zh": 0.5}
    s_full = {r["doc_id"] for r in sample_corpus(full, rates).collect()}
    s_sub = {r["doc_id"] for r in sample_corpus(sub, rates).collect()}
    assert s_sub == {i for i in s_full if i < 200}


def test_sample_corpus_salt_independence(spark):
    """A different salt draws a fresh coin: selections differ, and the
    sampling coin is independent of the split coin (doc ids sampled at
    rate r are NOT systematically train/val/test)."""
    from semantic_pdf_search_engine_spark.operators.traindata import sample_corpus

    docs = _sample_docs(spark, 400)
    rates = {"en": 0.5, "de": 0.5, "zh": 0.5}
    s1 = {r["doc_id"] for r in sample_corpus(docs, rates, salt="sample-v1").collect()}
    s2 = {r["doc_id"] for r in sample_corpus(docs, rates, salt="sample-v2").collect()}
    assert s1 != s2


def test_sample_corpus_rejects_bad_rate(spark):
    from semantic_pdf_search_engine_spark.operators.traindata import sample_corpus

    with pytest.raises(ValueError):
        sample_corpus(_sample_docs(spark), {"en": 1.5})


# --- bpe_merge_pairs ------------------------------------------------------


def test_bpe_merge_pairs_counts_and_rank(spark):
    """Adjacent-pair counts with deterministic rank (count desc, pair
    asc), min_count floor, and single-token docs contributing nothing."""
    from semantic_pdf_search_engine_spark.operators.traindata import (
        bpe_merge_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "low low low lower"),
            (2, "low lower newest"),
            (3, "solo"),
        ],
        "doc_id long, text string",
    )
    got = [
        (r["left"], r["right"], r["pair_count"], r["rank"])
        for r in bpe_merge_pairs(docs, top_k=10, min_count=2)
        .orderBy("rank")
        .collect()
    ]
    # pairs: doc1 → (low,low)x2, (low,lower); doc2 → (low,lower), (lower,newest)
    assert got == [
        ("low", "low", 2, 1),
        ("low", "lower", 2, 2),
    ]


def test_bpe_merge_pairs_top_k_cut(spark):
    from semantic_pdf_search_engine_spark.operators.traindata import (
        bpe_merge_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b c d c d e f e f")], "doc_id long, text string"
    )
    got = bpe_merge_pairs(docs, top_k=2, min_count=1).collect()
    assert len(got) == 2
    assert all(r["rank"] <= 2 for r in got)


# --- stratified_sample ----------------------------------------------------


def test_stratified_sample_exact_ranks_vs_plain_window(spark):
    """The map-side bottom-k plan produces EXACTLY the rows and ranks
    of the plain per-stratum hash-order window, under a many-partition
    layout that forces the partial fold to matter."""
    import hashlib

    from semantic_pdf_search_engine_spark.operators.traindata import (
        SAMPLE_SALT,
        stratified_sample,
    )

    rows = [(i, ["en", "de", "zh"][i % 3]) for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string").repartition(16)
    got = {
        (r["lang"], r["rank"]): r["doc_id"]
        for r in stratified_sample(docs, n_per=5).collect()
    }
    # python twin: n smallest salted hashes per stratum
    by_lang = {}
    for i, lang in rows:
        h = hashlib.md5(f"{i}:{SAMPLE_SALT}".encode()).hexdigest()
        by_lang.setdefault(lang, []).append((h, i))
    want = {}
    for lang, hs in by_lang.items():
        for rank, (_, i) in enumerate(sorted(hs)[:5], start=1):
            want[(lang, rank)] = i
    assert got == want


def test_stratified_sample_small_stratum_kept_whole(spark):
    """A stratum smaller than n_per returns all its members."""
    from semantic_pdf_search_engine_spark.operators.traindata import (
        stratified_sample,
    )

    docs = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "rare")], "doc_id long, lang string"
    )
    got = stratified_sample(docs, n_per=10).collect()
    assert {(r["lang"]) for r in got} == {"en", "rare"}
    assert len(got) == 3


# --- pmi_pairs ------------------------------------------------------------


def test_pmi_pairs_known_value(spark):
    """A corpus where 'x y' is a perfect collocation (always adjacent)
    and 'a b' is incidental: pmi(x,y) pinned to the analytic value and
    ranked first."""
    import math

    from semantic_pdf_search_engine_spark.operators.traindata import pmi_pairs

    # tokens: x y x y x y | a b a c a d  → c(x)=c(y)=3, c(xy)=3
    docs = spark.createDataFrame(
        [(1, "x y x y x y"), (2, "a b a c a d")],
        "doc_id long, text string",
    )
    got = {
        (r["left"], r["right"]): (r["pair_count"], r["pmi"], r["rank"])
        for r in pmi_pairs(docs, min_count=2, top_k=10).collect()
    }
    T, P = 12.0, 10.0  # 12 tokens, 10 adjacent pairs (5 per doc)
    want_pmi = math.floor(math.log((3 * T * T) / (3.0 * 3.0 * P)) * 1e6 + 0.5) / 1e6
    assert got[("x", "y")] == (3, want_pmi, 1)
    # 'y x' occurs twice (inside doc 1) with lower association
    assert ("y", "x") in got and got[("y", "x")][0] == 2
    # below min_count pairs are absent
    assert ("a", "b") not in got


def test_keyness_known_value(spark):
    """Analytic G² for a two-doc corpus; exclusive terms rank top and
    a balanced term scores ~0."""
    import math

    from semantic_pdf_search_engine_spark.operators.traindata import keyness_terms

    docs = spark.createDataFrame(
        [
            (1, "en", "x x x common common"),
            (2, "de", "y y y common common"),
        ],
        "doc_id long, lang string, text string",
    )
    got = {
        r["term"]: (r["focus_count"], r["ref_count"], r["g2"])
        for r in keyness_terms(
            docs, F.col("lang") == "en", min_count=2, top_k=10
        ).collect()
    }
    ta = tb = 5.0
    # x: a=3, b=0 → only the a-term contributes
    e1 = ta * 3.0 / (ta + tb)
    want = math.floor(2.0 * (3.0 * math.log(3.0 / e1)) * 1e6 + 0.5) / 1e6
    assert got["x"] == (3, 0, want)
    assert got["y"][0] == 0 and got["y"][1] == 3
    # perfectly balanced term: expected == observed → g2 == 0
    assert got["common"] == (2, 2, 0.0)


def test_tfidf_top_terms_known_values(spark):
    """Weight = tf·ln(N/df) pinned on a tiny corpus; per-doc rank with
    term-asc ties; docs with fewer terms than k emit what they have."""
    import math

    from semantic_pdf_search_engine_spark.operators.traindata import (
        tfidf_top_terms,
    )

    docs = spark.createDataFrame(
        [(1, "apple apple banana shared"), (2, "cherry shared")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["term"]): (r["tf"], r["weight"], r["rank"])
        for r in tfidf_top_terms(docs, top_k=5).collect()
    }
    ln2 = math.floor(math.log(2.0) * 1e6 + 0.5) / 1e6
    # apple: tf=2, df=1 → 2·ln(2) ranks first in doc 1
    w_apple = math.floor(2 * math.log(2.0) * 1e6 + 0.5) / 1e6
    assert got[(1, "apple")] == (2, w_apple, 1)
    assert got[(1, "banana")] == (1, ln2, 2)
    # shared: df=2 → ln(1)=0 weight, ranks last
    assert got[(1, "shared")] == (1, 0.0, 3)
    assert got[(2, "cherry")] == (1, ln2, 1)
    assert got[(2, "shared")] == (1, 0.0, 2)


# -- mixture weights / LM buckets / distilled classifier (r4 tail) --------


def _mini_docs(spark):
    rows = [
        (0, "spark filter join window spark filter join", "a"),
        (1, "scan sort merge join group agg", "a"),
        (2, "small table broadcast join fast", "b"),
        (3, "stream window batch stream window", "b"),
        (4, "the a the a the a the a", "c"),
        (5, "query plan filter scan filter scan filter", "c"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_mixture_weights_invariants(spark):
    """Weights sum to 1; upsampling direction: alpha<1 gives the
    SMALLEST source a weight above its proportional share and the
    largest below; epochs_s * n_tokens_s sums to the token budget."""
    from semantic_pdf_search_engine_spark.operators.traindata import mixture_weights

    out = mixture_weights(_mini_docs(spark), alpha=0.5).collect()
    w = {r["source"]: r for r in out}
    assert abs(sum(r["weight"] for r in out) - 1.0) < 1e-5
    tot = sum(r["n_tokens"] for r in out)
    for r in out:
        prop = r["n_tokens"] / tot
        if r["n_tokens"] == min(x["n_tokens"] for x in out):
            assert r["weight"] > prop
        if r["n_tokens"] == max(x["n_tokens"] for x in out):
            assert r["weight"] < prop
    budget = sum(r["epochs"] * r["n_tokens"] for r in out)
    assert abs(budget - tot) / tot < 1e-4


def test_mixture_alpha_one_is_proportional(spark):
    from semantic_pdf_search_engine_spark.operators.traindata import mixture_weights

    out = mixture_weights(_mini_docs(spark), alpha=1.0).collect()
    tot = sum(r["n_tokens"] for r in out)
    for r in out:
        assert abs(r["weight"] - r["n_tokens"] / tot) < 1e-5
        assert abs(r["epochs"] - 1.0) < 1e-5  # proportional = every source once


def test_lm_logloss_buckets_balanced_and_ordered(spark):
    """Tertiles are equal-count (±1) and order-consistent: every head
    doc's logloss <= every tail doc's; the repeated-stopword doc (best
    modeled by the corpus unigram LM) lands in the head bucket."""
    from semantic_pdf_search_engine_spark.operators.traindata import (
        lm_logloss_buckets,
    )

    out = lm_logloss_buckets(_mini_docs(spark), n_buckets=3).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r["logloss"])
    sizes = [len(v) for _, v in sorted(by_bucket.items())]
    assert max(sizes) - min(sizes) <= 1
    assert max(by_bucket[0]) <= min(by_bucket[max(by_bucket)])


def test_lm_logloss_partition_invariant(spark):
    """The two-phase prefix-sum rank must give the same buckets no
    matter how the input is partitioned (the 100 TB determinism
    claim)."""
    from semantic_pdf_search_engine_spark.operators.traindata import (
        lm_logloss_buckets,
    )

    docs = _mini_docs(spark)
    a = {r["doc_id"]: (r["logloss"], r["bucket"])
         for r in lm_logloss_buckets(docs, 3).collect()}
    b = {r["doc_id"]: (r["logloss"], r["bucket"])
         for r in lm_logloss_buckets(docs.repartition(7), 3).collect()}
    assert a == b


def test_quality_classifier_learns_the_rule(spark, sf_dir):
    """Distillation sanity on the fixture corpus: after 5 GD epochs the
    model must beat the majority-class baseline at reproducing the
    rule cascade it was trained on, and probabilities are calibrated
    in direction (mean prob of kept docs > mean prob of dropped)."""
    from semantic_pdf_search_engine_spark.functions.quality import quality_verdict
    from semantic_pdf_search_engine_spark.operators.traindata import (
        quality_classifier,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    label = (quality_verdict(F.col("text"), 30, 0.81, 0.62) == "pass").cast("int")
    out = quality_classifier(docs, label, iters=5, lr=1.0)
    joined = out.join(
        docs.select("doc_id", label.alias("y")), "doc_id"
    ).collect()
    n = len(joined)
    maj = max(sum(r["y"] for r in joined), n - sum(r["y"] for r in joined)) / n
    acc = sum(1 for r in joined if r["pred"] == r["y"]) / n
    assert acc > maj, (acc, maj)
    kept = [r["prob"] for r in joined if r["y"] == 1]
    dropped = [r["prob"] for r in joined if r["y"] == 0]
    assert sum(kept) / len(kept) > sum(dropped) / len(dropped)
    assert all(0.0 <= r["prob"] <= 1.0 for r in joined)


def test_regex_search_single_expansion_equals_plain_bm25(spark):
    """A regex matching exactly one vocabulary term must reduce to
    plain single-term BM25 (same scores, same order)."""
    from semantic_pdf_search_engine_spark.operators.bm25 import (
        bm25_topk,
        regex_search,
    )

    docs = _mini_docs(spark)
    got = [(r["doc_id"], r["score"]) for r in regex_search(docs, "jo.n", 10).collect()]
    want = [(r["doc_id"], r["score"]) for r in bm25_topk(docs, "join", 10).collect()]
    assert got == want


def test_bm25f_equal_weights_reduce_to_plain_bm25(spark):
    """With all field weights = 1.0 and fields that partition the
    original text exactly (title+body == text, split at a tokenizer
    boundary), BM25F degenerates to single-field BM25: same tfw, same
    dlw, same idf, same scores."""
    from semantic_pdf_search_engine_spark.operators.bm25 import (
        bm25_topk,
        bm25f_topk,
    )

    docs = _mini_docs(spark).withColumnRenamed("source", "src")
    split = docs.select(
        "doc_id",
        F.expr(
            "CASE WHEN locate(' ', text) > 0 "
            "THEN substring(text, 1, locate(' ', text)) ELSE text END"
        ).alias("title"),
        F.expr(
            "CASE WHEN locate(' ', text) > 0 "
            "THEN substring(text, locate(' ', text) + 1) ELSE '' END"
        ).alias("body"),
    )
    got = [
        (r["doc_id"], r["score"])
        for r in bm25f_topk(split, "join filter", {"title": 1.0, "body": 1.0}, 10).collect()
    ]
    want = [
        (r["doc_id"], r["score"]) for r in bm25_topk(docs, "join filter", 10).collect()
    ]
    assert got == want


def test_bm25f_title_boost_outranks_body_hit(spark):
    """Two docs of identical token length, the query term once each —
    in the title for one, the body for the other: the title doc must
    score strictly higher under w_title > w_body."""
    from semantic_pdf_search_engine_spark.operators.bm25 import bm25f_topk

    rows = [
        (1, "target word", "filler filler filler"),
        (2, "other word", "target filler filler"),
        (3, "other word", "filler filler filler"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, title string, body string")
    out = [
        (r["doc_id"], r["score"])
        for r in bm25f_topk(d, "target", {"title": 2.0, "body": 1.0}, 10).collect()
    ]
    assert [doc for doc, _ in out] == [1, 2]
    assert out[0][1] > out[1][1]


def test_bm25f_null_field_is_zero_length(spark):
    """A NULL field has zero tokens: the doc keeps its other field's
    match and counts in avgdl, ranking exactly as with an empty field."""
    from semantic_pdf_search_engine_spark.operators.bm25 import bm25f_topk

    def ranked(title_1):
        rows = [
            (0, "alpha beta", "alpha"),
            (1, "alpha", title_1),
            (2, "beta alpha alpha", "gamma"),
        ]
        d = spark.createDataFrame(rows, "doc_id long, body string, title string")
        out = bm25f_topk(d, "alpha", {"body": 1.0, "title": 2.0}, 10).collect()
        return [(r["doc_id"], r["score"]) for r in out]

    got = ranked(None)
    assert got == ranked("")
    assert [d for d, _ in got] == [0, 1, 2]
    assert got[1][1] == 0.187114


def test_significant_terms_groupwise_known_value(spark):
    """A term occurring ONLY in one group must top that group's ranking
    (maximal G² among its terms); grouped output covers every group;
    ref_count = corpus total minus the group's count."""
    from semantic_pdf_search_engine_spark.operators.traindata import (
        significant_terms,
    )

    rows = [
        (0, "unicorn unicorn unicorn common common", "a"),
        (1, "common common common", "a"),
        (2, "common common common common", "b"),
        (3, "dragon dragon common", "b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = significant_terms(docs, "source", top_k=2, min_count=1).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["source"], []).append(r)
    assert set(by_group) == {"a", "b"}
    top_a = min(by_group["a"], key=lambda r: r["rank"])
    top_b = min(by_group["b"], key=lambda r: r["rank"])
    assert top_a["term"] == "unicorn" and top_a["ref_count"] == 0
    assert top_b["term"] == "dragon" and top_b["ref_count"] == 0
    assert top_a["focus_count"] == 3 and top_b["focus_count"] == 2


def test_cli_traindata_subcommands(spark, sf_dir, tmp_path, capsys):
    """classify / cluster / mixture CLI paths run end-to-end in-process
    (get_spark getOrCreate reuses the test session) and emit the
    documented JSON shapes."""
    import json

    from semantic_pdf_search_engine_spark.cli import main

    rc = main(["mixture", "--input", f"{sf_dir}/documents.parquet"])
    assert rc in (0, None)
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rows and abs(sum(r["weight"] for r in rows) - 1.0) < 1e-4

    rc = main(
        ["classify", "--input", f"{sf_dir}/documents.parquet",
         "--out", str(tmp_path / "clf"), "--iters", "2"]
    )
    assert rc in (0, None)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_docs"] > 0 and 0 <= out["pred_keep"] <= out["n_docs"]
    assert spark.read.parquet(str(tmp_path / "clf")).columns == [
        "doc_id", "prob", "pred",
    ]

    rc = main(
        ["cluster", "--input", f"{sf_dir}/embeddings.parquet",
         "--out", str(tmp_path / "km"), "--k", "3", "--iters", "2"]
    )
    assert rc in (0, None)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sum(out["cluster_sizes"].values()) == spark.read.parquet(
        str(tmp_path / "km")
    ).count()


def test_boolean_min_should_match_quorum(spark):
    """msm=2 over 3 should terms admits exactly the docs matching >=2
    distinct terms; msm=0 with empty must refuses (no positive
    clause); quorum docs are BM25-ranked over the should set."""
    from semantic_pdf_search_engine_spark.operators.bm25 import boolean_search

    rows = [
        (1, "join filter window extras"),   # 3 of 3
        (2, "join filter other words"),     # 2 of 3
        (3, "join only here"),              # 1 of 3 -> excluded
        (4, "nothing relevant at all"),     # 0 of 3 -> excluded
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]
        for r in boolean_search(
            docs, must=[], should=["join", "filter", "window"],
            min_should_match=2,
        ).collect()
    }
    assert got == {1, 2}
    # no positive clause -> empty result, not a full scan
    assert boolean_search(docs, must=[], should=["join"]).count() == 0
    # msm composes with must: must=join AND >=1 of {filter, window}
    got2 = {
        r["doc_id"]
        for r in boolean_search(
            docs, must=["join"], should=["filter", "window"],
            min_should_match=1,
        ).collect()
    }
    assert got2 == {1, 2}


def test_mixture_weights_zero_token_source_no_nan(spark):
    """A source whose docs all tokenize to nothing gets weight 0 and
    epochs 0 (not NaN — the CLI emits these rows as JSON)."""
    import math

    from semantic_pdf_search_engine_spark.operators.traindata import mixture_weights

    rows = [
        (0, "real words here", "a"),
        (1, "more real words", "a"),
        (2, "...", "z"),  # tokenizes to zero tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in mixture_weights(docs, alpha=0.5).collect()}
    assert out["z"]["n_tokens"] == 0
    assert out["z"]["weight"] == 0.0 and out["z"]["epochs"] == 0.0
    assert not any(
        math.isnan(v) for r in out.values() for v in (r["weight"], r["epochs"])
    )
    assert out["a"]["weight"] == 1.0  # only token-bearing source


def test_select_by_budget_greedy_and_partition_invariant(spark):
    """Keep set = the maximal quality-DESC prefix fitting the budget;
    a straddling doc is dropped; result identical under repartition
    (the two-phase prefix sum is the determinism claim)."""
    from semantic_pdf_search_engine_spark.operators.traindata import (
        select_by_budget,
    )

    rows = [  # (id, text of n words) with quality proxy = n words
        (1, "w " * 10),   # 10 tokens
        (2, "w " * 8),    # 8
        (3, "w " * 6),    # 6
        (4, "w " * 4),    # 4
    ]
    docs = spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id long, text string"
    )
    quality = F.size(F.split(F.col("text"), " ")).cast("double")
    out = {r["doc_id"]: r for r in select_by_budget(docs, 20, quality).collect()}
    # greedy order 1(10) -> 2(8) cum 18 <= 20; 3 would hit 24 -> dropped,
    # and 4 (cum 28) too: greedy PREFIX, not best-fit knapsack
    assert [out[i]["keep"] for i in (1, 2, 3, 4)] == [1, 1, 0, 0]
    assert out[2]["cum_tokens"] == 18 and out[3]["cum_tokens"] == 24

    again = {
        r["doc_id"]: (r["keep"], r["cum_tokens"])
        for r in select_by_budget(docs.repartition(7), 20, quality).collect()
    }
    assert again == {i: (out[i]["keep"], out[i]["cum_tokens"]) for i in out}
