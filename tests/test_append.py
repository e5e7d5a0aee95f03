"""Incremental append: build(A) + append(B) must answer queries
identically to build(A ∪ B) — docIDs, scores, pruning all intact while
corpus stats (N, avgdl, df, idf) drift under the merge."""

from __future__ import annotations

import logging

import pytest

from semantic_pdf_search_engine_spark.fixtures import make_queries, make_transcripts
from semantic_pdf_search_engine_spark.plans.query import score_topk
from semantic_pdf_search_engine_spark.sources.index_store import (
    append_to_index,
    build_index,
    load_index,
)


@pytest.fixture(scope="module")
def corpora(spark):
    pdf = make_transcripts(n_convs=30)
    # log-structured split: first 20 convs, then the rest (conv ids sort after)
    a = pdf[pdf["conv_id"] < "conv00000020"].reset_index(drop=True)
    b = pdf[pdf["conv_id"] >= "conv00000020"].reset_index(drop=True)
    return (
        spark.createDataFrame(pdf),
        spark.createDataFrame(a),
        spark.createDataFrame(b),
    )


def test_append_equals_full_build(spark, corpora, tmp_path, both_paths):
    full, a, b = corpora
    idx_full = build_index(spark, full, str(tmp_path / "full"), stripe_docs=64)
    build_index(spark, a, str(tmp_path / "inc"), stripe_docs=64)
    idx_inc = append_to_index(spark, b, str(tmp_path / "inc"))

    assert idx_inc.n_docs == idx_full.n_docs
    assert abs(idx_inc.avgdl - idx_full.avgdl) < 1e-9

    for path in both_paths():
        for q in make_queries(24)[::4]:
            want = [
                (r["doc_id"], r["score"])
                for r in score_topk(idx_full, q, 10, round_scores=False).collect()
            ]
            got = [
                (r["doc_id"], r["score"])
                for r in score_topk(idx_inc, q, 10, round_scores=False).collect()
            ]
            assert [d for d, _ in got] == [d for d, _ in want], f"{path} q={q!r}"
            for (gd, gs), (_, ws) in zip(got, want):
                assert abs(gs - ws) < 1e-9

    # reload from disk (manifest params survived the append)
    idx_re = load_index(spark, str(tmp_path / "inc"))
    assert idx_re.n_docs == idx_full.n_docs


def test_append_docfreq_merged(spark, corpora, tmp_path):
    full, a, b = corpora
    idx_full = build_index(spark, full, str(tmp_path / "f2"), stripe_docs=64)
    build_index(spark, a, str(tmp_path / "i2"), stripe_docs=64)
    idx_inc = append_to_index(spark, b, str(tmp_path / "i2"))
    want = {
        r["term"]: (r["df"], r["idf"]) for r in idx_full.docfreq.collect()
    }
    got = {r["term"]: (r["df"], r["idf"]) for r in idx_inc.docfreq.collect()}
    assert got.keys() == want.keys()
    for t in want:
        assert got[t][0] == want[t][0], t
        assert abs(got[t][1] - want[t][1]) < 1e-12, t


def test_compaction_equals_one_shot(spark, tmp_path, both_paths):
    """compact(build(A) + append(B) + append(C)) must be BYTE-identical
    per (term, stripe) to build(A∪B∪C): same postings, same encoded
    facts — and queries answer identically before and after."""
    from pyspark.sql import functions as F

    from semantic_pdf_search_engine_spark.sources.index_store import compact_index

    pdf = make_transcripts(n_convs=30)
    a = pdf[pdf["conv_id"] < "conv00000015"].reset_index(drop=True)
    b = pdf[
        (pdf["conv_id"] >= "conv00000015") & (pdf["conv_id"] < "conv00000022")
    ].reset_index(drop=True)
    c = pdf[pdf["conv_id"] >= "conv00000022"].reset_index(drop=True)

    idx_full = build_index(spark, spark.createDataFrame(pdf), str(tmp_path / "f3"),
                           stripe_docs=64)
    build_index(spark, spark.createDataFrame(a), str(tmp_path / "i3"), stripe_docs=64)
    append_to_index(spark, spark.createDataFrame(b), str(tmp_path / "i3"))
    idx_inc = append_to_index(spark, spark.createDataFrame(c), str(tmp_path / "i3"))

    # before compaction: some (term, stripe) has >1 block row
    key = ["term", "stripe_id"]
    pre_max = (
        idx_inc.postings.groupBy(*key).count().agg(F.max("count")).collect()[0][0]
    )
    assert pre_max > 1, "fixture never produced a multi-segment stripe"

    queries = make_queries(24)[::4]
    pre = {
        (path, q): [(r["doc_id"], r["score"])
                    for r in score_topk(idx_inc, q, 10, round_scores=False).collect()]
        for path in both_paths()
        for q in queries
    }

    idx_c = compact_index(spark, str(tmp_path / "i3"))

    # exactly one block per (term, stripe), equal to the one-shot build
    cols = ["term", "stripe_id", "n_postings", "min_doc", "max_doc",
            "gaps", "tfs", "dls", "max_tf", "top_tf", "top_dl"]
    got = {
        (r["term"], r["stripe_id"]): tuple(bytes(r[c]) if isinstance(r[c], (bytes, bytearray)) else r[c] for c in cols[2:])
        for r in idx_c.postings.select(*cols).collect()
    }
    want = {
        (r["term"], r["stripe_id"]): tuple(bytes(r[c]) if isinstance(r[c], (bytes, bytearray)) else r[c] for c in cols[2:])
        for r in idx_full.postings.select(*cols).collect()
    }
    assert got == want

    # queries unchanged across compaction
    for path in both_paths():
        for q in queries:
            post = [(r["doc_id"], r["score"])
                    for r in score_topk(idx_c, q, 10, round_scores=False).collect()]
            want = pre[(path, q)]
            assert [d for d, _ in post] == [d for d, _ in want], (path, q)
            for (gd, gs), (_, ws) in zip(post, want):
                assert abs(gs - ws) < 1e-9

    # compaction is idempotent and survives reload
    idx_c2 = compact_index(spark, str(tmp_path / "i3"))
    assert idx_c2.postings.groupBy(*key).count().agg(F.max("count")).collect()[0][0] == 1
    idx_re = load_index(spark, str(tmp_path / "i3"))
    assert idx_re.postings_rel.startswith("postings_v")


def _block_facts(idx) -> dict:
    """(term, stripe_id) → every stored block column, binaries as bytes."""
    cols = ["term", "stripe_id", "n_postings", "min_doc", "max_doc",
            "gaps", "tfs", "dls", "max_tf", "top_tf", "top_dl"]
    return {
        (r["term"], r["stripe_id"]): tuple(
            bytes(r[c]) if isinstance(r[c], (bytes, bytearray)) else r[c]
            for c in cols[2:]
        )
        for r in idx.postings.select(*cols).collect()
    }


def test_compaction_ignores_uncommitted_tf_rows(spark, corpora, tmp_path):
    """append_to_index writes tf/ before its manifest flip, so a crash
    in between leaves tf rows with doc_id >= n_docs. Compaction rebuilds
    the postings from tf, and must read committed rows only: the result
    stays byte-identical to a one-shot build of A∪B."""
    from pyspark.sql import functions as F

    from semantic_pdf_search_engine_spark.sources.index_store import compact_index

    full, a, b = corpora
    idx_full = build_index(spark, full, str(tmp_path / "f5"), stripe_docs=64)
    build_index(spark, a, str(tmp_path / "i5"), stripe_docs=64)
    idx = append_to_index(spark, b, str(tmp_path / "i5"))

    # the tf rows a crashed third append would leave behind: real terms,
    # doc_ids past the committed corpus
    orphans = spark.createDataFrame(
        idx.tf.filter(F.col("doc_id") < 100)
        .withColumn("doc_id", F.col("doc_id") + F.lit(idx.n_docs))
        .toPandas(),
        schema=idx.tf.schema,
    )
    orphans.write.mode("append").parquet(f"{idx.index_dir}/{idx.tf_rel}")
    assert idx.tf.filter(F.col("doc_id") >= idx.n_docs).count() > 0

    idx_c = compact_index(spark, str(tmp_path / "i5"))
    assert idx_c.n_docs == idx_full.n_docs
    assert _block_facts(idx_c) == _block_facts(idx_full)


def test_uncommitted_postings_of_new_term_ignored(spark, corpora, tmp_path, both_paths):
    """A crashed append can leave posting blocks for a brand-new term
    that docfreq does not know. Both score_topk paths score only the
    terms docfreq holds (the Spark path inner-joins it, the local path
    reads only those terms' blocks), so the orphan term changes no
    answer and the two paths stay bit-identical."""
    from pyspark.sql import functions as F

    from semantic_pdf_search_engine_spark.sources.index_store import term_bucket_of

    full, _, _ = corpora
    idx = build_index(spark, full, str(tmp_path / "o"), stripe_docs=64)
    q = make_queries(24)[0]
    term = sorted(set(q.split()))[0]
    orphan = "zzorphanterm"
    assert idx.docfreq.filter(F.col("term") == orphan).count() == 0
    # copies of `term`'s blocks under the orphan term: the same docs
    (
        idx.postings.filter(F.col("term") == term)
        .withColumn("term", F.lit(orphan))
        .withColumn("term_bucket", F.lit(term_bucket_of(orphan)))
        .write.mode("append").partitionBy("term_bucket").parquet(idx.postings_path)
    )
    idx = load_index(spark, str(tmp_path / "o"))
    assert idx.postings.filter(F.col("term") == orphan).count() > 0

    got = {}
    for path in both_paths():
        got[path] = [
            [(r["doc_id"], r["score"]) for r in score_topk(idx, qq, 10, round_scores=False).collect()]
            for qq in (q, f"{q} {orphan}")
        ]
        assert got[path][0] and got[path][1] == got[path][0], path
    assert got["local"] == got["spark"]


def test_docs_tf_compaction_bounds_files(spark, tmp_path):
    """Sustained appends accumulate parquet files in docs/ and tf/
    forever; compact_docs_tf must fold them to the row-count target
    with content EXACTLY preserved, queries identical, and the manifest
    pointer (docs_rel) surviving reload. compact_index runs it as part
    of the streaming compact_every maintenance pass."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from semantic_pdf_search_engine_spark.sources.index_store import (
        compact_docs_tf,
        compact_index,
    )

    pdf = make_transcripts(n_convs=24)
    cuts = ["conv%08d" % i for i in (6, 9, 12, 15, 18, 21)]
    parts = []
    prev = None
    for c in cuts + [None]:
        if prev is None:
            sel = pdf[pdf["conv_id"] < c]
        elif c is None:
            sel = pdf[pdf["conv_id"] >= prev]
        else:
            sel = pdf[(pdf["conv_id"] >= prev) & (pdf["conv_id"] < c)]
        parts.append(sel.reset_index(drop=True))
        prev = c

    d = tmp_path / "cdt"
    build_index(spark, spark.createDataFrame(parts[0]), str(d), stripe_docs=64)
    for p in parts[1:]:
        idx = append_to_index(spark, spark.createDataFrame(p), str(d))

    docs_files_pre = len(list((d / "docs").rglob("*.parquet")))
    tf_files_pre = len(list((d / "tf").rglob("*.parquet")))
    assert docs_files_pre > 6 and tf_files_pre > 6  # one+ per append
    pre_docs = {
        (r["conv_id"], r["turn_idx"]): r["doc_id"] for r in idx.docs.collect()
    }
    q = make_queries(4)[1]
    pre_hits = [
        (r["doc_id"], r["score"]) for r in score_topk(idx, q, 10).collect()
    ]

    idx_c = compact_docs_tf(spark, str(d), target_rows_per_file=10_000)
    assert idx_c.docs_rel == "docs_v1"
    # the old dir now SURVIVES the pointer flip: append-time snapshots
    # still reference it (time-travel); expire reclaims it below
    assert (d / "docs").exists()
    assert len(list((d / "docs_v1").rglob("*.parquet"))) < docs_files_pre
    assert len(list(Path(d / "tf_v1").rglob("*.parquet"))) < tf_files_pre

    from semantic_pdf_search_engine_spark.sources.index_store import (
        expire_snapshots,
    )

    out = expire_snapshots(str(d), keep_last=1)
    assert "docs" in out["removed_dirs"] and "tf" in out["removed_dirs"]
    assert not (d / "docs").exists() and not (d / "tf").exists()

    post_docs = {
        (r["conv_id"], r["turn_idx"]): r["doc_id"] for r in idx_c.docs.collect()
    }
    assert post_docs == pre_docs
    assert [
        (r["doc_id"], r["score"]) for r in score_topk(idx_c, q, 10).collect()
    ] == pre_hits

    # reload resolves the new pointer; idempotent re-run is a no-op
    idx_re = load_index(spark, str(d))
    assert idx_re.docs_rel == "docs_v1"
    idx_c2 = compact_docs_tf(spark, str(d), target_rows_per_file=10_000)
    assert idx_c2.docs_rel == "docs_v1"

    # the full maintenance pass (compact_index) folds postings AND keeps
    # docs/tf compact
    idx_m = compact_index(spark, str(d))
    assert idx_m.postings_rel.startswith("postings_v")
    assert idx_m.docs.count() == len(pre_docs)


def test_scoped_search_non_contiguous_conv(spark, tmp_path, both_paths, monkeypatch, caplog):
    """ADVICE fix: an append that adds turns to an EXISTING conversation
    breaks docID contiguity for that conv. The scoped path must detect
    it (count < hi-lo+1) and mask by exact membership — docs of other
    conversations inside [lo, hi] must never leak into scoped results."""
    from pyspark.sql import functions as F

    from semantic_pdf_search_engine_spark.operators.bm25 import bm25_topk
    from semantic_pdf_search_engine_spark.plans import query

    pdf = make_transcripts(n_convs=20)
    a = pdf[pdf["conv_id"] < "conv00000012"].reset_index(drop=True)
    rest = pdf[pdf["conv_id"] >= "conv00000012"].reset_index(drop=True)
    # second batch: new convs PLUS extra turns for existing conv 5
    extra = make_transcripts(n_convs=3, seed=99).copy()
    extra["conv_id"] = "conv00000005"
    extra["turn_idx"] = 1000 + extra.reset_index().index
    import pandas as pd

    b = pd.concat([rest, extra], ignore_index=True)

    build_index(spark, spark.createDataFrame(a), str(tmp_path / "nc"), stripe_docs=64)
    idx = append_to_index(spark, spark.createDataFrame(b), str(tmp_path / "nc"))

    # conv 5 is genuinely non-contiguous now
    r = (
        idx.docs.filter(F.col("conv_id") == "conv00000005")
        .agg(F.min("doc_id"), F.max("doc_id"), F.count("*"))
        .collect()[0]
    )
    assert r[2] < r[1] - r[0] + 1

    # brute twin over NORMALIZED text (the index tokenizes normalized
    # turns; relational bm25_topk tokenizes its input as-is)
    from semantic_pdf_search_engine_spark.functions.normalize import normalize_py

    pdocs = idx.docs.select("doc_id", "conv_id", "text").toPandas()
    pdocs["text"] = pdocs["text"].map(normalize_py)
    docs = spark.createDataFrame(pdocs)
    members = {
        r["doc_id"]
        for r in docs.filter(F.col("conv_id") == "conv00000005")
        .select("doc_id").collect()
    }
    for q in make_queries(12)[::3]:
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in bm25_topk(
                docs, q, 10, round_scores=False,
                scope=F.col("conv_id") == "conv00000005",
            ).collect()
        ]
        for path in both_paths():
            got = [
                (r["doc_id"], round(r["score"], 9))
                for r in score_topk(
                    idx, q, 10, round_scores=False, conv_id="conv00000005"
                ).collect()
            ]
            assert [d for d, _ in got] == [d for d, _ in want], (path, q)

            # scale fallback (VERDICT r4 #4): a membership cap of 0
            # forces the in-plan semi-join on the Spark DAG instead of
            # the driver numpy mask — identical results, and the plan
            # carries the LeftSemi join. No broadcast HINT on the
            # membership side (a forced F.broadcast would itself collect
            # the membership to the driver; AQE may still choose
            # broadcast when the measured size is small, which is
            # executor-side and fine)
            with monkeypatch.context() as m, caplog.at_level(logging.DEBUG, query.__name__):
                m.setattr(query, "NONCONTIG_MEMBERSHIP_CAP", 0)
                caplog.clear()
                semi_df = score_topk(
                    idx, q, 10, round_scores=False, conv_id="conv00000005"
                )
            (rec,) = [r.getMessage() for r in caplog.records if r.name == query.__name__]
            if " sum_df=0 " in rec:
                # no query term in the index: answered empty in process,
                # before any scope resolution
                assert "path=local" in rec and not got, (path, q)
            else:
                assert "path=spark" in rec
                if path == "local":
                    # the footprint fits; the membership sends it to Spark
                    assert "reason=scope_members>0" in rec
                plan = semi_df._jdf.queryExecution().optimizedPlan().toString()
                assert "LeftSemi" in plan
            got_semi = [
                (r["doc_id"], round(r["score"], 9)) for r in semi_df.collect()
            ]
            assert got_semi == got, (path, q)
            for (gd, gs), (_, ws) in zip(got, want):
                assert abs(gs - ws) < 1e-9
            # every winner genuinely belongs to the scoped conversation
            assert all(d in members for d, _ in got)


# --- snapshots / time-travel ---------------------------------------------


def test_snapshot_time_travel_and_expiry(spark, corpora, tmp_path, both_paths):
    """A snapshot taken at build time keeps answering with the
    PRE-APPEND corpus after an append (same winners, same scores, same
    n_docs), while the current pointers see the merged corpus;
    expire_snapshots removes the history and unreferenced version dirs
    without disturbing the current index."""
    from semantic_pdf_search_engine_spark.sources.index_store import (
        Manifest,
        expire_snapshots,
    )

    _, a, b = corpora
    d = str(tmp_path / "tt")
    idx_a = build_index(spark, a, d, stripe_docs=64)
    n_before = idx_a.n_docs
    q = make_queries(24)[0]
    want = [
        (r["doc_id"], r["score"])
        for r in score_topk(idx_a, q, 10, round_scores=False).collect()
    ]

    idx_after = append_to_index(spark, b, d)
    assert idx_after.n_docs > n_before

    snaps = Manifest(d).data["snapshots"]
    assert [s["label"] for s in snaps] == ["build", "append_0"]
    s0 = snaps[0]["snapshot_id"]

    old = load_index(spark, d, snapshot_id=s0)
    assert old.n_docs == n_before
    for path in both_paths():
        got = [
            (r["doc_id"], r["score"])
            for r in score_topk(old, q, 10, round_scores=False).collect()
        ]
        assert [x for x, _ in got] == [x for x, _ in want], path
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9
    # the snapshot's docs table excludes appended rows
    assert old.docs.count() == n_before

    out = expire_snapshots(d, keep_last=1)
    assert out["kept"] == [snaps[-1]["snapshot_id"]]
    # the pre-append docfreq version dir was only alive for snapshot 0
    assert any(r.startswith("docfreq") for r in out["removed_dirs"])
    with pytest.raises(ValueError, match="not found"):
        load_index(spark, d, snapshot_id=s0)
    # current index unaffected
    cur = load_index(spark, d)
    assert cur.n_docs == idx_after.n_docs
    for path in both_paths():
        assert len(score_topk(cur, q, 10).collect()) == 10, path


def test_snapshot_history_is_bounded(spark, tmp_path):
    """record_snapshot auto-expires beyond SNAPSHOT_KEEP_DEFAULT, so
    repeated appends keep bounded manifest history (and thus bounded
    version-dir storage)."""
    from semantic_pdf_search_engine_spark.fixtures import make_transcripts
    from semantic_pdf_search_engine_spark.sources.index_store import (
        SNAPSHOT_KEEP_DEFAULT,
        Manifest,
    )

    pdf = make_transcripts(n_convs=16)
    parts = [
        pdf[pdf["conv_id"] == c].reset_index(drop=True)
        for c in sorted(pdf["conv_id"].unique())
    ]
    d = str(tmp_path / "bounded")
    build_index(spark, spark.createDataFrame(parts[0]), d, stripe_docs=64)
    for p in parts[1 : SNAPSHOT_KEEP_DEFAULT + 3]:
        append_to_index(spark, spark.createDataFrame(p), d)
    snaps = Manifest(d).data["snapshots"]
    assert len(snaps) == SNAPSHOT_KEEP_DEFAULT
    # ids keep increasing: the kept window is the NEWEST history
    assert snaps[-1]["label"] == f"append_{SNAPSHOT_KEEP_DEFAULT + 1}"


def test_docs_added_between_snapshots(spark, corpora, tmp_path):
    """Incremental read returns exactly the appended docs as a
    file-list diff (no corpus rescan), and survives a compaction
    rewrite via the anti-join fallback."""
    from semantic_pdf_search_engine_spark.sources.index_store import (
        compact_docs_tf,
        docs_added_between,
    )

    _, a, b = corpora
    d = str(tmp_path / "cdc")
    idx_a = build_index(spark, a, d, stripe_docs=64)
    idx_b = append_to_index(spark, b, d)

    added = docs_added_between(spark, d, from_snapshot=0)
    n_added = added.count()
    assert n_added == idx_b.n_docs - idx_a.n_docs
    # appended docIDs are exactly the new id range
    ids = {r["doc_id"] for r in added.select("doc_id").collect()}
    assert ids == set(range(idx_a.n_docs, idx_b.n_docs))
    # explicit to_snapshot form agrees
    assert (
        docs_added_between(spark, d, from_snapshot=0, to_snapshot=1).count()
        == n_added
    )
    # snapshot→itself is empty
    assert docs_added_between(spark, d, 1, 1).count() == 0

    # compaction rewrites the file set → anti-join fallback, same rows
    compact_docs_tf(spark, d, target_rows_per_file=10_000)
    added2 = docs_added_between(spark, d, from_snapshot=0)
    assert {r["doc_id"] for r in added2.select("doc_id").collect()} == ids


def test_snapshot_prepare_pins_snapshot_files(spark, corpora, tmp_path, both_paths):
    """prepare() on a time-travel handle must pin the SNAPSHOT's
    postings/docfreq, not the current table state — winners and scores
    stay the pre-append answers even with the hot path cached."""
    _, a, b = corpora
    d = str(tmp_path / "ttp")
    idx_a = build_index(spark, a, d, stripe_docs=64)
    q = make_queries(24)[2]
    want = [
        (r["doc_id"], r["score"])
        for r in score_topk(idx_a, q, 10, round_scores=False).collect()
    ]
    append_to_index(spark, b, d)

    old = load_index(spark, d, snapshot_id=0).prepare()
    try:
        for path in both_paths():
            got = [
                (r["doc_id"], r["score"])
                for r in score_topk(old, q, 10, round_scores=False).collect()
            ]
            assert [x for x, _ in got] == [x for x, _ in want], path
            for (_, gs), (_, ws) in zip(got, want):
                assert abs(gs - ws) < 1e-9
        assert old.postings.count() == load_index(spark, d, snapshot_id=0).postings.count()
    finally:
        old._postings_cached.unpersist()
        old._docfreq_cached.unpersist()


def test_snapshot_empty_table_list_rejected_at_load(spark, corpora, tmp_path):
    """A damaged snapshot (empty file list for a table) fails at load
    with a clear message, not on first query."""
    import json

    from semantic_pdf_search_engine_spark.sources.index_store import Manifest

    _, a, _ = corpora
    d = str(tmp_path / "dmg")
    build_index(spark, a, d, stripe_docs=64)
    m = Manifest(d)
    m.data["snapshots"][0]["tables"]["docfreq"] = []
    m.save()
    with pytest.raises(ValueError, match="records no files"):
        load_index(spark, d, snapshot_id=0)


def test_snapshot_tf_pinned_and_survives_compaction(spark, corpora, tmp_path):
    """The tf table obeys the same snapshot contract as
    postings/docfreq/docs: a snapshot handle's .tf excludes rows
    appended afterwards, and still reads after compact_docs_tf swaps
    (and deletes) the live tf dir out from under the old rel."""
    from semantic_pdf_search_engine_spark.sources.index_store import (
        Manifest,
        compact_docs_tf,
    )

    full, a, b = corpora
    d = str(tmp_path / "tfsnap")
    build_index(spark, a, d)  # snapshot 0
    n_tf_a = load_index(spark, d).tf.count()

    append_to_index(spark, b, d)  # snapshot 1 adds b's tf rows
    snap0 = load_index(spark, d, snapshot_id=0)
    assert snap0.tf.count() == n_tf_a  # post-snapshot appends invisible
    assert load_index(spark, d).tf.count() > n_tf_a

    compact_docs_tf(spark, d)  # swaps tf_rel to a versioned dir
    m = Manifest(d)
    assert m.data["params"]["tf_rel"] != "tf"
    # current handle resolves through the NEW rel
    cur = load_index(spark, d)
    assert cur.tf_rel == m.data["params"]["tf_rel"]
    assert cur.tf.count() > n_tf_a
    # the snapshot handle still reads its pinned file list even though
    # the live pointer moved (and rows stay the pre-append set)
    snap0b = load_index(spark, d, snapshot_id=0)
    assert snap0b.tf.count() == n_tf_a


def test_term_bucket_column_matches_driver_bucket(spark):
    """The bucketed writers' JVM `term_bucket_col` and the driver-side
    `term_bucket_of` (which query pruning uses) agree on every term,
    non-ASCII included: a drifted bucket would file postings where no
    query looks."""
    from pyspark.sql import functions as F

    from semantic_pdf_search_engine_spark.sources.index_store import (
        term_bucket_col,
        term_bucket_of,
    )

    vocab = ["", "a", "spark", "café", "東京", "ﬁle", "naïve", "straße", "🙂",
             "x" * 300, "Ελληνικά", "\u00ad", "zero\u200bwidth"]
    vocab += [f"term{i}" for i in range(200)]
    got = {
        r["term"]: r["b"]
        for r in spark.createDataFrame([(t,) for t in vocab], "term string")
        .select("term", term_bucket_col(F.col("term")).alias("b"))
        .collect()
    }
    assert got == {t: term_bucket_of(t) for t in vocab}
