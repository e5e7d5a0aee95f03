"""Serving-path cache contracts (VERDICT r3 next #3/#5/#7):

- a disk store is validated by a stat walk against its one-line
  record; a later process reopens it, and stores sharing one cache
  root never overwrite each other's record;
- store handles are memoized per (session, sf_dir) — repeated registry
  calls reuse ONE prepare()'d index instead of re-opening per call;
- the ANN query vector is fetched driver-side (pyarrow), no Spark job;
- the relational corpus is a build-once store: memoized per documents
  table, rebuilt (and the old one unpersisted) when the table changes,
  and a warm relational query reads it instead of re-tokenizing.
"""

from __future__ import annotations

import pytest

from semantic_pdf_search_engine_spark import registry


def test_doc_index_cache_hit_runs_no_footer_walk(spark, sf_dir, tmp_path, monkeypatch):
    from semantic_pdf_search_engine_spark.sources import index_store

    monkeypatch.setenv("SPSE_INDEX_CACHE", str(tmp_path / "idxcache"))
    registry._STORE_HANDLES.clear()

    idx1 = registry._doc_index(spark, sf_dir)  # builds + persists sig

    # handle memoized: the second call must return the SAME object
    idx2 = registry._doc_index(spark, sf_dir)
    assert idx2 is idx1

    # drop the handle to force the record check: a hit is a stat walk
    # against the stored record and reopens the store, never rebuilds
    registry._STORE_HANDLES.clear()

    def no_build(*a, **kw):
        raise AssertionError("a cache hit must not rebuild")

    monkeypatch.setattr(index_store, "build_index", no_build)
    idx3 = registry._doc_index(spark, sf_dir)
    assert idx3.n_docs == idx1.n_docs


def test_query_vec_driver_side_matches_spark(spark, sf_dir):
    from pyspark.sql import functions as F

    got = registry._query_vec(sf_dir, vec_id=0)
    want = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0][0]
    )
    assert got == pytest.approx(list(want))
    # cached: second call returns the identical object, no re-read
    # (the key embeds the cheap source signature, so a regenerated
    # embeddings table gets a fresh vector)
    assert registry._query_vec(sf_dir, vec_id=0) is got


def test_store_sig_legacy_format_reads_as_miss(tmp_path, sf_dir):
    """Old single-hash sig files (pre-r4) must read as a miss (one
    rebuild), not crash."""
    sig = tmp_path / "cache_sig.txt"
    sig.write_text("0123456789abcdef0123456789abcdef")
    current = registry._stat_signature(f"{sf_dir}/documents.parquet")
    assert registry._read_record(str(sig)) != f"docidx {current}"


class _FakeStore:
    def prepare(self):
        return self


def _count_store_calls(monkeypatch) -> dict[str, int]:
    """Replace the ANN and doc-index builders/loaders with fakes that
    count their calls (a fake build creates the store dir, as a real
    one does), over a handle memo private to the test."""
    import os

    from semantic_pdf_search_engine_spark.sources import ann_store, index_store

    calls = {"build ann": 0, "load ann": 0, "build docidx": 0, "load docidx": 0}

    def fake(name, d_arg):
        def f(*args, **kw):
            calls[name] += 1
            if name.startswith("build"):
                os.makedirs(args[d_arg], exist_ok=True)
            return _FakeStore()

        return f

    monkeypatch.setattr(ann_store, "build_ann_index", fake("build ann", 2))
    monkeypatch.setattr(ann_store, "load_ann_index", fake("load ann", 1))
    monkeypatch.setattr(index_store, "build_index", fake("build docidx", 2))
    monkeypatch.setattr(index_store, "load_index", fake("load docidx", 1))
    monkeypatch.setattr(registry, "_STORE_HANDLES", {})
    return calls


def test_stores_sharing_one_cache_root_reopen_in_a_new_process(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The ANN store and the doc index share one cache root. A second
    process (simulated by clearing the handle memo) must reopen both
    stores from disk and build neither. The benchmark harness also
    points the retired SPSE_ANN_CACHE at the same directory; it must
    not matter."""
    root = str(tmp_path / "cache")
    monkeypatch.setenv("SPSE_INDEX_CACHE", root)
    monkeypatch.setenv("SPSE_ANN_CACHE", root)
    calls = _count_store_calls(monkeypatch)

    registry._ann_index(spark, sf_dir)
    registry._doc_index(spark, sf_dir)
    assert (calls["build ann"], calls["build docidx"]) == (1, 1)

    registry._STORE_HANDLES.clear()
    registry._ann_index(spark, sf_dir)
    registry._doc_index(spark, sf_dir)
    assert calls == {"build ann": 1, "load ann": 1, "build docidx": 1, "load docidx": 1}


def test_doc_index_rebuilds_after_source_rewrite(spark, tmp_path, monkeypatch):
    """Rewriting documents.parquet changes its stat signature, so the
    next `_doc_index` call rebuilds instead of reopening the store."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.setenv("SPSE_INDEX_CACHE", str(tmp_path / "cache"))
    calls = _count_store_calls(monkeypatch)
    sf = tmp_path / "sf"
    sf.mkdir()
    path = str(sf / "documents.parquet")
    pq.write_table(pa.table({"doc_id": [0], "text": ["alpha"]}), path)

    registry._doc_index(spark, str(sf))
    registry._STORE_HANDLES.clear()
    registry._doc_index(spark, str(sf))
    assert (calls["build docidx"], calls["load docidx"]) == (1, 1)

    pq.write_table(pa.table({"doc_id": [0, 1], "text": ["alpha", "beta"]}), path)
    registry._STORE_HANDLES.clear()
    registry._doc_index(spark, str(sf))
    assert (calls["build docidx"], calls["load docidx"]) == (2, 1)


def test_fuzzy_spans_no_per_call_drift(spark, sf_dir, tmp_path, monkeypatch):
    """The r3 regression was q_fuzzy_spans GROWING per call within a
    session (8.4 → 9.8 → 11.1 s over 3 calls — VERDICT r3 'what's
    wrong' #3, suspected accumulating session state in the reload
    path). With the memoized prepare()'d handle and the single-collect
    serving shape, every warm call must run the IDENTICAL amount of
    work. Assert it structurally (Spark job count per call is constant
    across 10 calls — job counts can't be perturbed by host
    contention) plus a loose wall bound (late calls not slower than
    2x early calls) as a belt-and-braces timing check."""
    import time

    monkeypatch.setenv("SPSE_INDEX_CACHE", str(tmp_path / "idxcache"))
    registry._STORE_HANDLES.clear()

    sc = spark.sparkContext
    job_counts: list[int] = []
    walls: list[float] = []
    for i in range(10):
        group = f"fuzzy-drift-{i}"
        sc.setJobGroup(group, "drift probe")
        t0 = time.time()
        rows = registry.q_fuzzy_spans(spark, sf_dir).collect()
        walls.append(time.time() - t0)
        sc.setJobGroup("", "")
        assert len(rows) > 0
        job_counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    # call 0 builds + prepares the index; every warm call after that
    # must schedule exactly the same number of Spark jobs — any
    # accumulating state that adds work would show up here
    warm = job_counts[1:]
    assert len(set(warm)) == 1, f"per-call job drift: {job_counts}"

    # loose timing guard (contention-tolerant): the mean of the last 3
    # warm calls must not exceed 2x the mean of the first 3 warm calls
    early = sum(walls[1:4]) / 3
    late = sum(walls[-3:]) / 3
    assert late <= max(2.0 * early, early + 1.0), f"wall drift: {walls}"


def test_schema_memo_follows_in_process_rewrite(spark, tmp_path):
    """The memoized parquet schema is keyed on the file's stat
    signature: rewriting a table in the same process with an extra
    column must expose that column on the next read, not the schema
    cached from the first one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert registry._read_parquet(spark, path).columns == ["a"]

    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    got = registry._read_parquet(spark, path).select("b").collect()
    assert sorted(r["b"] for r in got) == ["x", "y"]


def test_corpus_store_is_built_once_and_follows_rewrite(spark, tmp_path, monkeypatch):
    """`_corpus` returns ONE persisted store per documents table; an
    in-process rewrite of the table builds a new one and releases the
    old one's executor storage."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import StorageLevel

    path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({"doc_id": [0, 1], "text": ["alpha beta", "beta"]}), path)
    c1 = registry._corpus(spark, str(tmp_path))
    assert registry._corpus(spark, str(tmp_path)) is c1
    assert c1.tf.storageLevel != StorageLevel.NONE
    assert (c1.n_docs, c1.avgdl) == (2.0, 1.5)

    pq.write_table(
        pa.table({"doc_id": [0, 1, 2], "text": ["alpha beta", "beta", "gamma"]}),
        path,
    )
    # the signature miss releases the stale store before any rebuild:
    # the rewritten table reads through a plan equal to the old one, so
    # a store still cached would hand its rows to the new build
    real = registry.bm25.corpus
    at_build = []

    def spy(docs):
        at_build.append((c1.tf.storageLevel, c1.dfreq.storageLevel))
        return real(docs)

    monkeypatch.setattr(registry.bm25, "corpus", spy)
    c2 = registry._corpus(spark, str(tmp_path))
    assert at_build == [(StorageLevel.NONE, StorageLevel.NONE)]
    assert c2 is not c1
    assert c2.tf.storageLevel != StorageLevel.NONE
    assert c2.n_docs == 3.0
    assert sorted(r["doc_id"] for r in c2.tf.collect()) == [0, 0, 1, 2]
    assert sorted(r["term"] for r in c2.dfreq.collect()) == ["alpha", "beta", "gamma"]
    c2.unpersist()


@pytest.mark.parametrize("name,max_jobs", [("bm25_topk", 3), ("prf_search", 10)])
def test_warm_relational_query_reads_the_stored_corpus(spark, sf_dir, name, max_jobs):
    """Once the corpus store is built, a relational query schedules only
    its own scoring jobs: no tokenize, docfreq or stats job per call."""
    q = registry.QUERIES[name]
    q(spark, sf_dir).toPandas()  # builds the store

    sc = spark.sparkContext
    group = f"warm-{name}"
    sc.setJobGroup(group, "warm relational query")
    try:
        q(spark, sf_dir).toPandas()
    finally:
        sc.setJobGroup("", "")
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n <= max_jobs, (name, n)
