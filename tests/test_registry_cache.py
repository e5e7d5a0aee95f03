"""Serving-path cache contracts (VERDICT r3 next #3/#5/#7):

- cache-hit validation does ZERO footer/row-group iteration (the full
  parquet signature is persisted at build time; the hot path is a stat
  walk against the cheap signature);
- store handles are memoized per (session, sf_dir) — repeated registry
  calls reuse ONE prepare()'d index instead of re-opening per call;
- the ANN query vector is fetched driver-side (pyarrow), no Spark job.
"""

from __future__ import annotations

import pytest

from semantic_pdf_search_engine_spark import registry


def test_doc_index_cache_hit_runs_no_footer_walk(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setenv("SPSE_INDEX_CACHE", str(tmp_path / "idxcache"))
    registry._STORE_HANDLES.clear()

    idx1 = registry._doc_index(spark, sf_dir)  # builds + persists sig

    # handle memoized: the second call must return the SAME object
    idx2 = registry._doc_index(spark, sf_dir)
    assert idx2 is idx1

    # drop the handle to force the sig-file validation path, and count
    # full-signature (footer-walking) invocations: a cache hit must do
    # zero row-group iteration
    registry._STORE_HANDLES.clear()
    calls = {"n": 0}
    real = registry._parquet_signature

    def counting(path):
        calls["n"] += 1
        return real(path)

    monkeypatch.setattr(registry, "_parquet_signature", counting)
    idx3 = registry._doc_index(spark, sf_dir)
    assert calls["n"] == 0
    assert idx3.n_docs == idx1.n_docs

    # a stat-level mismatch demotes validation to the full signature —
    # which then re-validates (content unchanged) without a rebuild.
    # (Testdata is read-only, so simulate the mtime change by staling
    # the stored cheap signature instead.)
    import json
    import os

    sig_path = None
    for root, _dirs, files in os.walk(tmp_path / "idxcache"):
        for name in files:
            if name == "cache_sig.txt":
                sig_path = os.path.join(root, name)
    assert sig_path is not None
    rec = json.loads(open(sig_path).read())
    rec["cheap"] = "stale"
    open(sig_path, "w").write(json.dumps(rec))
    registry._STORE_HANDLES.clear()
    calls["n"] = 0
    idx4 = registry._doc_index(spark, sf_dir)
    assert calls["n"] >= 1  # full walk ran...
    assert idx4.n_docs == idx1.n_docs  # ...and re-validated, no rebuild
    # the cheap level was refreshed in place (next hit is cheap again)
    rec2 = json.loads(open(sig_path).read())
    assert rec2["cheap"] != "stale"


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
    assert not registry._store_sig_valid(
        str(sig), "docidx", f"{sf_dir}/documents.parquet"
    )


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
