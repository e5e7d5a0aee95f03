"""Deduplication operators for the 100 TB training-data pipeline.

All of these are *new capability* beyond the reference (SURVEY.md §2.13
gap list); each is designed around its shuffle profile:

* exact_dedup        — hash-groupBy on an md5 fingerprint; the shuffle
                       key is the 128-bit digest → uniform, skew-free.
* ngram_jaccard_pairs— token-shingle inverted index self-join: the join
                       key is the shingle, so common-shingle skew is the
                       hazard — cap per-shingle fanout by dropping
                       shingles whose doc frequency exceeds a cutoff
                       (standard near-dup practice; dropped shingles are
                       logged as a column, nothing silent).
* minhash_lsh_pairs  — band-bucket join: candidates meet only if a full
                       band matches, so the shuffle moves (doc, band)
                       pairs, never O(n²). Hash = md5 (portable: same
                       function exists in DuckDB for the oracle twin).
* simhash            — 16-bit sign-aggregated fingerprint via an
                       explode over bit positions + groupBy(doc) —
                       integer arithmetic end-to-end, exact SQL twin.
* embedding_neardup_pairs — cosine over a bounded id range (the
                       brute-force spine; the LSH-bucketed scale path
                       lives in operators/similarity.py).

MinHash signatures compare md5 hex strings lexicographically — a
uniform min over hashed values that needs no int64 casts, so Spark and
DuckDB agree byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from semantic_pdf_search_engine_spark.functions.quality import fingerprint
from semantic_pdf_search_engine_spark.functions.tokenize import tokens_expr
from semantic_pdf_search_engine_spark.functions.rounding import round_half_up

N_MINHASH = 4
N_BANDS = 2  # 2 signatures per band
SHINGLE_N = 3
MAX_SHINGLE_DF = 1000  # hot-shingle cutoff (skew cap)


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(fingerprint, rep_id, n_dups): one row per distinct content,
    representative = min doc_id."""
    return (
        docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count("*").cast("long").alias("n_dups"),
        )
    )


def doc_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, shingle): one row per DISTINCT token-3-gram per doc.

    Tokenize + window + set per doc in one Arrow pass — the shingle
    construction byte-pinned to the DuckDB list semantics by the
    minhash parity test (the pure-Column form, kept as the reference in
    tests/test_dedup.py, pays a nested element_at chain per gram:
    measured ~4× slower at sf0.1)."""
    import pandas as pd

    from semantic_pdf_search_engine_spark.functions.tokenize import tokenize_py

    n = SHINGLE_N
    id_type = docs.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            ids, shingles = [], []
            for did, text in zip(pdf[id_col].tolist(), pdf[text_col].tolist()):
                toks = tokenize_py(text, normalize=False)
                if len(toks) < n:
                    continue
                for sgl in {
                    " ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)
                }:
                    ids.append(did)
                    shingles.append(sgl)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                    "shingle": shingles,
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        gen, schema=f"{id_col} {id_type}, shingle string"
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int = MAX_SHINGLE_DF,
    materialize_dir: str | None = None,
) -> DataFrame:
    """(a, b, jaccard) for pairs with token-3-gram Jaccard ≥ threshold.

    Inverted-index join: |A∩B| from the shingle self-join, |A| from a
    per-doc shingle count. Hot shingles above max_shingle_df are
    excluded from pair GENERATION only (both sides of the oracle do the
    same), capping worst-case fanout at max_shingle_df² per shingle.

    The exploded shingle table feeds FIVE plan consumers (sizes, df,
    both join sides, intersection), so it is materialized once instead
    of re-tokenizing per consumer. Two modes:

    * `materialize_dir=None` (default, interactive): localCheckpoint —
      fast, blocks freed by the ContextCleaner, but lineage-free
      (executor loss invalidates blocks; fine in local mode).
    * `materialize_dir=<path>` (the production multi-pass shape): the
      shingle table is WRITTEN TO PARQUET and read back — executor-
      loss-safe, restart-resumable, and inspectable; equality with the
      checkpoint mode is pinned in tests/test_dedup.py.
    """
    sh = doc_shingles(docs, id_col, text_col)
    if materialize_dir is not None:
        sh.write.mode("overwrite").parquet(materialize_dir)
        sh = docs.sparkSession.read.parquet(materialize_dir)
    else:
        sh = sh.localCheckpoint()
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    sdf = sh.groupBy("shingle").agg(F.count("*").alias("sh_df"))
    sh_cold = sh.join(
        sdf.filter(F.col("sh_df") <= max_shingle_df).select("shingle"), "shingle"
    )
    inter = (
        sh_cold.alias("x")
        .join(sh_cold.alias("y"), "shingle")
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .groupBy(
            F.col(f"x.{id_col}").alias("a"), F.col(f"y.{id_col}").alias("b")
        )
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed(id_col, "a").withColumnRenamed("n_sh", "na"), "a")
        .join(sizes.withColumnRenamed(id_col, "b").withColumnRenamed("n_sh", "nb"), "b")
        .withColumn(
            "jaccard",
            round_half_up(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return out


def universal_hash_params(n_perms: int):
    """The seeded multiply-shift coefficients (a_i odd, b_i) of the
    'universal' minhash family, exposed so the DuckDB oracle twin can
    embed the SAME constants: sig_i = min over shingles of
    (a_i·h + b_i) mod 2⁶⁴ with h = first 8 bytes of md5(shingle) as a
    big-endian uint64. Returns (pa, pb) as 1-D uint64 arrays."""
    import numpy as np

    rng = np.random.default_rng(20260816)
    pa = rng.integers(1, 2**62, size=n_perms, dtype=np.uint64) * 2 + 1
    pb = rng.integers(0, 2**63, size=n_perms, dtype=np.uint64)
    return pa, pb


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perms: int = N_MINHASH,
    hash_family: str = "md5",
) -> DataFrame:
    """(doc_id, sig_1..sig_N): one min-hash signature per permutation.

    One Arrow pass per batch: tokenize + shingle + hash in Python
    (C-backed), min per permutation. The previous pure-Column form
    re-evaluated the whole shingle expression tree once PER
    SIGNATURE (Catalyst does not CSE across projection items through
    higher-order functions), making signatures the dominant cost of the
    minhash suite entry (17.6 s at sf0.1 → ~1 s here).

    hash_family:
    * 'md5' — the ORACLE family: sig_i = min md5('{i}:'||shingle) by
      lexicographic hex order, byte-pinned to the DuckDB twin. Cost is
      n_perms full md5 calls per shingle — right for the 4-perm demo,
      the dominant cost at production n_perms=64.
    * 'universal' — the PRODUCTION family: ONE md5 per shingle (its
      first 8 bytes as uint64), then all permutations as seeded
      multiply-shift universal hashes (a_i·h + b_i mod 2⁶⁴, odd a_i) in
      a single numpy broadcast — n_perms× fewer digests, same banding
      statistics (certified by the banding-probability test at 64/16).
      Signatures are 16-hex-digit strings (band concat unchanged)."""
    import hashlib

    import numpy as np
    import pandas as pd

    from semantic_pdf_search_engine_spark.functions.tokenize import tokenize_py

    if hash_family not in ("md5", "universal"):
        raise ValueError(f"unknown hash_family {hash_family!r}")
    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, " + ", ".join(
        f"sig_{i} string" for i in range(1, n_perms + 1)
    )
    prefixes = [f"{i}:".encode() for i in range(1, n_perms + 1)]
    n = SHINGLE_N
    if hash_family == "universal":
        pa, pb = universal_hash_params(n_perms)
        pa, pb = pa[:, None], pb[:, None]

    def gen(batches):
        for pdf in batches:
            ids, sig_cols = [], [[] for _ in range(n_perms)]
            for did, text in zip(pdf[id_col].tolist(), pdf[text_col].tolist()):
                # normalize=False: the Column shingle spec and the DuckDB twin both
                # tokenize RAW lowered text (no artifact normalization)
                toks = tokenize_py(text, normalize=False)
                if len(toks) < n:
                    continue
                shingles = {
                    " ".join(toks[j : j + n]).encode()
                    for j in range(len(toks) - n + 1)
                }
                ids.append(did)
                if hash_family == "md5":
                    for i, pref in enumerate(prefixes):
                        sig_cols[i].append(
                            min(hashlib.md5(pref + s).hexdigest() for s in shingles)
                        )
                else:
                    h = np.frombuffer(
                        b"".join(hashlib.md5(s).digest()[:8] for s in shingles),
                        dtype=">u8",
                    ).astype(np.uint64)
                    mins = (pa * h[None, :] + pb).min(axis=1)  # uint64 wrap
                    for i in range(n_perms):
                        sig_cols[i].append(format(int(mins[i]), "016x"))
            out = {id_col: pd.Series(ids, dtype=pdf[id_col].dtype)}
            for i in range(n_perms):
                out[f"sig_{i + 1}"] = sig_cols[i]
            yield pd.DataFrame(out)

    return docs.select(id_col, text_col).mapInPandas(gen, schema=out_schema)


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perms: int = N_MINHASH,
    n_bands: int = N_BANDS,
    hash_family: str = "md5",
) -> DataFrame:
    """Candidate near-dup pairs (a, b) that agree on ≥1 LSH band
    (band = concatenation of n_perms/n_bands signatures).

    Defaults stay at the oracle-twinned demo params (4 perms / 2
    bands, md5 family); production near-dup at 100 TB wants
    n_perms=64, n_bands=16, hash_family='universal' (one md5 per
    shingle + multiply-shift permutations; r=4 rows/band → candidate
    threshold s ≈ (1/16)^(1/4) ≈ 0.5) — the shuffle stays (doc, band)
    shaped at any parameter setting."""
    if n_perms % n_bands:
        raise ValueError("n_perms must be divisible by n_bands")
    # materialize signatures ONCE: the banded self-join has 2·n_bands
    # plan consumers of this subtree (each band branch × both join
    # sides) — without a barrier the signature UDF re-runs per consumer
    # (32× at production 16 bands; same rationale as ngram_jaccard's
    # shingle table). One explode replaces the n_bands-way union.
    sigs = minhash_signatures(docs, id_col, text_col, n_perms, hash_family)
    sigs = sigs.localCheckpoint()
    per_band = n_perms // n_bands
    band_structs = []
    for bidx in range(n_bands):
        parts = [F.col(f"sig_{bidx * per_band + j + 1}") for j in range(per_band)]
        band_structs.append(
            F.struct(
                F.lit(bidx).alias("band_idx"),
                F.concat_ws("|", *parts).alias("band_val"),
            )
        )
    banded = sigs.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("_b")
    ).select(id_col, "_b.band_idx", "_b.band_val")
    pairs = (
        banded.alias("x")
        .join(banded.alias("y"), ["band_idx", "band_val"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(F.col(f"x.{id_col}").alias("a"), F.col(f"y.{id_col}").alias("b"))
        .distinct()
    )
    return pairs


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, simhash) — 16-bit tf-weighted sign fingerprint.

    bit j of a term = (j-th md5 nibble ≥ 8); S_j = Σ_terms tf·(2·bit−1);
    output bit j set iff S_j > 0. Integer arithmetic throughout →
    exact DuckDB twin.

    The fingerprint is a PER-DOCUMENT function of the doc's own term
    counts, so it is computed entirely inside one Arrow pass —
    tokenize, count, fold the 16 md5-nibble signs per doc — with a
    cross-batch md5 memo over the (Heaps-law sublinear) vocabulary.
    ZERO shuffles, versus the pure-Column spec's 16-way bit explode +
    two corpus-keyed groupBys (the explode multiplied the exchange
    input 16×). That spec, which the DuckDB oracle mirrors, is kept as
    the reference in tests/test_dedup.py and pinned exactly equal.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    from semantic_pdf_search_engine_spark.functions.tokenize import tokenize_py

    id_type = docs.schema[id_col].dataType.simpleString()

    def gen(batches):
        from collections import Counter

        # md5-sign memo: term → int16 bit pattern of (nibble_j >= 8)
        memo: dict[str, np.ndarray] = {}

        def signs(term: str) -> np.ndarray:
            v = memo.get(term)
            if v is None:
                h = hashlib.md5(term.encode()).hexdigest()
                v = np.array(
                    [1 if int(c, 16) >= 8 else -1 for c in h[:16]],
                    dtype=np.int64,
                )
                memo[term] = v
            return v

        for pdf in batches:
            ids, fps = [], []
            for did, text in zip(pdf[id_col].tolist(), pdf[text_col].tolist()):
                counts = Counter(tokenize_py(text, normalize=False))
                if not counts:
                    continue  # zero-token docs have no fingerprint row
                s = np.zeros(16, dtype=np.int64)
                for term, tf in counts.items():
                    s += tf * signs(term)
                bits = (s > 0).astype(np.int64)
                fps.append(int((bits << np.arange(16)).sum()))
                ids.append(did)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                    "simhash": pd.Series(fps, dtype="int64"),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        gen, schema=f"{id_col} {id_type}, simhash long"
    )


SIMHASH_BITS = 16
SIMHASH_BANDS = 4  # 4-bit bands; pigeonhole: hamming <= 3 => >=1 band equal


def simhash_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = SIMHASH_BANDS - 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(a, b, hamming) pairs with simhash Hamming distance ≤ max_hamming.

    EXACT by construction (unlike MinHash banding): splitting the
    16-bit fingerprint into SIMHASH_BANDS 4-bit bands and equality-
    joining on (band_idx, band_val) cannot miss a pair — if all 4 bands
    differ, the distance is ≥ 4 (pigeonhole), so candidate generation
    has recall 1.0 for max_hamming ≤ 3 and the final bit_count(xor)
    filter makes precision exact too. Fully SQL-expressible → hard
    oracle row. Shuffle moves (band, id, hash) triples, never pairs;
    identical-fingerprint skew behaves like exact dedup (uniform md5-
    derived band values on natural corpora)."""
    if max_hamming >= SIMHASH_BANDS:
        raise ValueError("pigeonhole guarantee requires max_hamming < n_bands")
    # one fingerprint row per doc feeds 8 plan consumers (4 band
    # branches x both self-join sides): materialize it once instead of
    # re-running tokenize + 16-way explode + two aggregations per
    # consumer (same rationale as ngram_jaccard_pairs' shingle table)
    sh = simhash(docs, id_col, text_col).localCheckpoint()
    width = SIMHASH_BITS // SIMHASH_BANDS
    bands = []
    for bidx in range(SIMHASH_BANDS):
        bands.append(
            sh.select(
                F.col(id_col),
                F.col("simhash"),
                F.lit(bidx).alias("band_idx"),
                F.shiftright(F.col("simhash"), bidx * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("band_val"),
            )
        )
    banded = bands[0]
    for bdf in bands[1:]:
        banded = banded.unionByName(bdf)
    pairs = (
        banded.alias("x")
        .join(banded.alias("y"), ["band_idx", "band_val"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("a"),
            F.col(f"y.{id_col}").alias("b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# duplicate-passage detection + within-doc repetition metrics
# ---------------------------------------------------------------------------

PASSAGE_K = 5  # token-window length for cross-doc duplicate passages
REPETITION_NS = (2, 3, 5)  # n-gram sizes for within-doc repetition


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the input is a small FILE SCAN
    — a small parquet file scans as one partition and would serialize
    the Arrow gram passes onto a single task (measured 14 s → ~2 s for
    repetition_metrics at sf0.1). The probe is `inputFiles()`, plan
    metadata only: probing `.rdd.getNumPartitions()` instead would
    force AQE to finalize (and execute) any upstream shuffle stages
    just to read a count. Derived inputs (empty file list, or many
    files) are left untouched — their shuffle partitioning already
    matches the session setting."""
    target = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if 0 < len(files) < target:
        return df.repartition(target)
    return df


def dup_passage_stats(
    docs: DataFrame,
    k: int = PASSAGE_K,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_windows, n_dup_windows, dup_frac): per-document
    cross-corpus duplicate-passage exposure — the document-level signal
    of Lee et al.'s "Deduplicating Training Data Makes Language Models
    Better" (exact substring dedup over k-token windows; we report the
    duplicated-window fraction rather than rewriting text). A window is
    DUPLICATED iff its fingerprint occurs in >= min_docs distinct
    documents; n_dup_windows counts that doc's occurrences of such
    fingerprints; only docs with >= 1 window (len >= k tokens) appear.

    Shuffle profile (one linear pipeline, no branch recompute):
      1. per-(doc, fp) occurrence counts computed INSIDE the Arrow
         window pass (r6: a doc is one input row, so its window
         multiset is complete in-batch — full map-side aggregation;
         the former groupBy(fp, id) exchange over every occurrence is
         gone and the first shuffle moves one row per (doc, fp));
      2. count(*) OVER (PARTITION BY fp) on the (fp, doc) AGGREGATE
         (corpus-wide per-window doc count; input already compressed to
         one row per (fp, doc), so a boilerplate passage shared by a
         million docs costs a million-row sort group, not a fanout);
      3. groupBy(id) roll-up of duplicated occurrences.
    Per-doc totals come straight from the token count (len - k + 1, a
    narrow Column expr over the docs scan) — no second windows pass.
    Hard DuckDB oracle (registry `dup_passages`)."""
    import hashlib

    import pandas as pd
    from pyspark.sql.window import Window

    from semantic_pdf_search_engine_spark.functions.tokenize import tokenize_py

    toks = tokens_expr(F.col(text_col))
    tot = docs.select(
        F.col(id_col),
        (F.size(toks) - F.lit(k - 1)).cast("long").alias("n_windows"),
    ).filter(F.col("n_windows") >= 1)

    id_type = docs.schema[id_col].dataType.simpleString()

    def gen(batches):
        from collections import Counter

        for pdf in batches:
            ids, fps, occs = [], [], []
            for did, text in zip(pdf[id_col].tolist(), pdf[text_col].tolist()):
                toks_l = tokenize_py(text, normalize=False)
                c = Counter(
                    hashlib.md5(
                        " ".join(toks_l[j : j + k]).encode()
                    ).hexdigest()
                    for j in range(len(toks_l) - k + 1)
                )
                for fp, occ in c.items():
                    ids.append(did)
                    fps.append(fp)
                    occs.append(occ)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                    "fp": fps,
                    "occ": pd.Series(occs, dtype="int64"),
                }
            )

    per_fp_doc = _ensure_parallelism(docs.select(id_col, text_col)).mapInPandas(
        gen, schema=f"{id_col} {id_type}, fp string, occ long"
    )
    flagged = per_fp_doc.withColumn(
        "n_docs", F.count("*").over(Window.partitionBy("fp"))
    )
    dupagg = (
        flagged.filter(F.col("n_docs") >= min_docs)
        .groupBy(id_col)
        .agg(F.sum("occ").cast("long").alias("n_dup_windows"))
    )
    return (
        tot.join(dupagg, id_col, "left")
        .select(
            id_col,
            "n_windows",
            F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("long").alias(
                "n_dup_windows"
            ),
            round_half_up(
                F.coalesce(F.col("n_dup_windows"), F.lit(0))
                / F.col("n_windows"),
                6,
            ).alias("dup_frac"),
        )
    )


def repetition_metrics(
    docs: DataFrame,
    ns: tuple[int, ...] = REPETITION_NS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n, total_ngrams, distinct_ngrams, top_count, top_frac,
    dup_frac): within-document repetition signals in the shape of the
    Gopher/MassiveText quality rules — per n in `ns`, the fraction of
    n-gram occurrences taken by the single most frequent n-gram
    (top_frac) and the fraction that are repeats of an earlier
    occurrence (dup_frac = (total - distinct) / total). Divergence from
    the Gopher paper documented here: fractions weigh token-window
    OCCURRENCES, not characters. Docs contribute a row per n only when
    they have >= 1 n-gram of that size.

    Every output column is a PER-DOCUMENT function of that doc's own
    n-gram counts, so (r6) the integer stats (total/distinct/top) are
    computed inside ONE Arrow pass — a Counter per (doc, n), no gram
    rows ever emitted, no md5, ZERO shuffles (the former shape shuffled
    the full gram-occurrence stream through groupBy(id, n, fp) + a
    second roll-up; counting by gram string ≡ counting by its md5).
    The fractions stay the SAME JVM round_half_up expressions as
    before, so the compared floats are bit-identical. Hard DuckDB
    oracle (registry `repetition_metrics`)."""
    import pandas as pd

    from semantic_pdf_search_engine_spark.functions.tokenize import tokenize_py

    id_type = docs.schema[id_col].dataType.simpleString()
    sizes = tuple(sorted(set(ns)))

    def gen(batches):
        from collections import Counter

        for pdf in batches:
            ids, nn, tot, dis, top = [], [], [], [], []
            for did, text in zip(pdf[id_col].tolist(), pdf[text_col].tolist()):
                toks = tokenize_py(text, normalize=False)
                for n in sizes:
                    total = len(toks) - n + 1
                    if total < 1:
                        continue
                    c = Counter(
                        " ".join(toks[j : j + n]) for j in range(total)
                    )
                    ids.append(did)
                    nn.append(n)
                    tot.append(total)
                    dis.append(len(c))
                    top.append(max(c.values()))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                    "n": pd.Series(nn, dtype="int32"),
                    "total_ngrams": pd.Series(tot, dtype="int64"),
                    "distinct_ngrams": pd.Series(dis, dtype="int64"),
                    "top_count": pd.Series(top, dtype="int64"),
                }
            )

    stats = _ensure_parallelism(docs.select(id_col, text_col)).mapInPandas(
        gen,
        schema=(
            f"{id_col} {id_type}, n int, total_ngrams long, "
            "distinct_ngrams long, top_count long"
        ),
    )
    return stats.select(
        id_col,
        "n",
        "total_ngrams",
        "distinct_ngrams",
        "top_count",
        round_half_up(F.col("top_count") / F.col("total_ngrams"), 6).alias(
            "top_frac"
        ),
        round_half_up(
            (F.col("total_ngrams") - F.col("distinct_ngrams"))
            / F.col("total_ngrams"),
            6,
        ).alias("dup_frac"),
    )


def tf_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    max_term_df: int = MAX_SHINGLE_DF,
    max_id: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(a, b, sim): bag-of-words COSINE near-dup pairs over integer
    term-frequency vectors — the sparse-vector sibling of
    ngram_jaccard (weighted overlap instead of set overlap) and of the
    embedding cosine family (sparse lexical instead of dense).

    Determinism by construction: numerator Σ tf_a·tf_b and squared
    norms Σ tf² are EXACT int64 sums (order-free), and the only float
    ops — sqrt, multiply, divide, round-half-up(6) — are IEEE
    correctly-rounded, so Spark and DuckDB produce bit-identical sims
    (a float tf·idf weighting would make the groupBy sum
    order-dependent and non-reproducible across partitionings; idf
    re-weighting belongs downstream of this exact spine). Cosine is
    defined over the SURVIVING vocabulary: terms with df > max_term_df
    are dropped from numerator AND norms (self-consistent semantics
    the oracle twin replicates; same hot-term skew cap as
    ngram_jaccard — the join key is the term, so a stopword-dense
    vocabulary would otherwise fan out quadratically).

    Shuffle profile: tf groupBy (doc, term); df cutoff join on term;
    inverted-index self-join on term (hot keys excluded by the
    cutoff); pair groupBy (a, b); two doc-keyed norm joins. The tf
    table is materialized once (localCheckpoint) for its three
    consumers — a production job would persist it to parquet."""
    e = docs
    if max_id is not None:
        e = e.filter(F.col(id_col) < max_id)
    tf = (
        e.select(F.col(id_col), F.explode(tokens_expr(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    keep = tf.groupBy("term").agg(F.count("*").alias("df")).filter(
        F.col("df") <= max_term_df
    )
    tfk = tf.join(keep.select("term"), "term").localCheckpoint()
    norms = tfk.groupBy(id_col).agg(
        F.sum(F.col("tf") * F.col("tf")).alias("s2")
    )
    ta = tfk.select(
        F.col("term"), F.col(id_col).alias("a"), F.col("tf").alias("tfa")
    )
    tb = tfk.select(
        F.col("term"), F.col(id_col).alias("b"), F.col("tf").alias("tfb")
    )
    num = (
        ta.join(tb, "term")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum(F.col("tfa") * F.col("tfb")).alias("num"))
    )
    na = norms.select(F.col(id_col).alias("a"), F.col("s2").alias("sa"))
    nb = norms.select(F.col(id_col).alias("b"), F.col("s2").alias("sb"))
    return (
        num.join(na, "a")
        .join(nb, "b")
        .select(
            "a",
            "b",
            round_half_up(
                F.col("num").cast("double")
                / (
                    F.sqrt(F.col("sa").cast("double"))
                    * F.sqrt(F.col("sb").cast("double"))
                ),
                6,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# dedup decision: near-dup pairs → clusters → canonical keep-list
# ---------------------------------------------------------------------------


def connected_components(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """(id, cluster_rep): connected components of the near-dup graph by
    iterative MIN-LABEL PROPAGATION — each node's label becomes the
    minimum of its own and its neighbors' labels until fixpoint, so
    cluster_rep = the smallest doc id reachable (deterministic
    canonical representative). Singletons (docs in no pair) keep
    themselves.

    Scale shape (r6): the edge table carries one SELF-LOOP per node, so
    each round is a single join edges⋈labels + ONE groupBy(dst) min —
    the self-loop row delivers the node's own label into its group,
    replacing the former left-join-back (one exchange fewer per round).
    Change detection and convergence ride the SAME materialization: the
    per-round job is the label localCheckpoint, with the changed-node
    count attached as an Observation (no separate probe job). Edge
    endpoints are restricted to `ids` once, up front — non-id endpoints
    never conducted labels in the join-back form either (their labels
    were never stored), so the semantics are unchanged. All shuffles
    stay on node ids (uniform). Rounds needed = graph diameter;
    near-dup clusters are shallow-diameter by construction (dense
    similarity cliques), so convergence is a handful of rounds. When
    the diameter budget runs out (adversarially chain-shaped dup graphs
    — crawl mirrors), the computation FALLS BACK to the
    large-star/small-star contraction below (connected_components_star
    — same per-round primitives, O(log²n) proven / ~O(log n) observed
    rounds) instead of raising."""
    import gc

    from pyspark.sql import Observation

    nodes = ids.select(F.col(id_col).alias("node")).localCheckpoint()
    # duplicate edges are harmless to a min aggregation — no distinct
    sym = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .join(nodes.withColumnRenamed("node", "src"), "src", "left_semi")
        .join(nodes.withColumnRenamed("node", "dst"), "dst", "left_semi")
    )
    e = sym.unionByName(
        nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    ).localCheckpoint()
    lab = nodes.select(F.col("node"), F.col("node").alias("lab"))
    for _ in range(max_iter):
        joined = e.join(lab, F.col("src") == F.col("node")).select(
            "src", "dst", "lab"
        )
        new = (
            joined.groupBy("dst")
            .agg(
                F.min("lab").alias("lab"),
                # the self-loop row (dst, dst) carries the node's OWN
                # previous label — present in every group by construction
                F.max(
                    F.when(F.col("src") == F.col("dst"), F.col("lab"))
                ).alias("_own"),
            )
            .select(
                F.col("dst").alias("node"),
                "lab",
                (F.col("lab") < F.col("_own")).cast("int").alias("chg"),
            )
        )
        obs = Observation()
        new = new.observe(obs, F.sum("chg").alias("nchg")).localCheckpoint()
        changed = int(obs.get["nchg"] or 0)
        lab = new.drop("chg")
        # the previous round's checkpointed blocks are orphaned once
        # `lab` rebinds; a prompt driver GC lets the ContextCleaner
        # release them so long chains hold ~2 label copies, not
        # max_iter copies
        gc.collect()
        if changed == 0:
            return lab.select(
                F.col("node").alias(id_col), F.col("lab").alias("cluster_rep")
            )
    # diameter budget exhausted (a chain-shaped component needs
    # diameter rounds) — auto-fall back to star contraction, which
    # converges in logarithmic rounds regardless of diameter. Never
    # returns a partial labeling.
    return connected_components_star(ids, pairs, id_col)


def connected_components_star(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 60,
) -> DataFrame:
    """(id, cluster_rep) by ALTERNATING LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond") — the chain-graph-safe twin of the
    min-label propagation above: converges in O(log² n) rounds
    (proven; ~log n observed) instead of graph-diameter rounds,
    because each round rewires every node toward its neighborhood
    minimum, halving path lengths like pointer jumping.

      large-star: per node u with m = min(Γ(u) ∪ {u}), replace every
                  edge to a LARGER neighbor v > u with (v, m);
      small-star: per node u with smaller-neighbor set N (all v < u)
                  and m = min(N), rewire u and all of N onto m.

    Both phases preserve connected components (each rewired edge stays
    inside u's component, endpoints remain reachable), and the unique
    fixpoint is a union of stars centered on each component's minimum
    id — so the final labeling (node → its min neighbor, self if
    isolated) equals min-label's answer exactly (pinned by test).

    Scale shape (r6): each phase is ONE window-min over the edge rows
    partitioned by node — `min(b) OVER (PARTITION BY a)` replaces the
    former groupBy(a)+join-back pair (the window's single exchange
    carries the same uniform node-id key; per-group state is one
    minimum, never a sort of the corpus). One localCheckpoint per round
    (the mid-round e1 barrier is gone — both small-star consumers read
    the same windowed projection), with the (count, hash-sum) checksum
    attached to that materialization as an Observation instead of a
    separate collect job. Convergence = edge-set fixpoint, checksum
    cheap-reject + exact two-sided exceptAll CONFIRMATION at the
    candidate round (checksum collisions cannot cause a wrong early
    stop). Orphaned blocks GC'd like min-label."""
    import gc

    from pyspark.sql import Observation
    from pyspark.sql.window import Window

    def _clean(e: DataFrame) -> DataFrame:
        return (
            e.select("a", "b").filter(F.col("a") != F.col("b")).distinct()
        )

    def _observed_checkpoint(edges: DataFrame):
        # pmod bounds each term < 2^31 so the int64 sum cannot overflow
        # under ANSI mode below ~2^32 edges (this is a cheap-reject
        # filter only; equality is CONFIRMED exactly before stopping)
        obs = Observation()
        out = edges.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("a", "b"), F.lit(1 << 31))).alias("h"),
        ).localCheckpoint()
        m = obs.get
        return out, (m["n"], m["h"])

    # ids keep their NATIVE type (any orderable column — long doc ids,
    # string hashes): a cast here would null non-numeric ids and
    # silently label every doc a singleton (all duplicates retained) —
    # min-label is type-generic and this path must be too, since
    # connected_components auto-falls back into it
    e, chk = _observed_checkpoint(_clean(pairs.select("a", "b")))

    w = Window.partitionBy("a")
    for _ in range(max_iter):
        # -- large-star ---------------------------------------------------
        # m(a) = min(Γ(a) ∪ {a}) via window-min; every edge to a larger
        # neighbor v > a is replaced by (v, m(a))
        sym = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        ls = (
            sym.withColumn("_m", F.least(F.col("a"), F.min("b").over(w)))
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("_m").alias("b"))
        )
        # -- small-star ---------------------------------------------------
        # duplicates in ls are harmless here: the window min is
        # multiplicity-insensitive and the final _clean dedupes — so the
        # former mid-round distinct+checkpoint barrier is unnecessary
        e1 = ls.filter(F.col("a") != F.col("b"))
        dirr = e1.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        ssw = dirr.withColumn("_m", F.min("b").over(w))
        ss = ssw.select(
            F.col("b").alias("a"), F.col("_m").alias("b")
        ).unionByName(ssw.select("a", F.col("_m").alias("b")))
        e_new, new_chk = _observed_checkpoint(_clean(ss))
        converged = False
        if new_chk == chk:
            # candidate fixpoint — confirm exactly. Both sides are
            # DISTINCT sets (the _clean) and checksum equality includes
            # equal cardinality, so ONE one-sided difference emptiness
            # suffices: |A| = |B| ∧ A∖B = ∅ ⇒ A = B.
            converged = e_new.exceptAll(e).limit(1).count() == 0
        e, chk = e_new, new_chk
        gc.collect()
        if converged:
            mins = e.groupBy("a").agg(F.min("b").alias("mn"))
            lab = ids.select(F.col(id_col).alias("node")).join(
                mins, F.col("node") == mins["a"], "left"
            )
            return lab.select(
                F.col("node").alias(id_col),
                F.least(F.col("node"), F.coalesce(F.col("mn"), F.col("node"))).alias(
                    "cluster_rep"
                ),
            )
    raise ValueError(
        f"connected_components_star did not converge within max_iter="
        f"{max_iter} rounds — pathological; returning a partial labeling "
        "would silently keep duplicates"
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    method: str = "minlabel",
) -> DataFrame:
    """(doc_id, cluster_rep, keep): the dedup DECISION step downstream
    of any pair generator (minhash / simhash / jaccard / tf-cosine /
    embedding LSH): transitively close the pair graph into clusters and
    keep exactly one canonical doc per cluster (the minimum id — the
    usual keep-first policy; swap the representative choice by mapping
    labels afterwards). keep is int (1/0) for oracle-stable typing.

    method: "minlabel" (diameter-round propagation with automatic
    star-contraction fallback — the default) or "star" (go straight to
    large-star/small-star contraction, O(log n) rounds regardless of
    graph shape — the right pick when the dup graph is expected
    chain-like, e.g. crawl mirror chains)."""
    if method == "star":
        cc = connected_components_star(docs.select(id_col), pairs, id_col)
    else:
        cc = connected_components(docs.select(id_col), pairs, id_col)
    return cc.select(
        id_col,
        "cluster_rep",
        (F.col(id_col) == F.col("cluster_rep")).cast("int").alias("keep"),
    )


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    quality: Column,
    id_col: str = "doc_id",
    method: str = "minlabel",
) -> DataFrame:
    """(doc_id, cluster_rep, canonical_id, keep): the QUALITY-AWARE
    dedup decision — near-dup pairs transitively closed into clusters
    (same components machinery as dedup_clusters), then each cluster
    keeps its HIGHEST-QUALITY member instead of the arbitrary min id:
    crawl mirrors of one page differ in boilerplate stripping, and
    curation wants the cleanest copy kept and every duplicate remapped
    to it (canonical_id). `quality` is any deterministic Column (the
    registry feeds the pinned quality_score); ties break to the lowest
    id so the decision is total. Cost over dedup_clusters: one join of
    the cluster table to per-doc quality + per-cluster rank/first
    windows (cluster-bounded state, no global sort)."""
    from pyspark.sql.window import Window

    if method == "star":
        cc = connected_components_star(docs.select(id_col), pairs, id_col)
    else:
        cc = connected_components(docs.select(id_col), pairs, id_col)
    q = docs.select(F.col(id_col), quality.alias("_q"))
    j = cc.join(q, id_col)
    w = Window.partitionBy("cluster_rep").orderBy(
        F.col("_q").desc(), F.col(id_col).asc()
    )
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return j.select(
        id_col,
        "cluster_rep",
        F.first(id_col).over(wall).alias("canonical_id"),
        (F.row_number().over(w) == 1).cast("int").alias("keep"),
    )
