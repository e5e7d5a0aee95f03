"""Seeded input generator owned by the benchmark.

Everything the engine receives comes from here: transcript parquet
(base corpus and append segments), query strings, scoped conv_ids and
the relational `documents`/`embeddings` tables. Nothing is imported
from the engine's own fixtures, so a change to the program cannot
change the workload.

Transcript shape (the repository's FIXTURES spec): a 2,000-word
vocabulary sampled Zipf(1.2), 5-40 turns per conversation, 5-120 words
per turn, and 2% of turns carrying one PDF-extraction artifact.

Outputs are cached on disk under a key made of the generator version,
the seed and the size, so repeated runs with one seed read parquet
instead of regenerating.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2

VOCAB_SIZE = 2000
ZIPF_S = 1.2
NOISE_SHARE = 0.02
ROLES = ("user", "assistant", "tool")

# The relational corpus uses the vocabulary the registry's fixed queries
# were written against (flagship "spark filter join window", the
# boolean/synonym/fuzzy/wildcard/regex constants), sampled uniformly.
REL_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REL_LANGS = (("en", 0.4), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.15))
REL_SOURCES = 20
EMB_DIM = 64

QUERY_KINDS = ("mid", "multi", "hot", "rare", "absent", "noised")


@dataclass(frozen=True)
class Size:
    """Corpus and query-list sizes of one named benchmark size."""

    base_convs: int
    segments: int
    segment_convs: int
    n_queries: int
    n_scoped: int
    rel_docs: int
    rel_vecs: int


SIZES = {
    "full": Size(200, 1, 20, 240, 60, 1000, 800),
    "tiny": Size(12, 2, 3, 24, 6, 200, 100),
}


def _artifact(word: str, kind: int) -> str:
    half = max(1, len(word) // 2)
    return (
        word[:half] + "-\n" + word[half:],  # hyphenated line break
        word[:half] + "­" + word[half:],  # soft hyphen
        word[:half] + "​" + word[half:],  # zero-width space
        "“" + word + "”",  # curly quotes
        word + "—next",  # em-dash join
        word + "  extra",  # NBSP plus double space
        word.replace("fi", "ﬁ").replace("fl", "ﬂ").replace("ff", "ﬀ"),
    )[kind]


N_ARTIFACTS = 7


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([GEN_VERSION, seed, stream])


def vocabulary(seed: int) -> list[str]:
    rng = _rng(seed, 0)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < VOCAB_SIZE:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_probs(n: int) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** -ZIPF_S
    return p / p.sum()


TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def transcripts(seed: int, first_conv: int, n_convs: int, stream: int) -> pa.Table:
    """Conversations conv{first_conv:08d} .. in (conv_id, turn_idx) order.
    Append segments pass a `first_conv` past the base corpus, so their
    conv_ids sort after every base conv_id."""
    rng = _rng(seed, stream)
    vocab = np.array(vocabulary(seed))
    probs = _zipf_probs(len(vocab))
    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    cols: dict[str, list] = {f.name: [] for f in TRANSCRIPT_SCHEMA}
    for c in range(first_conv, first_conv + n_convs):
        conv = f"conv{c:08d}"
        for t in range(int(rng.integers(5, 41))):
            role = ROLES[(t + int(rng.integers(0, 3))) % 3]
            words = list(rng.choice(vocab, size=int(rng.integers(5, 121)), p=probs))
            if rng.random() < NOISE_SHARE:
                i = int(rng.integers(0, len(words)))
                words[i] = _artifact(words[i], int(rng.integers(0, N_ARTIFACTS)))
            cols["conv_id"].append(conv)
            cols["turn_idx"].append(t)
            cols["role"].append(role)
            cols["text"].append(" ".join(words))
            cols["tool"].append(f"tool{int(rng.integers(0, 8))}" if role == "tool" else None)
            cols["ts"].append(base + dt.timedelta(hours=c, seconds=t))
    return pa.table(cols, schema=TRANSCRIPT_SCHEMA)


def queries(seed: int, n: int) -> list[dict]:
    """The six-kind query mix: mid-frequency single term, 2-3 term
    disjunction, Zipf-head term, Zipf-tail term, a term absent from the
    vocabulary, and an artifact-noised term that must normalize to a
    vocabulary term. Kinds cycle in that fixed order, so every seed
    gives a run the same mix; the seed picks the terms."""
    rng = _rng(seed, 1)
    vocab = vocabulary(seed)
    out = []
    for i in range(n):
        kind = QUERY_KINDS[i % len(QUERY_KINDS)]
        if kind == "mid":
            text = vocab[int(rng.integers(10, 200))]
        elif kind == "multi":
            text = " ".join(vocab[int(rng.integers(0, 500))] for _ in range(int(rng.integers(2, 4))))
        elif kind == "hot":
            text = vocab[int(rng.integers(0, 5))]
        elif kind == "rare":
            text = vocab[int(rng.integers(1500, VOCAB_SIZE))]
        elif kind == "absent":
            # vocabulary words are 3-9 letters: a 12+ character token
            # cannot occur in the corpus
            text = f"zzabsent{int(rng.integers(1000, 10000))}"
        else:
            w = vocab[int(rng.integers(0, 300))]
            text = w[: max(1, len(w) // 2)] + "­" + w[len(w) // 2 :]
        out.append({"kind": kind, "text": text})
    return out


def scoped_convs(seed: int, n: int, base_convs: int) -> list[str]:
    rng = _rng(seed, 2)
    return [f"conv{int(c):08d}" for c in rng.integers(0, base_convs, size=n)]


def documents(seed: int, n_docs: int) -> pa.Table:
    """Relational corpus in the shape of the registry's `documents`
    table: 10-100 uniformly drawn words, about 5% of docs ending in
    the rare token 'dup', source = src{doc_id % 20}."""
    rng = _rng(seed, 3)
    vocab = np.array(REL_VOCAB)
    langs, lang_p = zip(*REL_LANGS)
    texts, lang_col = [], []
    for _ in range(n_docs):
        words = list(rng.choice(vocab, size=int(rng.integers(10, 101))))
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
        lang_col.append(langs[int(rng.choice(len(langs), p=lang_p))])
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": lang_col,
            "source": [f"src{i % REL_SOURCES}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n_vecs: int) -> pa.Table:
    rng = _rng(seed, 4)
    v = rng.standard_normal((n_vecs, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=n_vecs), pa.int32()),
        }
    )


@dataclass
class Inputs:
    """Paths and lists of one generated input set."""

    root: Path
    size: Size
    queries: list[dict]
    scoped: list[str]

    @property
    def base(self) -> str:
        return str(self.root / "base.parquet")

    def segment(self, i: int) -> str:
        return str(self.root / f"segment{i}.parquet")

    @property
    def rel_dir(self) -> str:
        return str(self.root / "relational")


def generate(seed: int, size_name: str, cache_dir: Path) -> Inputs:
    """Return the inputs for (seed, size), generating them on a cache miss.
    A finished cache entry is published by one rename, so an interrupted
    run never leaves a partial entry behind."""
    size = SIZES[size_name]
    root = cache_dir / f"v{GEN_VERSION}-seed{seed}-{size_name}"
    if not (root / "inputs.json").exists():
        tmp = cache_dir / f".tmp-{root.name}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        (tmp / "relational").mkdir(parents=True)
        pq.write_table(transcripts(seed, 0, size.base_convs, 10), tmp / "base.parquet")
        for i in range(size.segments):
            first = size.base_convs + i * size.segment_convs
            pq.write_table(
                transcripts(seed, first, size.segment_convs, 11 + i),
                tmp / f"segment{i}.parquet",
            )
        pq.write_table(documents(seed, size.rel_docs), tmp / "relational" / "documents.parquet")
        pq.write_table(embeddings(seed, size.rel_vecs), tmp / "relational" / "embeddings.parquet")
        meta = {
            "queries": queries(seed, size.n_queries),
            "scoped": scoped_convs(seed, size.n_scoped, size.base_convs),
        }
        (tmp / "inputs.json").write_text(json.dumps(meta))
        try:
            os.rename(tmp, root)
        except OSError:  # another run published the same entry first
            shutil.rmtree(tmp, ignore_errors=True)
    meta = json.loads((root / "inputs.json").read_text())
    return Inputs(root, size, meta["queries"], meta["scoped"])
