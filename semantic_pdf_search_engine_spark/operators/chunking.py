"""Sub-turn chunking — the reference's table-generating operators.

The graft's north rule makes the TURN the docID unit, so the index
builds on whole turns; these operators exist for users who need the
reference's retrieval granularity on long turns (tool dumps):

* chunk_text_fixed   — C1: fixed-size character split (TextSplitter::
                       new(500), /root/reference/src/chunk.rs:34-60).
                       Pure Column expression, exact DuckDB twin
                       (generate_series + substr).
* smart_chunk_py /
  smart_chunks       — C3: sentence packing with a 2-sentence overlap
                       carry (/root/reference/src/chunk.rs:521-560):
                       pack sentences until chunk_size (2000), flush,
                       seed the next chunk with the last two sentences.
                       Header-like sentences are skipped inline and
                       garbage chunks dropped on output, mirroring
                       chunk_per_page (/root/reference/src/chunk.rs:
                       286-302). Stateful fold → Arrow-batched
                       mapInPandas, unit-tested against the behaviors
                       pinned by the reference's own test
                       (/root/reference/src/chunk.rs:562-605).

Documented divergences from the reference (deliberate, not oversights):

1. Sentence segmentation: the reference uses UAX#29
   `unicode_sentences` (/root/reference/src/chunk.rs:382-384); this
   module splits after [.!?]+ followed by whitespace — identical on
   the ASCII transcript corpus, simpler at 100 TB (no ICU on
   executors).
2. No PDF-artifact pre-pass: smart_chunk_text first runs
   clean_pdf_text_robust (line-level header removal, TOC-leader and
   repeated-punctuation collapse, chunk.rs:522) before splitting. The
   transcript corpus has no PDF extraction artifacts, so smart_chunks
   operates on the raw turn text; users chunking PDF-derived text
   should compose functions.normalize.normalize_series /
   quality.remove_section_headers upstream (both implemented and
   oracle-checked separately).
3. Overlap-carry joint: after a flush the reference seeds the next
   chunk with `join(" ")` of the last two sentences and then
   concatenates the next sentence DIRECTLY (no separator —
   chunk.rs:543-551 push_str with no space), producing
   "…carry.Next sentence…". smart_chunk_py inserts the space. Same
   packing lengths ±1 char; the reference's missing separator reads
   as an artifact of its string assembly, not a semantic choice.
4. chunk_text_fixed cuts at EXACT `size`-char offsets; the reference's
   TextSplitter::new(500) (chunk.rs:34-60) prefers semantic
   boundaries ≤500 chars (never mid-word). Fixed offsets keep the
   operator a pure Column expression with an exact SQL twin; boundary-
   aware packing is what smart_chunks provides.

Scale shape: both chunkers are NARROW ops (one Arrow/codegen pass, no
shuffle); explode multiplies rows ~len/size; downstream consumers
re-partition as needed.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FIXED_CHUNK_CHARS = 500  # chunk.rs:34 TextSplitter::new(500)
SMART_CHUNK_CHARS = 2000  # chunk.rs:288 smart_chunk_text(..., 2000, true)
OVERLAP_SENTENCES = 2  # chunk.rs:541-548

_SENT_SPLIT = re.compile(r"(?<=[.!?])\s+")


def chunk_text_fixed(text: Column, size: int = FIXED_CHUNK_CHARS) -> Column:
    """ARRAY<STRING> of consecutive `size`-char slices (last one short).
    Empty/null text → empty array. Pure Column expr — whole-stage
    codegen, exact DuckDB twin via generate_series + substr."""
    t = F.coalesce(text, F.lit(""))
    n_chunks = F.ceil(F.length(t) / F.lit(float(size))).cast("int")
    idxs = F.sequence(F.lit(0), n_chunks - 1)
    return F.when(
        F.length(t) > 0,
        F.transform(idxs, lambda i: t.substr(i * size + 1, F.lit(size))),
    ).otherwise(F.array().cast("array<string>"))


def chunk_turns_fixed(
    docs: DataFrame,
    size: int = FIXED_CHUNK_CHARS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, chunk_idx, chunk): exploded fixed-size chunks."""
    return docs.select(
        F.col(id_col),
        F.posexplode(chunk_text_fixed(F.col(text_col), size)).alias(
            "chunk_idx", "chunk"
        ),
    )


def chunk_turns_fixed_sql(size: int = FIXED_CHUNK_CHARS) -> str:
    """DuckDB twin of chunk_turns_fixed over the `documents` view."""
    return f"""
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       substr(text, CAST(i AS INT) * {size} + 1, {size}) AS chunk
FROM documents,
     unnest(generate_series(0, CAST(ceil(length(text) / {size}.0) AS INT) - 1)) AS g(i)
WHERE length(text) > 0
"""


# --- sentence machinery (Python twins of the pinned Column predicates) ----


def split_sentences_py(text: str) -> list[str]:
    """Split after sentence-ending punctuation + whitespace."""
    if not text:
        return []
    return [s for s in _SENT_SPLIT.split(text) if s]


def is_header_like_py(line: str) -> bool:
    """Python twin of functions.quality.is_header_like (same pinned
    thresholds; the reference shape is is_likely_header,
    /root/reference/src/chunk.rs:345-380)."""
    t = line.strip()
    if len(t) > 100:
        return False
    wc = len(t.split())
    starts_digit = bool(re.match(r"[0-9]", t))
    all_caps = t.upper() == t and bool(re.search(r"[A-Z]", t))
    digit_colon = bool(re.match(r"[0-9][^\n]*:", t))
    return (
        (starts_digit and wc <= 6)
        or (all_caps and wc <= 5)
        or (digit_colon and wc <= 8)
    )


def is_garbage_py(text: str) -> bool:
    """Python twin of functions.quality.is_garbage (chunk.rs:512-518)."""
    dots = text.count(".")
    letters = sum(c.isascii() and c.isalpha() for c in text)
    digits = sum(c.isascii() and c.isdigit() for c in text)
    return dots > 10 and letters < 5 and digits > 0


def smart_chunk_py(
    text: str,
    chunk_size: int = SMART_CHUNK_CHARS,
    skip_headers: bool = True,
) -> list[str]:
    """Sentence packing with 2-sentence overlap carry — the fold of
    smart_chunk_text (/root/reference/src/chunk.rs:521-560): append
    sentences (header-like ones skipped) until the chunk reaches
    chunk_size, flush it trimmed, seed the next chunk with the last two
    buffered sentences, clear the buffer. Divergences from the
    reference (no clean_pdf_text_robust pre-pass; a space after the
    overlap carry) are documented in the module docstring."""
    chunks: list[str] = []
    current = ""
    buffer: list[str] = []
    for sentence in split_sentences_py(text or ""):
        if skip_headers and is_header_like_py(sentence):
            continue
        buffer.append(sentence)
        current += sentence + " "
        if len(current) >= chunk_size:
            chunks.append(current.strip())
            current = " ".join(buffer[-OVERLAP_SENTENCES:])
            if current:
                current += " "  # reference joins then keeps packing
            buffer.clear()
    if current.strip():
        chunks.append(current.strip())
    return chunks


def smart_chunks(
    docs: DataFrame,
    chunk_size: int = SMART_CHUNK_CHARS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, chunk_idx, chunk): smart_chunk_py per turn, garbage
    chunks dropped (chunk_per_page composition, chunk.rs:286-302).
    Arrow-batched; narrow (no shuffle)."""
    import pandas as pd

    id_type = docs.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, chunk_idx int, chunk string"

    def gen(batches):
        for pdf in batches:
            ids, idxs, chunks = [], [], []
            for did, text in zip(pdf[id_col].tolist(), pdf[text_col].tolist()):
                kept = 0
                for c in smart_chunk_py(text, chunk_size):
                    if is_garbage_py(c):
                        continue
                    ids.append(did)
                    idxs.append(kept)
                    chunks.append(c)
                    kept += 1
            yield pd.DataFrame(
                {id_col: ids, "chunk_idx": pd.array(idxs, dtype="int32"), "chunk": chunks}
            )

    return docs.select(id_col, text_col).mapInPandas(gen, schema=schema)
