"""Pinned tokenizer: case-fold + split on non-alphanumeric runs.

Replaces the reference's embedding tokenizer as the unit of matching
(the graft swaps MiniLM vectors for an inverted index; case folding
parity with /root/reference/model/tokenizer_config.json do_lower_case
and the query-side fold at /root/reference/src/fuzzy.rs:12-21).

One regex (`config.TOKEN_SPLIT_RE`), three implementations:
Python (oracle and query side) and pandas (mapInPandas scale path)
normalize first and are equivalent; the Spark Column expression
(`tokens_expr`, JVM codegen) splits raw text, which is the relational
queries' DuckDB-parity contract.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from semantic_pdf_search_engine_spark.config import TOKEN_SPLIT_RE
from semantic_pdf_search_engine_spark.functions.normalize import (
    normalize_py,
    normalize_series,
)

_SPLIT = re.compile(TOKEN_SPLIT_RE)


def tokenize_py(text: str, normalize: bool = True) -> list[str]:
    """Pure-Python tokenizer — shared by the numpy BM25 oracle and the
    driver-side query tokenization (queries are tiny; plain Python is
    fine on the driver, mirroring the reference's in-process
    embed_query, /root/reference/src/embed.rs:65-78)."""
    if text is None:
        return []
    if normalize:
        text = normalize_py(text)
    return [t for t in _SPLIT.split(text.lower()) if t]


def tokens_expr(col: Column) -> Column:
    """ARRAY<STRING> of tokens as a pure Spark expression (no UDF):
    lower → split → drop empties. Whole-stage-codegen friendly; exactly
    mirrors DuckDB `list_filter(regexp_split_to_array(lower(x), re), ...)`."""
    return F.filter(F.split(F.lower(col), TOKEN_SPLIT_RE), lambda t: t != "")


def term_freq_map_in_pandas(
    df: DataFrame,
    id_cols: tuple[str, ...] = ("doc_id",),
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """(id..., text) → (id..., term, tf, dl) via Arrow-batched pandas.

    This is the engine's analog of the reference's batch embed stage
    (/root/reference/src/embed.rs:44-63): one vectorized transform per
    Arrow batch, no per-row Python on the JVM boundary. tf is complete
    per doc (a doc is one input row), so this is map-side aggregated —
    the downstream groupBy(term) shuffle moves (term, doc, tf) tuples,
    never raw tokens.
    """
    out_schema = ", ".join(
        f"{name} {df.schema[name].dataType.simpleString()}" for name in id_cols
    )
    out_schema += ", term string, tf int, dl int"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if pdf.empty:
                continue
            texts = normalize_series(pdf[text_col]) if normalize else pdf[
                text_col
            ].fillna("")
            # fully vectorized: flatten token lists once, group by
            # (row, term) with pandas — no per-row Python loop
            toks_col = texts.str.lower().str.split(_SPLIT)
            tok_lists = [
                [t for t in toks if t] if isinstance(toks, list) else []
                for toks in toks_col.tolist()
            ]
            lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64)
            if lens.sum() == 0:
                continue
            flat_terms = np.concatenate(
                [np.asarray(t, dtype=object) for t in tok_lists if t]
            )
            row_idx = np.repeat(np.arange(len(tok_lists)), lens)
            grouped = (
                pd.DataFrame({"_row": row_idx, "term": flat_terms})
                .groupby(["_row", "term"], sort=False)
                .size()
                .reset_index(name="tf")
            )
            out = pd.DataFrame(
                {c: pdf[c].to_numpy()[grouped["_row"].to_numpy()] for c in id_cols}
            )
            out["term"] = grouped["term"].to_numpy()
            out["tf"] = grouped["tf"].astype("int32").to_numpy()
            out["dl"] = lens[grouped["_row"].to_numpy()].astype("int32")
            yield out

    return df.mapInPandas(gen, schema=out_schema)
