"""Text normalization — the engine's analog of the reference's
`clean_pdf_text_robust` pipeline (/root/reference/src/chunk.rs:387-456)
and `expand_ligatures` (/root/reference/src/bin/app/pdf.rs:20-31).

PDF-artifact classes handled (mirroring the reference's fuzzy tests,
/root/reference/src/fuzzy.rs:183-287): hyphenated line breaks, soft
hyphen U+00AD, zero-width chars, NBSP, ligatures, curly quotes,
em/en dashes, repeated whitespace.

Two implementations of ONE pinned rule table, guaranteed equivalent:

* :func:`normalize_py` — pure Python (numpy-oracle + driver-side query path)
* :func:`normalize_series` — pandas vectorized (inside mapInPandas; the
  scale path — no per-row Python, Arrow batches end-to-end)

Rule order is significant: de-hyphenation must see the raw newline, so
it runs before whitespace collapsing.
"""

from __future__ import annotations

import re

import pandas as pd

# Multi-char ligature expansion (a substitution, not a 1:1 translate
# table: ﬁ→fi is one char to two).
LIGATURES: dict[str, str] = {
    "ﬀ": "ff",
    "ﬁ": "fi",
    "ﬂ": "fl",
    "ﬃ": "ffi",
    "ﬄ": "ffl",
    "ﬅ": "st",
    "ﬆ": "st",
    "Œ": "OE",
    "œ": "oe",
    "Æ": "AE",
    "æ": "ae",
}

# (pattern, replacement) applied in order. Patterns restricted to char
# classes + literals so Java regex (Spark), RE2 (DuckDB) and Python `re`
# agree exactly.
RULES: list[tuple[str, str]] = [
    ("-\r?\n", ""),  # de-hyphenate line breaks: infor-\nmation → information
    ("[­​‌‍﻿⁠]", ""),  # invisibles
    ("[‘’‛]", "'"),  # curly single quotes
    ("[“”‟]", '"'),  # curly double quotes
    ("[–—―]", "-"),  # en/em/horizontal-bar dashes
    (" ", " "),  # NBSP
    ("\\s+", " "),  # collapse whitespace runs
]

_COMPILED = [(re.compile(p), r) for p, r in RULES]
_LIG_RE = re.compile("|".join(LIGATURES))


def _lig_sub(m: re.Match) -> str:
    return LIGATURES[m.group(0)]


def normalize_py(text: str) -> str:
    """Pure-Python normalizer (oracle + driver-side query path)."""
    if text is None:
        return ""
    out = _LIG_RE.sub(_lig_sub, text)
    for pat, repl in _COMPILED:
        out = pat.sub(repl, out)
    return out.strip()


# one pass deciding whether ANY rule could fire (real corpora are mostly
# clean; running the 18-rule pipeline on every row wastes the common case)
_NEEDS_WORK = re.compile(
    "["
    + "".join(LIGATURES)
    + "­​‌‍﻿⁠"  # invisibles
    + "‘’‛“”‟"  # curly quotes
    + "–—―"  # dashes
    + " "  # NBSP
    + "]|-\r?\n|\\s\\s|[\\t\\r\\n]"
)


def normalize_series(s: pd.Series) -> pd.Series:
    """Vectorized pandas normalizer — used inside mapInPandas batches.
    Applies the rule pipeline only to rows the artifact-detector regex
    flags; clean rows pass through untouched (identical output — every
    rule is a no-op on rows the detector misses)."""
    out = s.fillna("")
    mask = out.str.contains(_NEEDS_WORK, regex=True)
    if not mask.any():
        return out.str.strip()
    dirty = out[mask]
    for lig, rep in LIGATURES.items():
        dirty = dirty.str.replace(lig, rep, regex=False)
    for pat, repl in _COMPILED:
        dirty = dirty.str.replace(pat, repl, regex=True)
    out = out.copy()
    out[mask] = dirty
    return out.str.strip()
