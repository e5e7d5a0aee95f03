#!/usr/bin/env python
"""Dump .explain('formatted') for named registry queries to <out_dir>.

Usage: SPARK_GRAFT_SF_DIR=<sf_dir> python tools/explain.py <label> <out_dir> q1 q2 ...

Writes <out_dir>/<query>_<label>.txt per query. Expression ids (`#123`),
exchange plan ids (`[plan_id=45]`) and lambda variable counters
(`lambda y_7` → `lambda y`) are stripped, so two captures (say `before` and `after`
a change) diff cleanly.
"""

import io
import os
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

_IDS = re.compile(r"#\d+|, \[plan_id=\d+\]|(?<=lambda )([A-Za-z]+)_\d+")


def main() -> None:
    from semantic_pdf_search_engine_spark import registry
    from semantic_pdf_search_engine_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if len(sys.argv) < 4 or not sf_dir:
        sys.exit(__doc__)
    label, out_dir, names = sys.argv[1], Path(sys.argv[2]), sys.argv[3:]
    spark = get_spark(app_name="explain")
    registry._ann_index(spark, sf_dir)
    registry._doc_index(spark, sf_dir)
    registry._pos_index(spark, sf_dir)
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        df = registry.QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        text = _IDS.sub(lambda m: m.group(1) or "", buf.getvalue())
        (out_dir / f"{name}_{label}.txt").write_text(text)
        print(f"wrote {name}_{label}.txt ({len(text)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
