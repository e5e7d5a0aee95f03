"""Correctness gate, run after the timed windows.

- serve: every timed single-query answer (top-10 ids, scores within
  1e-9) against the pinned numpy `BM25Oracle`, scoped answers against
  the oracle restricted to the conversation under global statistics;
  every batch answer against the oracle and, where the same query was
  also served singly, against that single answer exactly.
- serve, write phase: read-after-write answers after each append against the oracle
  over the turns written so far; after compaction, answers equal the
  pre-compaction answers and the oracle over base plus appended turns.
- relational: hash-exact against the registry's DuckDB `ORACLE_SQL`,
  canonicalised by sorted column names, repr() of every cell and a
  full row sort.

A mismatch counts as a failed op.
"""

from __future__ import annotations

import pyarrow.parquet as pq

from workloads import K, Run, fresh_queries

TOL = 1e-9


def _turns(paths: list[str]) -> list[tuple[str, str]]:
    """(conv_id, text) in docID order: the generator writes every file
    in (conv_id, turn_idx) order and segments sort after the base."""
    out = []
    for p in paths:
        t = pq.read_table(p, columns=["conv_id", "text"])
        out += zip(t.column("conv_id").to_pylist(), t.column("text").to_pylist())
    return out


class Referee:
    def __init__(self, turns: list[tuple[str, str]]) -> None:
        from semantic_pdf_search_engine_spark.oracle import BM25Oracle

        self.conv = [c for c, _ in turns]
        self.oracle = BM25Oracle([(i, t) for i, (_, t) in enumerate(turns)])
        self._memo: dict = {}

    def top_k(self, text: str, conv: str | None = None) -> list[tuple[int, float]]:
        key = (text, conv)
        if key not in self._memo:
            if conv is None:
                self._memo[key] = self.oracle.top_k(text, K)
            else:
                s = self.oracle.score_all(text)
                hits = [(d, v) for d, v in s.items() if self.conv[d] == conv]
                self._memo[key] = sorted(hits, key=lambda kv: (-kv[1], kv[0]))[:K]
        return self._memo[key]


def _same(got, want) -> bool:
    return [d for d, _ in got] == [d for d, _ in want] and all(
        abs(a - b) <= TOL for (_, a), (_, b) in zip(got, want)
    )


def _fail(run: Run, msg: str) -> None:
    run.failed += 1
    run.errors.append(msg[:400])


def check_serve(run: Run) -> int:
    ref = Referee(_turns([run.inputs.base]))
    n = 0
    single_plain = {}
    for text, conv, rows in run.answers.get("singles", []):
        n += 1
        if not _same(rows, ref.top_k(text, conv)):
            _fail(run, f"serve: query {text!r} conv={conv} differs from the oracle")
        if conv is None:
            single_plain[text] = rows
    batch = run.answers.get("batch_queries", [])
    for answers in run.answers.get("batches", []):
        for qi, text in enumerate(batch):
            rows = answers.get(qi, [])
            n += 1
            if not _same(rows, ref.top_k(text)):
                _fail(run, f"batch: query {text!r} differs from the oracle")
            if text in single_plain and rows != single_plain[text]:
                _fail(run, f"batch: query {text!r} differs from the single-query answer")
    return n


def check_writes(run: Run) -> int:
    inp = run.inputs
    texts = fresh_queries(inp.queries)
    n = 0
    paths = [inp.base]
    for i in range(inp.size.segments):
        paths.append(inp.segment(i))
        ref = Referee(_turns(paths))
        for text, rows in zip(texts, run.answers.get(f"fresh{i}", [])):
            n += 1
            if rows is None or not _same(rows, ref.top_k(text)):
                _fail(run, f"writes: after append {i}, query {text!r} differs from the oracle")
    last = run.answers.get(f"fresh{inp.size.segments - 1}", [])
    for text, rows, before in zip(texts, run.answers.get("compacted", []), last):
        n += 1
        if rows is None or rows != before or not _same(rows, ref.top_k(text)):
            _fail(run, f"writes: after compaction, query {text!r} changed or differs from the oracle")
    return n


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: repr(v.item() if hasattr(v, "item") else v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def check_relational(run: Run) -> int:
    import duckdb

    from metrics import RELATIONAL_QUERIES
    from semantic_pdf_search_engine_spark import registry

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.inputs.rel_dir}/{t}.parquet')"
            )
        n = 0
        for q in RELATIONAL_QUERIES:
            got = run.answers.get(q)
            if got is None:
                continue  # the failed op is already counted
            n += 1
            want = _canon(con.execute(registry.ORACLE_SQL[q]).df())
            got = _canon(got)
            if list(got.columns) != list(want.columns) or got.shape != want.shape:
                _fail(run, f"relational: {q} shape {got.shape} {list(got.columns)} != {want.shape} {list(want.columns)}")
            elif (got != want).any().any():
                _fail(run, f"relational: {q} values differ from ORACLE_SQL")
        return n
    finally:
        con.close()


CHECKS = {"serve": lambda run: check_serve(run) + check_writes(run), "relational": check_relational}
