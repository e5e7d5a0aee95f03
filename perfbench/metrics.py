"""Metric names and units: the single list the runner emits and the
self-test checks BENCHMARK.json against."""

from __future__ import annotations

RELATIONAL_QUERIES = (
    "bm25_topk",
    "boolean_search",
    "boolean_msm",
    "search_collapse",
    "search_facets",
    "search_histogram",
    "search_page2",
    "term_snippets",
    "best_passage",
    "hybrid_rrf",
    "more_like_this",
    "prf_expand",
    "prf_search",
    "fuzzy_search",
    "synonym_search",
    "wildcard_search",
    "regex_search",
    "bm25f_search",
)

# Reported by every workload; what an "op" is depends on the workload
# (perfbench/RATIONALE.md).
END_TO_END = {
    "setup_s": "s",
    "peak_pss_mb": "MB",
    "op_p50_ms": "ms",
    "throughput_per_s": "1/s",
}

# The workload-specific metrics named by the benchmark's design. They
# are printed with their units and saved in the run artifact; they are
# not part of the bounded result line.
DETAIL_UNITS = {
    "build_s": "s",
    "append_s": "s",
    "compact_s": "s",
    "fresh_query_p50_ms": "ms",
    "index_bytes_per_text_byte": "ratio",
    "query_p50_ms": "ms",
    "query_p95_ms": "ms",
    "scoped_query_p50_ms": "ms",
    "serve_qps": "1/s",
    "batch_qps": "1/s",
    "relational_suite_s": "s",
    "ops_attempted": "count",
    "ops_failed": "count",
    "samples": "count",
}

PER_LAYER = {
    "session.start_s": "s",
    "docids.s": "s",
    "docids.jobs": "count",
    "tf.s": "s",
    "tf.exec_cpu_s": "s",
    "docfreq.s": "s",
    "postings.s": "s",
    "postings.shuffle_bytes": "bytes",
    "postings.spill_bytes": "bytes",
    "postings.bytes_per_posting": "bytes",
    "build.stage_wall_share": "ratio",
    "build.tasks_failed": "count",
    "append.s": "s",
    "append.jobs": "count",
    "append.tasks_failed": "count",
    "compact.s": "s",
    "compact.bytes_rewritten": "bytes",
    "compact.tasks_failed": "count",
    "index.files": "count",
    "prepare.s": "s",
    "prepare.tasks_failed": "count",
    "query.plan_ms": "ms",
    "query.exec_ms": "ms",
    "query.jobs": "count",
    "query.tasks": "count",
    "query.footprint_postings": "count",
    "query.footprint_blocks": "count",
    "query.tasks_failed": "count",
    "batch.plan_ms": "ms",
    "batch.exec_s": "s",
    "batch.jobs": "count",
    "batch.tasks": "count",
    "batch.shuffle_bytes": "bytes",
    "batch.exec_cpu_s": "s",
    "batch.tasks_failed": "count",
    **{f"relational.{q}.ms": "ms" for q in RELATIONAL_QUERIES},
    **{f"relational.{q}.jobs": "count" for q in RELATIONAL_QUERIES},
    "relational.tasks_failed": "count",
    "trace.setup_s": "s",
    "trace.op_p50_ms": "ms",
}


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(-(-q * len(s) // 100)) - 1))]
