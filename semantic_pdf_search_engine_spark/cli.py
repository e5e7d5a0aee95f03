"""spark-submit entry points — the reference's REPL/CLI analog
(/root/reference/src/bin/repl/repl.rs:56-126: file / search / serve).

Usage (local or `spark-submit --py-files engine.zip cli.py ...`):

    python -m semantic_pdf_search_engine_spark.cli build-index \
        --input /path/transcripts.parquet --index /path/index
    python -m semantic_pdf_search_engine_spark.cli query \
        --index /path/index --q "some terms" [--k 10] [--spans]
    python -m semantic_pdf_search_engine_spark.cli bench --index /path/index
    python -m semantic_pdf_search_engine_spark.cli append --input new.parquet --index /path/index
    python -m semantic_pdf_search_engine_spark.cli compact --index /path/index
    python -m semantic_pdf_search_engine_spark.cli build-ann --input emb.parquet --ann /path/ann
    python -m semantic_pdf_search_engine_spark.cli query-batch --index /path/index --queries qs.txt
    python -m semantic_pdf_search_engine_spark.cli knn-join --ann /path/ann \
        --queries q.parquet --variant lsh --out /path/out
    python -m semantic_pdf_search_engine_spark.cli classify --input docs.parquet --out scored/
    python -m semantic_pdf_search_engine_spark.cli cluster --input emb.parquet --out clusters/ --k 8
    python -m semantic_pdf_search_engine_spark.cli mixture --input docs.parquet --alpha 0.7

`build-index` resumes from the manifest by default (the durable version
of the reference's ready-set polling, upload.rs:52-70 / ready.rs:13-23).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="semantic-pdf-search-engine-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build-index", help="build/resume the inverted index")
    b.add_argument("--input", required=True, help="transcripts path")
    b.add_argument("--format", default="parquet", choices=["parquet", "jsonl", "csv"])
    b.add_argument("--index", required=True, help="index output dir")
    b.add_argument("--no-resume", action="store_true")
    b.add_argument("--stripe-docs", type=int, default=None)

    q = sub.add_parser("query", help="BM25 top-k search")
    q.add_argument("--index", required=True)
    q.add_argument("--q", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--spans", action="store_true", help="add match spans")
    q.add_argument(
        "--snapshot", type=int, default=None,
        help="time-travel: answer from a retained snapshot id",
    )

    sn = sub.add_parser(
        "snapshots", help="list retained index snapshots, optionally expire"
    )
    sn.add_argument("--index", required=True)
    sn.add_argument(
        "--expire-keep", type=int, default=None,
        help="expire history down to the newest N snapshots",
    )

    bp = sub.add_parser(
        "build-pos-index",
        help="materialize the term_bucket-partitioned positional index",
    )
    bp.add_argument("--input", required=True, help="documents parquet path")
    bp.add_argument("--pos", required=True, help="positional index output dir")

    ph = sub.add_parser("phrase", help="token-adjacency phrase search")
    ph.add_argument("--phrase", required=True)
    ph.add_argument("--pos", default=None, help="materialized positional index dir")
    ph.add_argument(
        "--input", default=None, help="documents parquet (on-the-fly, no index)"
    )

    be = sub.add_parser("bench", help="query latency over the fixture set")
    be.add_argument("--index", required=True)
    be.add_argument("--n", type=int, default=50)

    ap = sub.add_parser("append", help="append a transcript segment to an index")
    ap.add_argument("--input", required=True, help="new transcripts parquet path")
    ap.add_argument("--index", required=True)

    co = sub.add_parser("compact", help="LSM-merge posting segments to one block per (term, stripe)")
    co.add_argument("--index", required=True)

    an = sub.add_parser("build-ann", help="materialize the bucket-partitioned ANN store")
    an.add_argument("--input", required=True, help="embeddings parquet path")
    an.add_argument("--ann", required=True, help="ANN store output dir")
    an.add_argument("--planes", type=int, default=8)
    an.add_argument("--centroids", type=int, default=16)

    qb = sub.add_parser(
        "query-batch", help="top-k for MANY queries in one call (score_topk_batch)"
    )
    qb.add_argument("--index", required=True)
    qb.add_argument(
        "--queries",
        required=True,
        help="text file, one query per line; query_id is the 0-based line "
        "number (blank lines yield no rows)",
    )
    qb.add_argument("--k", type=int, default=10)

    kj = sub.add_parser(
        "knn-join",
        help="batch ANN k-NN join: queries parquet x materialized store "
        "(distributed cogroup path, no driver collect)",
    )
    kj.add_argument("--ann", required=True, help="ANN store dir")
    kj.add_argument(
        "--queries", required=True,
        help="parquet with (q_id long, q_vec array<float>) columns",
    )
    kj.add_argument("--k", type=int, default=10)
    kj.add_argument("--variant", default="lsh", choices=["lsh", "ivf"])
    kj.add_argument("--out", required=True, help="output parquet path")

    sg = sub.add_parser(
        "suggest",
        help="vocabulary serving: prefix autocomplete or did-you-mean "
        "correction over the index's docfreq table",
    )
    sg.add_argument("--index", required=True)
    sg.add_argument("--prefix", default=None, help="autocomplete prefix")
    sg.add_argument("--term", default=None, help="misspelled term to correct")
    sg.add_argument("--k", type=int, default=10)

    ml = sub.add_parser(
        "mlt",
        help="more-like-this: BM25 docs similar to --doc-id, served from "
        "the index (top-m TF-IDF terms of the source doc as the query)",
    )
    ml.add_argument("--index", required=True)
    ml.add_argument("--doc-id", type=int, required=True, help="orig_doc_id")
    ml.add_argument("--m", type=int, default=8, help="expansion terms")
    ml.add_argument("--k", type=int, default=10)

    nr = sub.add_parser(
        "near",
        help="NEAR/W proximity search: docs with both terms within "
        "--window token positions",
    )
    nr.add_argument("--a", required=True)
    nr.add_argument("--b", required=True)
    nr.add_argument("--window", type=int, default=5)
    nr.add_argument("--pos", default=None, help="materialized positional index dir")
    nr.add_argument(
        "--input", default=None, help="documents parquet (on-the-fly, no index)"
    )

    cl = sub.add_parser(
        "classify",
        help="train + apply the distilled quality classifier "
        "(logistic GD over structural features, label = quality_verdict)",
    )
    cl.add_argument("--input", required=True, help="documents parquet")
    cl.add_argument("--out", required=True, help="output parquet (doc_id, prob, pred)")
    cl.add_argument("--iters", type=int, default=5)
    cl.add_argument("--lr", type=float, default=1.0)

    km = sub.add_parser(
        "cluster", help="full-corpus distributed k-means over an embeddings table"
    )
    km.add_argument("--input", required=True, help="embeddings parquet (vec_id, embedding)")
    km.add_argument("--out", required=True, help="output parquet (vec_id, cluster)")
    km.add_argument("--k", type=int, default=8)
    km.add_argument("--iters", type=int, default=5)

    mx = sub.add_parser(
        "mixture", help="temperature-scaled source mixing weights (JSON rows)"
    )
    mx.add_argument("--input", required=True, help="documents parquet with a source column")
    mx.add_argument("--alpha", type=float, default=0.7)
    mx.add_argument("--source-col", default="source")

    args = p.parse_args(argv)

    if args.cmd == "snapshots":
        # pure manifest metadata (+ optional dir cleanup) — never pays
        # SparkSession startup
        from semantic_pdf_search_engine_spark.sources.index_store import (
            Manifest,
            expire_snapshots,
        )

        if args.expire_keep is not None:
            print(json.dumps(expire_snapshots(args.index, args.expire_keep)))
        for s in Manifest(args.index).data.get("snapshots", []):
            print(
                json.dumps(
                    {
                        "snapshot_id": s["snapshot_id"],
                        "label": s["label"],
                        "ts": s["ts"],
                        "n_docs": s["params"].get("n_docs"),
                        "n_files": {k: len(v) for k, v in s["tables"].items()},
                    }
                )
            )
        return 0

    from semantic_pdf_search_engine_spark.config import STRIPE_DOCS
    from semantic_pdf_search_engine_spark.session import get_spark

    spark = get_spark(app_name=f"cli-{args.cmd}")

    if args.cmd == "build-index":
        from semantic_pdf_search_engine_spark.sources.index_store import build_index
        from semantic_pdf_search_engine_spark.sources.ingest import read_transcripts

        df, rejected = read_transcripts(spark, args.input, fmt=args.format)
        t0 = time.time()
        idx = build_index(
            spark,
            df,
            args.index,
            stripe_docs=args.stripe_docs or STRIPE_DOCS,
            resume=not args.no_resume,
        )
        wall = round(time.time() - t0, 2)
        # counted AFTER the build so wall_sec measures the build alone;
        # this is a second input scan — fine for a CLI run, a 100 TB
        # pipeline would count rejects via an Observation on its own
        # ingest write instead
        n_rejected = rejected.count()
        print(
            json.dumps(
                {
                    "n_docs": idx.n_docs,
                    "n_rejected_rows": n_rejected,
                    "avgdl": round(idx.avgdl, 3),
                    "wall_sec": wall,
                }
            )
        )
    elif args.cmd == "query":
        from semantic_pdf_search_engine_spark.operators.spans import refine_spans
        from semantic_pdf_search_engine_spark.plans.query import search
        from semantic_pdf_search_engine_spark.sources.index_store import load_index

        idx = load_index(spark, args.index, snapshot_id=args.snapshot)
        hits = search(idx, args.q, args.k)
        if args.spans:
            hits = refine_spans(hits, args.q)
        for row in hits.collect():
            print(json.dumps(row.asDict(recursive=True), default=str))
    elif args.cmd == "build-pos-index":
        from semantic_pdf_search_engine_spark.operators.postings import (
            build_positional_index,
        )

        t0 = time.time()
        build_positional_index(spark.read.parquet(args.input), args.pos)
        print(json.dumps({"wall_sec": round(time.time() - t0, 2)}))
    elif args.cmd == "phrase":
        from semantic_pdf_search_engine_spark.operators.postings import (
            phrase_occurrences,
        )

        if bool(args.pos) == bool(args.input):
            p.error("phrase: exactly one of --pos / --input is required")
        hits = phrase_occurrences(
            args.pos or spark.read.parquet(args.input), args.phrase
        )
        for row in hits.orderBy("doc_id").collect():
            print(json.dumps(row.asDict()))
    elif args.cmd == "append":
        from semantic_pdf_search_engine_spark.sources.index_store import (
            append_to_index,
        )

        t0 = time.time()
        idx = append_to_index(spark, spark.read.parquet(args.input), args.index)
        print(
            json.dumps(
                {"n_docs": idx.n_docs, "wall_sec": round(time.time() - t0, 2)}
            )
        )
    elif args.cmd == "compact":
        from semantic_pdf_search_engine_spark.sources.index_store import compact_index

        t0 = time.time()
        idx = compact_index(spark, args.index)
        print(
            json.dumps(
                {
                    "postings_rel": idx.postings_rel,
                    "wall_sec": round(time.time() - t0, 2),
                }
            )
        )
    elif args.cmd == "build-ann":
        from semantic_pdf_search_engine_spark.sources.ann_store import build_ann_index

        t0 = time.time()
        ai = build_ann_index(
            spark,
            spark.read.parquet(args.input),
            args.ann,
            n_planes=args.planes,
            n_centroids=args.centroids,
        )
        print(
            json.dumps({"n_rows": ai.n_rows, "wall_sec": round(time.time() - t0, 2)})
        )
    elif args.cmd == "query-batch":
        from semantic_pdf_search_engine_spark.plans.query import score_topk_batch
        from semantic_pdf_search_engine_spark.sources.index_store import load_index

        with open(args.queries) as f:
            queries = [line.rstrip("\n") for line in f]
        idx = load_index(spark, args.index)
        t0 = time.time()
        rows = score_topk_batch(idx, queries, args.k).collect()
        wall = time.time() - t0
        for row in rows:
            print(json.dumps(row.asDict()))
        print(
            json.dumps(
                {
                    "n_queries": len(queries),
                    "wall_sec": round(wall, 3),
                    "per_query_sec": round(wall / max(1, len(queries)), 4),
                }
            ),
            file=sys.stderr,
        )
    elif args.cmd == "knn-join":
        from semantic_pdf_search_engine_spark.sources.ann_store import (
            knn_join_ivf_dist,
            knn_join_lsh_dist,
            load_ann_index,
        )

        ai = load_ann_index(spark, args.ann)
        queries = spark.read.parquet(args.queries)
        fn = knn_join_lsh_dist if args.variant == "lsh" else knn_join_ivf_dist
        t0 = time.time()
        fn(ai, queries, k=args.k).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"out": args.out, "wall_sec": round(time.time() - t0, 2)}))
    elif args.cmd == "suggest":
        from semantic_pdf_search_engine_spark.operators.suggest import (
            prefix_suggest,
            term_correct,
        )
        from semantic_pdf_search_engine_spark.sources.index_store import load_index

        from pyspark.sql import functions as F

        if bool(args.prefix) == bool(args.term):
            p.error("suggest: exactly one of --prefix / --term is required")
        vocab = load_index(spark, args.index).docfreq.select(
            "term", F.col("df").cast("long").alias("df")
        )
        out = (
            prefix_suggest(vocab, args.prefix, args.k)
            if args.prefix
            else term_correct(vocab, args.term, args.k)
        )
        for row in out.collect():
            print(json.dumps(row.asDict()))
    elif args.cmd == "mlt":
        from semantic_pdf_search_engine_spark.plans.query import (
            more_like_this_indexed,
        )
        from semantic_pdf_search_engine_spark.sources.index_store import load_index

        idx = load_index(spark, args.index)
        # a CLI-built index carries whatever id columns its input had;
        # address by original ids when present, internal docIDs otherwise
        id_col = (
            "orig_doc_id" if "orig_doc_id" in idx.docs.columns else "doc_id"
        )
        for row in more_like_this_indexed(
            idx, args.doc_id, args.m, args.k, id_col=id_col
        ).collect():
            print(json.dumps(row.asDict()))
    elif args.cmd == "near":
        from semantic_pdf_search_engine_spark.operators.postings import (
            proximity_search,
        )

        if bool(args.pos) == bool(args.input):
            p.error("near: exactly one of --pos / --input is required")
        hits = proximity_search(
            args.pos or spark.read.parquet(args.input), args.a, args.b, args.window
        )
        for row in hits.orderBy("doc_id").collect():
            print(json.dumps(row.asDict()))
    elif args.cmd == "classify":
        from pyspark.sql import functions as F

        from semantic_pdf_search_engine_spark.functions.quality import quality_verdict
        from semantic_pdf_search_engine_spark.operators.traindata import (
            quality_classifier,
        )

        docs = spark.read.parquet(args.input)
        label = (quality_verdict(F.col("text")) == "pass").cast("int")
        t0 = time.time()
        out = quality_classifier(docs, label, iters=args.iters, lr=args.lr)
        out.write.mode("overwrite").parquet(args.out)
        kept = out.filter(F.col("pred") == 1).count()
        n = out.count()
        print(
            json.dumps(
                {
                    "out": args.out,
                    "n_docs": n,
                    "pred_keep": kept,
                    "wall_sec": round(time.time() - t0, 2),
                }
            )
        )
    elif args.cmd == "cluster":
        from pyspark.sql import functions as F

        from semantic_pdf_search_engine_spark.operators.similarity import (
            assign_clusters,
            kmeans_fit,
        )

        emb = spark.read.parquet(args.input)
        t0 = time.time()
        c = kmeans_fit(emb, k=args.k, iters=args.iters)
        out = assign_clusters(emb, c)
        out.write.mode("overwrite").parquet(args.out)
        sizes = {
            int(r["cluster"]): r["n"]
            for r in out.groupBy("cluster").agg(F.count("*").alias("n")).collect()
        }
        print(
            json.dumps(
                {
                    "out": args.out,
                    "k": args.k,
                    "cluster_sizes": sizes,
                    "wall_sec": round(time.time() - t0, 2),
                }
            )
        )
    elif args.cmd == "mixture":
        from semantic_pdf_search_engine_spark.operators.traindata import (
            mixture_weights,
        )

        docs = spark.read.parquet(args.input)
        for r in mixture_weights(
            docs, alpha=args.alpha, source_col=args.source_col
        ).collect():
            print(json.dumps(r.asDict()))
    elif args.cmd == "bench":
        import statistics

        from semantic_pdf_search_engine_spark.fixtures import make_queries
        from semantic_pdf_search_engine_spark.plans.query import score_topk
        from semantic_pdf_search_engine_spark.sources.index_store import load_index

        idx = load_index(spark, args.index)
        lat = []
        for qtext in make_queries(args.n):
            t0 = time.time()
            score_topk(idx, qtext, 10).collect()
            lat.append(time.time() - t0)
        lat.sort()
        print(
            json.dumps(
                {
                    "n_queries": len(lat),
                    "p50_sec": round(statistics.median(lat), 4),
                    "p95_sec": round(lat[int(0.95 * (len(lat) - 1))], 4),
                }
            )
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
