"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,relational}
        --seed N --seconds S --trace {0,1} [--size full|tiny]

Run from the root of a checkout. Inputs come from the seeded generator
(perfbench/gen.py); everything the run writes lands under .perfbench/
in the checkout. The last stdout line is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1 (Spark event log on).
The lines before it print every metric of the workload by name with
its unit. A full artifact (host facts, details, spans) is written to
.perfbench/runs/. Exit status is 0 only when every op succeeded and
every answer matched its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd().resolve()
sys.path.insert(0, str(HERE))

from statistics import median  # noqa: E402

from metrics import DETAIL_UNITS, END_TO_END, PER_LAYER  # noqa: E402
import tracing as tr  # noqa: E402
import workloads as W  # noqa: E402


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full")
    return ap.parse_args(argv)


def check_program() -> None:
    """The engine must come from this checkout, not from anywhere else
    on the import path; without it there is nothing to measure."""
    sys.path.insert(0, str(ROOT))
    import importlib.util

    spec = importlib.util.find_spec("semantic_pdf_search_engine_spark")
    if spec is None or not Path(spec.origin).resolve().is_relative_to(ROOT):
        sys.exit(f"perfbench: no semantic_pdf_search_engine_spark package in {ROOT}")


def driver_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return max(1024, min(2048, total_kb // 1024 // 4))


def pin_host(work: Path, trace: bool) -> None:
    """Environment read by the engine's session factory, the JVM and
    the Python workers; set before the JVM starts."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(ncpu)
    mem = driver_mem_mb()
    env["SPARK_DRIVER_MEM"] = f"{mem}m"
    env["SPARK_LOCAL_DIRS"] = str(local)
    env["TMPDIR"] = str(tmp)
    env["SPSE_INDEX_CACHE"] = str(work / "registry-cache")
    env["SPSE_ANN_CACHE"] = str(work / "registry-cache")
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # the whole heap committed and touched at start: the JVM's share
        # of peak memory no longer depends on when G1 chose to grow it
        "spark.driver.extraJavaOptions": (
            f"-Xms{mem}m -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
    }
    if trace:
        log_dir = work / "eventlog"
        log_dir.mkdir(parents=True, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{log_dir}",
            }
        )
    env["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {k}={v!r}" if " " in v else f"--conf {k}={v}" for k, v in confs.items())
        + " pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def layer_metrics(run: W.Run, workload: str, ev: "tr.EventLog", session_s: float) -> dict:
    """Every per-layer metric; a layer the workload never reaches reads 0."""
    out = {k: 0.0 for k in PER_LAYER}
    out["session.start_s"] = session_s
    out["trace.setup_s"] = run.setup_s
    out["trace.op_p50_ms"] = median(run.op_ms) if run.op_ms else 0.0
    spans = run.tracer.spans

    def groups(prefix: str) -> list[str]:
        return sorted({s["op"] for s in spans if s["op"] and s["op"].startswith(prefix)})

    def med(xs):
        return median(xs) if xs else 0.0

    if "build_stage_walls" in run.detail:
        walls = run.detail["build_stage_walls"]
        bjobs = ev.build_stage_jobs("build")
        out["docids.s"] = walls["docs"]
        out["tf.s"] = walls["tf"]
        out["docfreq.s"] = walls["docfreq"]
        out["postings.s"] = walls["postings"]
        out["build.stage_wall_share"] = sum(walls.values()) / run.detail["build_s"]
        out["docids.jobs"] = len(bjobs["docs"])
        out["tf.exec_cpu_s"] = ev.agg(bjobs["tf"]).cpu_s
        p = ev.agg(bjobs["postings"])
        out["postings.shuffle_bytes"] = p.shuffle_write
        out["postings.spill_bytes"] = p.spill
        out["postings.bytes_per_posting"] = run.detail.get("bytes_per_posting", 0.0)
        out["build.tasks_failed"] = ev.agg(ev.jobs("build")).failed
        out["index.files"] = max(run.detail.get("index_files_after_writes", [run.detail.get("index_files", 0)]))

    appends = groups("append")
    if appends:
        out["append.s"] = med([run.tracer.seconds(s) for s in spans if s["name"] == "append"])
        out["append.jobs"] = med([len(ev.jobs(g)) for g in appends])
        out["append.tasks_failed"] = sum(ev.agg(ev.jobs(g)).failed for g in appends)
    if groups("compact"):
        out["compact.s"] = next(run.tracer.seconds(s) for s in spans if s["name"] == "compact")
        out["compact.bytes_rewritten"] = run.detail.get("compact_bytes_rewritten", 0)
        out["compact.tasks_failed"] = ev.agg(ev.jobs("compact")).failed
    if groups("prepare"):
        out["prepare.s"] = next(run.tracer.seconds(s) for s in spans if s["name"] == "prepare")
        out["prepare.tasks_failed"] = ev.agg(ev.jobs("prepare")).failed

    # single queries: the timed serve window only (ops q<i>)
    qgroups = [g for g in groups("q") if g[1:].isdigit()]
    if qgroups:
        by_op = {}
        for i, s in enumerate(spans):
            if s["name"] == "query" and s["op"] in qgroups:
                by_op[s["op"]] = i
        plan = [1000 * run.tracer.seconds(s) for s in spans if s["name"] == "query.plan" and spans[s["parent"]]["op"] in by_op]
        exe = [1000 * run.tracer.seconds(s) for s in spans if s["name"] == "query.exec" and spans[s["parent"]]["op"] in by_op]
        out["query.plan_ms"] = med(plan)
        out["query.exec_ms"] = med(exe)
        out["query.jobs"] = med([len(ev.jobs(g)) for g in by_op])
        out["query.tasks"] = med([ev.agg(ev.jobs(g)).tasks for g in by_op])
        out["query.tasks_failed"] = sum(ev.agg(ev.jobs(g)).failed for g in by_op)
        fp = run.detail.get("footprints", [])
        out["query.footprint_postings"] = med([a for a, _ in fp])
        out["query.footprint_blocks"] = med([b for _, b in fp])

    bgroups = [g for g in groups("batch") if g != "batch-warm"]
    if bgroups:
        plan = [1000 * run.tracer.seconds(s) for s in spans if s["name"] == "batch.plan" and spans[s["parent"]]["op"] in bgroups]
        exe = [run.tracer.seconds(s) for s in spans if s["name"] == "batch.exec" and spans[s["parent"]]["op"] in bgroups]
        aggs = [ev.agg(ev.jobs(g)) for g in bgroups]
        out["batch.plan_ms"] = med(plan)
        out["batch.exec_s"] = med(exe)
        out["batch.jobs"] = med([len(ev.jobs(g)) for g in bgroups])
        out["batch.tasks"] = med([a.tasks for a in aggs])
        out["batch.shuffle_bytes"] = med([a.shuffle_write for a in aggs])
        out["batch.exec_cpu_s"] = med([a.cpu_s for a in aggs])
        out["batch.tasks_failed"] = sum(a.failed for a in aggs)

    if workload == "relational":
        from metrics import RELATIONAL_QUERIES

        failed = 0
        for q in RELATIONAL_QUERIES:
            gs = [g for g in groups("rel") if g.endswith(f"-{q}")]
            out[f"relational.{q}.ms"] = run.detail["per_query_ms"][q]
            out[f"relational.{q}.jobs"] = med([len(ev.jobs(g)) for g in gs])
            failed += sum(ev.agg(ev.jobs(g)).failed for g in gs)
        out["relational.tasks_failed"] = failed
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    check_program()
    import gen

    bench_dir = ROOT / ".perfbench"
    inputs = gen.generate(args.seed, args.size, bench_dir / "cache")
    work = bench_dir / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    pin_host(work, bool(args.trace))
    cpu0, load0 = tr.cpu_times(), os.getloadavg()

    t_setup = time.perf_counter()
    from semantic_pdf_search_engine_spark.session import get_spark
    from pyspark import SparkContext

    tracer = tr.Tracer()
    with tracer.span("session.start") as s_start:
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = SparkContext._gateway.proc.pid
    if args.trace:
        tracer.spark_ctx = spark.sparkContext
    run = W.Run(spark, tracer, inputs, work, args.seconds)
    setup, body = W.WORKLOADS[args.workload]
    try:
        with tr.MemSampler(jvm_pid) as mem:
            setup(run)
            run.setup_s = time.perf_counter() - t_setup
            body(run)
            peak_mem = mem.peak_mb
            if run.index_dir is not None and "build_s" in run.detail:
                _index_facts(run)
    finally:
        stop_spark(spark)
    session_s = tracer.seconds(s_start)

    import checks

    run.detail["checked_answers"] = checks.CHECKS[args.workload](run)
    ncpu = len(os.sched_getaffinity(0))
    detail = {
        "setup_s": run.setup_s,
        "peak_pss_mb": peak_mem,
        "op_p50_ms": median(run.op_ms) if run.op_ms else 0.0,
        "throughput_per_s": run.throughput,
        **run.detail,
        "ops_attempted": run.attempted,
        "ops_failed": run.failed,
    }
    if run.index_dir is not None and "index_bytes" in run.detail:
        text_bytes = _text_bytes(inputs.base)
        detail["index_bytes_per_text_byte"] = run.detail["index_bytes"] / text_bytes

    metrics = {k: {"value": detail[k], "unit": u} for k, u in END_TO_END.items()}
    layers = None
    if args.trace:
        ev = tr.parse_event_log(work / "eventlog")
        ev.attribute(tracer.spans)
        layers = layer_metrics(run, args.workload, ev, session_s)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}

    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "host": {
            "nproc": ncpu,
            "steal_pct": tr.steal_pct(cpu0, tr.cpu_times()),
            "loadavg_start": load0,
            "loadavg_end": os.getloadavg(),
            "commit": tr.commit_of(ROOT),
            "driver_mem": os.environ["SPARK_DRIVER_MEM"],
        },
        "detail": detail,
        "layers": layers,
        "errors": run.errors,
    }
    runs_dir = bench_dir / "runs"
    runs_dir.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}-{os.getpid()}"
    (runs_dir / f"{stem}.json").write_text(json.dumps(artifact, indent=1, default=str))
    tracer.dump(runs_dir / f"{stem}.spans.json")
    if args.trace:
        shutil.move(str(work / "eventlog"), str(runs_dir / f"{stem}.eventlog"))
    shutil.rmtree(work, ignore_errors=True)

    for k, v in detail.items():
        unit = END_TO_END.get(k) or DETAIL_UNITS.get(k)
        if unit and isinstance(v, (int, float)):
            print(f"{args.workload:10s} {k:28s} {v:14.4f} {unit}")
    for e in run.errors[:20]:
        print(f"error: {e}")
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


def _index_facts(run: W.Run) -> None:
    """Index facts read from the manifest and the tables, outside any
    timed window."""
    from semantic_pdf_search_engine_spark.sources.index_store import Manifest

    stages = Manifest(str(run.index_dir)).data["stages"]
    compacts = [s for s in stages if s.startswith("compact_")]
    if compacts:
        run.detail["compact_bytes_rewritten"] = sum(stages[s]["total_bytes"] for s in compacts) + sum(
            stages[b]["total_bytes"] for b in ("docs", "tf") if "compacted_from" in stages[b]
        )


def _text_bytes(path: str) -> int:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    text = pq.read_table(path, columns=["text"]).column("text")
    return int(pc.sum(pc.binary_length(text)).as_py())


if __name__ == "__main__":
    sys.exit(main())
