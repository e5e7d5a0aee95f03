"""Spans, Spark event-log parsing, process-tree RSS sampling, host facts.

A span is (name, start, end, parent, op): the benchmark opens one around
every call it makes into the engine and every Spark action it triggers.
When tracing is on, each span that launches Spark work also sets a Spark
job group named after its op id, so the event log (enabled from outside
through PYSPARK_SUBMIT_ARGS) attributes every job, stage and task back
to the span that caused it. Spans are kept in memory and written out
when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


class Tracer:
    """Records spans; with `spark_ctx` set, also tags Spark jobs with
    the job group of the innermost span that has an op id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.spark_ctx = None  # SparkContext, set only for traced runs

    @contextmanager
    def span(self, name: str, op: str | None = None):
        rec = {
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "wall_start": time.time(),
            "wall_end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        sc = self.spark_ctx
        if sc is not None and op is not None:
            sc.setJobGroup(op, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            self._stack.pop()
            if sc is not None and op is not None:
                outer = next(
                    (self.spans[i]["op"] for i in reversed(self._stack) if self.spans[i]["op"]),
                    None,
                )
                if outer is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    sc.setJobGroup(outer, "")

    def seconds(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

# the write node's details name its output directory
_WRITE_DIR = re.compile(r"Arguments: file:\S*/(docs|tf|docfreq|postings)(?:_v\d+)?, ")


@dataclass
class StageAgg:
    tasks: int = 0
    failed: int = 0
    run_ms: float = 0.0
    cpu_s: float = 0.0
    shuffle_write: int = 0
    spill: int = 0


@dataclass
class EventLog:
    """Per-job facts from one application's event log."""

    job_group: dict[int, str | None] = field(default_factory=dict)
    job_exec: dict[int, int | None] = field(default_factory=dict)
    job_stages: dict[int, list[int]] = field(default_factory=dict)
    job_submit: dict[int, float] = field(default_factory=dict)
    stage: dict[int, StageAgg] = field(default_factory=lambda: defaultdict(StageAgg))
    exec_write: dict[int, str] = field(default_factory=dict)

    def attribute(self, spans: list[dict]) -> None:
        """Give a job that carries no job group (Spark runs some, such as
        parquet schema inference, without the caller's local properties)
        the op of the innermost span open when it was submitted."""
        ops = [s for s in spans if s["op"] and s["wall_end"] is not None]
        for j, g in self.job_group.items():
            if g is None:
                t = self.job_submit.get(j, 0.0)
                inside = [s for s in ops if s["wall_start"] <= t <= s["wall_end"]]
                if inside:
                    self.job_group[j] = max(inside, key=lambda s: s["wall_start"])["op"]

    def jobs(self, group: str) -> list[int]:
        return sorted(j for j, g in self.job_group.items() if g == group)

    def agg(self, jobs: list[int]) -> StageAgg:
        out = StageAgg()
        for j in jobs:
            for s in self.job_stages.get(j, []):
                a = self.stage.get(s)
                if a is None:
                    continue
                out.tasks += a.tasks
                out.failed += a.failed
                out.run_ms += a.run_ms
                out.cpu_s += a.cpu_s
                out.shuffle_write += a.shuffle_write
                out.spill += a.spill
        return out

    def build_stage_jobs(self, group: str) -> dict[str, list[int]]:
        """Split one build_index call's jobs into its four stages. Each
        stage ends with a parquet write whose plan names the output
        directory (docs/, tf/, docfreq/, postings/); a job belongs to the
        first stage whose write it does not come after."""
        jobs = self.jobs(group)
        bounds = []  # (last job id of a write execution, stage)
        by_exec: dict[int, list[int]] = defaultdict(list)
        for j in jobs:
            e = self.job_exec.get(j)
            if e is not None and e in self.exec_write:
                by_exec[e].append(j)
        for e, js in by_exec.items():
            bounds.append((max(js), self.exec_write[e]))
        bounds.sort()
        out: dict[str, list[int]] = {s: [] for s in ("docs", "tf", "docfreq", "postings")}
        for j in jobs:
            label = next((s for b, s in bounds if j <= b), bounds[-1][1] if bounds else "postings")
            out[label].append(j)
        return out


def parse_event_log(log_dir: Path) -> EventLog:
    ev = EventLog()
    files = sorted(p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith((".", "appstatus")))
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue  # a truncated last line of an unclosed log
                kind = e.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    j = e["Job ID"]
                    ev.job_group[j] = props.get("spark.jobGroup.id")
                    x = props.get("spark.sql.execution.id")
                    ev.job_exec[j] = int(x) if x not in (None, "") else None
                    ev.job_stages[j] = list(e.get("Stage IDs", []))
                    ev.job_submit[j] = e.get("Submission Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    a = ev.stage[e["Stage ID"]]
                    a.tasks += 1
                    if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                        a.failed += 1
                    m = e.get("Task Metrics") or {}
                    a.run_ms += m.get("Executor Run Time", 0)
                    a.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    a.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    a.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    hit = _WRITE_DIR.search(e.get("physicalPlanDescription") or "")
                    if hit:
                        ev.exec_write[int(e["executionId"])] = hit.group(1)
    return ev


# --------------------------------------------------------------------------
# memory of the JVM and its Python workers
# --------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(d))
    return kids


def _proc_kb(pid: int, file: str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/{file}") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    """RSS of the root (the JVM, which shares no pages with its children)
    plus the proportional set size of every descendant: the Python
    workers are forked from one daemon and share most of their pages,
    which a sum of RSS would count once per worker. The root's RSS comes
    from /proc/<pid>/status because walking a multi-GB JVM's page tables
    for smaps_rollup would stall it at every sample."""
    kids = _children()
    total = _proc_kb(root, "status", "VmRSS:")
    todo = list(kids.get(root, []))
    while todo:
        p = todo.pop()
        total += _proc_kb(p, "smaps_rollup", "Pss:")
        todo.extend(kids.get(p, []))
    return total / 1024.0


class MemSampler:
    """Background thread sampling the memory of a process tree."""

    def __init__(self, root_pid: int, period_s: float = 0.5) -> None:
        self.root = root_pid
        self.period = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            self._stop.wait(self.period)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------------------
# host facts recorded in every artifact
# --------------------------------------------------------------------------


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return 100.0 * delta[7] / total if total > 0 else 0.0


def commit_of(root: Path) -> str | None:
    """HEAD commit when the checkout is a git work tree, else None."""
    head = root / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (root / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return None
