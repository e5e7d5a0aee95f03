"""The benchmark's own tests.

    python3 perfbench/selftest.py [--quick]

Run from the root of a checkout.
- generator determinism: one seed gives identical rows and queries,
  another seed gives different ones;
- BENCHMARK.json names exactly the metrics the runner emits;
- smoke runs at the tiny size of every workload with the correctness
  gate on, one untraced and one traced (skipped with --quick).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd().resolve()
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402


def _tables(inputs: gen.Inputs) -> dict:
    import pyarrow.parquet as pq

    paths = {"base": inputs.base, "documents": f"{inputs.rel_dir}/documents.parquet",
             "embeddings": f"{inputs.rel_dir}/embeddings.parquet"}
    paths.update({f"segment{i}": inputs.segment(i) for i in range(inputs.size.segments)})
    return {k: pq.read_table(p) for k, p in paths.items()}


def test_generator_determinism(tmp: Path) -> None:
    a = gen.generate(7, "tiny", tmp / "a")
    b = gen.generate(7, "tiny", tmp / "b")
    c = gen.generate(8, "tiny", tmp / "c")
    ta, tb, tc = _tables(a), _tables(b), _tables(c)
    for k in ta:
        assert ta[k].equals(tb[k]), f"seed 7 regenerated {k} differently"
        assert not ta[k].equals(tc[k]), f"seeds 7 and 8 gave the same {k}"
    assert a.queries == b.queries and a.scoped == b.scoped
    assert a.queries != c.queries
    kinds = {q["kind"] for q in a.queries}
    assert kinds == set(gen.QUERY_KINDS), kinds
    base = ta["base"].column("conv_id").to_pylist()
    seg = ta["segment0"].column("conv_id").to_pylist()
    assert base == sorted(base) and min(seg) > max(base), "segments must sort after the base"
    # a cache hit returns the same inputs without regenerating
    again = gen.generate(7, "tiny", tmp / "a")
    assert again.root == a.root and again.queries == a.queries


def test_benchmark_json() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def smoke(workload: str, trace: int) -> None:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
        capture_output=True, text=True, timeout=600,
    )
    last = proc.stdout.strip().splitlines()[-1]
    assert proc.returncode == 0, f"{workload}: exit {proc.returncode}\n{proc.stdout[-3000:]}\n{proc.stderr[-3000:]}"
    res = json.loads(last)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    print(f"smoke {workload} trace={trace}: ok ({res['attempted']} ops)")


def main() -> int:
    tmp = ROOT / ".perfbench" / "selftest"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        test_generator_determinism(tmp)
        print("generator determinism: ok")
        test_benchmark_json()
        print("BENCHMARK.json matches the runner: ok")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if "--quick" not in sys.argv:
        smoke("serve", 0)
        smoke("relational", 1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
