"""Benchmark self-test, at a tiny input size:

- ``BENCHMARK.json`` and ``metrics.py`` list the same metrics;
- each workload runs clean once untraced and once traced, and emits
  every metric of its mode with its unit;
- damaging one output (a landed chunk, a table row, a query result)
  makes the checks fail: ``failed`` > 0 and a non-zero exit;
- a directory holding only the benchmark (no program) exits non-zero
  without printing a result.

    python3 perfbench/selftest.py        # about 5 minutes on 4 cores
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

from metrics import END_TO_END, PER_LAYER  # noqa: E402


def run(workload: str, *extra: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if result is not None and set(result) != {"correct", "attempted", "failed", "metrics"}:
        result = None
    if p.returncode not in (0, 1):
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode, result


def check_catalogue() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == [
        (n, u, b, bd) for n, u, b, bd, _w in END_TO_END
    ], "BENCHMARK.json end_to_end differs from metrics.py"
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        (n, u, b) for n, u, b, _m in PER_LAYER
    ], "BENCHMARK.json per_layer differs from metrics.py"
    assert [w["name"] for w in spec["workloads"]] == ["etl_flows", "analytics_queries"]


def check_emits(workload: str, trace: int, catalogue: list) -> None:
    code, res = run(workload, "--trace", str(trace))
    assert code == 0 and res and res["correct"] and res["failed"] == 0, (workload, trace, code, res)
    assert res["attempted"] >= 1
    want = {n: u for n, u, *_ in catalogue}
    got = {n: m["unit"] for n, m in res["metrics"].items()}
    assert got == want, f"{workload} trace={trace}: metrics differ: {set(got) ^ set(want)}"
    assert all(isinstance(m["value"], (int, float)) for m in res["metrics"].values())
    print(f"ok  {workload} --trace {trace}: {len(got)} metrics, attempted {res['attempted']}")


def check_corrupt(workload: str, what: str, n_damaged: int) -> None:
    code, res = run(workload, "--corrupt", what)
    assert code != 0 and res and not res["correct"] and res["failed"] >= n_damaged, (
        workload, what, code, res)
    print(f"ok  {workload} --corrupt {what}: failed {res['failed']}, exit {code}")


def check_no_program() -> None:
    tmp = os.path.join(ROOT, ".perfbench", "selftest-alone")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
        code, res = run("etl_flows", cwd=tmp)
        assert code != 0 and res is None, (code, res)
    finally:
        shutil.rmtree(tmp)
    print(f"ok  benchmark alone: exit {code}, no result")


def main() -> int:
    check_catalogue()
    print("ok  BENCHMARK.json matches metrics.py")
    check_no_program()
    for wl in ("etl_flows", "analytics_queries"):
        check_emits(wl, 0, END_TO_END)
        check_emits(wl, 1, PER_LAYER)
    check_corrupt("etl_flows", "chunk,row", 2)
    check_corrupt("analytics_queries", "result", 1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
