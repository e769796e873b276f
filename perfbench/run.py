"""Benchmark launcher: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload etl_flows --seed 1 --seconds 16 --trace 0

Run from anywhere inside a checkout of the repo; the program under test
is the ``etl_arcgis_spark`` package next to this directory. Inputs are
generated from ``--seed`` into ``.perfbench/`` at the checkout root,
which is removed again at the end (the traced run leaves its span file
under ``.perfbench/traces/``).

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The line before it carries the host-class stamp and the
workload's details. Exit code 1 when an output check failed, 2 when the
checkout has no program to run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_flows", "analytics_queries")
RUN_LIMIT_S = 170  # hard stop well inside the 180 s a run may take


class Ctx:
    """What a workload gets: session, tracer, paths, seed, size."""

    def __init__(self, args, work: str):
        from common import Tracer

        self.root = ROOT
        self.work = work
        self.seed = args.seed
        self.size = args.size
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.notes: list[str] = []
        self.details: dict = {}

    def note(self, msg: str) -> None:
        self.notes.append(msg)
        print(f"perfbench: {msg}", file=sys.stderr)

    def detail(self, **kw) -> None:
        self.details.update(kw)


def _cpus() -> int:
    """``SPARK_GRAFT_CPUS``: at most the CPUs this process may use; 2 by
    default, so readings compare across host sizes and, on a 4-core
    host, the JVM's compiler and GC threads and the Python planner
    processes do not queue behind the task threads (run-to-run spread
    of the pull median: 19% at 4 slots, 7% at 2, five seeds each)."""
    avail = len(os.sched_getaffinity(0))
    want = int(os.environ.get("SPARK_GRAFT_CPUS") or min(2, avail))
    return max(1, min(want, avail))


def _bootstrap(work: str) -> None:
    """Environment for this process, the JVM and Spark's Python workers,
    set before the JVM starts (the workers inherit it). ``PYTHONPATH``
    makes ``etl_arcgis_spark`` and this directory importable by the
    workers whatever their working directory."""
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(paths),
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
    })
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def _timeout(_sig, _frm):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the self-test")
    ap.add_argument("--corrupt", default=None,
                    help="self-test only: damage one output before the checks")
    args = ap.parse_args(argv)

    missing = [p for p in ("etl_arcgis_spark/__init__.py", "tools/check.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: nothing to benchmark, {missing} not found under {ROOT}",
              file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_LIMIT_S)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _bootstrap(work)
    from common import cpu_ticks, floors, host_stamp, peak_rss_mb, start_session, stop_session
    from metrics import END_TO_END, PER_LAYER

    if args.workload == "etl_flows":
        from etl import EtlFlows as Workload
    else:
        from analytics import AnalyticsQueries as Workload

    loadavg_pre, ticks_pre = list(os.getloadavg()), cpu_ticks()
    ctx = Ctx(args, work)
    try:
        t0 = time.perf_counter()
        ctx.spark = start_session(work)
        start_s = time.perf_counter() - t0
        wl = Workload(ctx)
        wl.setup()
        setup_s = time.perf_counter() - t0
        wl.measure(args.seconds)
        layer = floors(ctx.spark) if args.trace else {}
        if args.corrupt:
            wl.corrupt(args.corrupt)
        wl.check()
        e2e, wl_layer = wl.metrics()
        rss = peak_rss_mb()
        stamp = host_stamp(loadavg_pre, ticks_pre)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if ctx.spark is not None:
            stop_session(ctx.spark)
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)

    e2e["setup_s"] = setup_s
    layer.update(wl_layer)
    layer.update({"session.start_s": start_s, "session.peak_rss_mb": rss})
    layer.update({f"trace.{k}": v for k, v in e2e.items() if k in ("primary_ms", "secondary_ms")})
    if args.trace:
        metrics = {n: {"value": layer.get(n, 0), "unit": u} for n, u, _b, _m in PER_LAYER}
        ctx.tracer.write(
            os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "stamp": stamp,
             "end_to_end": e2e},
        )
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u, _b, _bd, _w in END_TO_END}
    correct = wl.failed == 0
    print(json.dumps({"detail": {"workload": args.workload, "seed": args.seed,
                                 "stamp": stamp, **ctx.details, "notes": ctx.notes}}))
    print(json.dumps({"correct": correct, "attempted": wl.attempted, "failed": wl.failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
