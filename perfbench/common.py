"""Shared benchmark machinery: session lifecycle, the span tracer, job
and task counting, local-mode floors, memory and host stamps.

Everything here times the program from outside, around calls into its
public functions; nothing patches or imports private state of the
package under test.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def summary(xs: list[float]) -> dict:
    """Sample count, median and the highest percentile with at least ten
    samples beyond it (None below 11 samples), in ms."""
    out = {"n": len(xs), "p50_ms": median(xs) * 1000, "tail": None,
           "samples_ms": [round(x * 1000, 1) for x in xs]}
    if len(xs) >= 11:
        k = len(xs) - 11
        out["tail"] = {"pct": round(100.0 * (k + 1) / len(xs), 1), "ms": sorted(xs)[k] * 1000}
    return out


def materialize(df) -> None:
    """Run the whole plan through the ``noop`` sink (no rows are
    collected into Python), as ``bench.py`` does."""
    df.write.format("noop").mode("overwrite").save()


# --- tracer -----------------------------------------------------------


class Tracer:
    """Spans at layer boundaries: name, start, end, parent, run id.

    Spans stay in memory and are written out once, at the end of the
    run. A disabled tracer still runs the body; it records nothing, so
    the untraced run pays no tracing cost.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        time its direct children cover (children never overlap: the
        benchmark calls layers one at a time)."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_cover[s["parent"]] = child_cover.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            d = s["end"] - s["start"] - child_cover.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def write(self, path: str, extra: dict) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in self.spans
        ]
        self_s = {k: round(v, 6) for k, v in sorted(self.self_times().items())}
        with open(path, "w") as fh:
            json.dump({**extra, "run": self.run_id, "self_s": self_s, "spans": spans}, fh)


# --- session ------------------------------------------------------------


def start_session(work: str):
    """The engine's own session factory on ``local[$SPARK_GRAFT_CPUS]``,
    with every temporary path of Spark pointed inside ``work``."""
    from etl_arcgis_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_session(
        "perfbench",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and with it every Python
    worker it forked) has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)


@contextmanager
def job_group(spark, name: str):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setJobGroup(None, None)  # type: ignore[arg-type]


def group_counts(spark, name: str) -> tuple[int, int]:
    """(jobs, tasks run) of a job group, from ``statusTracker``."""
    tr = spark.sparkContext.statusTracker()
    jobs = tr.getJobIdsForGroup(name)
    tasks = 0
    seen: set[int] = set()
    for j in jobs:
        info = tr.getJobInfo(j)
        for sid in info.stageIds if info else []:
            if sid in seen:
                continue
            seen.add(sid)
            st = tr.getStageInfo(sid)
            if st is not None:
                tasks += st.numCompletedTasks
    return len(jobs), tasks


def floors(spark) -> dict[str, float]:
    """Local-mode floors measured the way ``bench.py`` measures them:
    the median of 7 re-runs of a pre-built tiny plan (job launch) and of
    a trivial 1-row ``mapInPandas`` (one Python stage)."""

    def _ident(batches):
        yield from batches

    def _med(df) -> float:
        materialize(df)
        runs = []
        for _ in range(7):
            t0 = time.perf_counter()
            materialize(df)
            runs.append(time.perf_counter() - t0)
        return median(runs)

    return {
        "session.floor_job_s": _med(spark.range(10)),
        "session.floor_python_stage_s": _med(
            spark.range(1).mapInPandas(_ident, schema="id bigint")
        ),
    }


# --- memory and host ----------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def peak_rss_mb() -> float:
    """Sum of kernel ``VmHWM`` over this process and every descendant
    (the JVM and its Python workers), in MiB."""
    kids = _children()
    todo, total_kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return sum(ticks), ticks[7] if len(ticks) > 7 else 0


def host_stamp(loadavg_pre: list[float], ticks_pre: tuple[int, int]) -> dict:
    """Host class of a reading, with the ``bench.py`` load rule: a run
    is ``load_suspect`` when the 1-minute loadavg before it exceeded
    max(2, n_cpus / 8). ``steal_frac`` is the share of CPU time the
    hypervisor gave to other guests during the run."""
    n_cpus = os.cpu_count() or 1
    total, steal = cpu_ticks()
    return {
        "n_cpus": n_cpus,
        "SPARK_GRAFT_CPUS": int(os.environ["SPARK_GRAFT_CPUS"]),
        "loadavg_pre": [round(x, 2) for x in loadavg_pre],
        "loadavg_post": [round(x, 2) for x in os.getloadavg()],
        "load_suspect": loadavg_pre[0] > max(2.0, n_cpus / 8.0),
        "steal_frac": round((steal - ticks_pre[1]) / max(total - ticks_pre[0], 1), 4),
    }


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total
