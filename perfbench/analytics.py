"""``analytics_queries``: registry queries over generated fixture tables.

Each query is built fresh per run (``build``: the registered Python
function, including any eager checkpoint jobs it runs while building),
planned (``plan``: ``queryExecution().executedPlan()``) and executed
through the ``noop`` sink (``exec``), the way ``bench.py`` runs its
headline set. Session settings follow ``bench.py``: shuffle partitions
= ``$SPARK_GRAFT_CPUS`` and AQE off.

- The 8 ``bench.py`` headline queries are exec-bound relational plans.
- ``graph_pagerank_fixed`` and ``graph_label_propagation`` are
  iterative: nearly all their time is eager jobs during ``build``.
"""

from __future__ import annotations

import importlib.util
import os
import time

from common import group_counts, job_group, materialize, median, summary

import gen

RELATIONAL = [
    "agg_groupby_stats",
    "join_star_multiway",
    "window_rank_topk_per_group",
    "window_running_sum",
    "stream_tumbling_window_agg",
    "agg_count_distinct_exact",
    "sim_cosine_topk_pairs",
    "text_tokenize_wordcount",
]
ITERATIVE = ["graph_pagerank_fixed", "graph_label_propagation"]
QUERIES = RELATIONAL + ITERATIVE

# fixture scale relative to sf0.1
SIZES = {"full": 0.05, "tiny": 0.01}


class AnalyticsQueries:
    def __init__(self, ctx):
        self.ctx = ctx
        self.data = os.path.join(ctx.work, "tables")
        self.times: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.split: dict[str, dict[str, list[float]]] = {q: {} for q in QUERIES}
        self.jobs: dict[str, dict[str, int]] = {}
        self.results: dict = {}
        self.failed = 0
        self.attempted = 0
        self.rounds = 0

    def setup(self) -> None:
        from etl_arcgis_spark import registry

        spark = self.ctx.spark
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        self.rows = gen.tables(self.data, SIZES[self.ctx.size], self.ctx.seed)
        self.fns = registry.all_queries()
        t0 = time.perf_counter()
        for q in QUERIES:  # warm-up pass; its results are the checked outputs
            self.attempted += 1
            try:
                self.results[q] = self.fns[q](spark, self.data).toPandas()
            except Exception as e:  # noqa: BLE001
                self.ctx.note(f"{q} failed: {e!r}"[:500])
                self.failed += 1
        self.warmup_s = time.perf_counter() - t0

    def run_query(self, q: str) -> None:
        spark, tr, r = self.ctx.spark, self.ctx.tracer, self.rounds
        self.attempted += 1
        try:
            with tr.span("query"):
                with job_group(spark, f"{q}-build-{r}"), tr.span(f"registry.{q}.build"):
                    t0 = time.perf_counter()
                    df = self.fns[q](spark, self.data)
                    t1 = time.perf_counter()
                with tr.span(f"registry.{q}.plan"):
                    df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                with job_group(spark, f"{q}-exec-{r}"), tr.span(f"registry.{q}.exec"):
                    materialize(df)
                    t3 = time.perf_counter()
        except Exception as e:  # noqa: BLE001
            self.ctx.note(f"{q} failed: {e!r}"[:500])
            self.failed += 1
            return
        self.times[q].append(t3 - t0)
        for part, d in (("build", t1 - t0), ("plan", t2 - t1), ("exec", t3 - t2)):
            self.split[q].setdefault(part, []).append(d)
        if q not in self.jobs:
            self.jobs[q] = {
                "build": group_counts(spark, f"{q}-build-{r}")[0],
                "exec": group_counts(spark, f"{q}-exec-{r}")[0],
            }

    def measure(self, seconds: float) -> None:
        """Whole rounds of all queries, at least two and then as many as
        best fill ``seconds``: a round starts while at least half of one
        (the last) still fits. Every query gets the same number of
        samples, and a round time near a fraction of the window does not
        flip the count."""
        t_end = time.perf_counter() + seconds
        last = 0.0
        while self.rounds < 2 or time.perf_counter() + last / 2 < t_end:
            t0 = time.perf_counter()
            for q in QUERIES:
                self.run_query(q)
            self.rounds += 1
            last = time.perf_counter() - t0

    def corrupt(self, what: str) -> None:
        """Self-test hook: damage one checked result."""
        df = self.results[RELATIONAL[0]]
        col = df.columns[-1]
        df.loc[0, col] = df.loc[0, col] + 1

    def check(self) -> None:
        """Each warm-up result against its registry DuckDB oracle, with
        ``tools/check.py``'s own ``duck_con`` and ``compare``."""
        from etl_arcgis_spark import registry

        check = _load_check_tool(self.ctx.root)
        con = check.duck_con(self.data)
        oracles = registry.all_oracles()
        for q, sdf in self.results.items():
            problems = [
                p for p in check.compare(sdf, con.execute(oracles[q]).df())
                if not p.startswith("dtype note")
            ]
            if problems:
                self.ctx.note(f"{q}: {problems[0]}"[:500])
                self.failed += 1
        con.close()

    def metrics(self) -> tuple[dict, dict]:
        med = {q: median(v) for q, v in self.times.items()}
        e2e = {
            "primary_ms": sum(med[q] for q in RELATIONAL) * 1000,
            "secondary_ms": sum(med[q] for q in ITERATIVE) * 1000,
        }
        layer = {"session.warmup_s": self.warmup_s}
        for q in QUERIES:
            for part in ("build", "plan", "exec"):
                layer[f"registry.{q}.{part}_s"] = median(self.split[q].get(part, []))
            layer[f"registry.{q}.build_jobs"] = self.jobs.get(q, {}).get("build", 0)
            layer[f"registry.{q}.exec_jobs"] = self.jobs.get(q, {}).get("exec", 0)
        self.ctx.detail(
            rounds=self.rounds, queries={q: summary(v) for q, v in self.times.items()},
            table_rows=self.rows,
        )
        return e2e, layer


def _load_check_tool(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_tool", os.path.join(root, "tools", "check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
