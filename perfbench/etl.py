"""``etl_flows``: the reference's two dataflows in one closed loop.

One cycle is one incoming pull, then one outgoing micro-batch upsert
followed by point lookups of the keys it just wrote.

- Incoming pull (task.ts:393-458): ``arcgis_sim`` paged read ->
  ``parse_geometry`` -> ``rewrite_id`` -> ``nest_metadata`` ->
  ``explode_multi`` -> ``arcgis_sim`` chunked append sink.
- Outgoing batch (task.ts:155-361): batch parquet -> ``parse_geometry``
  -> ``route_by_geom_type`` (skips Multi and missing geometry) ->
  ``reproject_web_mercator`` -> ``to_esri_json`` -> ``acid.merge`` into a
  table keyed by ``id``; then ``acid.read_point`` of written keys
  (the reference's query-by-key, task.ts:235-266).
"""

from __future__ import annotations

import glob
import json
import os
import time

from common import dir_bytes, group_counts, job_group, materialize, median, summary

import gen

SIZES = {
    # features in the incoming layer, features per page, seeded table
    # features, features per batch, batches generated, lookups per batch
    "full": dict(features=20_000, page=10_000, base=20_000, batch=1_000, batches=16, lookups=2),
    "tiny": dict(features=400, page=100, base=400, batch=40, batches=6, lookups=2),
}

TABLE_COLS = ["id", "callsign", "batch", "route", "geom_type", "esri_json"]


class EtlFlows:
    def __init__(self, ctx):
        self.ctx = ctx
        self.size = SIZES[ctx.size]
        self.layer = os.path.join(ctx.work, "layer.jsonl")
        self.sink = os.path.join(ctx.work, "sink")
        self.table = os.path.join(ctx.work, "table")
        self.pulls: list[float] = []
        self.batches: list[float] = []
        self.lookups: list[float] = []
        self.n_pulls = 0
        self.n_batches = 0
        self.failed = 0
        self.attempted = 0
        self.layer_obs: dict[str, list[float]] = {}

    def _obs(self, name: str, value: float) -> None:
        self.layer_obs.setdefault(name, []).append(value)

    # --- the two flows, built only from the package's public API -------

    def _incoming(self):
        from pyspark.sql import functions as F

        from etl_arcgis_spark import geojson as G

        tr = self.ctx.tracer
        with tr.span("arcgis_sim.load"):
            raw = (
                self.ctx.spark.read.format("arcgis_sim")
                .option("path", self.layer)
                .option("pageSize", self.size["page"])
                .load()
            )
        with tr.span("geojson.build"):
            feats = raw.withColumnRenamed("fid", "id").withColumn(
                "properties",
                F.create_map(
                    F.lit("callsign"), F.col("callsign"),
                    F.lit("status"), F.col("status"),
                    F.lit("priority"), F.col("priority"),
                ),
            )
            out = G.explode_multi(
                G.nest_metadata(G.rewrite_id(G.parse_geometry(feats), gen.LAYER_ID))
            ).select("id", "geom_type", "properties", "coords")
        return raw, out

    def _outgoing(self, path: str):
        from pyspark.sql import functions as F

        from etl_arcgis_spark import geojson as G

        with self.ctx.tracer.span("geojson.build"):
            src = G.parse_geometry(self.ctx.spark.read.parquet(path))
            routed = G.route_by_geom_type(src).filter(F.col("route").isNotNull())
            return G.to_esri_json(G.reproject_web_mercator(routed)).select(*TABLE_COLS)

    # --- setup --------------------------------------------------------

    def setup(self) -> None:
        from etl_arcgis_spark import acid
        from etl_arcgis_spark.sources.arcgis_sim import register

        spark, s = self.ctx.spark, self.size
        register(spark)
        self.expected_ids = sorted(gen.incoming_layer(self.layer, s["features"], self.ctx.seed))
        self.base, self.batch_paths, self.batch_rows = gen.outgoing_inputs(
            os.path.join(self.ctx.work, "outgoing"), s["base"], s["batches"], s["batch"],
            self.ctx.seed,
        )
        base_path = os.path.join(self.ctx.work, "outgoing", "base.parquet")
        acid.create(spark, self.table, self._outgoing(base_path).repartition(4), key="id")
        # warm-up: pull, batch, pull (a pull keeps getting faster for
        # longer), checked but neither timed nor traced
        traced, self.ctx.tracer.enabled = self.ctx.tracer.enabled, False
        t0 = time.perf_counter()
        self.pull()
        self.batch()
        self.pull()
        self.warmup_s = time.perf_counter() - t0
        self.ctx.tracer.enabled = traced
        self.pulls.clear()
        self.batches.clear()
        self.lookups.clear()

    # --- operations -----------------------------------------------------

    def pull(self) -> None:
        spark, tr, i = self.ctx.spark, self.ctx.tracer, self.n_pulls
        self.n_pulls += 1
        self.attempted += 1
        group = f"pull-{i}"
        try:
            with job_group(spark, group), tr.span("pull"):
                t0 = time.perf_counter()
                _raw, out = self._incoming()
                with tr.span("pull.exec"):
                    out.write.format("arcgis_sim").option(
                        "path", os.path.join(self.sink, f"pull-{i:04d}")
                    ).mode("append").save()
                self.pulls.append(time.perf_counter() - t0)
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            self.ctx.note(f"pull {i} failed: {e!r}"[:500])
            self.failed += 1
            return
        if tr.enabled:
            self._trace_pull(group)

    def _trace_pull(self, group: str) -> None:
        """Layer split of one pull: the scan alone, then scan+transforms,
        each run into ``noop``; the sink is what the full pull adds."""
        from etl_arcgis_spark.sources.arcgis_sim import ArcGISSimDataSource, ArcGISSimReader

        spark, tr = self.ctx.spark, self.ctx.tracer
        _jobs, tasks = group_counts(spark, group)
        opts = {"path": self.layer, "pagesize": str(self.size["page"])}
        schema = ArcGISSimDataSource(opts).schema()
        t0 = time.perf_counter()
        with tr.span("arcgis_sim.partitions"):
            pages = len(ArcGISSimReader(schema, opts).partitions())
        self._obs("arcgis_sim.partitions_s", time.perf_counter() - t0)
        self._obs("arcgis_sim.scan_tasks_per_page", tasks / pages)
        raw, out = self._incoming()
        t0 = time.perf_counter()
        with tr.span("arcgis_sim.scan"):
            materialize(raw)
        scan = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tr.span("geojson.incoming"):
            materialize(out)
        incoming = time.perf_counter() - t0
        self._obs("arcgis_sim.scan_s", scan)
        self._obs("arcgis_sim.scan_rows_per_s", self.size["features"] / scan)
        self._obs("geojson.incoming_s", incoming - scan)
        self._obs("arcgis_sim.sink_s", self.pulls[-1] - incoming)
        landed = os.path.join(self.sink, f"pull-{self.n_pulls - 1:04d}")
        chunks = glob.glob(os.path.join(landed, "chunk-*.jsonl"))
        self._obs("arcgis_sim.sink_chunks", len(chunks))
        self._obs("arcgis_sim.sink_rows", sum(_count_lines(c) for c in chunks))

    def batch(self) -> None:
        from etl_arcgis_spark import acid

        if self.n_batches >= len(self.batch_paths):
            return
        spark, tr, b = self.ctx.spark, self.ctx.tracer, self.n_batches
        path = self.batch_paths[b]
        self.n_batches += 1
        self.attempted += 1
        group = f"batch-{b}"
        base_v = acid.current_version(self.table)
        if tr.enabled:
            t0 = time.perf_counter()
            with tr.span("geojson.outgoing"):
                materialize(self._outgoing(path))
            self._obs("geojson.outgoing_s", time.perf_counter() - t0)
        try:
            with job_group(spark, group), tr.span("batch"):
                t0 = time.perf_counter()
                src = self._outgoing(path)
                t1 = time.perf_counter()
                with tr.span("acid.merge"):
                    acid.merge(spark, self.table, src)
                t2 = time.perf_counter()
                self.batches.append(t2 - t0)
        except Exception as e:  # noqa: BLE001
            self.ctx.note(f"batch {b} failed: {e!r}"[:500])
            self.failed += 1
            return
        if tr.enabled:
            self._trace_merge(group, base_v, path, t2 - t1)
        rows = self.batch_rows[b]
        picks = [rows[0], rows[len(rows) // 2], rows[-1]][: self.size["lookups"]]
        for want in picks:
            self.lookup(want)

    def _trace_merge(self, group: str, base_v: int, path: str, merge_s: float) -> None:
        from etl_arcgis_spark import acid

        jobs, _tasks = group_counts(self.ctx.spark, group)
        old = {f["path"] for f in _manifest(self.table, base_v)["files"]}
        new_files = _manifest(self.table, acid.current_version(self.table))["files"]
        new = {f["path"] for f in new_files}
        written = sum(f.get("bytes", 0) for f in new_files if f["path"] not in old)
        self._obs("acid.merge_s", merge_s)
        self._obs("acid.merge_jobs", jobs)
        self._obs("acid.files_rewritten_frac", len(old - new) / max(len(old), 1))
        self._obs("acid.bytes_written_per_input_byte", written / os.path.getsize(path))

    def lookup(self, want: dict) -> None:
        from etl_arcgis_spark import acid

        spark, tr = self.ctx.spark, self.ctx.tracer
        self.attempted += 1
        try:
            with tr.span("acid.read_point"):
                t0 = time.perf_counter()
                df = acid.read_point(spark, self.table, want["id"])
                rows = df.collect()
                self.lookups.append(time.perf_counter() - t0)
        except Exception as e:  # noqa: BLE001
            self.ctx.note(f"lookup {want['id']} failed: {e!r}"[:500])
            self.failed += 1
            return
        if len(rows) != 1 or rows[0]["batch"] != want["batch"] or rows[0]["route"] != want["route"]:
            self.ctx.note(f"lookup {want['id']}: got {[r.asDict() for r in rows]}"[:500])
            self.failed += 1
        if tr.enabled:
            self._obs("acid.read_point_s", self.lookups[-1])
            self._obs("acid.files_per_lookup", len(df.inputFiles()))

    # --- run ------------------------------------------------------------

    def measure(self, seconds: float) -> None:
        """Cycles of one pull and two batches until ``seconds`` are up: a
        batch costs about half a pull, so both get a similar number of
        samples."""
        deadline = time.perf_counter() + seconds
        ops = (self.pull, self.batch, self.batch)
        i = 0
        while time.perf_counter() < deadline:
            ops[i % len(ops)]()
            i += 1

    def corrupt(self, what: str) -> None:
        """Self-test hook: damage one output so the checks must fail."""
        from etl_arcgis_spark import acid

        if "chunk" in what.split(","):
            chunks = sorted(glob.glob(os.path.join(self.sink, "pull-*", "chunk-*.jsonl")))
            os.remove(chunks[-1])
        if "row" in what.split(","):
            spark = self.ctx.spark
            row = acid.read(spark, self.table).limit(1)
            from pyspark.sql import functions as F

            acid.merge(spark, self.table, row.withColumn("callsign", F.lit("corrupted")))

    def check(self) -> None:
        """Untimed output checks; every mismatch counts as a failed op."""
        from etl_arcgis_spark import acid

        for d in sorted(glob.glob(os.path.join(self.sink, "pull-*"))):
            ids = []
            for c in glob.glob(os.path.join(d, "chunk-*.jsonl")):
                with open(c) as fh:
                    ids.extend(json.loads(line)["id"] for line in fh)
            if sorted(ids) != self.expected_ids:
                self.ctx.note(
                    f"{os.path.basename(d)}: landed {len(ids)} ids, expected "
                    f"{len(self.expected_ids)}"
                )
                self.failed += 1
        want = gen.expected_state(self.base, self.batch_rows, self.n_batches)
        got = {
            r["id"]: r.asDict()
            for r in acid.read(self.ctx.spark, self.table).select(*TABLE_COLS).collect()
        }
        bad = [k for k in set(want) | set(got) if not _row_matches(want.get(k), got.get(k))]
        if bad:
            self.ctx.note(f"table: {len(bad)} rows differ from last-write-wins, e.g. {bad[0]}")
            self.failed += 1

    def metrics(self) -> tuple[dict, dict]:
        """(end-to-end, per-layer) metrics of this run."""
        man = _manifest(self.table, None)
        live = sum(f.get("bytes", 0) for f in man["files"])
        e2e = {
            "primary_ms": median(self.pulls) * 1000,
            "secondary_ms": median(self.batches) * 1000,
        }
        layer = {k: median(v) for k, v in self.layer_obs.items()}
        layer["acid.space_amp"] = dir_bytes(self.table) / max(live, 1)
        layer["geojson.build_s"] = median(self.ctx.tracer.durations("geojson.build"))
        layer["session.warmup_s"] = self.warmup_s
        self.ctx.detail(
            pull=summary(self.pulls), batch=summary(self.batches), lookup=summary(self.lookups),
            table_rows=man.get("rows"), data_files=len(man["files"]),
        )
        return e2e, layer


def _count_lines(path: str) -> int:
    with open(path, "rb") as fh:
        return sum(1 for _ in fh)


def _manifest(root: str, version: int | None) -> dict:
    from etl_arcgis_spark import acid

    v = acid.current_version(root) if version is None else version
    with open(os.path.join(root, f"_v{v}.manifest.json")) as fh:
        return json.load(fh)


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-6 * max(1.0, abs(a))


def _row_matches(want: dict | None, got: dict | None) -> bool:
    if want is None or got is None:
        return False
    for k in ("id", "callsign", "batch", "route", "geom_type"):
        if want[k] != got[k]:
            return False
    esri = json.loads(got["esri_json"])
    if esri.get("spatialReference") != {"wkid": 102100, "latestWkid": 3857}:
        return False
    c = want["coords"]
    if want["geom_type"] == "Point":
        x, y = gen.mercator(c)
        return _close(esri["x"], x) and _close(esri["y"], y)
    parts = [c] if want["geom_type"] == "LineString" else c
    key = "paths" if want["geom_type"] == "LineString" else "rings"
    got_parts = esri.get(key) or []
    if len(got_parts) != len(parts):
        return False
    for wp, gp in zip(parts, got_parts):
        if len(wp) != len(gp):
            return False
        for pt, g in zip(wp, gp):
            x, y = gen.mercator(pt)
            if not (_close(g[0], x) and _close(g[1], y)):
                return False
    return True
