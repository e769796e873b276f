"""The benchmark's metric catalogue: every name, its unit, which way is
better, and (per-layer) the end-to-end metric it should move.

``BENCHMARK.json`` lists the same names and units; ``selftest.py``
asserts that the two agree and that a run emits every one of them.

End-to-end metrics come from the untraced run (``--trace 0``), per-layer
metrics from the traced run (``--trace 1``). Both workloads emit every
metric; a layer a workload does not drive reads 0 there.
"""

from __future__ import annotations

from analytics import ITERATIVE, QUERIES

# name, unit, better, bound (share of the parent's median), meaning
END_TO_END = [
    ("setup_s", "s", "lower", 0.25,
     "session start + source registration + input generation + table "
     "seeding + a warm-up of each operation"),
    ("primary_ms", "ms", "lower", 0.25,
     "etl_flows: median incoming pull, scan start to sink commit; "
     "analytics_queries: sum over the 8 relational queries of the "
     "per-query median build+plan+exec"),
    ("secondary_ms", "ms", "lower", 0.25,
     "etl_flows: median outgoing batch, batch in hand to merge committed; "
     "analytics_queries: the same sum over the 2 iterative graph queries"),
]

# name, unit, better, end-to-end metric it should move
_LAYERS = [
    ("session.start_s", "s", "lower", "setup_s"),
    # VmHWM summed over this process, the JVM and its Python workers spread
    # 10-11% across runs, so it is reported here rather than bounded
    ("session.peak_rss_mb", "MB", "lower", "memory (no end-to-end slot)"),
    ("session.warmup_s", "s", "lower", "setup_s"),
    ("session.floor_job_s", "s", "lower", "primary_ms"),
    ("session.floor_python_stage_s", "s", "lower", "primary_ms"),
    ("arcgis_sim.partitions_s", "s", "lower", "primary_ms"),
    ("arcgis_sim.scan_s", "s", "lower", "primary_ms"),
    ("arcgis_sim.scan_rows_per_s", "rows/s", "higher", "primary_ms"),
    ("arcgis_sim.scan_tasks_per_page", "ratio", "lower", "primary_ms"),
    ("arcgis_sim.sink_s", "s", "lower", "primary_ms"),
    ("arcgis_sim.sink_rows", "count", "higher", "primary_ms"),
    ("arcgis_sim.sink_chunks", "count", "lower", "primary_ms"),
    ("geojson.build_s", "s", "lower", "primary_ms secondary_ms"),
    ("geojson.incoming_s", "s", "lower", "primary_ms"),
    ("geojson.outgoing_s", "s", "lower", "secondary_ms"),
    ("acid.merge_s", "s", "lower", "secondary_ms"),
    ("acid.merge_jobs", "count", "lower", "secondary_ms"),
    ("acid.files_rewritten_frac", "ratio", "lower", "secondary_ms"),
    ("acid.bytes_written_per_input_byte", "ratio", "lower", "secondary_ms"),
    ("acid.read_point_s", "s", "lower", "lookup latency (etl_flows detail line)"),
    ("acid.files_per_lookup", "count", "lower", "lookup latency (etl_flows detail line)"),
    ("acid.space_amp", "ratio", "lower", "peak disk use of the table (no end-to-end slot)"),
]
for _q in QUERIES:
    _e2e = "secondary_ms" if _q in ITERATIVE else "primary_ms"
    _LAYERS += [
        (f"registry.{_q}.build_s", "s", "lower", _e2e),
        (f"registry.{_q}.build_jobs", "count", "lower", _e2e),
        (f"registry.{_q}.plan_s", "s", "lower", _e2e),
        (f"registry.{_q}.exec_s", "s", "lower", _e2e),
        (f"registry.{_q}.exec_jobs", "count", "lower", _e2e),
    ]
_LAYERS += [
    ("trace.primary_ms", "ms", "lower", "primary_ms (traced; overhead = ratio - 1)"),
    ("trace.secondary_ms", "ms", "lower", "secondary_ms (traced; overhead = ratio - 1)"),
]
PER_LAYER = _LAYERS
