from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_arcgis_spark.session import get_session  # noqa: E402



@pytest.fixture(scope="session")
def spark():
    s = get_session("tests", shuffle_partitions=4)
    yield s


_GEO_TYPES = (
    "Point", "MultiPoint", "LineString", "MultiLineString", "Polygon", "MultiPolygon", None,
)


def _geo_coords(kind: str, i: int):
    x, y = float(i % 170), float(i % 80)
    line = [[x, y], [x + 1.0, y + 1.0]]
    poly = [[[x, y], [x + 1.0, y], [x + 1.0, y + 1.0], [x, y]]]
    single = {"Point": [x, y], "LineString": line, "Polygon": poly}
    if kind in single:
        return single[kind]
    return [single[kind[len("Multi"):]]] * (1 + i % 3)


@pytest.fixture(scope="module")
def geo_layer(tmp_path_factory):
    """A JSONL layer of 300 features cycling through every GeoJSON type
    (Multi* with 1-3 parts) and a missing geometry, in the shape of the
    reference's incoming layer: ``(path, [(fid, geom_type, n_parts)])``."""
    import json

    path = tmp_path_factory.mktemp("geo") / "layer.jsonl"
    feats = []
    with open(path, "w") as fh:
        for i in range(300):
            kind = _GEO_TYPES[i % len(_GEO_TYPES)]
            coords = _geo_coords(kind, i) if kind else None
            rec = {
                "fid": i, "callsign": f"unit-{i % 5}", "geom_type": kind,
                "coords_json": json.dumps(coords) if coords else None,
            }
            fh.write(json.dumps(rec) + "\n")
            feats.append((i, kind, len(coords) if kind and kind.startswith("Multi") else 1))
    return str(path), feats


def incoming_chain(raw):
    """The reference's incoming transforms (task.ts:425-444) over a
    scanned layer: id rewrite, metadata nesting, UnMulti explode."""
    from pyspark.sql import functions as F

    from etl_arcgis_spark import geojson as G

    feats = raw.withColumnRenamed("fid", "id").withColumn(
        "properties", F.create_map(F.lit("callsign"), F.col("callsign"))
    )
    return G.explode_multi(G.nest_metadata(G.rewrite_id(G.parse_geometry(feats), 9)))


def expected_incoming_ids(feats, kinds) -> list[str]:
    """The ids ``incoming_chain`` lands for the features of ``kinds``."""
    ids = []
    for fid, kind, parts in feats:
        if kind in kinds:
            multi = kind is not None and kind.startswith("Multi")
            ids += [f"layer-9-{fid}-{j}" for j in range(parts)] if multi else [f"layer-9-{fid}"]
    return sorted(ids)
