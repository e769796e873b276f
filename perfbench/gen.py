"""Seeded input generators for the benchmark.

Every input the program under test sees is built here from ``seed``:
the same seed gives byte-identical files. Nothing is read from outside
the work directory.

- ``tables``: the TPC-H-ish star schema plus ``events``, ``documents``
  and ``embeddings``, one parquet file per table, with the schemas and
  value domains of the repo's fixture contract (TESTDATA.md). ``scale``
  is relative to sf0.1 (scale 1.0 = 150k orders).
- ``incoming_layer``: one JSONL feature per ``orders`` row, the layer the
  incoming flow pulls. Returns the ids the flow must land.
- ``outgoing_inputs``: a base layer and a run of micro-batch parquet
  files for the outgoing upsert; ``expected_state`` replays them into
  the last-write-wins table after any number of batches.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MKTSEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["O", "P", "F"]
RETURNFLAGS = ["A", "N", "R"]
LINESTATUSES = ["O", "F"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
US_PER_DAY = 86_400_000_000

# geometry mix of the generated layers: mostly points, some lines,
# polygons and multi-part features, a few features without geometry
GEOM_TYPES = ["Point", "LineString", "Polygon", "MultiPoint", "MultiLineString", None]
GEOM_P = [0.70, 0.10, 0.08, 0.05, 0.05, 0.02]
MULTI = ("MultiPoint", "MultiLineString")
ROUTES = {"Point": "points", "LineString": "lines", "Polygon": "polys"}
LAYER_ID = 9


def _ts_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype("int64"))


def _write(out: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def table_rows(scale: float) -> dict[str, int]:
    return {
        "customer": int(15_000 * scale),
        "supplier": max(int(1_000 * scale), 10),
        "part": int(20_000 * scale),
        "orders": int(150_000 * scale),
        "events": int(100_000 * scale),
        "documents": int(5_000 * scale),
        "embeddings": int(2_000 * scale),
    }


def tables(out: str, scale: float, seed: int) -> dict[str, int]:
    """Write the fixture tables at ``scale`` (x sf0.1); return row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = table_rows(scale)
    rows: dict[str, int] = {}

    rk = np.arange(5, dtype=np.int64)
    _write(out, "region", pa.table({"r_regionkey": rk, "r_name": REGIONS}))
    nk = np.arange(25, dtype=np.int64)
    _write(out, "nation", pa.table({
        "n_nationkey": nk,
        "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": nk % 5,
    }))

    ck = np.arange(n["customer"], dtype=np.int64)
    _write(out, "customer", pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, ck.size).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, ck.size), 2),
        "c_mktsegment": np.array(MKTSEGMENTS)[rng.integers(0, 5, ck.size)],
    }))

    sk = np.arange(n["supplier"], dtype=np.int64)
    _write(out, "supplier", pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, sk.size).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, sk.size), 2),
    }))

    pk = np.arange(n["part"], dtype=np.int64)
    _write(out, "part", pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{ADJS[a]} {NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, pk.size), rng.integers(0, 8, pk.size))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(0, 25, pk.size)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, pk.size)],
        "p_size": pa.array(rng.integers(1, 51, pk.size).astype(np.int32)),
        "p_retailprice": 900.0 + (pk % 1000) * 0.1,
    }))

    ok = np.arange(n["orders"], dtype=np.int64)
    od_lo, od_hi = _ts_us("1995-01-01"), _ts_us("2001-08-01")
    odate = rng.integers(od_lo // US_PER_DAY, od_hi // US_PER_DAY + 1, ok.size) * US_PER_DAY
    _write(out, "orders", pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, ck.size, ok.size).astype(np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, ok.size)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, ok.size), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, ok.size)],
    }))

    nlines = rng.integers(1, 8, ok.size)
    lok = np.repeat(ok, nlines)
    n_li = int(lok.size)
    linenum = np.concatenate([np.arange(1, k + 1) for k in nlines]).astype(np.int32)
    sd_lo, sd_hi = _ts_us("1995-01-02"), _ts_us("2001-11-04")
    sdate = rng.integers(sd_lo // US_PER_DAY, sd_hi // US_PER_DAY + 1, n_li) * US_PER_DAY
    _write(out, "lineitem", pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, pk.size, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, sk.size, n_li).astype(np.int64),
        "l_linenumber": pa.array(linenum),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 4),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 4),
        "l_returnflag": np.array(RETURNFLAGS)[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(LINESTATUSES)[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(sdate, pa.timestamp("us")),
    }))
    rows["lineitem"] = n_li

    ev_lo, ev_hi = _ts_us("2024-01-01"), _ts_us("2024-01-31")
    n_ev = n["events"]
    ts = np.sort(rng.integers(ev_lo, ev_hi, n_ev))
    _write(out, "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(int(1_500 * scale), 10), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }))

    n_doc = n["documents"]
    lengths = rng.integers(10, 101, n_doc)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 100 and r < 0.05:  # near-duplicate of an earlier document
            w = np.array(texts[int(rng.integers(0, i))].split(" "))
            flip = rng.random(w.size) < 0.10
            w[flip] = vocab[rng.integers(0, vocab.size, int(flip.sum()))]
            texts.append(" ".join(w))
        elif i > 100 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, vocab.size, lengths[i])]))
    _write(out, "documents", pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))

    dim, n_vec = 64, n["embeddings"]
    cents = rng.normal(size=(10, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_vec).astype(np.int32)
    v = cents[label] * 2.0 + rng.normal(size=(n_vec, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, dim).cast(pa.list_(pa.float32()))
    _write(out, "embeddings", pa.Table.from_arrays(
        [pa.array(np.arange(n_vec, dtype=np.int64)), emb, pa.array(label)],
        names=["vec_id", "embedding", "label"],
    ))
    rows.update({k: v for k, v in n.items() if k not in rows})
    rows.update({"region": 5, "nation": 25})
    return rows


def geometries(rng: np.random.Generator, n: int) -> tuple[list, list]:
    """(types, GeoJSON ``coordinates``) for ``n`` features of the
    geometry mix, drawn in bulk: vertex counts first, then every vertex
    in one draw."""
    types = [GEOM_TYPES[i] for i in rng.choice(len(GEOM_TYPES), n, p=GEOM_P)]
    parts = rng.integers(2, 4, n)  # MultiPoint uses 2-4 points, below
    verts = rng.integers(2, 6, (n, 3))  # per-line vertex counts
    ring_n = rng.integers(3, 6, n)
    need = {
        "Point": lambda i: 1,
        "LineString": lambda i: int(verts[i, 0]),
        "Polygon": lambda i: int(ring_n[i]),
        "MultiPoint": lambda i: int(parts[i]) + 1,
        "MultiLineString": lambda i: int(verts[i, : parts[i]].sum()),
        None: lambda i: 0,
    }
    counts = [need[t](i) for i, t in enumerate(types)]
    total = sum(counts)
    lon = np.round(rng.uniform(-120.0, -70.0, total), 6).tolist()
    lat = np.round(rng.uniform(25.0, 49.0, total), 6).tolist()
    pts = [[x, y] for x, y in zip(lon, lat)]
    coords: list = []
    at = 0
    for i, t in enumerate(types):
        p = pts[at : at + counts[i]]
        at += counts[i]
        if t == "Point":
            coords.append(p[0])
        elif t == "LineString" or t == "MultiPoint":
            coords.append(p)
        elif t == "Polygon":
            coords.append([p + [p[0]]])
        elif t == "MultiLineString":
            cuts = np.cumsum(verts[i, : parts[i]]).tolist()
            coords.append([p[a:b] for a, b in zip([0] + cuts[:-1], cuts)])
        else:
            coords.append(None)
    return types, coords


def incoming_layer(path: str, n_features: int, seed: int) -> list[str]:
    """Write the incoming layer (one feature per generated orders row)
    and return the ids the incoming flow must land, computed in pure
    Python: ``layer-9-{fid}``, and ``layer-9-{fid}-{idx}`` per part of
    a multi-part feature."""
    rng = np.random.default_rng(seed)
    types, geoms = geometries(rng, n_features)
    status = rng.integers(0, 3, n_features)
    prio = rng.integers(0, 5, n_features)
    price = np.round(rng.uniform(1000, 500000, n_features), 2)
    expected: list[str] = []
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for fid in range(n_features):
            gtype, coords = types[fid], geoms[fid]
            fh.write(json.dumps({
                "fid": fid,
                "callsign": f"unit-{fid % 997}",
                "status": STATUSES[status[fid]],
                "priority": PRIORITIES[prio[fid]],
                "price": float(price[fid]),
                "geom_type": gtype,
                "coords_json": None if coords is None else json.dumps(coords),
            }) + "\n")
            base = f"layer-{LAYER_ID}-{fid}"
            if gtype in MULTI:
                expected.extend(f"{base}-{i}" for i in range(len(coords)))
            else:
                expected.append(base)
    return expected


_R = 6378137.0


def mercator(pt: list[float]) -> tuple[float, float]:
    """EPSG:4326 -> EPSG:3857, the formula ``reproject_web_mercator``
    applies."""
    lon, lat = pt
    return _R * math.radians(lon), _R * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2))


def _feature_rows(rng, keys: list[str], batch: int) -> list[dict]:
    types, geoms = geometries(rng, len(keys))
    units = rng.integers(0, 997, len(keys)).tolist()
    out = []
    for k, gtype, coords, unit in zip(keys, types, geoms, units):
        out.append({
            "id": k,
            "callsign": f"unit-{unit}",
            "batch": batch,
            "geom_type": gtype,
            "coords_json": None if coords is None else json.dumps(coords),
            "coords": coords,
        })
    return out


def _feature_table(rows: list[dict]) -> pa.Table:
    return pa.table({
        "id": [r["id"] for r in rows],
        "callsign": [r["callsign"] for r in rows],
        "batch": pa.array([r["batch"] for r in rows], pa.int64()),
        "geom_type": pa.array([r["geom_type"] for r in rows], pa.string()),
        "coords_json": pa.array([r["coords_json"] for r in rows], pa.string()),
    })


def table_row(feat: dict) -> dict | None:
    """The table row the outgoing flow stores for one feature, or None
    when the route skips it (multi-part or missing geometry)."""
    route = ROUTES.get(feat["geom_type"])
    if route is None:
        return None
    return {
        "id": feat["id"],
        "callsign": feat["callsign"],
        "batch": feat["batch"],
        "route": route,
        "geom_type": feat["geom_type"],
        "coords": feat["coords"],
    }


def outgoing_inputs(
    out: str, n_base: int, n_batches: int, batch_size: int, seed: int
) -> tuple[list[dict], list[str], list[list[dict]]]:
    """Write ``base.parquet`` and ``batch-NNNN.parquet`` under ``out``.

    Each batch is about half updates of a skewed hot key set (a few
    units that keep reporting, Zipf-like) and half brand-new keys.
    Returns (base features, batch paths, per-batch table rows): replay
    them with ``expected_state`` for the last-write-wins table after
    any number of batches."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    base_feats = _feature_rows(rng, [f"unit-{i:07d}" for i in range(n_base)], -1)
    # the seeded table holds routable features only (the flow would
    # have skipped the rest before they ever reached the table)
    base = [r for r in base_feats if table_row(r) is not None]
    _write(out, "base", _feature_table(base))
    hot = max(n_base // 50, 16)
    w = 1.0 / np.arange(1, hot + 1)
    next_key = n_base
    paths, batch_rows = [], []
    for b in range(n_batches):
        n_upd = batch_size // 2
        upd = rng.choice(hot, size=min(n_upd, hot), replace=False, p=w / w.sum())
        cold = rng.choice(np.arange(hot, n_base), size=n_upd - upd.size, replace=False)
        keys = [f"unit-{i:07d}" for i in np.concatenate([upd, cold])]
        keys += [f"unit-{next_key + i:07d}" for i in range(batch_size - n_upd)]
        next_key += batch_size - n_upd
        feats = _feature_rows(rng, keys, b)
        name = f"batch-{b:04d}"
        _write(out, name, _feature_table(feats))
        paths.append(os.path.join(out, f"{name}.parquet"))
        batch_rows.append([r for r in map(table_row, feats) if r is not None])
    return base, paths, batch_rows


def expected_state(base: list[dict], batch_rows: list[list[dict]], n: int) -> dict[str, dict]:
    """Last-write-wins table state, keyed by id, after the first ``n``
    batches."""
    state = {r["id"]: table_row(r) for r in base}
    for rows in batch_rows[:n]:
        state.update((r["id"], r) for r in rows)
    return state
