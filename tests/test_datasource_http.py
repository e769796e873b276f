"""Socket-backed twin of test_datasource (VERDICT r9 #3): the
``arcgis_http`` data source driven against SimFeatureServer over real
loopback HTTP — pagination windows, schema inference, server-side
where, token TTL expiry/refresh, the un-awaited-auth quirk class
(task.ts:380-386), mid-page 5xx retry, and the addFeatures sink."""

from __future__ import annotations

import json
import time
import urllib.error

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan, In, IsNotNull, LessThan

from etl_arcgis_spark.sources import arcgis_sim
from etl_arcgis_spark.sources.arcgis_core import filter_sql
from etl_arcgis_spark.sources.arcgis_http import (

    HttpTokenBroker,
    SimFeatureServer,
    _fetch_with_retry,
    _parse_where,
    register,
)


# Slow tier (optimization r13, VERDICT r12 order #2): heavyweight
# subprocess/streaming/property suite — excluded from the default
# pytest run (pytest.ini), executed with `-m slow`.
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def layer_file(tmp_path_factory):
    path = tmp_path_factory.mktemp("hlayer") / "layer.jsonl"
    with open(path, "w") as fh:
        for oid in range(250):
            fh.write(
                json.dumps(
                    {
                        "oid": oid,
                        "callsign": f"unit-{oid % 7}",
                        "speed": float(oid % 50),
                    }
                )
                + "\n"
            )
    return str(path)


@pytest.fixture()
def server(layer_file):
    srv = SimFeatureServer(layer_file)
    url = srv.start()
    yield srv, url
    srv.stop()


def _reader(spark, url, **opts):
    r = spark.read.format("arcgis_http").option("url", url)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_schema_inference_over_socket(spark, server):
    """A5 twin: field metadata fetched from /layer?f=json."""
    srv, url = server
    register(spark)
    df = _reader(spark, url)
    assert df.schema.simpleString() == (
        "struct<oid:bigint,callsign:string,speed:double>"
    )
    assert any(p == "/layer" for (_, p, _) in srv.request_log)


def test_paged_scan_parity_and_windows(spark, server):
    """A1 twin: 250 rows at pageSize 100 -> 3 resultOffset windows
    requested over the socket, full-row parity with the source file."""
    srv, url = server
    register(spark)
    df = _reader(spark, url, pagesize=100)
    assert df.rdd.getNumPartitions() == 3
    rows = df.collect()
    assert len(rows) == 250
    assert sorted(r.oid for r in rows) == list(range(250))
    offsets = sorted(
        int(q["resultOffset"])
        for (_, p, q) in srv.request_log
        if p == "/layer/query" and "resultOffset" in q
    )
    assert offsets == [0, 100, 200]
    # count-only planning request went out exactly once
    counts = [
        q for (_, p, q) in srv.request_log
        if p == "/layer/query" and q.get("returnCountOnly") == "true"
    ]
    assert len(counts) == 1


def test_where_pushdown_server_side(spark, server):
    """A3 twin: pushed filters travel as a SQL-92 where the SERVER
    evaluates — page planning sees the pruned count."""
    srv, url = server
    register(spark)
    df = (
        spark.read.format("arcgis_http_pushdown")
        .option("url", url)
        .option("pagesize", 100)
        .load()
        .filter((F.col("speed") > 40) & (F.col("callsign") == "unit-3"))
    )
    rows = df.collect()
    assert rows
    assert all(r.speed > 40 and r.callsign == "unit-3" for r in rows)
    wheres = {
        q.get("where")
        for (_, p, q) in srv.request_log
        if p == "/layer/query"
    }
    assert any("speed > 40" in (w or "") for w in wheres)
    assert any("callsign = 'unit-3'" in (w or "") for w in wheres)
    # pruned count -> a single page partition
    assert df.rdd.getNumPartitions() == 1


def test_pushdown_approximate_numeric_literal(spark, server):
    """A float filter the translator spells in exponent form (``1e-05``)
    must parse server-side rather than fail the read with a 400."""
    srv, url = server
    register(spark)
    df = (
        spark.read.format("arcgis_http_pushdown")
        .option("url", url)
        .load()
        .filter(F.col("speed") > 1e-5)
    )
    assert sorted(r.oid for r in df.collect()) == [o for o in range(250) if o % 50 > 0]
    wheres = {q.get("where") for (_, p, q) in srv.request_log if p == "/layer/query"}
    assert any("speed > 1e-05" in (w or "") for w in wheres), wheres


def test_union_two_scans_same_relation(spark, server):
    """Twin of the arcgis_sim regression: the default format pushes
    nothing, so the two filtered branches of a union over one relation
    each return their own rows."""
    _, url = server
    register(spark)
    df = _reader(spark, url)
    u = df.filter(F.col("callsign") == "unit-1").unionByName(
        df.filter(F.col("callsign") == "unit-2")
    )
    got = sorted(r["oid"] for r in u.collect())
    assert got == sorted(o for o in range(250) if o % 7 in (1, 2))


def test_default_formats_read_in_vanilla_session(spark, server, layer_file):
    """With ``spark.sql.python.filterPushdown.enabled`` at its default
    (false), as in a session the connector does not configure, both
    default formats read and filter correctly."""
    _, url = server
    register(spark)
    arcgis_sim.register(spark)
    key = "spark.sql.python.filterPushdown.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        want = [o for o in range(250) if o % 50 > 40]
        for df in (
            _reader(spark, url),
            spark.read.format("arcgis_sim").option("path", layer_file).load(),
        ):
            assert sorted(r.oid for r in df.filter(F.col("speed") > 40).collect()) == want
    finally:
        spark.conf.set(key, prev)


def test_nested_json_fields_serialize_as_strings(spark, tmp_path):
    """Twin of the arcgis_sim test: nested attribute values arrive as
    canonical JSON strings (sorted keys, compact), not Python reprs."""
    path = tmp_path / "nested.jsonl"
    rows = [
        {"fid": 1, "geom": {"type": "Point", "xy": [1.0, 2.0]}, "tags": ["x", "y"]},
        {"fid": 2, "geom": None, "tags": []},
        {"fid": 3, "geom": {"xy": [3.0, 4.0], "type": "Point"}, "tags": None},
    ]
    path.write_text("".join(json.dumps(r) + "\n" for r in rows))
    srv = SimFeatureServer(str(path))
    url = srv.start()
    try:
        register(spark)
        got = {r["fid"]: (r["geom"], r["tags"]) for r in _reader(spark, url).collect()}
    finally:
        srv.stop()
    assert got == {
        1: ('{"type":"Point","xy":[1.0,2.0]}', '["x","y"]'),
        2: (None, "[]"),
        3: ('{"type":"Point","xy":[3.0,4.0]}', None),
    }


def test_schema_inference_skips_leading_nulls(spark, tmp_path):
    """A null field in record 1 takes its type from the first non-null
    value, as in arcgis_sim, instead of being pinned to string."""
    path = tmp_path / "nulls.jsonl"
    rows = [{"oid": 1, "speed": None}, {"oid": 2, "speed": 1.5}]
    path.write_text("".join(json.dumps(r) + "\n" for r in rows))
    srv = SimFeatureServer(str(path))
    url = srv.start()
    try:
        register(spark)
        df = _reader(spark, url)
        assert df.schema.simpleString() == "struct<oid:bigint,speed:double>"
        assert sorted(tuple(r) for r in df.collect()) == [(1, None), (2, 1.5)]
    finally:
        srv.stop()


def test_user_where_option_composes_with_pushdown(spark, server):
    srv, url = server
    register(spark)
    df = _reader(spark, url, where="oid < 10").filter(F.col("speed") >= 5)
    assert sorted(r.oid for r in df.collect()) == [5, 6, 7, 8, 9]


def test_token_ttl_refresh_and_expiry(layer_file):
    """A19 twin over sockets: a broker with a TTL shorter than the
    5-minute margin re-mints per call; the server 401s a token it has
    expired and the client re-mints once and succeeds (the CLOSED form
    of the un-awaited-auth race, task.ts:380-386)."""
    srv = SimFeatureServer(layer_file, token_ttl_s=1.0)
    url = srv.start()
    try:
        broker = HttpTokenBroker(url)  # margin 300s >> ttl 1s
        t1 = broker.token()
        t2 = broker.token()
        assert t1 != t2  # inside the margin -> honest re-mint each time
        # now simulate the quirk: a client HOLDING a token it still
        # believes valid fires a query after the server revoked it —
        # server 401s (ArcGIS code 498), _fetch_with_retry re-mints
        # once and retries
        hold = HttpTokenBroker(url, margin_s=0.0)
        hold.token()
        time.sleep(1.2)  # past the 1 s TTL: expired server-side,
        # but margin 0 means the CLIENT still trusts it... unless the
        # client-side expiry stamp already lapsed too; revoke to be sure
        srv.revoke_tokens()
        hold._expires_ms = (time.time() + 3600) * 1000  # client trusts it
        mints_before = srv.mint_count
        res = _fetch_with_retry(
            hold, url + "/layer/query",
            {"where": "1=1", "returnCountOnly": "true"},
        )
        assert res["count"] == 250
        assert srv.mint_count == mints_before + 1  # exactly one re-mint
        codes = [
            p for (_, p, q) in srv.request_log if p == "/layer/query"
        ]
        assert len(codes) >= 2  # the 401'd attempt plus the retry
    finally:
        srv.stop()


def test_auth_awaited_before_query(spark, server):
    """The reference fires auth without awaiting (task.ts:380) so a
    query can precede token arrival; this client must ALWAYS have
    minted before its first /layer/query hits the socket."""
    srv, url = server
    register(spark)
    _reader(spark, url, pagesize=100).count()
    first_query = next(
        i for i, (_, p, _) in enumerate(srv.request_log)
        if p == "/layer/query"
    )
    assert any(
        p == "/api/esri" for (_, p, _) in srv.request_log[:first_query]
    )


def test_mid_page_5xx_retries(spark, server):
    """Transient 503s on query windows are retried with backoff; the
    scan still returns every row exactly once."""
    srv, url = server
    register(spark)
    srv.fail_next_queries = 2
    df = _reader(spark, url, pagesize=100)
    assert df.count() == 250
    n_queries = sum(
        1 for (_, p, _) in srv.request_log if p == "/layer/query"
    )
    # 1 count + 3 pages + 2 retried failures
    assert n_queries >= 6


def test_5xx_exhaustion_raises(layer_file):
    srv = SimFeatureServer(layer_file)
    url = srv.start()
    try:
        srv.fail_next_queries = 10
        broker = HttpTokenBroker(url)
        with pytest.raises(urllib.error.HTTPError):
            _fetch_with_retry(
                broker, url + "/layer/query",
                {"where": "1=1", "returnCountOnly": "true"},
                retries=2, backoff_s=0.01,
            )
    finally:
        srv.stop()


def test_add_features_sink(spark, server):
    """A17 twin: DataFrame -> chunked POST /layer/addFeatures."""
    srv, url = server
    register(spark)
    df = spark.createDataFrame(
        [(i, f"c-{i}", float(i)) for i in range(37)],
        "oid LONG, callsign STRING, speed DOUBLE",
    ).coalesce(2)
    (
        df.write.format("arcgis_http")
        .option("url", url)
        .option("chunksize", 10)
        .mode("append")
        .save()
    )
    assert sorted(r["oid"] for r in srv.submitted) == list(range(37))
    n_posts = sum(
        1 for (m, p, _) in srv.request_log
        if p == "/layer/addFeatures" and m == "POST"
    )
    assert n_posts >= 4  # 37 rows / chunk 10 across 2 tasks


def test_where_parser_subset():
    pred = _parse_where("speed >= 10 AND callsign = 'unit-1' AND oid IN (1, 8, 15)")
    assert pred({"speed": 10, "callsign": "unit-1", "oid": 8})
    assert not pred({"speed": 9, "callsign": "unit-1", "oid": 8})
    assert not pred({"speed": 10, "callsign": "unit-2", "oid": 8})
    assert _parse_where("x IS NOT NULL")({"x": 0})
    assert not _parse_where("x IS NOT NULL")({})
    assert _parse_where("s = 'it''s'")({"s": "it's"})
    with pytest.raises(ValueError):
        _parse_where("oid = 1 OR oid = 2")  # OR not in the pushed subset
    with pytest.raises(ValueError):
        _parse_where("1=1; DROP TABLE x")
    # SQL-92 approximate numeric literals (mantissa E exponent)
    assert _parse_where("speed > 1e-05")({"speed": 2e-5})
    assert not _parse_where("speed > 1e-05")({"speed": 0.0})
    assert _parse_where("speed < 1E+20 AND speed >= -2.5e3")({"speed": -2500.0})
    # the translator spells what the parser reads ...
    for f, sql, rec in (
        (GreaterThan(("speed",), 1e-05), "speed > 1e-05", {"speed": 2e-5}),
        (In(("s",), ("it's", "b")), "s IN ('it''s', 'b')", {"s": "it's"}),
        (IsNotNull(("x",)), "x IS NOT NULL", {"x": 0}),
    ):
        assert filter_sql(f) == sql and _parse_where(sql)(rec), f
    # ... and hands back to Spark what the grammar cannot spell
    for f in (
        GreaterThan(("speed",), float("inf")),
        LessThan(("speed",), float("-inf")),
        EqualTo(("speed",), float("nan")),
        In(("oid",), (1, None)),
        In(("oid",), ()),
        EqualTo(("odd name",), 1),
        EqualTo(("a", "b"), 1),
        EqualTo(("IN",), 1),
        EqualTo(("ts",), None),
    ):
        assert filter_sql(f) is None, f


# ---------------------------------------------------------------------------
# C227: streaming tail — the scheduled incoming pull (task.ts:50-51)
# as a Structured Streaming source with a monotone-id high-water-mark
# offset: incremental batches, exactly-once replay.


def test_stream_tail_incremental_batches(spark, server, tmp_path):
    srv, url = server
    register(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("arcgis_http")
            .option("url", url)
            .option("idcol", "oid")
            .option("startafter", -1)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = spark.read.parquet(out).agg(
        F.count("*").alias("n"), F.max("oid").alias("mx")
    ).collect()[0]
    assert got["n"] == 250 and got["mx"] == 249

    # new features arrive server-side; resuming from the checkpoint
    # fetches ONLY them (offset = id high-water mark)
    with srv._lock:
        srv.records.extend(
            {"oid": 250 + i, "callsign": "new", "speed": 1.0} for i in range(5)
        )
    run_once()
    got2 = spark.read.parquet(out).agg(
        F.count("*").alias("n"), F.max("oid").alias("mx")
    ).collect()[0]
    assert got2["n"] == 255 and got2["mx"] == 254
    # the incremental where actually reached the server
    wheres = [
        p.get("where") for m, path, p in srv.request_log if "query" in path
    ]
    assert any(w and "oid > 249" in w for w in wheres), wheres[-5:]


def test_explode_over_pushdown_keeps_every_id(spark, geo_layer):
    """Twin of the arcgis_sim test: the incoming chain over
    ``arcgis_http_pushdown`` with an upstream geom_type filter returns
    every id the filter keeps (one scan, one pushed where), and the
    addFeatures sink posts struct columns as JSON objects."""
    from conftest import expected_incoming_ids, incoming_chain

    path, feats = geo_layer
    srv = SimFeatureServer(path)
    url = srv.start()
    try:
        register(spark)
        kinds = {"Point", "MultiPoint", "MultiPolygon"}
        raw = (
            spark.read.format("arcgis_http_pushdown").option("url", url)
            .option("pagesize", 100).load()
            .filter(F.col("geom_type").isin(*kinds))
        )
        out = incoming_chain(raw)
        assert sorted(r["id"] for r in out.collect()) == expected_incoming_ids(feats, kinds)
        wheres = {q.get("where") for (_, p, q) in srv.request_log if p == "/layer/query"}
        assert any("geom_type IN" in (w or "") for w in wheres), wheres
        out.select("id", "properties").write.format("arcgis_http").option(
            "url", url
        ).mode("append").save()
        assert srv.submitted and all(
            set(a["properties"]) == {"metadata"} and "callsign" in a["properties"]["metadata"]
            for a in srv.submitted
        )
    finally:
        srv.stop()
