"""``arcgis_http`` — the socket-backed twin of ``arcgis_sim``
(VERDICT r9 #3): the same FeatureServer connector surface driven over
REAL loopback HTTP instead of a local file, so pagination windows,
token TTL expiry/refresh, and mid-page 5xx retry are exercised through
sockets the way the reference runs them.

The where grammar, schema inference, row projection and token policy
are the shared connector core (``arcgis_core``) that ``arcgis_sim`` also
runs; this module holds the HTTP transport and the server.

Reference behaviors modeled (all public, dfpc-coe/etl-arcgis):

* **Token broker** (task.ts:92-135): ``POST /api/esri`` with
  {url, username, password} answers {"auth": {token, expires,
  referer}}; it is the mint of the shared TTL/margin token policy.
* **Un-awaited auth quirk** (task.ts:380-386): the reference calls
  ``this.auth(...)`` WITHOUT awaiting it inside ``dumper()``, so a
  scan can fire carrying the stale ephemeral token while the refresh
  is still in flight — a latent race its serial Lambda cadence hides.
  This client AWAITS auth before every request and additionally
  handles the server-side consequence (401/invalid-token) by
  re-minting once and retrying, so the quirk class is closed rather
  than reproduced.
* **Paged scan** (task.ts:418 ``dumper.fetch()``; esri-dump ITER):
  ``GET <layer>/query`` with resultOffset/resultRecordCount windows
  and a server-side SQL-92 ``where`` (task.ts:406-408): the ``where``
  option, plus — in the opt-in ``arcgis_http_pushdown`` format only —
  every filter the where grammar can spell. The default ``arcgis_http``
  format pushes nothing (see ``arcgis_core.WherePushdown`` for why).
  Where the reference pages serially, each window here is a Spark
  InputPartition — pages read in parallel, each with its own retry.
* **Batch submit** (task.ts:455-457): ``POST <layer>/addFeatures``
  with feature-attribute chunks.

The in-package ``SimFeatureServer`` is a loopback http.server standing
in for ArcGIS Enterprise: token issue/expiry enforcement (ArcGIS's
invalid-token error, surfaced as HTTP 401 carrying the ArcGIS error
code 498), metadata endpoint serving the shared field inference,
windowed query with the shared where evaluation, fault injection (fail
the next N queries with 503), and a request log the tests assert
pagination/auth sequencing against.
"""

from __future__ import annotations

import json
import math
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from .arcgis_core import (
    TokenCache,
    WherePushdown,
    _parse_where,
    fields_schema,
    json_encoder,
    layer_fields,
    projector,
)

FORMAT_NAME = "arcgis_http"


# --------------------------------------------------------------------------
# server side — the loopback FeatureServer stand-in
# --------------------------------------------------------------------------


class SimFeatureServer:
    """Loopback FeatureServer: JSONL-file-backed layer behind real HTTP.

    Test hooks: ``request_log`` (method, path, params dicts, in arrival
    order), ``fail_next_queries`` (next N /query requests answer 503 —
    the mid-page transient the reference's serial fetch would die on),
    ``submitted`` (rows received by addFeatures), ``mint_count``.
    """

    def __init__(self, jsonl_path: str, token_ttl_s: float = 3600.0):
        self.records = []
        with open(jsonl_path) as fh:
            for line in fh:
                if line.strip():
                    self.records.append(json.loads(line))
        self.token_ttl_s = token_ttl_s
        self.tokens: dict[str, float] = {}  # token -> expiry epoch s
        self.mint_count = 0
        self.fail_next_queries = 0
        self.request_log: list[tuple[str, str, dict]] = []
        self.submitted: list[dict] = []
        self._lock = threading.Lock()
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    def revoke_tokens(self) -> None:
        """Server-side revocation (portal restart / credential rotation):
        clients holding tokens they still believe valid get the ArcGIS
        invalid-token answer on their next request."""
        with self._lock:
            self.tokens.clear()

    # -- lifecycle ----------------------------------------------------
    def start(self) -> str:
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _send(self, code: int, obj: dict) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _params(self) -> dict:
                q = urllib.parse.urlparse(self.path).query
                return {k: v[0] for k, v in urllib.parse.parse_qs(q).items()}

            def do_GET(self):
                server._handle(self, "GET")

            def do_POST(self):
                server._handle(self, "POST")

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return f"http://127.0.0.1:{self._httpd.server_port}"

    def stop(self) -> None:
        if self._httpd:
            self._httpd.shutdown()
            self._httpd.server_close()

    # -- request routing ------------------------------------------------
    def _handle(self, h, method: str) -> None:
        path = urllib.parse.urlparse(h.path).path
        params = h._params()
        if method == "POST":
            n = int(h.headers.get("Content-Length", 0))
            raw = h.rfile.read(n) if n else b"{}"
            try:
                body = json.loads(raw)
            except ValueError:
                body = {}
            params = {**params, **({"__body": body} if body else {})}
        with self._lock:
            self.request_log.append((method, path, params))
        if path == "/api/esri" and method == "POST":
            return self._auth(h)
        if path == "/layer" and params.get("f") == "json":
            return self._metadata(h)
        if path == "/layer/query":
            return self._query(h, params)
        if path == "/layer/addFeatures" and method == "POST":
            return self._add_features(h, params)
        h._send(404, {"error": {"code": 404, "message": f"no route {path}"}})

    def _auth(self, h) -> None:
        with self._lock:
            self.mint_count += 1
            tok = f"tok-{self.mint_count}"
            exp = time.time() + self.token_ttl_s
            self.tokens[tok] = exp
        # ArcGIS brokers answer epoch MILLISECONDS (task.ts:107 compares
        # against +new Date())
        h._send(200, {"auth": {"token": tok, "expires": int(exp * 1000),
                               "referer": "http://127.0.0.1"}})

    def _check_token(self, h, params) -> bool:
        tok = params.get("token")
        with self._lock:
            exp = self.tokens.get(tok or "")
        if exp is None or exp < time.time():
            # ArcGIS signals invalid token as error code 498; surface it
            # on a real 401 status so plain HTTP clients see the failure
            h._send(401, {"error": {"code": 498, "message": "Invalid token"}})
            return False
        return True

    def _metadata(self, h) -> None:
        fields = layer_fields(self.records)
        h._send(200, {
            "fields": fields,
            "objectIdField": fields[0]["name"] if fields else None,
            "maxRecordCount": 1000,
        })

    def _query(self, h, params) -> None:
        if not self._check_token(h, params):
            return
        with self._lock:
            if self.fail_next_queries > 0:
                self.fail_next_queries -= 1
                h._send(503, {"error": {"code": 503,
                                        "message": "Service unavailable"}})
                return
        recs = self.records
        where = params.get("where")
        if where and where != "1=1":
            try:
                pred = _parse_where(where)
            except ValueError as e:
                h._send(400, {"error": {"code": 400, "message": str(e)}})
                return
            recs = [r for r in recs if pred(r)]
        if params.get("returnCountOnly") == "true":
            h._send(200, {"count": len(recs)})
            return
        off = int(params.get("resultOffset", 0))
        cnt = int(params.get("resultRecordCount", len(recs)))
        page = recs[off:off + cnt]
        h._send(200, {
            "features": [{"attributes": r} for r in page],
            "exceededTransferLimit": off + cnt < len(recs),
        })

    def _add_features(self, h, params) -> None:
        if not self._check_token(h, params):
            return
        feats = (params.get("__body") or {}).get("features", [])
        with self._lock:
            self.submitted.extend(f.get("attributes", {}) for f in feats)
        h._send(200, {"addResults": [{"success": True} for _ in feats]})


# --------------------------------------------------------------------------
# client side — the Spark data source
# --------------------------------------------------------------------------


def _http_json(url: str, body: dict | None = None, timeout: float = 10.0):
    req = urllib.request.Request(
        url,
        data=json.dumps(body).encode() if body is not None else None,
        headers={"Content-Type": "application/json"} if body is not None else {},
        method="POST" if body is not None else "GET",
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return json.loads(resp.read())


class HttpTokenBroker(TokenCache):
    """Client half of task.ts:92-135: the shared token policy with
    ``POST /api/esri`` as its mint."""

    def __init__(self, base_url: str, margin_s: float = 300.0):
        super().__init__(self._mint, margin_s)
        self.base_url = base_url

    def _mint(self) -> tuple[str, float]:
        res = _http_json(
            self.base_url + "/api/esri",
            {"url": self.base_url, "username": "svc", "password": "x"},
        )
        return str(res["auth"]["token"]), float(res["auth"]["expires"])


def _fetch_with_retry(
    broker: HttpTokenBroker,
    url: str,
    params: dict,
    retries: int = 3,
    backoff_s: float = 0.05,
):
    """GET with (a) awaited auth before EVERY attempt — closing the
    task.ts:380 un-awaited-auth race, (b) one re-mint on 401/invalid
    token, (c) bounded exponential backoff on 5xx — the transient the
    reference's bare fetch (task.ts:418) would surface as a failed run."""
    attempt = 0
    reminted = False
    while True:
        q = dict(params)
        q["token"] = broker.token()
        full = url + "?" + urllib.parse.urlencode(q)
        try:
            return _http_json(full)
        except urllib.error.HTTPError as e:
            if e.code == 401 and not reminted:
                reminted = True  # stale token: re-mint once, retry now
                broker.token(force=True)
                continue
            if 500 <= e.code < 600 and attempt < retries:
                time.sleep(backoff_s * (2 ** attempt))
                attempt += 1
                continue
            raise


def _query_page(
    broker: HttpTokenBroker, url: str, where: str, offset: int, count: int
) -> dict:
    """One resultOffset/resultRecordCount window of ``where``."""
    return _fetch_with_retry(broker, url + "/layer/query", {
        "where": where, "resultOffset": offset, "resultRecordCount": count, "f": "json",
    })


@dataclass
class HttpPagePartition(InputPartition):
    offset: int
    count: int


class ArcGISHttpReader(DataSourceReader):
    """Paged HTTP scan: plan time asks returnCountOnly for the layer
    cardinality (under the where — the server prunes, we plan fewer
    pages), then one InputPartition per resultOffset window
    (esri-dump ITER, task.ts:418, parallelized)."""

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.options = options
        self.url = options["url"].rstrip("/")
        self.page_size = int(options.get("pagesize", 1000))
        self.where_parts: list[str] = []
        if options.get("where"):
            self.where_parts.append(options["where"])

    def _where(self) -> str:
        return " AND ".join(self.where_parts) or "1=1"

    def partitions(self) -> list[HttpPagePartition]:
        broker = HttpTokenBroker(self.url)
        res = _fetch_with_retry(
            broker, self.url + "/layer/query",
            {"where": self._where(), "returnCountOnly": "true"},
        )
        n = int(res["count"])
        pages = max(1, math.ceil(n / self.page_size))
        return [
            HttpPagePartition(i * self.page_size, self.page_size)
            for i in range(pages)
        ]

    def read(self, partition: HttpPagePartition):
        res = _query_page(
            HttpTokenBroker(self.url), self.url, self._where(), partition.offset, partition.count
        )
        project = projector(self.schema)
        for feat in res.get("features", []):
            yield project(feat.get("attributes", {}))


class ArcGISHttpPushReader(WherePushdown, ArcGISHttpReader):
    """Reader WITH filter pushdown (``arcgis_http_pushdown`` format):
    pushed filters join the ``where`` the server evaluates, so page
    planning sees the pruned count (task.ts:406-408 forwards
    ARCGIS_QUERY the same way)."""


@dataclass
class HttpChunkCommit(WriterCommitMessage):
    rows: int


class ArcGISHttpWriter(DataSourceWriter):
    """Chunked addFeatures submit (task.ts:455-457): each task posts
    its rows in ``chunksize`` batches. At-least-once like the
    reference's raw HTTP submit — the JSONL sink in arcgis_sim carries
    the idempotent exactly-once variant."""

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.url = options["url"].rstrip("/")
        self.chunk = int(options.get("chunksize", 500))

    def write(self, iterator) -> HttpChunkCommit:
        broker = HttpTokenBroker(self.url)
        encode = json_encoder(self.schema)
        buf: list[dict] = []
        n = 0

        def flush():
            nonlocal buf
            if not buf:
                return
            q = urllib.parse.urlencode({"token": broker.token()})
            _http_json(
                self.url + "/layer/addFeatures?" + q,
                {"features": [{"attributes": r} for r in buf]},
            )
            buf = []

        for row in iterator:
            buf.append(encode(row))
            n += 1
            if len(buf) >= self.chunk:
                flush()
        flush()
        return HttpChunkCommit(n)

    def commit(self, messages) -> None:
        pass

    def abort(self, messages) -> None:
        pass


class ArcGISHttpStreamReader(SimpleDataSourceStreamReader):
    """Incremental STREAMING tail of a FeatureServer layer — the
    reference's scheduled incoming pull (task.ts:50-51 ``Schedule``)
    turned into a real Structured Streaming source: the offset is the
    high-water mark of a monotone id column (``idcol``, default
    ``objectid`` — the append-only id an edit-tracked layer exposes),
    each micro-batch fetches ``idcol > last`` through the SAME
    token-broker + bounded-retry client as the batch reader, and
    ``readBetweenOffsets`` re-derives a committed batch from the
    half-open id interval — exactly-once replay after restart, the
    property the reference's fire-and-forget schedule cannot offer.

    Driver-side paging (SimpleDataSourceStreamReader's contract);
    per-batch volume is the NEW features only, so the poll is
    incremental where task.ts re-scans the layer every run."""

    def __init__(self, schema: StructType, options: dict) -> None:
        self.schema = schema
        self.url = options["url"].rstrip("/")
        self.idcol = options.get("idcol", "objectid")
        self.page = int(options.get("pagesize", 1000))
        self.start_after = int(options.get("startafter", -1))
        self._broker = HttpTokenBroker(self.url)

    def initialOffset(self) -> dict:  # noqa: N802
        return {"last": self.start_after}

    def _fetch_range(self, lo: int, hi: int | None) -> list[tuple]:
        where = f"{self.idcol} > {lo}"
        if hi is not None:
            where += f" AND {self.idcol} <= {hi}"
        project = projector(self.schema)
        rows: list[tuple] = []
        off = 0
        while True:
            res = _query_page(self._broker, self.url, where, off, self.page)
            feats = res.get("features", [])
            rows.extend(project(f.get("attributes", {})) for f in feats)
            if not res.get("exceededTransferLimit") or not feats:
                return rows
            off += self.page

    def read(self, start: dict):
        lo = int(start["last"])
        rows = self._fetch_range(lo, None)
        idx = [f.name for f in self.schema.fields].index(self.idcol)
        # High-water mark over COERCED id values only: a feature with a
        # missing/null id attribute would make max()/int() raise and
        # kill the stream — and since the watermark could then never
        # advance past it, the same null row would be refetched every
        # batch. Fail fast with the offending idcol named instead.
        ids = []
        for r in rows:
            v = r[idx]
            if v is None:
                raise ValueError(
                    f"feature with null/missing id attribute {self.idcol!r}"
                    " — the incremental tail cannot checkpoint past it;"
                    " fix the layer or choose a non-null idcol"
                )
            ids.append(int(v))
        hi = max(ids, default=lo)
        return iter(rows), {"last": int(hi)}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._fetch_range(int(start["last"]), int(end["last"])))


class ArcGISHttpDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        """A5 over sockets: layer field metadata -> Spark schema
        (dumper.schema(), task.ts:57-82)."""
        url = self.options["url"].rstrip("/")
        return fields_schema(_http_json(url + "/layer?f=json").get("fields", []))

    def reader(self, schema: StructType) -> ArcGISHttpReader:
        return ArcGISHttpReader(schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> ArcGISHttpWriter:
        return ArcGISHttpWriter(schema, dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> ArcGISHttpStreamReader:  # noqa: N802
        return ArcGISHttpStreamReader(schema, dict(self.options))


class ArcGISHttpPushdownDataSource(ArcGISHttpDataSource):
    @classmethod
    def name(cls) -> str:
        return "arcgis_http_pushdown"

    def reader(self, schema: StructType) -> ArcGISHttpPushReader:
        return ArcGISHttpPushReader(schema, dict(self.options))


def register(spark) -> None:
    spark.dataSource.register(ArcGISHttpDataSource)
    spark.dataSource.register(ArcGISHttpPushdownDataSource)
