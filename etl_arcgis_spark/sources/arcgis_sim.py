"""``arcgis_sim`` — a Python Data Source modeling the reference's
ArcGIS FeatureServer connector surface (SURVEY.md §2 A1/A5/A17/A19).

The reference scans a remote layer by paging the REST ``query``
endpoint (esri-dump ITER, config task.ts:399-414, fetch task.ts:418),
ships a SQL-92 ``where`` server-side (task.ts:406-408), derives the
layer schema from remote field metadata (task.ts:57-82), authenticates
through a brokered token with a TTL cache (task.ts:92-135), and submits
feature batches back (task.ts:455-457).

This source rebuilds that contract on Spark's public extension point,
with a local JSONL file standing in for the feature server. The where
grammar, schema inference, row projection and token policy are the
shared connector core (``arcgis_core``) that ``arcgis_http`` also runs;
this module holds the file transport:

- **Partitioned paged scan** (A1): one ``InputPartition`` per OID page
  (``pageSize`` option), addressed by byte range — where the reference
  pages *serially*, Spark reads every page in parallel. At 100 TB
  against a real server this is the difference between a connector and
  an engine: page ranges are the unit of parallelism, retry, and
  locality.
- **Filter pushdown** (A3, opt-in): the ``arcgis_sim_pushdown`` format
  absorbs the filters the where grammar can spell and evaluates the
  resulting where per page (enable
  ``spark.sql.python.filterPushdown.enabled``); everything else is
  returned to Catalyst. The default ``arcgis_sim`` format pushes
  nothing (see ``arcgis_core.WherePushdown`` for why).
- **Schema inference** (A5): ``schema()`` infers the layer's field
  metadata from its first 100 records, mirroring ``dumper.schema()``.
- **Token broker with TTL cache** (A19): a local counter mint under the
  shared 5-minute-margin policy.
- **Batch sink** (A17): an append writer emitting one JSONL chunk per
  partition with a commit barrier (≅ chunked submit + allSettled,
  task.ts:358,457).
- **Streaming sink** (A17 ≅ the outgoing flow, task.ts:155-361): a
  ``DataSourceStreamWriter`` landing each micro-batch as batch-stamped
  chunks with an idempotent per-epoch commit marker — exactly-once
  over checkpoint replay, which the reference's raw HTTP submit lacks.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass
from itertools import islice

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
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

FORMAT_NAME = "arcgis_sim"


class TokenBroker(TokenCache):
    """A19 with a local mint: token ``tok-<n>``, valid for ``ttl_s``."""

    def __init__(self, ttl_s: float = 3600.0, margin_s: float = 300.0):
        super().__init__(self._mint, margin_s)
        self.ttl_s = ttl_s
        self.mint_count = 0

    def _mint(self) -> tuple[str, float]:
        self.mint_count += 1
        return f"tok-{self.mint_count}", (time.time() + self.ttl_s) * 1000


def _byte_range_records(path: str, start: int, end: int):
    """The records of the layer lines in the byte range [start, end)
    (both offsets at line starts)."""
    with open(path, "rb") as fh:
        fh.seek(start)
        return map(json.loads, fh.read(end - start).splitlines())


@dataclass
class PagePartition(InputPartition):
    """A page of the layer, addressed by BYTE offsets so each task seeks
    straight to its slice — line-index (islice) addressing would re-read
    and discard O(page_index) lines per task, turning the scan into
    O(pages x file)."""

    byte_start: int
    byte_end: int


class ArcGISSimReader(DataSourceReader):
    """Reader WITHOUT filter pushdown — the default, reuse-safe; the
    ``arcgis_sim_pushdown`` format mixes in ``WherePushdown``."""

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.options = options
        self.path = options["path"]
        self.page_size = int(options.get("pagesize", 1000))
        self.where_parts: list[str] = []
        # simulated auth handshake at plan time (A19)
        self._token = TokenBroker().token()

    def partitions(self) -> list[PagePartition]:
        """One partition per OID page — the esri-dump resultOffset window
        (task.ts:418), parallelized. One driver-side pass records the
        byte offset where every page starts; tasks then seek directly.
        """
        offsets = [0]
        with open(self.path, "rb") as fh:
            n_lines = 0
            for _line in fh:
                n_lines += 1
                if n_lines % self.page_size == 0:
                    offsets.append(fh.tell())
            file_end = fh.tell()
        if offsets[-1] != file_end:
            offsets.append(file_end)
        parts = [
            PagePartition(offsets[i], offsets[i + 1])
            for i in range(len(offsets) - 1)
            if offsets[i] < offsets[i + 1]
        ]
        return parts or [PagePartition(0, 0)]

    def read(self, partition: PagePartition):
        names = [f.name for f in self.schema.fields]
        top_group = self.options.get("topgroup")
        top_order = self.options.get("toporder")
        top_count = int(self.options.get("topcount", 0) or 0)
        rows = self._page_rows(partition)
        if not (top_group and top_order and top_count > 0):
            yield from rows
            return
        # A2 (TOP_FEATURES_ITER, task.ts:16-19,400): the queryTopFeatures
        # topFilter pushed into the scan as a PAGE-LOCAL group limit.
        # Every global winner lives in some page and is page-locally a
        # winner there too, so the union of per-page top-k is a SUPERSET
        # of the global top-k — the scan pre-reduces (like partial
        # aggregation) and the query-layer window finishes exactly.
        gi, oi = names.index(top_group), names.index(top_order)
        groups: dict = {}
        for row in rows:
            groups.setdefault(row[gi], []).append(row)
        for members in groups.values():
            members.sort(key=lambda r: (r[oi] is not None, r[oi]), reverse=True)
            yield from members[:top_count]

    def _page_rows(self, partition: PagePartition):
        recs = _byte_range_records(self.path, partition.byte_start, partition.byte_end)
        if self.where_parts:
            # the same compiled where the loopback server evaluates
            recs = filter(_parse_where(" AND ".join(self.where_parts)), recs)
        return map(projector(self.schema), recs)


class ArcGISSimPushReader(WherePushdown, ArcGISSimReader):
    """Reader WITH filter pushdown (``arcgis_sim_pushdown`` format)."""


@dataclass
class ChunkCommit(WriterCommitMessage):
    path: str
    rows: int
    partition: int


def _remove_matching(pattern: str) -> None:
    for stale in glob.glob(pattern):
        try:
            os.remove(stale)
        except OSError:
            pass


def _sweep_stale_tmp(out_dir: str) -> None:
    """Remove orphaned ``.tmp-*`` attempt files from ``out_dir``.

    abort() only runs when the whole job/epoch fails, so the LOSING
    attempt of a task-level retry or speculative duplicate leaves its
    tmp file behind forever (round-3 ADVICE finding). The driver-side
    commit/abort barriers run strictly after every attempt of the epoch
    has finished (the next epoch cannot start first), so any ``.tmp-*``
    file still present there is garbage by construction — identifiable
    by prefix, safe to unlink."""
    _remove_matching(f"{out_dir}/.tmp-*")


class _JsonlChunkSink:
    """The task and abort halves shared by the batch and streaming
    sinks: each task writes one JSONL chunk to a ``.tmp-`` attempt file
    (only the sink's commit promotes it to a ``chunk-*.jsonl`` name), and
    discarding an attempt deletes its file and sweeps stale ones — so a
    failed or partially-executed job never leaves committed-looking
    output in the target directory."""

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.out_dir = options["path"]

    def write(self, iterator) -> ChunkCommit:
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.out_dir, exist_ok=True)
        tmp = f"{self.out_dir}/.tmp-{uuid.uuid4().hex}-{pid:05d}"
        encode = json_encoder(self.schema)
        n = 0
        with open(tmp, "w") as fh:
            for row in iterator:
                fh.write(json.dumps(encode(row)) + "\n")
                n += 1
        return ChunkCommit(path=tmp, rows=n, partition=pid)

    def _discard(self, messages) -> None:
        for m in messages:
            if m is None:
                continue
            try:
                os.remove(m.path)
            except OSError:
                pass
        _sweep_stale_tmp(self.out_dir)


class ArcGISSimWriter(_JsonlChunkSink, DataSourceWriter):
    """A17: append-only batch sink — one JSONL chunk per partition
    (chunked submit), commit barrier == Promise.allSettled
    (task.ts:358)."""

    def commit(self, messages) -> None:
        for m in messages:
            final = f"{self.out_dir}/chunk-{m.partition:05d}.jsonl"
            os.replace(m.path, final)
        total = sum(m.rows for m in messages)
        _sweep_stale_tmp(self.out_dir)
        print(f"ok - submitted {total} features in {len(messages)} chunks")

    def abort(self, messages) -> None:
        self._discard(messages)


class ArcGISSimStreamWriter(_JsonlChunkSink, DataSourceStreamWriter):
    """A17 as a STREAMING sink — the reference's outgoing flow
    (task.ts:155-361: SQS micro-batch -> chunked submit) on Spark's
    stream-writer extension point. Each micro-batch writes one JSONL
    chunk per partition; ``commit(messages, batchId)`` is the
    allSettled barrier (task.ts:358), made idempotent with a
    per-batch marker file: a replayed batch (checkpoint recovery
    re-runs the last uncommitted epoch) sees its marker, discards the
    duplicate attempt files, and commits nothing twice — exactly-once
    delivery over an at-least-once replay, the property the
    reference's raw HTTP submit does NOT have (a Lambda retry
    re-posts the whole FeatureCollection).
    """

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        marker = f"{self.out_dir}/_committed_{batchId}"
        if os.path.exists(marker):
            # replayed epoch: the batch is already durable — drop the
            # duplicate attempt files, commit nothing
            self._discard(messages)
            return
        # No marker => the epoch is NOT durable yet, whatever partial
        # state a crashed earlier attempt left behind. Delete any
        # chunk-<batchId>-* leftovers BEFORE promoting: a replay may
        # legitimately produce a different partition count, and a stale
        # promoted chunk from the dead attempt would otherwise survive
        # as a duplicate orphan (round-3 ADVICE finding).
        _remove_matching(f"{self.out_dir}/chunk-{batchId:06d}-*.jsonl")
        total = 0
        for m in messages:
            if m is None:
                continue
            final = f"{self.out_dir}/chunk-{batchId:06d}-{m.partition:05d}.jsonl"
            os.replace(m.path, final)
            total += m.rows
        # marker write is itself atomic (tmp + rename): the epoch is
        # durable exactly when the marker exists
        marker_tmp = f"{marker}.tmp"
        with open(marker_tmp, "w") as fh:
            fh.write(str(total))
        os.replace(marker_tmp, marker)
        _sweep_stale_tmp(self.out_dir)
        print(f"ok - submitted {total} features (batch {batchId})")

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        self._discard(messages)


class ArcGISSimStreamReader(SimpleDataSourceStreamReader):
    """A1 + the schedule as a STREAMING source: the reference's incoming
    flow is a cron-scheduled incremental pull of the layer
    (task.ts:50-51 ``'Schedule'``; each invocation re-pages the REST
    endpoint). Structured Streaming is the idiomatic Spark spelling of
    exactly that loop: the engine owns the schedule (trigger), the
    checkpoint owns progress, and each micro-batch pulls the next page
    window.

    Offset = byte position into the simulated layer file (monotone,
    replayable). ``read`` advances at most ``pagesPerBatch`` pages per
    micro-batch — the scheduled-pull page budget; ``readBetweenOffsets``
    re-reads a committed byte range verbatim for recovery, so a batch
    replayed after a crash yields bit-identical rows (exactly-once with
    an idempotent sink, the same guarantee the reference approximates
    with its upsert key)."""

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.path = options["path"]
        self.page_size = int(options.get("pagesize", 1000))
        self.pages_per_batch = int(options.get("pagesperbatch", 1))
        self._token = TokenBroker().token()

    def initialOffset(self) -> dict:
        return {"byte": 0}

    def read(self, start: dict):
        with open(self.path, "rb") as fh:
            fh.seek(start["byte"])
            budget = self.page_size * self.pages_per_batch
            recs = [json.loads(line) for line in islice(fh, budget)]
            end = fh.tell()
        return map(projector(self.schema), recs), {"byte": end}

    def readBetweenOffsets(self, start: dict, end: dict):
        recs = _byte_range_records(self.path, start["byte"], end["byte"])
        return map(projector(self.schema), recs)


class ArcGISSimDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        """A5: layer schema from field metadata (≅ dumper.schema(),
        task.ts:78), inferred from the layer's first records."""
        with open(self.options["path"]) as fh:
            return fields_schema(layer_fields(json.loads(line) for line in fh))

    def reader(self, schema: StructType) -> ArcGISSimReader:
        return ArcGISSimReader(schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> ArcGISSimWriter:
        return ArcGISSimWriter(schema, dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> ArcGISSimStreamReader:  # noqa: N802
        return ArcGISSimStreamReader(schema, dict(self.options))

    def streamWriter(self, schema: StructType, overwrite: bool) -> ArcGISSimStreamWriter:  # noqa: N802
        return ArcGISSimStreamWriter(schema, dict(self.options))


class ArcGISSimPushdownDataSource(ArcGISSimDataSource):
    @classmethod
    def name(cls) -> str:
        return "arcgis_sim_pushdown"

    def reader(self, schema: StructType) -> ArcGISSimPushReader:
        return ArcGISSimPushReader(schema, dict(self.options))


def register(spark) -> None:
    spark.dataSource.register(ArcGISSimDataSource)
    spark.dataSource.register(ArcGISSimPushdownDataSource)
