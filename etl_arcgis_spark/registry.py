"""Query registry — the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers here as a named
query: a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (for
everything hash-checkable) an equivalent ANSI-SQL oracle string that
DuckDB runs over the same parquet tables. ``__spark_entry__.py`` simply
re-exports these dicts.

Determinism contract (SURVEY.md §5.3) every registered query obeys:
  1. computed doubles rounded to 4 decimals on BOTH engines;
  2. ``events.ts`` is a µs timestamp on both engines (tables.py read
     policy) — never emitted raw; ordering and arithmetic go through
     integer epoch-µs/ms values (helpers.ev_us/ev_ms), identical on
     both engines;
  3. every LIMIT/top-k carries a unique total-order tie-breaker;
  4. null ordering spelled explicitly;
  5. session timezone pinned UTC on both engines;
  6. seeded/approximate ops are registered WITHOUT an oracle (weak,
     rows-only check).
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query, optionally with its DuckDB oracle SQL.

    ``oracle=None`` declares a *weak* query (rows-only driver check) —
    reserved for seeded/approximate algorithms per SURVEY.md §2.1.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco


def _driver_status(repo_dir: str) -> dict[str, tuple[bool, int]]:
    """``{name: (ok, latest_clean_round)}`` from ``CORRECTNESS_r*.json``.

    ``ok`` is the name's LATEST driver status: rounds are read in order
    (r01 < r02 < ...), so a green row followed by a later ERROR is not
    ok again. A row is clean when it hash-matched, or when a weak
    (no-oracle) query ran and returned rows. ``latest_clean_round`` is
    0 for a name that never ran clean. Unreadable files, non-dict rows
    and non-integer round suffixes are skipped.
    """
    status: dict[str, tuple[bool, int]] = {}
    for path in sorted(glob.glob(os.path.join(repo_dir, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(os.path.basename(path)[len("CORRECTNESS_r") : -len(".json")])
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, r in rows.items():
            if not isinstance(r, dict):
                continue
            err = r.get("err")
            clean = (err is None and bool(r.get("hash_match"))) or (
                err == "no_oracle" and r.get("spark_rows") is not None
            )
            last_clean = rnd if clean else status.get(name, (False, 0))[1]
            status[name] = (clean, last_clean)
    return status


_LOADED = False


def load_all() -> None:
    """Import every operator module so its @query decorators run."""
    global _LOADED
    if _LOADED:
        return
    from .operators import (  # noqa: F401
        aggregates,
        analytics,
        corpus,
        dedup,
        etl,
        filters,
        graph,
        joins,
        multimodal,
        quarantine,
        scans,
        setops,
        similarity,
        spatial_stats,
        sql_functions,
        quality,
        streaming_batch,
        text,
        timeseries,
        udfs,
        windows,
    )

    _LOADED = True


def all_queries() -> dict[str, QueryFn]:
    """All registered queries, ordered for the driver's partial check.

    The driver verifies only the first 50 entries per round, in dict
    order, so the order converges that partial check to full coverage:
    names whose latest driver row failed first, then never-verified
    names in registration order, then verified names by their latest
    clean round, oldest first (ties in registration order). Contents
    are identical regardless of order.
    """
    load_all()
    status = _driver_status(_REPO_DIR)

    def key(n: str) -> tuple[int, int]:
        if n not in status:
            return (1, 0)
        ok, last_clean = status[n]
        return (2, last_clean) if ok else (0, 0)

    # sorted() is stable: ties keep registration order
    return {n: QUERIES[n] for n in sorted(QUERIES, key=key)}


def all_oracles() -> dict[str, str]:
    load_all()
    return {n: ORACLES[n] for n in all_queries() if n in ORACLES}


def run(spark: SparkSession, name: str, sf_dir: str) -> Any:
    load_all()
    return QUERIES[name](spark, sf_dir)
