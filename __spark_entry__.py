"""Driver contract for the swarm-spark engine.

``entry`` runs the flagship query at sf0.001; ``queries`` /
``oracle_sql`` expose every implemented operator from SURVEY.md §2
(declared queries of §2.3 plus the LLM-data-pipeline operators) for the
driver's DuckDB hash-check at sf0.01, in driver-window rotation order.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
from collections.abc import Callable
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROOT = Path(__file__).resolve().parent

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: routed-ingest pricing summary (G1 grouping shape) —
    lineitem scanned once, grouped by destination-like keys with exact
    aggregates."""
    from swarm_spark.sources.tables import load_table

    li = load_table(spark, SMOKE_SF_DIR, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("sum_qty"),
            F.ceil(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")) / 100.0)
            .cast("long")
            .alias("price_ceil"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _row_is_green(row) -> bool:
    """A driver row counts as verified only if it raised no error and
    none of its match flags is False. Rows-only checks (queries with no
    SQL oracle) legitimately omit or null the hash/schema flags — a
    missing flag is not a failure, but an explicit ``False`` or a
    non-null ``err`` is."""
    return (
        isinstance(row, dict)
        and row.get("err") is None
        and all(row.get(k) is not False for k in ("rows_match", "schema_match", "hash_match"))
    )


def _last_green_round(root: Path = ROOT) -> dict[str, int]:
    """Map query name -> most recent round with a GREEN row in the
    ``CORRECTNESS_r*.json`` files the correctness driver writes at
    ``root`` each round. A red row does NOT count as checked, so a
    query that failed its oracle re-enters the next window at once.
    Missing/corrupt files are ignored — with no history the rotation
    keeps registration order."""
    last: dict[str, int] = {}
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if _row_is_green(row):
                last[name] = max(last.get(name, -1), rnd)
    return last


def _change_rounds(root: Path = ROOT) -> dict[str, int]:
    """Map query name -> the round since which its current code has been
    in effect, from the committed ``QUERY_HASHES.json`` (read-only;
    ``scripts/query_ledger.py`` maintains it)."""
    try:
        ledger = json.loads((root / "QUERY_HASHES.json").read_text())
    except (OSError, ValueError):
        return {}
    return {name: ent["since"] for name, ent in ledger.items()}


def _rotation_key(name: str, last: dict[str, int], since: dict[str, int], reg_index: dict[str, int]):
    """Sort key for the driver window: never-driver-checked queries
    first, then queries whose source changed AFTER their last green row
    (their green row verifies stale code), then verified queries by
    last-green round ascending. Registration order breaks ties."""
    lg = last.get(name, -1)
    pri = 0 if lg < 0 else 1 if since.get(name, 0) > lg else 2
    return (pri, lg, reg_index[name])


@functools.cache
def _driver_order(names: tuple[str, ...]) -> tuple[str, ...]:
    """Driver-window rotation: the correctness driver oracles only the
    FIRST 50 entries per round, in iteration order, so ordering by
    :func:`_rotation_key` gives every query a driver row at least every
    ceil(N/50) rounds. Memoized: the driver calls queries() and
    oracle_sql() separately and writes CORRECTNESS_r{N}.json during its
    run — the ordering must not shift between those calls."""
    last = _last_green_round()
    since = _change_rounds()
    reg_index = {name: i for i, name in enumerate(names)}
    return tuple(sorted(names, key=lambda n: _rotation_key(n, last, since, reg_index)))


def _rotated() -> dict[str, tuple[Callable, str | None]]:
    from swarm_spark.queries import all_queries

    reg = all_queries()
    return {name: reg[name] for name in _driver_order(tuple(reg))}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in _rotated().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in _rotated().items() if sql is not None}
