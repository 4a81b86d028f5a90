"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (rollup summary over the documents
fixture — the reference's whole reason to exist, README.md:13-27).
``queries()`` / ``oracle_sql()`` — one entry per implemented operator
from SURVEY.md section 2 (+ section 7.4 extensions); the driver runs
Spark vs DuckDB side-by-side at sf0.01 and hash-compares.

Registry pattern: every query is registered once with its Spark callable
and (when SQL-expressible) its DuckDB oracle, kept adjacent so the pair
stays in sync. Column names/aliases MUST match between the two.

Iteration order is verification priority: each verification round
checks only the first ~50 entries and records them in
``CORRECTNESS_r<N>.json`` beside this file. ``verification_order``
reads that history on every call, so the rows checked longest ago (or
never) always come first (SURVEY.md §5.1).
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from calculate_file_content_size_for_vector_db_spark import entry_queries

QueryFn = Callable[[SparkSession, str], DataFrame]

_HISTORY_DIR = Path(__file__).resolve().parent


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-document size metrics + SUM TOTAL rollup."""
    return entry_queries.REGISTRY["rollup_summary"].fn(spark, "/root/testdata/sf0.001")


def _latest_checked_round(history_dir: Path) -> dict[str, int]:
    """query -> the latest round N whose ``CORRECTNESS_r<N>.json`` in
    ``history_dir`` holds a row for it. A query with no row is absent."""
    latest: dict[str, int] = {}
    for path in history_dir.glob("CORRECTNESS_r*.json"):
        try:
            rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
            rows = json.loads(path.read_text())
        except ValueError as e:
            raise ValueError(f"verification history {path} does not parse: {e}") from e
        if not isinstance(rows, dict):
            raise ValueError(f"verification history {path} is not a JSON object")
        for name in rows:
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


def verification_order(history_dir: Path = _HISTORY_DIR) -> list[str]:
    """Registry names sorted by their latest checked round, never-checked
    (round 0) first. The sort is stable, so each round's cohort keeps
    registration order; with no history this is registration order."""
    latest = _latest_checked_round(history_dir)
    return sorted(entry_queries.REGISTRY, key=lambda name: latest.get(name, 0))


def queries() -> dict[str, QueryFn]:
    reg = entry_queries.REGISTRY
    return {name: reg[name].fn for name in verification_order()}


def oracle_sql() -> dict[str, str]:
    reg = entry_queries.REGISTRY
    return {
        name: reg[name].oracle
        for name in verification_order()
        if reg[name].oracle is not None
    }
