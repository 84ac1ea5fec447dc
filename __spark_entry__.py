"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Queries/oracles live next to their operators in
``aws_etl_dados_publicos_cnpj_spark/operators/*``; this module only
merges the per-module registries.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Imported directly: a module that fails to import must fail the
# contract, not silently drop its queries from the registry.
from aws_etl_dados_publicos_cnpj_spark.operators import (
    behavioral, corpus, dedup, multimodal, quality, relational, similarity,
    temporal, text,
)

_MODULES = (
    relational, dedup, similarity, text, multimodal, temporal, corpus,
    behavioral, quality,
)
_HERE = os.path.dirname(os.path.abspath(__file__))

# Queries whose implementation changed since the last correctness
# round: the correctness gate re-checks them first, whatever their
# history says.
FRONT = [
    "video_frame_hash_docs", "video_near_dup_docs", "audio_ehash_docs",
    "audio_near_dup_docs", "image_ahash_docs", "image_png_ahash_docs",
    "image_jpeg_ahash_docs", "image_near_dup_docs", "multimodal_meta",
    "multimodal_features", "multimodal_frame_sample", "multimodal_wav_decode",
]


def history(repo: str = _HERE) -> dict[str, int]:
    """name -> latest round with a fully-green correctness row in
    ``repo/CORRECTNESS_r*.json`` (absent = never green). Green means
    rows, schema and hash all match with no ``err``."""
    last_green: dict[str, int] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
                and not row.get("err")
            ):
                last_green[name] = max(last_green.get(name, 0), rnd)
    return last_green


def build_window(
    registry: list[str], green: dict[str, int], front: list[str]
) -> list[tuple[str, str]]:
    """The correctness gate checks the first ~50 queries in dict order,
    so the order is the verification schedule: ``front`` first, then
    queries with no green row in registry order, then the rest
    stalest-first (stable on registry order). Returns (name, reason)
    pairs."""
    rows: list[tuple[str, str]] = []
    seen = set()
    for n in front:
        if n not in registry:
            raise ValueError(f"front name not in registry: {n}")
        rows.append((n, "touched this round"))
        seen.add(n)
    for n in registry:
        if n not in seen and green.get(n, 0) == 0:
            rows.append((n, "never green"))
            seen.add(n)
    rest = sorted(
        (n for n in registry if n not in seen),
        key=lambda n: (green[n], registry.index(n)),
    )
    rows.extend((n, f"last green r{green[n]}") for n in rest)
    return rows


_QUERIES: dict[str, Callable] = {n: q for m in _MODULES for n, q in m.QUERIES.items()}
_ORACLES: dict[str, str] = {n: o for m in _MODULES for n, o in m.ORACLES.items()}

_DRIVER_PRIORITY = [n for n, _ in build_window(list(_QUERIES), history(), FRONT)]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the 6-table star join
    revenue-by-nation (SURVEY.md §7.2)."""
    from aws_etl_dados_publicos_cnpj_spark.operators.relational import q05_revenue_by_nation

    return q05_revenue_by_nation(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: _QUERIES[n] for n in _DRIVER_PRIORITY}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return dict(_ORACLES)
