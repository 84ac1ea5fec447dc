"""Source-listing scan — the engine's form of the reference's HTML
directory scrape (S1–S3, ``lambdas/check_update/check_update.py:40-53,95-97``).

The listing is tiny metadata (tens of rows), so parsing happens
driver-side and the rows become a small local relation (an Arrow-built
``LocalTableScan``) that the driver-side planner (``plans/planner.py``)
collects without a Spark job; the planner returns its manifest through
``local_df`` too. The HTML parser is the stdlib's; the planner itself
only needs the parsed-row DataFrame, so tests inject rows directly
(FIXTURES.md §A.6).
"""

from __future__ import annotations

from dataclasses import dataclass
from html.parser import HTMLParser

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

LISTING_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType(), True),
        T.StructField("href", T.StringType(), True),
        T.StructField("last_modified", T.StringType(), True),  # 'YYYY-MM-DD HH:MM'
        T.StructField("is_folder", T.BooleanType(), True),
    ]
)


@dataclass
class ListingRow:
    file_name: str
    href: str
    last_modified: str
    is_folder: bool


def local_df(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """Driver-side rows as a local relation.

    ``createDataFrame(list)`` plans a pickled-RDD scan that runs through
    Python workers every time the plan executes; an Arrow table plans
    to ``LocalTableScan``, which the JVM evaluates without a job.
    """
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, row, strict=True)) for row in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)


def listing_df(spark: SparkSession, rows: list[ListingRow] | list[tuple]) -> DataFrame:
    """Materialize parsed listing rows as the planner's input DataFrame."""
    data = [
        (r.file_name, r.href, r.last_modified, r.is_folder)
        if isinstance(r, ListingRow)
        else tuple(r)
        for r in rows
    ]
    return local_df(spark, data, LISTING_SCHEMA)


class _IndexTableParser(HTMLParser):
    """Minimal stdlib parser for Apache-style index pages: per ``<tr>``,
    collect the icon ``<img src>``, the ``<a href>`` + link text, and
    the ``<td>`` cell texts."""

    def __init__(self) -> None:
        super().__init__()
        self.rows: list[dict] = []
        self._row: dict | None = None
        self._in_td = False
        self._in_a = False

    def handle_starttag(self, tag: str, attrs) -> None:
        a = dict(attrs)
        if tag == "tr":
            self._row = {"img": "", "href": None, "text": "", "cells": []}
        elif self._row is not None:
            if tag == "img":
                self._row["img"] = a.get("src", "") or ""
            elif tag == "a":
                self._row["href"] = a.get("href", "")
                self._in_a = True
            elif tag == "td":
                self._in_td = True
                self._row["cells"].append("")

    def handle_endtag(self, tag: str) -> None:
        if tag == "tr" and self._row is not None:
            self.rows.append(self._row)
            self._row = None
        elif tag == "td":
            self._in_td = False
        elif tag == "a":
            self._in_a = False

    def handle_data(self, data: str) -> None:
        if self._row is None:
            return
        if self._in_a:
            self._row["text"] += data
        if self._in_td and self._row["cells"]:
            self._row["cells"][-1] += data


def parse_listing_html(html: str) -> list[ListingRow]:
    """Parse an Apache-style index page into listing rows.

    Mirrors the reference's row walk (``check_update.py:40-50``): each
    ``<tr>`` holds an icon ``<img>``, an ``<a href>`` file link, and a
    last-modified cell; the first 3 rows and the final row are
    header/nav chrome (``check_update.py:46``) — that slice is applied
    here as part of parsing (it is an artifact of the HTML table, not of
    the data), while the folder/name/date logic stays in the planner.
    Uses the stdlib HTML parser (bs4 is an optional extra, not
    required).
    """
    parser = _IndexTableParser()
    parser.feed(html)
    out: list[ListingRow] = []
    for row in parser.rows[3:-1]:
        if row["href"] is None or len(row["cells"]) < 3:
            continue
        out.append(
            ListingRow(
                file_name=row["text"].strip(),
                href=row["href"],
                last_modified=row["cells"][2].strip(),
                is_folder="folder" in row["img"],
            )
        )
    return out


def fetch_listing(spark: SparkSession, url: str, timeout: float = 15.0) -> DataFrame:
    """Scrape a live index page (15 s timeout per
    ``cnpj_infra_template.yml:135``) → listing DataFrame."""
    from urllib.request import urlopen

    with urlopen(url, timeout=timeout) as resp:  # noqa: S310 - source URL is operator-supplied
        html = resp.read().decode("utf-8", errors="replace")
    return listing_df(spark, parse_listing_html(html))
