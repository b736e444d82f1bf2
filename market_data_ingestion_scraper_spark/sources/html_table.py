"""HTML-table batch source — the reference's literal scan boundary (S1).

The reference scrapes a live DOM table (``scraper/table_scraper.py:4-43``):
only ``<table class='alltable'>`` is read (``:9``), a table without both
``<thead>`` and ``<tbody>`` yields nothing (``:11-12``), headers are the
stripped text of ``<th class='header'>`` inside thead (``:16``), and each
body row is the FIRST ``<td class='tleft2'>`` cell followed by every
``<td class='tleft'>`` cell in order (``:25-33``) — all cells strings.

This module re-expresses that contract over *landed HTML files*:

- Parsing uses the stdlib ``html.parser`` (bs4 is not available in this
  container); the grammar the reference targets is plain table markup,
  which ``HTMLParser`` covers fully.  Text extraction mirrors bs4's
  ``get_text(strip=True)``: each text node is stripped, then concatenated.
- Distribution: files arrive through Spark's ``binaryFile`` source — a
  real distributed scan with its own partitioning — and are parsed inside
  ``mapInPandas``, one Python pass per file, rows streaming out as Arrow
  batches.  The unit of parallelism is the file, exactly the reference's
  one-page-one-table work unit.  At 100 TB of landed HTML nothing here
  shuffles: parse output flows straight into downstream operators
  (``operators.ingest.normalize`` types and lineage-stamps it).

Divergences from the reference, both guards it lacks: rows whose cell
count does not match the header count are dropped (bs4 + pandas would
throw mid-scrape), and files whose headers differ from the expected set
are skipped rather than mis-aligned by position (``mode="strict"``), or
matched by header name under the caller's superset schema with missing
values null (``mode="union"`` — the reference's pages carry per-commodity
header variants, ``scraper/table_scraper.py:16``).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

# Ship closures by value: the driving process may load the repo by file
# path only (see operators/multimodal.py for the full rationale).
import sys as _sys

from pyspark import cloudpickle as _cloudpickle

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])


class _AllTableParser(HTMLParser):
    """Streaming parse of the first ``table.alltable`` in a document."""

    def __init__(self) -> None:
        super().__init__()
        self.headers: list[str] = []
        self.rows: list[list[str]] = []
        self.saw_thead = False
        self.saw_tbody = False
        self._in_table = False
        self._done = False
        self._in_thead = False
        self._in_tbody = False
        self._cell: list[str] | None = None
        self._cell_kind: str | None = None  # header | tleft2 | tleft
        self._row: list[tuple[str, str]] | None = None

    @staticmethod
    def _classes(attrs: list[tuple[str, str | None]]) -> list[str]:
        for k, v in attrs:
            if k == "class":
                return (v or "").split()
        return []

    def handle_starttag(self, tag: str, attrs) -> None:
        if self._done:
            return
        cls = self._classes(attrs)
        if tag == "table":
            if not self._in_table and "alltable" in cls:
                self._in_table = True
            return
        if not self._in_table:
            return
        if tag == "thead":
            self._in_thead = self.saw_thead = True
        elif tag == "tbody":
            self._in_tbody = self.saw_tbody = True
        elif tag == "th" and self._in_thead and "header" in cls:
            self._cell, self._cell_kind = [], "header"
        elif tag == "tr" and self._in_tbody:
            self._row = []
        elif tag == "td" and self._row is not None:
            if "tleft2" in cls:
                self._cell, self._cell_kind = [], "tleft2"
            elif "tleft" in cls:
                self._cell, self._cell_kind = [], "tleft"

    def handle_data(self, data: str) -> None:
        if self._cell is not None:
            # bs4 get_text(strip=True): strip each node, concatenate
            s = data.strip()
            if s:
                self._cell.append(s)

    def handle_endtag(self, tag: str) -> None:
        if self._done or not self._in_table:
            return
        if tag in ("th", "td") and self._cell is not None:
            text = "".join(self._cell)
            if self._cell_kind == "header":
                self.headers.append(text)
            elif self._row is not None:
                self._row.append((self._cell_kind, text))
            self._cell = self._cell_kind = None
        elif tag == "tr" and self._row is not None:
            # reference row assembly: first td.tleft2, then every td.tleft
            first = next((t for k, t in self._row if k == "tleft2"), None)
            rest = [t for k, t in self._row if k == "tleft"]
            self.rows.append(([first] if first is not None else []) + rest)
            self._row = None
        elif tag == "thead":
            self._in_thead = False
        elif tag == "tbody":
            self._in_tbody = False
        elif tag == "table":
            self._done = True
            self._in_table = False


def parse_alltable(html: str) -> tuple[list[str], list[list[str]]] | None:
    """(headers, rows) of the first ``table.alltable``, or None when the
    table (or its thead/tbody) is absent — the reference's null return."""
    p = _AllTableParser()
    p.feed(html)
    p.close()
    if not (p.saw_thead and p.saw_tbody):
        return None
    return p.headers, p.rows


def _project_rows(
    hdrs: list[str],
    rows: list[list[str]],
    expected: list[str],
    mode: str,
) -> list[tuple[int, list[str | None]]] | None:
    """Map one parsed page onto the ``expected`` header schema.

    ``strict``: headers must equal ``expected`` exactly (order included) —
    anything else skips the file, the original guard.  ``union``: the
    reference scrapes whatever headers a commodity page has
    (``scraper/table_scraper.py:16`` — per-page variants), so rows are
    matched to expected columns BY NAME: missing headers yield null,
    reordered headers land correctly, headers outside ``expected`` are
    dropped (the caller's list is the declared superset — a static Spark
    schema cannot widen mid-scan).  SURVEY §1.3's
    ``unionByName(allowMissingColumns=True)`` decision, applied at the
    parse boundary.

    Returns (row_idx, cells) pairs — row_idx is the ORIGINAL body-row
    index, so dropped malformed rows leave visible gaps in the lineage."""
    if mode == "strict":
        if hdrs != expected:
            return None
        return [(i, list(r)) for i, r in enumerate(rows) if len(r) == len(expected)]
    pos = {h: i for i, h in enumerate(hdrs)}
    return [
        (i, [r[pos[h]] if h in pos else None for h in expected])
        for i, r in enumerate(rows)
        if len(r) == len(hdrs)
    ]


def read_html_tables(
    spark: SparkSession,
    path: str,
    headers: list[str],
    columns: list[str] | None = None,
    mode: str = "strict",
) -> DataFrame:
    """Scan a directory/glob of landed HTML files into string rows.

    ``headers`` is the expected ``th.header`` text list (the schema rule).
    ``mode="strict"`` (default) skips files whose extracted headers differ;
    ``mode="union"`` accepts header variants, matching columns by name
    under the ``headers`` superset with missing values null (see
    :func:`_project_rows`).  Output columns are ``columns`` (default: the
    headers), all strings, plus ``src_file`` and ``row_idx`` lineage —
    feed the result to ``operators.ingest.normalize`` for typing, exactly
    as the parquet raw layer."""
    if mode not in ("strict", "union"):
        raise ValueError(f"mode must be 'strict' or 'union', got {mode!r}")
    cols = list(columns or headers)
    if len(cols) != len(headers):
        raise ValueError("columns must match headers length")
    expected = list(headers)
    out_schema = (
        ", ".join(f"`{c}` string" for c in cols)
        + ", src_file string, row_idx long"
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = [*cols, "src_file", "row_idx"]
        for pdf in batches:
            recs: list[tuple] = []
            for path_, content in zip(pdf["path"], pdf["content"]):
                parsed = parse_alltable(bytes(content).decode("utf-8", "replace"))
                if parsed is None:
                    continue
                hdrs, rows = parsed
                projected = _project_rows(hdrs, rows, expected, mode)
                if projected is None:
                    continue
                fname = os.path.basename(str(path_))
                for i, r in projected:
                    recs.append((*r, fname, i))
            yield pd.DataFrame(recs, columns=names)

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.html")
        .load(path)
        .select("path", "content")
    )
    return files.mapInPandas(op, out_schema)


def render_alltable(headers: list[str], rows: list[list[str]]) -> str:
    """Render rows in the reference's exact markup (first cell
    ``td.tleft2``, rest ``td.tleft``) — the fixture-side inverse of
    :func:`parse_alltable`, used to land test pages."""
    th = "".join(f"<th class='header'>{h}</th>" for h in headers)
    trs = []
    for r in rows:
        tds = [f"<td class='tleft2'>{r[0]}</td>"] if r else []
        tds += [f"<td class='tleft'>{c}</td>" for c in r[1:]]
        trs.append("<tr>" + "".join(tds) + "</tr>")
    return (
        "<html><body><table class='alltable'>"
        f"<thead><tr>{th}</tr></thead>"
        f"<tbody>{''.join(trs)}</tbody>"
        "</table></body></html>"
    )
