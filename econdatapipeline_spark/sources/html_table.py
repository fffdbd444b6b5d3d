"""HTML table source: stdlib parse of <table> markup into DataFrames.

Economic indicators are routinely published as HTML tables (central
bank stats pages, BLS releases) — the same niche as the reference's
Excel scrapers (core_local/azure_common_scrapers.py:35-79 downloads and
slices workbooks; an HTML page is the other common shape of the same
feed). Pages are KB-sized documents fetched by the cached HTTP layer
(sources/http_fetch.py), so parsing is driver-side stdlib
``html.parser`` — the distributed-read form would be wrong here, just
as SURVEY §2 S1 concluded for Excel — and the result enters Spark as an
Arrow-backed local relation of strings (``sources.payload``) for the
normalizer pipeline (header promotion, try_cast coercion) to treat
exactly like an Excel grid.

Handles: nested tables (each extracted separately, outermost first),
th/td cells, rowspan/colspan expansion (cells repeat into the spanned
grid positions, the convention pandas.read_html uses), entity decoding
via html.unescape, and whitespace collapse.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from pyspark.sql import DataFrame, SparkSession

from econdatapipeline_spark.sources.payload import string_frame


class _TableParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.tables: list[tuple[int, list[list[str]]]] = []
        self._stack: list[dict] = []  # one frame per open <table>
        self._cell: list[str] | None = None
        self._next_ord = 0

    def handle_starttag(self, tag, attrs):
        if tag == "table":
            self._stack.append(
                {"rows": [], "row": None, "spans": {}, "ord": self._next_ord}
            )
            self._next_ord += 1
        elif self._stack and tag == "tr":
            self._stack[-1]["row"] = []
        elif self._stack and tag in ("td", "th"):
            a = dict(attrs)
            self._cell = []
            self._stack[-1]["cell_attrs"] = (
                int(a.get("colspan") or 1),
                int(a.get("rowspan") or 1),
            )

    def handle_endtag(self, tag):
        if not self._stack:
            return
        frame = self._stack[-1]
        if tag in ("td", "th") and self._cell is not None:
            text = re.sub(r"\s+", " ", "".join(self._cell)).strip()
            colspan, rowspan = frame.pop("cell_attrs", (1, 1))
            row = frame["row"]
            if row is not None:
                r_idx = len(frame["rows"])
                # place after any cells claimed by earlier rowspans
                c_idx = len(row)
                while (r_idx, c_idx) in frame["spans"]:
                    row.append(frame["spans"].pop((r_idx, c_idx)))
                    c_idx = len(row)
                for c in range(colspan):
                    row.append(text)
                    for r in range(1, rowspan):
                        frame["spans"][(r_idx + r, c_idx + c)] = text
            self._cell = None
        elif tag == "tr" and frame["row"] is not None:
            r_idx = len(frame["rows"])
            row = frame["row"]
            c_idx = len(row)
            while (r_idx, c_idx) in frame["spans"]:
                row.append(frame["spans"].pop((r_idx, c_idx)))
                c_idx = len(row)
            frame["rows"].append(row)
            frame["row"] = None
        elif tag == "table":
            done = self._stack.pop()
            if done["row"] is not None:  # unclosed final <tr>
                done["rows"].append(done["row"])
            self.tables.append((done["ord"], done["rows"]))

    def handle_data(self, data):
        if self._cell is not None:
            self._cell.append(data)


def extract_tables(html_text: str) -> list[list[list[str]]]:
    """All <table> grids in source order (each table is tagged with its
    <table>-start ordinal at parse time, so nested tables — which CLOSE
    before their parents — still sort to where they appeared)."""
    p = _TableParser()
    # No pre-feed unescape: HTMLParser(convert_charrefs=True) already
    # decodes entities in text nodes. Unescaping the whole document
    # first would turn escaped markup inside cells ("&lt;table&gt;...")
    # into live tags (phantom nested tables, lost cell text) and
    # double-decode entities ("&amp;amp;" -> "&").
    p.feed(html_text)
    p.close()
    return [rows for _, rows in sorted(p.tables)]


def read_html_table(
    spark: SparkSession,
    html_text: str | bytes,
    table_index: int = 0,
    header: bool = True,
) -> DataFrame:
    """One <table> -> DataFrame of strings (normalizers add types).

    ``header=True`` promotes the first row to column names
    (snake_cased, de-duplicated with _2/_3 suffixes); otherwise
    columns are c0..cN. Ragged rows pad with null to the widest row —
    the Excel-grid convention (sources/excel_grid.py).
    """
    if isinstance(html_text, bytes):
        html_text = html_text.decode("utf-8", errors="replace")
    tables = extract_tables(html_text)
    if not tables:
        raise ValueError("no <table> found in document")
    grid = tables[table_index]
    if not grid:
        raise ValueError(f"table {table_index} is empty")
    width = max(len(r) for r in grid)
    norm = [list(r) + [None] * (width - len(r)) for r in grid]
    if header:
        raw_names = [(c or f"c{i}") for i, c in enumerate(norm[0])]
        names, seen = [], {}
        for n in raw_names:
            n = re.sub(r"[^0-9a-zA-Z]+", "_", str(n)).strip("_").lower() or "c"
            seen[n] = seen.get(n, 0) + 1
            names.append(n if seen[n] == 1 else f"{n}_{seen[n]}")
        body = norm[1:]
    else:
        names = [f"c{i}" for i in range(width)]
        body = norm
    return string_frame(spark, body, names)
