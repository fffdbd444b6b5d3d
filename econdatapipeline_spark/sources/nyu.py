"""NYU Stern ERP workbook normalizer (scan S3 + T5 fuzzy headers + F9).

The reference reads sheet 'Historical ERP' with headers, trims them,
fuzzy-matches the four expected columns (case-insensitive substring),
renames to schema names, parses mixed percent formats per cell, sorts
by date and drops nulls (reference: core_local/azure_nyu_scraper.py:
86-162).

Header resolution is schema metadata -> driver-side Python; the percent
heuristic is a pure column expression (functions.parsing.parse_percent),
so the whole value path stays in codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from econdatapipeline_spark.functions.parsing import parse_percent
from econdatapipeline_spark.sources.payload import string_frame

# Expected header -> schema name (azure_nyu_scraper.py:93,114-120).
EXPECTED_HEADERS: dict[str, str] = {
    "Start of month": "date",
    "T.Bond Rate": "tbond_rate",
    "ERP (T12m)": "erp_t12m",
    "Expected Return": "expected_return",
}
VALUE_COLS = ("tbond_rate", "erp_t12m", "expected_return")


def resolve_headers(actual: Sequence[str]) -> dict[str, str]:
    """Fuzzy header resolution: actual column -> schema name.

    Exact match first, then case-insensitive substring containment of
    the expected header in the actual one (azure_nyu_scraper.py:94-109).
    Raises if any expected column stays unmatched (the reference returns
    an empty frame; raising surfaces the schema drift instead).
    """
    stripped = {col: str(col).strip() for col in actual}
    mapping: dict[str, str] = {}
    for expected, schema_name in EXPECTED_HEADERS.items():
        match = next((c for c, s in stripped.items() if s == expected), None)
        if match is None:
            match = next(
                (c for c, s in stripped.items()
                 if expected.lower() in s.lower() and c not in mapping),
                None,
            )
        if match is None:
            raise ValueError(f"Missing NYU ERP column: {expected!r} in {list(actual)}")
        mapping[match] = schema_name
    return mapping


def normalize_nyu_sheet(spark: SparkSession, rows: Sequence[dict]) -> DataFrame:
    """Sheet rows (header-keyed dicts) -> (date, tbond_rate, erp_t12m,
    expected_return) with the reference's percent-format heuristic.
    """
    if not rows:
        raise ValueError("empty NYU ERP sheet")
    headers = list(rows[0].keys())
    mapping = resolve_headers(headers)
    raw = string_frame(
        spark, [[r.get(c) for c in mapping] for r in rows], [str(c) for c in mapping]
    )
    renamed = raw.select(
        *[F.col(f"`{c}`").alias(name) for c, name in mapping.items()]
    )
    out = renamed.select(
        F.to_date(F.to_timestamp("date")).alias("date"),
        *[parse_percent(F.col(c)).alias(c) for c in VALUE_COLS],
    )
    return out.na.drop().orderBy("date")
