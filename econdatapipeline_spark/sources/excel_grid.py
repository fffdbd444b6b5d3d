"""EDB Excel fiscal-grid normalizer (scan S1 + transforms T1-T4, F1-F3).

The reference slices a spreadsheet range (e.g. A6:K18) into a 13x11
headerless frame: row 0 = fiscal-year headers, column 0 = month (or
quarter) labels in fiscal order, then header-promotes, melts, derives
calendar dates row-by-row, coerces, drops nulls, sorts and projects
(reference: core_local/azure_common_scrapers.py:66-140 monthly,
:198-237 quarterly).

Here the grid arrives as rows (driver-side ``pandas.read_excel`` on
KB-sized cached bytes — distributing a 13-row read would be overhead,
not parallelism). The cells enter Spark as an Arrow-backed local
relation of strings (``sources.payload.string_frame``), and everything
after that is a lazy, codegen'd column program: unpivot -> make_date ->
try_cast -> filter -> sort. The same program applied to a billion-row
grid would still be a narrow map + one sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from econdatapipeline_spark.functions.dates import (
    fiscal_monthly_date,
    fiscal_quarterly_date,
)
from econdatapipeline_spark.functions.parsing import coerce_numeric
from econdatapipeline_spark.operators.unpivot import melt
from econdatapipeline_spark.registry import DatasetSpec
from econdatapipeline_spark.sources.payload import string_frame


def grid_to_dataframe(spark: SparkSession, grid: Sequence[Sequence]) -> DataFrame:
    """Raw untyped grid rows -> DataFrame of strings (spreadsheet cells)."""
    ncols = max(len(r) for r in grid)
    return string_frame(spark, grid, [f"_c{i}" for i in range(ncols)])


def normalize_edb_grid(
    spark: SparkSession,
    grid: Sequence[Sequence],
    spec: DatasetSpec,
    quarterly: bool = False,
) -> DataFrame:
    """Full EDB normalization: grid -> (date, <value_col>) long table.

    Monthly golden mapping: July-December of fiscal year Y -> calendar
    Y-1; January-June -> Y; day = 1. Quarterly: label -> first of the
    month after quarter end. Unknown labels and junk cells -> dropped
    (null date / null value), matching errors='coerce' + dropna.
    """
    id_col = "Quarter" if quarterly else "Month"
    # Header promotion happens driver-side: the grid is already a local
    # list (the reference does the same in pandas,
    # azure_common_scrapers.py:117-121), so round-tripping row 0 through
    # a Spark collect job (operators.unpivot.promote_header — kept for
    # distributed inputs) would cost a job per ingested dataset.
    if len(grid) < 2:
        # an empty Arrow table, not an empty list: a local relation too
        return spark.createDataFrame(to_arrow_schema(spec.spark_schema()).empty_table())
    header, body = grid[0], grid[1:]
    headed = grid_to_dataframe(spark, body).toDF(
        id_col, *[str(v) for v in header[1:]]
    )
    long = melt(headed, id_vars=[id_col], var_name="Year", value_name="raw_value")

    if quarterly:
        date_expr = fiscal_quarterly_date(F.col(id_col), F.col("Year"))
    else:
        date_expr = fiscal_monthly_date(F.col(id_col), F.col("Year"))

    value_col = spec.value_column
    return (
        long.withColumn("date", date_expr)
        .withColumn(value_col, coerce_numeric(F.col("raw_value"), spec.value_type))
        .filter(F.col("date").isNotNull() & F.col(value_col).isNotNull())
        .select("date", value_col)
        .orderBy("date")
    )
