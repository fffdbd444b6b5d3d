"""Payload frames: driver-side cells -> a Spark DataFrame of strings.

Every source parses its KB-sized payload on the driver (a workbook
grid, FRED JSON, an NYU sheet, an HTML table) and hands the cells to
Spark as strings; the normalizers then type them with column
expressions. The cells go in as one Arrow table, which Spark plans as
a ``LocalRelation``: the rows live in the plan, its size statistic is
exact, Catalyst folds the normalizer's column program into it while
optimizing, and no scan starts a Python worker. A Python list passed to
``createDataFrame`` instead becomes a pickled RDD (``Scan
ExistingRDD``) whose size Catalyst cannot know (sizeInBytes = 8e18)
and whose every scan unpickles the rows again in a task.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession


def string_frame(
    spark: SparkSession, rows: Sequence[Sequence], names: Sequence[str]
) -> DataFrame:
    """Rows of cells -> one nullable string column per name.

    Cells are ``str()``-ed and None stays null; a row shorter than
    ``names`` is padded with nulls (the ragged-grid convention).
    """
    width = len(names)
    padded = [
        [None if c is None else str(c) for c in row] + [None] * (width - len(row))
        for row in rows
    ]
    columns = list(zip(*padded)) if padded else [()] * width
    table = pa.Table.from_arrays(
        [pa.array(c, pa.string()) for c in columns], names=list(names)
    )
    return spark.createDataFrame(table)
