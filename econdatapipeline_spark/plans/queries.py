"""Read-side query surface: dataset reads, revision history, alignment.

Covers the reference's entire read path (EP3, reference:
core_local/azure_data_tracker.py:167-233 and azure_connector.py:654-701)
plus the documented-but-absent export_data capability (J2, reference:
documentation/economic_indicators.md:71,122) and the standard
aggregation/window surface the docs describe but the code never had.

Every function returns a lazy DataFrame; Catalyst plans filter
pushdown + TakeOrderedAndProject (top-k) automatically — `.explain`
on get_revision_history shows PushedFilters on the parquet scan and a
TakeOrderedAndProject instead of a global sort.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from econdatapipeline_spark.sources.warehouse import Warehouse


def read_dataset(
    wh: Warehouse, name: str, date_from=None, date_to=None
) -> DataFrame:
    """Dataset scan with optional date-range pushdown (S4)."""
    df = wh.read(name)
    if date_from is not None:
        df = df.filter(F.col("date") >= F.lit(date_from))
    if date_to is not None:
        df = df.filter(F.col("date") <= F.lit(date_to))
    return df.orderBy("date")


def get_revision_history(
    wh: Warehouse,
    dataset: str | None = None,
    date=None,
    field: str | None = None,
    limit: int | None = None,
) -> DataFrame:
    """The reference's read-side SELECT (EP3):

        SELECT dataset, data_date, value_field, old_value, new_value,
               revision_date
        FROM datarevisions
        WHERE dataset = ? [AND data_date = ?] [AND value_field = ?]
        ORDER BY revision_date DESC LIMIT ?

    Conjunctive equality predicates (the reference's whole predicate
    language, azure_data_tracker.py:183-192) push to parquet stats.
    """
    df = wh.revisions()
    if dataset is not None:
        df = df.filter(F.col("dataset") == dataset)
    if date is not None:
        df = df.filter(F.col("data_date") == F.lit(str(date)))
    if field is not None:
        df = df.filter(F.col("value_field") == field)
    df = df.orderBy(F.desc("revision_date"))
    if limit is not None:
        df = df.limit(limit)
    return df


def latest_values(wh: Warehouse, name: str, n: int = 5) -> DataFrame:
    """Newest n observations (O3 head/tail preview)."""
    return wh.read(name).orderBy(F.desc("date")).limit(n)


def stack_datasets(wh: Warehouse, names: list[str]) -> DataFrame:
    """All single-value datasets as one tall (dataset, date, value) table.

    The relational union the reference never had (its driver used list
    concat, main_azure.py:267-269). At 100 TB this IS the warehouse
    layout: one table partitioned by dataset.
    """
    def part(name: str) -> DataFrame:
        df = wh.read(name)
        return df.select(
            F.lit(name).alias("dataset"),
            F.col("date"),
            F.col(df.columns[1]).cast("double").alias("value"),
        )

    return reduce(lambda a, b: a.unionByName(b), map(part, names))


def export_wide(wh: Warehouse, names: list[str]) -> DataFrame:
    """Date-aligned wide table: one row per date, one column per dataset
    (J2 — the documented export_data.py that is absent from the repo).

    pivot over an explicit dataset list keeps the plan static (no
    driver-side distinct scan) — a single shuffle on date.
    """
    tall = stack_datasets(wh, names)
    return (
        tall.groupBy("date")
        .pivot("dataset", names)
        .agg(F.first("value"))
        .orderBy("date")
    )


def resample_last(wh: Warehouse, names: list[str], freq: str = "month") -> DataFrame:
    """Per-dataset period resample taking the last observation in period.

    The window form of time-series alignment (SURVEY §2.5): different
    series report at different frequencies; downstream analysis wants
    one value per (dataset, period).
    """
    tall = stack_datasets(wh, names)
    period = F.date_trunc(freq, F.col("date")).cast("date").alias("period")
    w = Window.partitionBy("dataset", period).orderBy(F.desc("date"))
    return (
        tall.withColumn("period", period)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("dataset", "period", "value")
    )


def dataset_stats(wh: Warehouse, names: list[str]) -> DataFrame:
    """Per-dataset summary aggregates (the analysis layer the reference
    documents but never implemented — free in Spark)."""
    tall = stack_datasets(wh, names)
    return tall.groupBy("dataset").agg(
        F.count("*").alias("n_obs"),
        F.min("date").alias("first_date"),
        F.max("date").alias("last_date"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )
