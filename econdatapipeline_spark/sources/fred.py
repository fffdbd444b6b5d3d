"""FRED observations normalizer (scan S2 + F4/F7/F8/P4).

The reference GETs ``series/observations`` JSON, caches the raw bytes,
then: observations[] -> 2-col frame -> rename value column -> replace
the ``"."`` missing sentinel -> to_numeric(coerce) -> dropna -> sort
asc -> quarterly +3-month adjust -> optional int cast
(reference: core_local/azure_fred_scraper.py:62-156).

Here the network fetch stays a driver-side concern (the payload is
capped at 1,000 observations); normalization is a lazy Spark program.
``normalize_fred_json`` accepts the raw response dict (or JSON string)
so the landing-zone replay story is: cache raw JSON -> re-normalize
any time.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from econdatapipeline_spark.functions.dates import fred_quarterly_adjust
from econdatapipeline_spark.functions.parsing import (
    coerce_numeric,
    replace_missing_sentinel,
)
from econdatapipeline_spark.registry import DatasetSpec
from econdatapipeline_spark.sources.payload import string_frame


def observations_to_dataframe(spark: SparkSession, payload: dict | str) -> DataFrame:
    """Raw FRED response -> (date string, value string) DataFrame."""
    if isinstance(payload, str):
        payload = json.loads(payload)
    obs = payload.get("observations", [])
    rows = [(o.get("date"), o.get("value")) for o in obs]
    return string_frame(spark, rows, ["date", "value"])


def normalize_fred_observations(
    spark: SparkSession, payload: dict | str, spec: DatasetSpec
) -> DataFrame:
    """Full FRED normalization: raw JSON -> (date, <value_col>) table.

    Quarterly series arrive stamped first-of-quarter; the golden output
    shifts them +3 months (first of the month after quarter end, Q4
    rolling into the next year — azure_fred_scraper.py:158-188).
    """
    value_col = spec.value_column
    df = observations_to_dataframe(spark, payload)
    date_expr = F.to_date("date")
    if spec.frequency == "q":
        date_expr = fred_quarterly_adjust(date_expr)
    return (
        df.withColumn("value", replace_missing_sentinel(F.col("value")))
        .select(
            date_expr.alias("date"),
            coerce_numeric(F.col("value"), spec.value_type).alias(value_col),
        )
        .filter(F.col("date").isNotNull() & F.col(value_col).isNotNull())
        .orderBy("date")
    )


def normalize_fred_rows(df: DataFrame, spec: DatasetSpec) -> DataFrame:
    """Row-relation twin of ``normalize_fred_observations``: normalize
    a (obs_date string, value_raw string) DataFrame — e.g. the
    ``fred_replay`` data source's output — into (date, <value_col>).

    Same semantics as the payload path: '.' missing sentinel, tolerant
    numeric coercion, quarterly +3-month adjustment; pure column
    expressions so it runs identically inside a foreachBatch sink."""
    value_col = spec.value_column
    date_expr = F.to_date("obs_date")
    if spec.frequency == "q":
        date_expr = fred_quarterly_adjust(date_expr)
    return (
        df.withColumn("value", replace_missing_sentinel(F.col("value_raw")))
        .select(
            date_expr.alias("date"),
            coerce_numeric(F.col("value"), spec.value_type).alias(value_col),
        )
        .filter(F.col("date").isNotNull() & F.col(value_col).isNotNull())
    )
