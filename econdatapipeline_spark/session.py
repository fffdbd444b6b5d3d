"""SparkSession factory tuned for both local testing and cluster scale.

Local runs use ``local[N]`` with shuffle partitions matched to cores; on a
real cluster the same knobs (AQE, adaptive coalescing, skew-join handling)
are what keep a 100 TB job healthy. UTC session timezone keeps timestamp
semantics identical to the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))

# The directory holding the econdatapipeline_spark package. Python UDFs
# are pickled by module reference, so their workers must import the
# package even when the driver found it through a script's own
# sys.path insert rather than its working directory.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "econdatapipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    AQE is on so runtime stats re-plan skewed joins and coalesce small
    shuffle partitions — at 100 TB this is the difference between a
    balanced stage and a straggler. Arrow is enabled for the (rare)
    Pandas-UDF paths and fast toPandas in tests.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS * 4

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Size-based coalescing (not parallelism-first) with a LATENCY-
        # oriented advisory size. AQE coalescing only ever MERGES
        # post-shuffle partitions up to the advisory target, so large
        # stages are bounded by spark.sql.shuffle.partitions under any
        # value; the advisory only decides how far SMALL stages
        # collapse. The engine's operators are aggregation/join chains
        # whose sub-32MB shuffle stages are CPU-dense (decimal sums,
        # dedup, windows) — bytes badly underestimate their compute —
        # and a 32 MB advisory serialized them onto 1 task. 1 MB keeps
        # them parallel: paired sweep over 18 contract queries measured
        # 0.62-0.99x (median ~0.85x), zero regressions
        # (OPTIMIZATION_r11.md). Throughput-oriented clusters running
        # multi-GB stages can raise it via SPARK_GRAFT_ADVISORY_MB —
        # the coalesce floor, not the stage width, is what changes.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            str(int(os.environ.get("SPARK_GRAFT_ADVISORY_MB", "1")) * 1024 * 1024),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Python DataSource API pushdown (sources/fred_source.py): lets
        # a custom source's pushFilters() prune input partitions.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Runtime row-level filtering: when one join side is selective,
        # inject a bloom filter of its join keys into the other side's
        # scan (and a semi-join pre-filter where cheaper). At 100 TB this
        # prunes most of the big fact scan before the shuffle — the
        # runtime analog of static partition pruning. Threshold lowered
        # so mid-sized creation sides (a filtered dimension) still
        # qualify.
        # Generated methods above HotSpot's 8 KB bytecode ceiling never
        # JIT, so compiling them with janino is pure cost; capping at
        # the JIT inline threshold makes Spark fall back to interpreted
        # evaluation for oversized methods (SPARK-21871). Measured here:
        # ~20% off first-run plan cost on expression-heavy queries
        # (fiscal CASEs, 16-column MinHash aggs), steady-state unchanged.
        .config("spark.sql.codegen.hugeMethodLimit", "1500")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # (runtimeFilter.semiJoinReduction deliberately left at default:
        # enabling it stalls session startup on this Spark build.)
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
