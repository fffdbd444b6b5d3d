"""Parquet warehouse: the engine's storage layer.

Replaces Azure Table Storage (reference: core_local/azure_connector.py)
with a directory of Parquet tables:

    <root>/<dataset>/            one table per dataset (date, value...)
    <root>/datarevisions/        append-only audit log
    <root>/scrapermetadata/      per-dataset ingestion watermark

Design notes for scale: dataset tables are rewritten atomically per
merge (datasets are independent, as in the reference where each is its
own Azure table); the revision log is append-only so the audit path
never does read-modify-write; reads go through Spark's parquet source
so Catalyst pushes predicates into row-group stats (the Spark analog of
the reference's server-side OData filters, azure_connector.py:244-266).
At 100 TB a dataset table would additionally be partitioned by year —
``write_dataset`` accepts ``partition_cols`` for that.

Every read hands Spark a schema, so building a read frame launches no
Spark job. Tables with a fixed schema (revision log, watermarks) pass
it from the registry. Dataset tables and snapshots pass the schema
Spark stored in the footer of the file its own inference would open
(``_footer_schema``); where Spark would infer some other way, the read
is a plain ``spark.read.parquet``.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
from datetime import datetime, timezone, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from econdatapipeline_spark.registry import (
    METADATA_SCHEMA,
    METADATA_TABLE,
    REVISIONS_SCHEMA,
    REVISIONS_TABLE,
)

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_MICROSECOND = timedelta(microseconds=1)
# the footer key under which Spark's parquet writer stores the exact
# StructType it wrote (ParquetReadSupport.SPARK_METADATA_KEY)
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_SUMMARY_FILES = ("_metadata", "_common_metadata")


def _listed(name: str) -> bool:
    """Whether Spark's file index lists a file or directory of this
    name (InMemoryFileIndex.shouldFilterOutPathName)."""
    if name.startswith(_SUMMARY_FILES):
        return True
    return not (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _footer_schema(path: str) -> StructType | None:
    """The data schema Spark's parquet inference returns for the table
    at ``path``, read on the driver with pyarrow, or None where Spark
    would find it some other way (see ``Warehouse.read``).

    Without summary files or mergeSchema, Spark opens the first listed
    data file by sorted path (ParquetUtils.splitFiles) and returns the
    schema stored under its key in that footer unchanged
    (readSchemaFromFooter).
    """
    files = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if _listed(d)]
        for name in filenames:
            if name in _SUMMARY_FILES:
                return None
            if _listed(name):
                files.append(os.path.join(dirpath, name))
    if not files:
        return None
    try:
        raw = (pq.read_schema(min(files)).metadata or {}).get(_SPARK_SCHEMA_KEY)
        return StructType.fromJson(json.loads(raw)) if raw else None
    except (OSError, ValueError, KeyError, TypeError):
        return None


class Warehouse:
    """Filesystem-backed Parquet catalog (local dir, HDFS, or object store)."""

    def __init__(self, spark: SparkSession, root: str, history_depth: int = 0):
        self.spark = spark
        self.root = root
        # snapshots retained per table on overwrite (0 = off, the
        # reference behavior); see the table-snapshots section below
        self.history_depth = history_depth
        os.makedirs(root, exist_ok=True)
        # Serializes writers of SHARED tables (watermarks, revision log)
        # when datasets run concurrently (pipeline.run_pipeline
        # max_workers > 1). Two concurrent Spark writes into the same
        # directory race on its _temporary staging dir, and the
        # watermark table is read-modify-write; per-dataset tables need
        # no lock — each dataset owns its directory.
        self._shared_write_lock = threading.RLock()
        # Reclaim watermark staging debris from a writer that crashed
        # between its parquet write and the locked swap. Staging dirs
        # start with '_' so Spark's partition discovery never sees them
        # (a live writer racing this sweep is safe: its staging dir is
        # uuid-unique and it re-creates on retry).
        meta = self.path(METADATA_TABLE)
        if os.path.isdir(meta):
            for entry in os.listdir(meta):
                if entry.startswith("_staging-"):
                    shutil.rmtree(os.path.join(meta, entry),
                                  ignore_errors=True)

    # -- paths / catalog -------------------------------------------------
    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(p)
        )

    def initialize(self, tables: list[str]) -> None:
        """Idempotent catalog init (== initialize_tables, azure_connector.py:427-451)."""
        for t in tables:
            os.makedirs(self.path(t), exist_ok=True)

    def drop(self, table: str) -> None:
        shutil.rmtree(self.path(table), ignore_errors=True)

    # -- reads -----------------------------------------------------------
    def read(self, table: str, merge_schema: bool = False) -> DataFrame:
        """Read a table; ``merge_schema=True`` unions the schemas of all
        parquet files (schema evolution on append-only tables: files
        written before a column existed read it back as NULL).

        Off by default because schema merging footer-scans every file —
        at 100 TB pay that only on tables that actually evolve (the
        revision log when a new audit column lands), and compact after
        an evolution so the steady state is single-schema again.

        Without it the schema is the one Spark's inference would pick:
        the Spark schema stored in the footer of the table's first data
        file, read on the driver (``_footer_schema``). Spark gets it
        through ``spark.read.schema``, so building the frame launches
        no job; inferring it would cost one job per read. A table whose
        schema Spark would find some other way (``merge_schema``, the
        session's ``spark.sql.parquet.mergeSchema``, summary files, a
        first file not written by Spark, a missing or empty table) is
        read with plain ``spark.read.parquet``: same schema, same
        errors as before.
        """
        return self._read_parquet(self.path(table), merge_schema)

    def _read_parquet(self, path: str, merge_schema: bool = False) -> DataFrame:
        """``spark.read.parquet(path)`` with the schema Spark would infer
        handed over up front when the footer gives it (see ``read``)."""
        r = self.spark.read
        if merge_schema:
            return r.option("mergeSchema", "true").parquet(path)
        if self.spark.conf.get("spark.sql.parquet.mergeSchema").lower() != "true":
            schema = _footer_schema(path)
            if schema is not None:
                r = r.schema(schema)
        return r.parquet(path)

    def read_or_empty(self, table: str, schema) -> DataFrame:
        """Read a table with the caller's schema, or an empty frame of it.

        The known schema goes to the reader, so no footer-inference job
        runs. A stored column whose type differs from ``schema`` still
        fails loudly: the scan raises (Spark refuses the conversion)
        instead of reading the column back as NULL.
        """
        if self.exists(table):
            return self.spark.read.schema(schema).parquet(self.path(table))
        return self._empty(schema)

    def _empty(self, schema) -> DataFrame:
        """An empty frame of ``schema`` as a local relation: an empty
        Arrow table, not an empty list, which would plan as a pickled
        RDD scan of unknown size."""
        return self.spark.createDataFrame(to_arrow_schema(schema).empty_table())

    def point_lookup(self, table: str, date) -> DataFrame:
        """Single-row fetch by key (== get_entity, azure_connector.py:219-242).

        An equality filter on the table's sort key: Parquet min/max
        row-group stats skip everything else.
        """
        return self.read(table).filter(F.col("date") == F.lit(date))

    # -- writes ----------------------------------------------------------
    def write_dataset(
        self,
        df: DataFrame,
        table: str,
        partition_cols: list[str] | None = None,
        extra_files: dict[str, bytes] | None = None,
    ) -> None:
        """Atomic overwrite of one dataset table.

        Writes to a staging dir then swaps, so a failed job never leaves
        a half-written table (Azure batch transactions gave the reference
        per-100-row atomicity; file swap gives whole-table atomicity).

        ``extra_files``: {name: bytes} written INTO the staging dir
        before the swap — metadata that must commit atomically WITH the
        data (e.g. a streaming batch-id marker). Names must start with
        ``_`` so Spark's parquet reader ignores them.
        """
        self._swap_in(self._stage(df, table, partition_cols, extra_files), table)

    def _stage(
        self,
        df: DataFrame,
        table: str,
        partition_cols: list[str] | None,
        extra_files: dict[str, bytes] | None,
    ) -> str:
        """Write ``df`` (plus ``extra_files``) to the table's staging
        dir and return its path; the live table is not touched."""
        staging = self.path(table) + "__staging"
        writer = df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        try:
            writer.parquet(staging)
            for name, data in (extra_files or {}).items():
                if not name.startswith("_"):
                    raise ValueError(
                        f"extra_files names must start with '_': {name!r}"
                    )
                with open(os.path.join(staging, name), "wb") as fh:
                    fh.write(data)
        except BaseException:
            # A failed job must leave no trace: the current table stays
            # untouched and the half-written staging dir is removed so
            # a retry starts clean.
            shutil.rmtree(staging, ignore_errors=True)
            raise
        return staging

    def _swap_in(self, staging: str, table: str) -> None:
        """Replace the live table with a staged one (metadata renames)."""
        final = self.path(table)
        if os.path.isdir(final):
            # exists() and not bare isdir: initialize() pre-creates
            # empty table dirs — an empty placeholder is not a version
            if self.history_depth > 0 and self.exists(table):
                self._snapshot_current(table)
                shutil.rmtree(final, ignore_errors=True)
            else:
                shutil.rmtree(final)
        os.rename(staging, final)

    # -- table snapshots (storage-level time travel) ---------------------
    #
    # The revision log answers "what VALUES changed, when" (SCD2 / EP3);
    # snapshots answer "re-run yesterday's query against yesterday's
    # PLAN INPUT" — the lakehouse time-travel contract. Each overwrite
    # (with history_depth > 0 on the Warehouse) renames the outgoing
    # table directory into <root>/_history/<table>/v<k>/ before the
    # staged swap: two metadata renames, no data copied, and the live
    # read path is untouched (readers never look under _history).

    def _history_dir(self, table: str) -> str:
        return os.path.join(self.root, "_history", table)

    def _snapshot_current(self, table: str) -> None:
        versions = self.list_snapshots(table)
        nxt = (versions[-1] + 1) if versions else 1
        dst = os.path.join(self._history_dir(table), f"v{nxt}")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(self.path(table), dst)
        keep = self.history_depth
        for v in versions[: max(0, len(versions) + 1 - keep)]:
            shutil.rmtree(
                os.path.join(self._history_dir(table), f"v{v}"),
                ignore_errors=True,
            )

    def list_snapshots(self, table: str) -> list[int]:
        """Retained snapshot versions, oldest first."""
        d = self._history_dir(table)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(n[1:]) for n in os.listdir(d)
            if n.startswith("v") and n[1:].isdigit()
        )

    def table_file(self, table: str, name: str) -> bytes | None:
        """Read a ``_``-prefixed sidecar file committed with the table
        via ``write_dataset(extra_files=...)``; None if absent."""
        p = os.path.join(self.path(table), name)
        if not os.path.isfile(p):
            return None
        with open(p, "rb") as fh:
            return fh.read()

    def read_snapshot(self, table: str, version: int) -> DataFrame:
        """Time travel: the table exactly as it was before the overwrite
        that created snapshot ``version``. Pair with
        ``operators.diff.snapshot_diff`` for storage-level CDC between
        any two versions. A snapshot is a renamed table directory, so
        it reads with the footer schema as ``read`` does: no job."""
        p = os.path.join(self._history_dir(table), f"v{version}")
        if not os.path.isdir(p):
            raise FileNotFoundError(
                f"no snapshot v{version} for {table!r}; have {self.list_snapshots(table)}"
            )
        return self._read_parquet(p)

    def delete_rows(self, table: str, predicate) -> int:
        """Targeted hard delete (right-to-be-forgotten): rewrite the
        table WITHOUT rows matching ``predicate``; returns the number
        of rows removed.

        The compliance primitive a 100 TB corpus store needs: opted-out
        user ids / flagged documents must be physically removed, not
        tombstoned — a filter view still holds the bytes. The rewrite
        keeps the whole-table atomic-swap guarantee (no reader ever
        sees a half-deleted table). At scale, partition the table on
        the deletion key (`write_dataset(partition_cols=...)` /
        `write_clustered`) so the rewrite touches only the partitions
        holding matches; the count query prunes the same way.

        ``predicate`` is a Column (e.g. ``F.col("user_id").isin(ids)``
        or a join-free expression); for id-list deletes beyond literal
        size, pass an anti-join result to ``write_dataset`` directly.
        """
        from pyspark.sql import functions as F  # noqa: PLC0415

        # merge_schema: rewriting an EVOLVED table from one footer's
        # schema would silently drop appended columns
        df = self.read(table, merge_schema=True)
        # Three-valued logic guard: a NULL-evaluating predicate must
        # KEEP the row (it did not match), but bare ~predicate is also
        # NULL there and the filter would silently drop it.
        matches = F.coalesce(predicate, F.lit(False))
        n = df.filter(matches).count()
        if n:
            self.write_dataset(df.filter(~matches), table)
        return n

    def compact(self, table: str, target_file_bytes: int = 128 * 1024 * 1024) -> int:
        """Rewrite a table's small files into ~target-sized ones.

        Append-heavy tables (the revision log; streaming rollup sinks)
        accumulate one file per micro-batch or merge — at scale the
        file-listing and per-file open costs come to dominate reads
        long before data size does. Compaction reads the table, sizes
        the output file count from the on-disk bytes (never fewer than
        one), and atomically swaps via the staging-dir path that
        ``write_dataset`` uses. Returns the new file count.

        Sort order within files is preserved per-partition only (Spark
        coalesce does not merge-sort); tables that rely on row-group
        min/max skipping should be written sorted by their filter key
        afterwards, or compact rarely enough that the tail is small.
        """
        p = self.path(table)
        on_disk = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        )
        n_files = max(1, -(-on_disk // target_file_bytes))  # ceil div
        # merge_schema: compaction after a schema-evolving append must
        # preserve the new column, whichever footer is read first
        df = self.read(table, merge_schema=True)
        self.write_dataset(df.coalesce(n_files), table)
        return n_files

    def append(self, df: DataFrame, table: str) -> None:
        """Blind append (revision log path — no read-modify-write)."""
        df.write.mode("append").parquet(self.path(table))

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_cols: list[str],
        num_buckets: int = 32,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Bucketed (hash-clustered) external table for co-located joins.

        Two tables bucketed by the same key with the same bucket count
        join with ZERO exchange — each task reads matching bucket files
        from both sides. At 100 TB this is how the fact-to-fact joins
        (e.g. lineitem x orders on orderkey) avoid reshuffling the big
        side on every query: the shuffle is paid once at write time.
        Read back via ``spark.table(table)`` — bucket metadata lives in
        the catalog, not the files.

        The pre-repartition matters at scale: bucketBy splits every
        write TASK's rows across all buckets, so N tasks x B buckets
        would emit N*B files; shuffling by the bucket key first makes
        it one file per bucket.
        """
        writer = (
            df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(num_buckets, *bucket_cols)
            .option("path", self.path(table))
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(table)

    def write_clustered(
        self,
        df: DataFrame,
        table: str,
        cluster_cols: list[str],
        num_files: int = 32,
    ) -> None:
        """Range-clustered layout for data-skipping scans.

        ``repartitionByRange`` + ``sortWithinPartitions`` on the filter
        key gives every output file a narrow, (near-)disjoint min/max
        range on that key, so a predicate prunes whole files via
        parquet footer statistics BEFORE any row is read — the layout
        complement of ``write_bucketed`` (bucketing co-locates equality
        JOINS; range clustering prunes range FILTERS). At 100 TB this
        is the difference between scanning one time-slice and scanning
        the table: a 1000-file table clustered on event date answers a
        one-day query by opening ~1 file. Multi-column clustering
        sorts lexicographically — lead with the most-filtered column
        (interleaved/space-filling orders are the upgrade path when two
        columns are filtered equally often).

        Range boundaries come from Spark's reservoir sampling of the
        key — skewed keys still land in balanced files (same mechanism
        as a global orderBy), unlike naive hash bucketing.
        """
        out = df.repartitionByRange(num_files, *cluster_cols).sortWithinPartitions(
            *cluster_cols
        )
        self.write_dataset(out, table)

    def write_zordered(
        self,
        df: DataFrame,
        table: str,
        col_a: str,
        col_b: str,
        num_files: int = 32,
        bits: int = 16,
    ) -> None:
        """Z-order (Morton-interleaved) layout: data skipping on TWO
        filter columns at once.

        ``write_clustered`` sorts lexicographically, so only the lead
        column prunes; interleaving the bits of both columns' scaled
        positions gives a space-filling order in which every file's
        min/max window is narrow on BOTH dimensions — a predicate on
        either column (or both) skips most files. This is the layout
        Delta's OPTIMIZE ZORDER BY computes; here it is ~20 bitwise
        column expressions, fully inside codegen.

        Each column is scaled to [0, 2^bits) linearly between its
        global min and max (one 4-scalar aggregate, folded into the
        key expression as literals). Linear scaling keeps the key a
        pure scan-stage expression; heavily skewed columns cluster
        unevenly under it — switch the scaling to rank buckets (the
        ``corpus_shuffle`` bucket-offset pattern) when a dimension is
        pathological. Files then come from ``repartitionByRange`` on
        the key + an in-file sort, the same machinery as
        ``write_clustered``.
        """
        # Single Morton implementation: operators/layout owns the key
        # (scale_to_grid + zvalue); this method is only the bounds scan
        # + the IO. A dimension whose min == max carries no information
        # — substitute hi = lo + 1 so every row grids to 0 (the clamp
        # branch), i.e. the key degrades to the other dimension alone.
        from econdatapipeline_spark.operators.layout import (  # noqa: PLC0415
            zorder_key,
        )

        lo_a, hi_a, lo_b, hi_b = df.agg(
            F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
        ).first()
        bounds = []
        for col, lo, hi in ((col_a, lo_a, hi_a), (col_b, lo_b, hi_b)):
            lo, hi = float(lo), float(hi)
            bounds.append((col, lo, hi if hi > lo else lo + 1.0))
        out = (
            zorder_key(df, bounds, bits, out_col="__z")
            .repartitionByRange(num_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        self.write_dataset(out, table)

    def apply_merge(self, result, table: str,
                    partition_cols: list[str] | None = None,
                    extra_files: dict[str, bytes] | None = None) -> dict[str, int]:
        """Commit one smart_update batch: stage -> observe -> append -> swap.

        1. Stage: write ``merged`` to the staging dir. An Observation on
           the tagged frame collects {new, updated, revisions} inside
           that same write, so counting runs no job of its own.
        2. Append the revision rows, only if the observed ``revisions``
           count is above 0. Every DataFrame in ``result`` is a lazy
           plan over the *current* table files, which are still live
           here (Spark caches the file listing per path; after the swap
           the old part files are gone).
        3. Swap the staging dir in.

        A failure in 1 appends no revisions; a failure in 1 or 2
        removes the staging dir and leaves the table as it was.
        Returns the reference-shaped counts dict.
        """
        merged, obs = result.observed_merged()
        staging = self._stage(merged, table, partition_cols, extra_files)
        try:
            counts = {k: int(v) for k, v in obs.get.items()}
            if counts["revisions"]:
                self.append_revisions(result.revisions)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        self._swap_in(staging, table)
        return counts

    # -- raw byte blobs (== upload/download/list/delete_blob, -----------
    #    azure_connector.py:317-423) — the landing-zone cache for raw
    #    downloads (workbook bytes, FRED JSON) before any normalization.
    def _blob_path(self, container: str, name: str) -> str:
        # blobs live beside the Parquet tables, never inside one
        p = os.path.normpath(os.path.join(self.root, "blobs", container, name))
        base = os.path.normpath(os.path.join(self.root, "blobs"))
        if not p.startswith(base + os.sep):
            raise ValueError(f"blob name escapes the container: {name!r}")
        return p

    def create_container(self, container: str) -> None:
        """Idempotent (== create_container, azure_connector.py:293-315)."""
        os.makedirs(os.path.join(self.root, "blobs", container), exist_ok=True)

    def put_blob(self, container: str, name: str, data: bytes | str) -> None:
        """Overwrite-put of a raw byte object (upload_blob semantics).

        Atomic via temp-file + rename so a concurrent get never reads a
        half-written blob. str payloads are UTF-8 encoded, matching the
        reference's json.dumps upload path.
        """
        if isinstance(data, str):
            data = data.encode("utf-8")
        path = self._blob_path(container, name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".__tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)

    def get_blob(self, container: str, name: str) -> bytes | None:
        """None when absent (download_blob returns None on miss)."""
        try:
            with open(self._blob_path(container, name), "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def list_blobs(self, container: str, name_starts_with: str = "") -> list[str]:
        base = os.path.join(self.root, "blobs", container)
        if not os.path.isdir(base):
            return []
        out = []
        for dirpath, _dirs, files in os.walk(base):
            for f in files:
                if f.endswith(".__tmp"):
                    continue
                rel = os.path.relpath(os.path.join(dirpath, f), base)
                rel = rel.replace(os.sep, "/")
                if rel.startswith(name_starts_with):
                    out.append(rel)
        return sorted(out)

    def delete_blob(self, container: str, name: str) -> bool:
        try:
            os.remove(self._blob_path(container, name))
            return True
        except FileNotFoundError:
            return False

    # -- revisions (== datarevisions table) ------------------------------
    def append_revisions(self, revisions: DataFrame) -> None:
        with self._shared_write_lock:
            self.append(revisions.select(*[f.name for f in REVISIONS_SCHEMA.fields]), REVISIONS_TABLE)

    def revisions(self) -> DataFrame:
        return self.read_or_empty(REVISIONS_TABLE, REVISIONS_SCHEMA)

    def vacuum_revisions(
        self, cutoff: datetime, archive_path: str | None = None
    ) -> int:
        """Retention for the audit log: archive-then-delete revisions
        older than ``cutoff`` -> number of rows removed.

        The append-only log grows forever by design; compliance
        retention bounds it WITHOUT losing auditability: expired rows
        are first exported to ``archive_path`` as JSONL via the
        exactly-once sink (`sources/export.py` — ``_SUCCESS`` is
        stamped only after every archive file is in place), and only
        then removed via the atomic staged rewrite that ``delete_rows``
        uses. A crash between the two phases leaves the log intact
        plus a complete archive — re-running is idempotent, never
        lossy. Pair with ``compact`` afterwards: retention deletes old
        ROWS, compaction repairs the small-FILE tail.
        """
        expired = F.col("revision_date") < F.lit(cutoff)
        if archive_path:
            from econdatapipeline_spark.sources.export import (
                JsonlExportDataSource,
            )

            self.spark.dataSource.register(JsonlExportDataSource)
            (
                self.revisions()
                .filter(expired)
                .write.format("jsonl_export")
                .option("path", archive_path)
                .mode("append")
                .save()
            )
        with self._shared_write_lock:
            return self.delete_rows(REVISIONS_TABLE, expired)

    # -- watermarks (== scrapermetadata, azure_connector.py:552-617) -----
    #
    # The watermark table is hive-partitioned by dataset
    # (scrapermetadata/dataset=<name>/), so an update touches ONLY that
    # dataset's directory — no full-table read-modify-write, no shared
    # lock. A 10^5-dataset registry updates watermarks embarrassingly
    # in parallel; the previous whole-KV rewrite under a lock
    # serialized every concurrent runner through one table swap.
    #
    # A watermark is one timestamp that is already on the driver, so
    # update_last_run / get_last_run write and read its one-row file
    # with pyarrow.parquet: no Spark job and no SQL execution per
    # refresh. The file is the one Spark would write — a single
    # ``last_run`` column holding the UTC instant, stored as
    # TIMESTAMP(MICROS, UTC-adjusted) — so watermarks() still reads
    # the whole registry through Spark's partition discovery, and
    # partitions Spark wrote earlier (INT96) still read here. Values
    # convert as PySpark's createDataFrame / collect convert a
    # ``timestamp`` column: a naive datetime is process-local time on
    # the way in and comes back as one.
    def _watermark_path(self, dataset: str) -> str:
        return os.path.join(self.path(METADATA_TABLE), f"dataset={dataset}")

    def update_last_run(self, dataset: str, ts: datetime | None = None) -> None:
        ts = ts or datetime.now(timezone.utc).replace(tzinfo=None)
        final = self._watermark_path(dataset)
        # unique staging per writer: concurrent updaters of the SAME
        # dataset must not share a staging dir; the metadata-only
        # rmtree+rename swap is serialized by the lock (different
        # datasets still proceed fully in parallel — the parquet write
        # stays outside the lock). The leading '_' keeps the dir
        # invisible to Spark's 'dataset=' partition discovery, so a
        # crash mid-write can never surface a phantom dataset row or a
        # half-written footer to watermarks(); init sweeps stale ones.
        staging = os.path.join(
            self.path(METADATA_TABLE),
            f"_staging-{dataset}-{uuid.uuid4().hex}",
        )
        # astimezone reads a naive value as local time (time.mktime,
        # as PySpark's TimestampType.toInternal); integer microseconds
        micros = (ts.astimezone(timezone.utc) - _EPOCH) // _MICROSECOND
        table = pa.table(
            {"last_run": pa.array([micros], pa.timestamp("us", tz="UTC"))}
        )
        try:
            os.makedirs(staging)
            pq.write_table(table, os.path.join(staging, "part-00000.parquet"))
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        with self._shared_write_lock:
            if os.path.isdir(final):
                shutil.rmtree(final)
            os.rename(staging, final)

    def get_last_run(self, dataset: str) -> datetime | None:
        """Point read of one partition directory — never lists the
        whole registry (the reference's get_entity point lookup,
        azure_connector.py:580-596). Returns the naive local datetime
        PySpark's ``collect`` would; raises TypeError if the stored
        ``last_run`` is not a timestamp."""
        p = self._watermark_path(dataset)
        if not os.path.isdir(p):
            return None
        for name in sorted(os.listdir(p)):
            if name.startswith(("_", ".")) or not name.endswith(".parquet"):
                continue
            col = pq.read_table(
                os.path.join(p, name),
                columns=["last_run"],
                coerce_int96_timestamp_unit="us",
            ).column(0)
            if not pa.types.is_timestamp(col.type):
                raise TypeError(
                    f"watermark {dataset!r}: last_run is stored as {col.type}, "
                    "not a timestamp"
                )
            if len(col):
                micros = col.cast(pa.timestamp("us", col.type.tz)).cast(pa.int64())[0].as_py()
                # integer arithmetic, as PySpark's TimestampType.fromInternal
                return datetime.fromtimestamp(micros // 1_000_000).replace(
                    microsecond=micros % 1_000_000
                )
        return None

    def watermarks(self) -> DataFrame:
        """Full registry view (dataset, last_run) via partition discovery.

        Read with the registry's schema, so no inference job runs and
        ``dataset`` is the directory name as written (``007`` stays a
        string); INT96 partitions Spark wrote earlier read as
        timestamps like the pyarrow-written ones."""
        p = self.path(METADATA_TABLE)
        if not os.path.isdir(p) or not any(
            e.startswith("dataset=") for e in os.listdir(p)
        ):
            return self._empty(METADATA_SCHEMA)
        return self.spark.read.schema(METADATA_SCHEMA).parquet(p).select(
            *METADATA_SCHEMA.fieldNames()
        )

    def should_update(self, dataset: str, update_frequency_hours: float = 24.0,
                      now: datetime | None = None) -> bool:
        """24h freshness gate (== should_update, azure_connector.py:598-617)."""
        last = self.get_last_run(dataset)
        if last is None:
            return True
        now = now or datetime.now(timezone.utc).replace(tzinfo=None)
        return (now - last) >= timedelta(hours=update_frequency_hours)
