"""smart_update: upsert with revision audit, as one full outer join.

The reference's central operator (reference: core_local/
azure_data_tracker.py:54-165) streams incoming rows against an
in-memory hash map of the full existing table:

- key absent                     -> INSERT
- key present, |new-old| > tol   -> UPDATE + one revision row per changed field
- otherwise                      -> no-op
- value that fails float()       -> change silently skipped (:128-130)

Here the whole contract is ONE full outer join of incoming and
existing on the key. The join yields one tagged frame: every row is
marked ``new`` (no existing side), ``update`` (at least one field
changed beyond the tolerance) or ``keep`` (everything else, including
existing keys the batch does not mention), and carries its number of
changed fields. ``merged``, ``inserts``, ``updates`` and ``revisions``
are projections or filters of that frame; ``revisions`` unpivots the
updated rows in one ``stack`` pass. Writing ``merged`` therefore runs
the join once, and the {new, updated, revisions} aggregates
(``count_exprs``) ride that same job as an Observation
(``MergeResult.observed_merged``, used by ``Warehouse.apply_merge``).

No join strategy is forced, and none can be: a full outer join is
never planned as a broadcast-hash join, so a 100 GB incoming batch is
never built as a hash relation on every executor. Both sides are
shuffled once on the key; the existing side is only ever scanned,
never collected.

Null semantics match the reference's float() guard: a comparison where
either side is NULL is not "changed" (float(None) raises -> skipped),
so the changed flag is ``abs(s - t) > tol`` with NULL read as false.

Duplicate keys within one side are outside the contract (the
reference's hash map holds one row per key). Every joined pair is
tagged on its own, so each duplicate is inserted, kept or updated
independently; ``tests/test_merge.py`` pins that behaviour.

Determinism: one ``run_ts`` literal per batch stamps every revision row
(the reference takes per-row utcnow() at :119,125, nondeterministic
under retry — SURVEY §4 flags this; a single literal is the fix).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

DEFAULT_TOLERANCE = 0.001  # reference: azure_data_tracker.py:113

TAG = "__tag"  # 'new' | 'update' | 'keep'
N_CHANGED = "__n_changed"  # fields changed beyond the tolerance


def count_exprs() -> list[Column]:
    """The {new, updated, revisions} aggregates over a tagged frame.

    Mirrors the reference's result dict (azure_data_tracker.py:136-165).
    Defined once: ``MergeResult.counts`` runs them as an aggregate and
    ``MergeResult.observed_merged`` hangs them on the table write.
    """
    return [
        F.count_if(F.col(TAG) == "new").alias("new"),
        F.count_if(F.col(TAG) == "update").alias("updated"),
        F.coalesce(F.sum(N_CHANGED), F.lit(0)).alias("revisions"),
    ]


@dataclass
class MergeResult:
    """Outputs of one smart_update batch (all lazy DataFrames)."""

    merged: DataFrame  # post-merge state of the dataset table
    inserts: DataFrame  # incoming rows with unseen keys
    updates: DataFrame  # incoming rows that changed an existing key
    revisions: DataFrame  # one row per changed (key, value_field)
    tagged: DataFrame  # the joined frame all four are projected from

    def counts(self) -> dict[str, int]:
        """{'new': n, 'updated': m, 'revisions': k} — one aggregate query."""
        row = self.tagged.agg(*count_exprs()).first()
        return {k: int(v) for k, v in row.asDict().items()}

    def observed_merged(self) -> tuple[DataFrame, Observation]:
        """``merged`` plus an Observation of its counts.

        The Observation fills when the returned frame executes (e.g. is
        written); ``{k: int(v) for k, v in obs.get.items()}`` then
        equals ``counts()`` without a job of its own.
        """
        obs = Observation()
        merged = self.tagged.observe(obs, *count_exprs()).select(*self.merged.columns)
        return merged, obs


def smart_update(
    existing: DataFrame,
    incoming: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    dataset: str,
    *,
    run_ts: datetime,
    tolerance: float = DEFAULT_TOLERANCE,
) -> MergeResult:
    """MERGE incoming into existing, capturing revisions for changed values.

    Equivalent SQL (Delta syntax, for reference):

        MERGE INTO existing t USING incoming s ON <keys>
        WHEN NOT MATCHED THEN INSERT *
        WHEN MATCHED AND (abs(s.v1-t.v1) > tol OR ...) THEN UPDATE SET *

    plus an INSERT INTO datarevisions SELECT ... per changed value field.

    ``run_ts`` is REQUIRED and KEYWORD-ONLY (a legacy positional
    caller passing tolerance sixth would otherwise silently bind a
    float to run_ts — Spark casts it to 1970-era timestamps without
    error, corrupting revision_date): one pinned timestamp per batch, generated
    once at the pipeline/sink entry point — never inside this operator.
    The reference stamps utcnow() per ROW (azure_data_tracker.py:119),
    which makes revision rows nondeterministic under retries; a
    defaulted utcnow() here would quietly re-introduce that (SURVEY §7)
    and datetime.utcnow() is deprecated besides.
    """
    new = {c: F.col(f"__new_{c}") for c in value_cols}
    old = {c: F.col(f"__old_{c}") for c in value_cols}
    chg = {c: F.col(f"__chg_{c}") for c in value_cols}
    src = incoming.select(*key_cols, *[F.col(c).alias(f"__new_{c}") for c in value_cols])
    tgt = existing.select(
        *key_cols,
        *[F.col(c).alias(f"__old_{c}") for c in value_cols],
        F.lit(True).alias("__in_existing"),
    )
    joined = src.join(tgt, on=key_cols, how="full_outer").select(
        *key_cols,
        *new.values(),
        *old.values(),
        "__in_existing",
        *[
            F.coalesce(F.abs(new[c] - old[c]) > F.lit(tolerance), F.lit(False)).alias(
                f"__chg_{c}"
            )
            for c in value_cols
        ],
    )
    n_changed = sum((chg[c].cast("int") for c in value_cols), F.lit(0))
    tagged = joined.withColumn(N_CHANGED, n_changed).withColumn(
        TAG,
        F.when(F.col("__in_existing").isNull(), "new")
        .when(F.col(N_CHANGED) > 0, "update")
        .otherwise("keep"),
    )
    # the post-merge values: existing unless the row is new or updated
    is_keep = F.col(TAG) == "keep"
    tagged = tagged.withColumns(
        {c: F.when(is_keep, old[c]).otherwise(new[c]) for c in value_cols}
    )

    merged = tagged.select(*key_cols, *value_cols)
    as_incoming = [*key_cols, *[new[c].alias(c) for c in value_cols]]
    inserts = tagged.filter(F.col(TAG) == "new").select(*as_incoming)
    updated = tagged.filter(F.col(TAG) == "update")
    updates = updated.select(*as_incoming)

    # One revision row per changed field: unpivot the updated rows in
    # one pass, then keep the changed fields. Old/new are cast before
    # the stack (its columns need one type per position).
    date_key = key_cols[-1]  # (dataset-implicit, date) — date is the row key
    unpivot = F.stack(
        F.lit(len(value_cols)),
        *[
            e
            for c in value_cols
            for e in (F.lit(c), chg[c], old[c].cast("double"), new[c].cast("double"))
        ],
    ).alias("value_field", "__chg", "old_value", "new_value")
    revisions = (
        updated.select(
            # String key: ISO 'yyyy-MM-dd' for date keys (matching the
            # reference's stored format), str(key) otherwise.
            F.col(date_key).cast("string").alias("data_date"),
            unpivot,
        )
        .filter(F.col("__chg"))
        .select(
            F.lit(dataset).alias("dataset"),
            "data_date",
            "value_field",
            "old_value",
            "new_value",
            F.lit(run_ts).cast("timestamp").alias("revision_date"),
        )
    )

    return MergeResult(
        merged=merged, inserts=inserts, updates=updates, revisions=revisions, tagged=tagged
    )
