"""The two closed-loop workloads: one op runs only after the previous
one returned, from a single Python client.

A workload builds its state in ``setup`` (untimed), then yields timed
passes of ops. An op is ``(kind, fn, check)``: ``fn(tracer)`` calls
the engine and returns its output, ``check(output)`` says whether the
output is the expected one. Checks run after the timed region.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
from collections import Counter

from econdatapipeline_spark.pipeline import UPDATED, run_dataset, run_pipeline
from econdatapipeline_spark.plans import queries as Q
from econdatapipeline_spark.sources.warehouse import Warehouse

from payloads import Upstream, add_months


def _fetcher(payloads: dict):
    return lambda spec: payloads[spec.name]


def table_files(wh: Warehouse, names) -> float:
    """Mean number of parquet files per dataset table."""
    counts = [
        sum(f.endswith(".parquet") for _, _, fs in os.walk(wh.path(n)) for f in fs) for n in names
    ]
    return sum(counts) / len(counts)


def warehouse_files(root: str) -> dict[str, int]:
    """Every parquet file under the warehouse -> its size in bytes."""
    out = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(dp, f)
                out[p] = os.path.getsize(p)
    return out


class IngestDaily:
    """One op = one dataset refresh through ``pipeline.run_dataset``.

    Setup loads every dataset (day 0) and runs one warm refresh day,
    which compiles the merge plans a refresh day uses. A timed pass is
    one refresh day over all datasets, in a seeded order, with
    ``run_ts`` one day after the previous day's; a run times at least
    two days.
    """

    name = "ingest_daily"
    min_ops = 6
    warm_passes = 1

    def __init__(self, spark, root: str, seed: int):
        self.spark = spark
        self.up = Upstream(seed)
        self.wh = Warehouse(spark, root)
        self.setup_errors: list[str] = []

    def _day_ops(self) -> list:
        run_ts, batch = self.up.next_day()
        ops = []
        for spec, payload, expected, rows in batch:
            def fn(tracer, spec=spec, payload=payload):
                return run_dataset(self.spark, self.wh, spec, lambda _s: payload, run_ts=run_ts)

            def check(out, expected=expected):
                return out.get("status") == UPDATED and {
                    k: out.get(k) for k in expected
                } == expected

            # rows the user handed in, at 4 bytes per date and 8 per value
            fn.user_bytes = rows * (4 + 8 * len(spec.value_columns))
            fn.label = spec.name
            ops.append(("run_dataset", fn, check))
        return ops

    def setup(self) -> None:
        for _kind, fn, check in self._day_ops():  # initial load, day 0
            out = fn(None)
            if not check(out):
                self.setup_errors.append(f"initial load: {out}")

    def passes(self):
        while True:
            yield self._day_ops()

    def final_check(self) -> list[str]:
        """The warehouse tables and revision log equal the model's."""
        errors = []
        for name, src in self.up.sources.items():
            got = sorted(tuple(r) for r in self.wh.read(name).collect())
            want = sorted((d, *v) for d, v in src.stored.items())
            if got != want:
                errors.append(f"table {name}: {len(got)} rows, expected {len(want)}")
        got = Counter(tuple(r) for r in self.wh.revisions().collect())
        want = Counter(r for s in self.up.sources.values() for r in s.revisions)
        if got != want:
            errors.append(f"revision log: {sum(got.values())} rows, expected {sum(want.values())}")
        return errors


def _revision_check(expected: list[tuple], limit: int):
    want = sorted(expected, key=lambda r: r[5], reverse=True)
    n = min(limit, len(want))
    dates = [r[5] for r in want[:n]]

    def check(rows):
        got = [tuple(r) for r in rows]
        # ties on revision_date make the chosen rows, not their dates, free
        return (
            len(got) == n
            and [r[5] for r in got] == dates
            and not (Counter(got) - Counter(want))
        )

    return check


def _approx_row(got, want) -> bool:
    return len(got) == len(want) and all(
        g == w if not isinstance(w, float) else g is not None and abs(g - w) <= 2e-6
        for g, w in zip(got, want)
    )


class ReadSurface:
    """One op = one ``plans.queries``/``Warehouse`` read, collected.

    Setup builds the warehouse through ``pipeline.run_pipeline``, three
    datasets at a time: an initial load plus one revision day. One warm
    pass follows. A pass is 21 ops in a
    seeded order: per dataset a revision history with a limit, three
    point lookups (the last key may be absent), the newest values and
    a date-range read; plus one ``export_wide``, ``dataset_stats`` and
    ``resample_last`` over all three. A run times at least 100 ops.
    """

    name = "read_surface"
    min_ops = 100
    warm_passes = 1
    build_days = 2

    def __init__(self, spark, root: str, seed: int):
        self.spark = spark
        self.up = Upstream(seed)
        self.wh = Warehouse(spark, root)
        self.rng = random.Random(seed ^ 0x5EED)
        self.setup_errors: list[str] = []

    def setup(self) -> None:
        for _ in range(self.build_days):
            run_ts, batch = self.up.next_day()
            payloads = {spec.name: p for spec, p, _, _ in batch}
            fetch = _fetcher(payloads)
            summary = run_pipeline(
                self.spark, self.wh, {"edb_monthly": fetch, "fred": fetch, "nyu_stern": fetch},
                specs=tuple(self.up.specs), run_ts=run_ts, max_workers=3,
            )
            for (spec, _, expected, _), got in zip(
                sorted(batch, key=lambda b: b[0].name),
                sorted(summary["details"], key=lambda d: d["dataset"]),
            ):
                if got.get("status") != UPDATED or {k: got.get(k) for k in expected} != expected:
                    self.setup_errors.append(f"build {spec.name}: {got}")

    # -- expected results from the model -------------------------------
    def _series(self, name):
        src = self.up.sources[name]
        return sorted((d, *v) for d, v in src.stored.items())

    def _value(self, name, d):
        v = self.up.sources[name].stored.get(d)
        return None if v is None else float(v[0])

    def _ops_for(self, name) -> list:
        rng, wh, src = self.rng, self.wh, self.up.sources[name]
        series = self._series(name)
        ops = []
        limit = rng.choice((5, 20))
        ops.append((
            "revision_history",
            lambda: Q.get_revision_history(wh, name, limit=limit),
            _revision_check(src.revisions, limit),
        ))
        for d in (rng.choice(series)[0], rng.choice(series)[0], rng.choice(sorted(src.cells))):
            want = [r for r in series if r[0] == d]
            ops.append((
                "point_lookup",
                lambda d=d: wh.point_lookup(name, d),
                lambda rows, want=want: [tuple(r) for r in rows] == want,
            ))
        ops.append((
            "latest_values",
            lambda: Q.latest_values(wh, name, 5),
            lambda rows, want=series[::-1][:5]: [tuple(r) for r in rows] == want,
        ))
        lo = rng.choice(series[: len(series) // 2])[0]
        hi = add_months(lo, rng.randint(24, 60))
        ops.append((
            "read_dataset",
            lambda: Q.read_dataset(wh, name, lo, hi),
            lambda rows, want=[r for r in series if lo <= r[0] <= hi]: [tuple(r) for r in rows] == want,
        ))
        return ops

    def _cross_ops(self) -> list:
        rng, wh = self.rng, self.wh
        names = rng.sample(sorted(self.up.sources), len(self.up.sources))
        dates = sorted({d for n in names for d in self.up.sources[n].stored})
        wide = [(d, *(self._value(n, d) for n in names)) for d in dates]
        stats = []
        for n in names:
            vals = [float(v[0]) for v in self.up.sources[n].stored.values()]
            keys = self.up.sources[n].stored
            stats.append((n, len(vals), min(keys), max(keys),
                          math.fsum(vals) / len(vals), min(vals), max(vals)))
        freq = rng.choice(("quarter", "year"))
        last = {}
        for n in names:
            for d in sorted(self.up.sources[n].stored):
                p = dt.date(d.year, 1 if freq == "year" else (d.month - 1) // 3 * 3 + 1, 1)
                last[(n, p)] = self._value(n, d)
        resampled = sorted((n, p, v) for (n, p), v in last.items())
        return [
            ("export_wide", lambda: Q.export_wide(wh, names),
             lambda rows: [tuple(r) for r in rows] == wide),
            ("dataset_stats", lambda: Q.dataset_stats(wh, names),
             lambda rows: len(rows) == len(stats) and all(
                 _approx_row(g, w) for g, w in zip(sorted(tuple(r) for r in rows), sorted(stats)))),
            ("resample_last", lambda: Q.resample_last(wh, names, freq),
             lambda rows: sorted(tuple(r) for r in rows) == resampled),
        ]

    def passes(self):
        while True:
            ops = [op for n in sorted(self.up.sources) for op in self._ops_for(n)]
            ops += self._cross_ops()
            self.rng.shuffle(ops)
            yield [(kind, self._runner(build), check) for kind, build, check in ops]

    @staticmethod
    def _runner(build):
        def fn(tracer):
            if tracer is None:
                return build().collect()
            with tracer.span("plans.build"):
                df = build()
            with tracer.span("plans.plan"):
                df._jdf.queryExecution().executedPlan()  # noqa: SLF001
            with tracer.span("plans.collect"):
                return df.collect()

        return fn

    def final_check(self) -> list[str]:
        return []


WORKLOADS = {w.name: w for w in (IngestDaily, ReadSurface)}

