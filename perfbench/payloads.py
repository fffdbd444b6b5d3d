"""Seeded source payloads for the ingest and read workloads, plus the
expected engine outputs.

Each dataset is a small model of an upstream source (FIXTURES A1-A4):

- A1 EDB monthly fiscal grid: blank and junk cells, a junk label row;
- A3 FRED observations JSON, newest first: ``"."`` missing values, a
  quarterly series (its dates shift +3 months);
- A4 NYU ERP sheet: noisy headers and values in all three formats
  (``"4.02%"``, ``4.02`` and ``0.0402``).

Cell values are kept as integers in units of 1e-4 so payload text is
exact. Every refresh day publishes a few new observations, revises a
seeded share of cells beyond the merge tolerance (0.001) and a share
only within it, and turns some cells into junk for the day. The model
parses each payload with the same rules the engine's normalizers use
and keeps the warehouse state the merge must produce, so each refresh
has an exact expected ``{new, updated, revisions}`` and every read has
an exact expected result.
"""

from __future__ import annotations

import datetime as dt
import math
import random

from econdatapipeline_spark.registry import SPECS_BY_NAME, DatasetSpec

TOLERANCE = 0.001
BASE_RUN_TS = dt.datetime(2025, 7, 1, 6, 0, 0)

# One registry dataset per source type: EDB monthly (long values),
# FRED quarterly, NYU (three value columns). The registry has no EDB
# quarterly dataset, so fixture A2 is not generated.
SPECS: tuple[DatasetSpec, ...] = (
    SPECS_BY_NAME["autosales"],
    SPECS_BY_NAME["realgdp"],
    SPECS_BY_NAME["equityriskpremium"],
)

MONTHS = [
    "July", "August", "September", "October", "November", "December",
    "January", "February", "March", "April", "May", "June",
]
FISCAL_YEARS = list(range(2016, 2026))
NYU_HEADERS = ("Start of month ", "T.Bond Rate", "ERP (T12m)", "Expected Return")
JUNK = ("n/a", "--", "x")


def add_months(d: dt.date, n: int) -> dt.date:
    m = d.month - 1 + n
    return dt.date(d.year + m // 12, m % 12 + 1, 1)


def _decimal(units: int) -> str:
    """1e-4 units -> exact decimal text ('12342500' -> '1234.2500')."""
    return f"{units // 10000}.{units % 10000:04d}"


def _parse_number(text: str) -> float | None:
    """try_cast(string AS double): None when the text is not a number."""
    try:
        return float(text)
    except ValueError:
        return None


def _parse_percent(cell) -> float | None:
    """functions.parsing.parse_percent on one cell."""
    s = str(cell).strip()
    if "%" in s:
        v = _parse_number(s.replace("%", ""))
        return None if v is None else v / 100.0
    v = _parse_number(s)
    if v is None:
        return None
    return v / 100.0 if v > 0.2 else v


class Source:
    """One dataset's upstream: current cells, warehouse state, revision log.

    ``cells`` maps a key date to a tuple of raw cells (one per value
    column); a cell is an int in 1e-4 units, or None while unpublished.
    """

    def __init__(self, spec: DatasetSpec, rng: random.Random):
        self.spec = spec
        self.rng = rng
        self.cells: dict[dt.date, list] = {}
        self.junk_today: set[tuple[dt.date, int]] = set()
        self.stored: dict[dt.date, tuple] = {}
        self.revisions: list[tuple] = []
        self.formats: dict[dt.date, list[int]] = {}
        self._init_cells()

    # -- initial state ---------------------------------------------------
    def _keys(self) -> list[dt.date]:
        src = self.spec.source
        if src == "edb_monthly":
            return sorted(
                dt.date(fy - 1 if i < 6 else fy, (i + 6) % 12 + 1, 1)
                for fy in FISCAL_YEARS for i in range(12)
            )
        if src == "fred":
            step = 3 if self.spec.frequency == "q" else 1
            n = 100 if step == 3 else 300
            return [add_months(dt.date(2000, 1, 1), k * step) for k in range(n)]
        return [add_months(dt.date(2001, 1, 1), k) for k in range(290)]

    def _fresh_value(self) -> int:
        if self.spec.source == "nyu_stern":
            return self.rng.randint(250, 900)  # 0.0250 .. 0.0900 as a fraction
        return self.rng.randint(1000, 6000) * 10000 + self.rng.choice((0, 2500, 5000, 7500))

    def _init_cells(self) -> None:
        keys = self._keys()
        ncols = len(self.spec.value_columns)
        unpublished = 6  # the newest keys publish one or two per refresh day
        for k, d in enumerate(keys):
            published = k < len(keys) - unpublished and self.rng.random() > 0.03
            self.cells[d] = [self._fresh_value() if published else None for _ in range(ncols)]
            self.formats[d] = [self.rng.randrange(3) for _ in range(ncols)]

    # -- parsing (the engine's normalizers, cell by cell) ---------------
    def _render(self, d: dt.date, c: int):
        v = self.cells[d][c]
        junk = (d, c) in self.junk_today
        if self.spec.source == "nyu_stern":
            if v is None or junk:
                return self.rng.choice((None, "n/a"))
            fmt = self.formats[d][c]
            if fmt == 0:
                return f"{v // 100}.{v % 100:02d}%"
            if fmt == 1:
                return float(f"{v // 100}.{v % 100:02d}")
            return float(f"0.{v:04d}")
        if v is None:
            if self.spec.source == "fred":
                return "."
            return ""
        if junk:
            return self.rng.choice(JUNK)
        return _decimal(v)

    def _parse(self, raw) -> float | int | None:
        if self.spec.source == "nyu_stern":
            return None if raw is None else _parse_percent(raw)
        v = _parse_number(raw) if raw not in (".", "") else None
        if v is None or self.spec.value_type != "long":
            return v
        return int(math.floor(v + 0.5))  # round HALF_UP, then cast to long

    # -- one refresh day --------------------------------------------------
    def evolve(self) -> None:
        """Advance the upstream by one day: publish, revise, junk."""
        rng = self.rng
        ncols = len(self.spec.value_columns)
        pending = [d for d, vs in sorted(self.cells.items()) if vs[0] is None]
        for d in pending[: rng.randint(1, 2)]:
            self.cells[d] = [self._fresh_value() for _ in range(ncols)]
        published = [d for d, vs in self.cells.items() if vs[0] is not None]
        big = 50 if self.spec.source == "nyu_stern" else 30000
        revised = rng.sample(published, max(1, len(published) // 25))
        for d in revised:
            c = rng.randrange(ncols)
            step = rng.randint(big // 3, big)
            self.cells[d][c] += step if rng.random() < 0.5 or self.cells[d][c] <= step else -step
        for d in rng.sample(published, max(1, len(published) // 30)):
            c = rng.randrange(ncols)
            self.cells[d][c] += 3 if self.spec.source == "nyu_stern" else 4
        # junk never hides a revision, so every refresh appends revisions
        unrevised = sorted(set(published) - set(revised))
        self.junk_today = {
            (d, rng.randrange(ncols)) for d in rng.sample(unrevised, max(1, len(published) // 50))
        }

    def payload(self):
        """The raw payload the fetcher hands to ``pipeline.run_dataset``."""
        src = self.spec.source
        if src == "edb_monthly":
            grid = [[""] + [str(y) for y in FISCAL_YEARS]]
            for i, m in enumerate(MONTHS):
                row = [m]
                for fy in FISCAL_YEARS:
                    d = dt.date(fy - 1 if i < 6 else fy, (i + 6) % 12 + 1, 1)
                    row.append(self._render(d, 0))
                grid.append(row)
            grid.append(["Total"] + ["999"] * len(FISCAL_YEARS))  # junk label row
            return grid
        if src == "fred":
            back = 3 if self.spec.frequency == "q" else 0
            obs = [
                {"realtime_start": "2025-07-01", "realtime_end": "2025-07-01",
                 "date": add_months(d, -back).isoformat(), "value": self._render(d, 0)}
                for d in sorted(self.cells, reverse=True)
            ]
            return {"observations": obs}
        rows = []
        for d in sorted(self.cells):
            row = {NYU_HEADERS[0]: d.isoformat()}
            for c, h in enumerate(NYU_HEADERS[1:]):
                row[h] = self._render(d, c)
            row["Junk Col"] = "ignored"
            rows.append(row)
        return rows

    def incoming(self, payload) -> dict[dt.date, tuple]:
        """What the normalizer yields for ``payload``: key -> values."""
        src = self.spec.source
        out: dict[dt.date, tuple] = {}
        if src == "edb_monthly":
            years = [int(y) for y in payload[0][1:]]
            for row in payload[1:]:
                if row[0] not in MONTHS:
                    continue  # junk label row
                i = MONTHS.index(row[0])
                for fy, raw in zip(years, row[1:]):
                    d = dt.date(fy - 1 if i < 6 else fy, (i + 6) % 12 + 1, 1)
                    v = self._parse(raw)
                    if v is not None:
                        out[d] = (v,)
            return out
        if src == "fred":
            fwd = 3 if self.spec.frequency == "q" else 0
            for o in payload["observations"]:
                v = self._parse(o["value"])
                if v is not None:
                    out[add_months(dt.date.fromisoformat(o["date"]), fwd)] = (v,)
            return out
        for row in payload:
            vals = tuple(self._parse(row[h]) for h in NYU_HEADERS[1:])
            if all(v is not None for v in vals):
                out[dt.date.fromisoformat(row[NYU_HEADERS[0]].strip())] = vals
        return out

    def merge(self, incoming: dict[dt.date, tuple], run_ts: dt.datetime) -> dict[str, int]:
        """smart_update's contract on the model; returns the expected counts."""
        new = updated = revisions = 0
        for d, vals in incoming.items():
            old = self.stored.get(d)
            if old is None:
                new += 1
                self.stored[d] = vals
                continue
            changed = [c for c, (a, b) in enumerate(zip(vals, old)) if abs(a - b) > TOLERANCE]
            if changed:
                updated += 1
                revisions += len(changed)
                for c in changed:
                    self.revisions.append(
                        (self.spec.name, d.isoformat(), self.spec.value_columns[c],
                         float(old[c]), float(vals[c]), run_ts)
                    )
                self.stored[d] = vals
        return {"new": new, "updated": updated, "revisions": revisions}


class Upstream:
    """All sources of one run, advanced together one refresh day at a time."""

    def __init__(self, seed: int, specs: tuple[DatasetSpec, ...] = SPECS):
        self.rng = random.Random(seed)
        self.sources = {
            s.name: Source(s, random.Random(self.rng.getrandbits(64))) for s in specs
        }
        self.day = -1

    @property
    def specs(self) -> list[DatasetSpec]:
        return [s.spec for s in self.sources.values()]

    def next_day(self) -> tuple[dt.datetime, list[tuple[DatasetSpec, object, dict, int]]]:
        """Advance one day: (run_ts, [(spec, payload, expected counts, rows)]).

        ``rows`` is the number of rows the normalizer yields.

        Day 0 is the initial load. The refresh order is a seeded
        permutation; run_ts moves exactly one day, so the real 24 h
        ``should_update`` gate passes for every dataset.
        """
        self.day += 1
        run_ts = BASE_RUN_TS + dt.timedelta(days=self.day)
        batch = []
        for src in self.sources.values():
            if self.day > 0:
                src.evolve()
            payload = src.payload()
            incoming = src.incoming(payload)
            batch.append((src.spec, payload, src.merge(incoming, run_ts), len(incoming)))
        self.rng.shuffle(batch)
        return run_ts, batch
