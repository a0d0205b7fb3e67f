"""Deterministic generator of NHS-shaped RTT landing files.

Everything is a function of the seed and the shape, so two runs with
the same seed see byte-identical inputs.  The files reproduce the
properties the engine's RTT path has to cope with:

* landing CSV headers spelled the NHS way (``Gt 00 To 01 Weeks SUM 1``,
  ``Provider Org Code``), so ``read_csv_checked`` performs the R
  ``check.names`` mangling;
* band drift: the first month carries 52 weekly bands, the last 104;
* NULL cells, and bands that are NULL in every row of a month;
* groups whose known-start total sits at 19 / 20 / 21 (the suppression
  boundary) and at 80, whose rates (63.75, 1.25) sit on rounding
  midpoints;
* ``NONC`` (private patient) rows, which every statistic excludes;
* independent-sector membership that changes from month to month;
* raw specialty names that only match after the ``Service`` strip and
  the rename ladder;
* the LSOA -> CCG, population and IMD tables of the lookups path, and
  a CCG -> region table.

Bands beyond 60 are present in the schema of later months but hold
only zeros and NULLs: ``tests.rtt_fixture.oracle_stats`` sums bands
1..60, so mass beyond band 60 would make every sampled cell of those
months uncheckable.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

PATHWAYS = [
    "Incomplete Pathways",
    "Incomplete Pathways with DTA",
    "Completed Pathways For Admitted Patients",
    "Completed Pathways For Non-Admitted Patients",
    "New RTT Periods - All Patients",
]
SPECIALTIES = [
    "Total",
    "General Surgery Service",
    "Ear, Nose & Throat (ENT) Service",
    "Geriatric Medicine Service",
    "Trauma & Orthopaedics Service",
    "Other - Medical Services",
    "Other - Surgical Services",
]
# Emitted by one provider/commissioner pair only, with planted totals.
BOUNDARY_SPECIALTY = "Neurosurgical Service"
REGIONS = ["London", "Midlands", "North East and Yorkshire", "South West"]
ORACLE_BANDS = 60
CCGS_PER_PROVIDER = 3
LSOAS_PER_CCG = 8
PRESENCE = 0.85  # share of (provider, ccg, specialty, pathway) rows present each month
MONTH_NAMES = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


def nhs_band_header(b: int) -> str:
    return f"Gt {b - 1:02d} To {b:02d} Weeks SUM 1"


def band_col(b: int) -> str:
    """Band column after ``check.names`` mangling (matches rtt_fixture.gt_col)."""
    return f"Gt.{b - 1:02d}.To.{b:02d}.Weeks.SUM.1"


def month_labels(n: int, start_year: int = 2020, start_month: int = 4) -> list[str]:
    out = []
    for i in range(n):
        m = start_month - 1 + i
        out.append(f"{MONTH_NAMES[m % 12]}{(start_year + m // 12) % 100:02d}")
    return out


@dataclass(frozen=True)
class RttShape:
    months: int
    providers: int
    ccgs: int


@dataclass
class RttInputs:
    """Paths and the in-memory copies the output checks need."""

    months: list[str]
    bands: dict[str, int]
    csv_paths: dict[str, str]
    members_csv: str
    ccg_region_csv: str
    lsoa_ccg_csv: str
    lsoa_imd_csv: str
    lsoa_pop_csv: str
    fact: pd.DataFrame  # mangled names + monthyr + IS_provider: the oracle's input
    ccg_region: dict[str, str]
    imd_quintile: dict[str, int]


def _bands_for(i: int, n: int) -> int:
    return 52 if n == 1 else 52 + round(52 * i / (n - 1))


TEXT_COLS = [
    "Period",
    "Provider Org Code",
    "Provider Org Name",
    "Commissioner Org Code",
    "Commissioner Org Name",
    "RTT Part Description",
    "Treatment Function Name",
]
TAIL_COLS = ["Patients with unknown clock start date", "Total", "Total All"]


def _frame(month: str, keys: list[tuple], counts: np.ndarray, unknown: np.ndarray) -> pd.DataFrame:
    """Landing rows: (provider, ccg, specialty, pathway) keys, a band
    matrix with NaN for NULL cells and the unknown-start column."""
    prov, ccg, spec, pw = (list(x) for x in zip(*keys))
    text = [[f"RTT-{month}"] * len(prov), prov, [f"{p} TRUST" for p in prov], ccg, [f"{c} CCG" for c in ccg], pw, spec]
    df = pd.DataFrame(dict(zip(TEXT_COLS, text)))
    bands = pd.DataFrame(counts, columns=[nhs_band_header(b) for b in range(1, counts.shape[1] + 1)])
    known = np.nansum(counts, axis=1)
    tail = pd.DataFrame({TAIL_COLS[0]: unknown, TAIL_COLS[1]: known, TAIL_COLS[2]: known + np.nan_to_num(unknown)})
    return pd.concat([df, bands, tail], axis=1)


def _boundary(month: str, nb: int, prov: str, ccg: str, rng) -> pd.DataFrame:
    """Single-row groups with known-start totals 19, 20, 21 and 80."""
    counts = np.zeros((4, nb))
    for r, total in enumerate((19, 20, 21)):
        np.add.at(counts[r], rng.integers(0, 52, size=total), 1)
    # 51 of 80 within 18 weeks (63.75 %, a rounding midpoint) and, when
    # band 53 exists, 1 over 52 weeks (1.25 %, which half-even rounding
    # takes to 1.2)
    counts[3, 0], counts[3, 29] = 51, 28
    counts[3, 52 if nb > 52 else 29] += 1
    keys = [(prov, ccg, BOUNDARY_SPECIALTY, pw) for pw in PATHWAYS[:4]]
    return _frame(month, keys, counts, np.zeros(4))


def is_member(p: int, m: int) -> bool:
    """Every fourth provider is independent-sector; provider 1 joins
    and leaves month by month."""
    return p % 4 == 3 or (p == 1 and m % 2 == 1)


def generate(seed: int, shape: RttShape, out_dir: str) -> RttInputs:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    months = month_labels(shape.months)
    providers = [f"R{p:02d}" for p in range(shape.providers)]
    ccgs = [f"C{c:02d}" for c in range(shape.ccgs)]
    serves = {
        p: sorted(rng.choice(shape.ccgs, size=min(CCGS_PER_PROVIDER, shape.ccgs), replace=False).tolist())
        for p in range(shape.providers)
    }
    grid = [
        (prov, c, spec, pw)
        for p, prov in enumerate(providers)
        for c in [ccgs[i] for i in serves[p]] + (["NONC"] if p % 3 == 0 else [])
        for spec in SPECIALTIES
        for pw in PATHWAYS
    ]
    csv_paths, bands, frames, members = {}, {}, [], []
    for mi, month in enumerate(months):
        nb = _bands_for(mi, shape.months)
        bands[month] = nb
        members += [
            (month, prov, f"{prov} TRUST", REGIONS[p % len(REGIONS)])
            for p, prov in enumerate(providers)
            if is_member(p, mi)
        ]
        keys = [k for k, keep in zip(grid, rng.random(len(grid)) < PRESENCE) if keep]
        n = len(keys)
        tau = rng.uniform(4.0, 30.0, (n, 1))
        w = np.exp(-np.arange(1, ORACLE_BANDS + 1) / tau)
        counts = np.full((n, nb), np.nan)
        head = rng.multinomial(rng.integers(0, 80, n), w / w.sum(axis=1, keepdims=True)).astype(float)
        head[rng.random(head.shape) < 0.1] = np.nan
        counts[:, :ORACLE_BANDS] = head[:, :nb]
        if nb > ORACLE_BANDS:
            counts[:, ORACLE_BANDS:] = np.where(rng.random((n, nb - ORACLE_BANDS)) < 0.7, 0.0, np.nan)
        null_bands = rng.choice(np.arange(1, min(nb, ORACLE_BANDS)), size=2, replace=False)
        counts[:, null_bands] = np.nan
        unknown = np.array([np.nan, 0, 1, 3])[rng.integers(0, 4, n)]
        df = pd.concat(
            [_frame(month, keys, counts, unknown), _boundary(month, nb, providers[0], ccgs[serves[0][0]], rng)],
            ignore_index=True,
        )
        path = os.path.join(out_dir, f"rtt_{month}.csv")
        df.to_csv(path, index=False, float_format="%.0f")
        csv_paths[month] = path
        mangled = df.rename(columns=lambda c: c.replace(" ", "."))
        mangled["monthyr"] = month
        frames.append(mangled)

    fact = pd.concat(frames, ignore_index=True)
    member_set = {(m, p) for m, p, _, _ in members}
    fact["IS_provider"] = [int((m, p) in member_set) for m, p in zip(fact["monthyr"], fact["Provider.Org.Code"])]

    def _write(name: str, header: list[str], rows) -> str:
        path = os.path.join(out_dir, name)
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            w.writerows(rows)
        return path

    ccg_region = {c: REGIONS[i % len(REGIONS)] for i, c in enumerate(ccgs)}
    lsoa_ccg, lsoa_imd, lsoa_pop = [], [], []
    for c in ccgs:
        level = rng.uniform(5.0, 45.0)
        for j in range(LSOAS_PER_CCG):
            lsoa = f"E01{c[1:]}{j:04d}"
            lsoa_ccg.append((lsoa, "CCG20", c))
            lsoa_imd.append((lsoa, round(float(level + rng.normal(0, 4.0)), 2)))
            lsoa_pop.append((lsoa, int(rng.integers(1000, 3000))))
    # Expected quintiles follow lookups.imd_deciles: 6 - ntile(5) over
    # the population-weighted score, ties broken by CCG code.
    score = {}
    for c in ccgs:
        rows = [(s, n) for (l, _, cc), (_, s), (_, n) in zip(lsoa_ccg, lsoa_imd, lsoa_pop) if cc == c]
        score[c] = sum(s * n for s, n in rows) / sum(n for _, n in rows)
    ordered = sorted(ccgs, key=lambda c: (score[c], c))
    imd_quintile = {c: 6 - _ntile(i, len(ordered), 5) for i, c in enumerate(ordered)}

    return RttInputs(
        months=months,
        bands=bands,
        csv_paths=csv_paths,
        members_csv=_write("is_providers.csv", ["monthyr", "codes", "names", "region"], members),
        ccg_region_csv=_write("ccg_region.csv", ["ccg", "region"], sorted(ccg_region.items())),
        lsoa_ccg_csv=_write("lsoa_ccg.csv", ["lsoa", "ccg_year", "ccg"], lsoa_ccg),
        lsoa_imd_csv=_write("lsoa_imd.csv", ["lsoa", "imd_score"], lsoa_imd),
        lsoa_pop_csv=_write("lsoa_pop.csv", ["lsoa", "pop"], lsoa_pop),
        fact=fact,
        ccg_region=ccg_region,
        imd_quintile=imd_quintile,
    )


def _ntile(i: int, n: int, k: int) -> int:
    """1-based ntile bucket of the i-th (0-based) of n ordered rows,
    with SQL's rule that the first n % k buckets get one extra row."""
    base, extra = divmod(n, k)
    cut = extra * (base + 1)
    return i // (base + 1) + 1 if i < cut else extra + (i - cut) // base + 1
