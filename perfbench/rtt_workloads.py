"""The ``rtt_backfill`` workload: the paper's pipeline as one batch.

It drives the engine only through its public functions (readers,
ingest, rtt, lookups, reporting, edges) over files written by
``rtt_data``; the glue here only adds what a caller of those
functions adds (the ``monthyr`` label, dimension joins, file paths).
"""

from __future__ import annotations

import glob
import os
import random
import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elective_waiting_times_pipeline_spark.plans import ingest, lookups, reporting, rtt
from elective_waiting_times_pipeline_spark.sources import edges, readers
from perfbench import rtt_data
from tests.rtt_fixture import PATHWAY_MAP, clean_spec, oracle_stats

# variant -> (geo column of the output, column of the oracle's input frame)
VARIANTS = {
    "provider": ("provider", "Provider.Org.Name"),
    "ccg": ("ccg", "Commissioner.Org.Code"),
    "region": ("region", "region"),
    "imd": ("imd_quintile", "imd_quintile"),
}
BACKFILL_SHAPE = rtt_data.RttShape(months=2, providers=12, ccgs=8)


def landing_schema(n_bands: int) -> T.StructType:
    counts = [rtt_data.nhs_band_header(b) for b in range(1, n_bands + 1)] + rtt_data.TAIL_COLS
    return T.StructType(
        [T.StructField(c, T.StringType()) for c in rtt_data.TEXT_COLS]
        + [T.StructField(c, T.LongType()) for c in counts]
    )


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    files = [f for f in glob.glob(os.path.join(path, "**", "*"), recursive=True) if os.path.isfile(f)]
    data = [f for f in files if not os.path.basename(f).startswith((".", "_"))]
    return sum(os.path.getsize(f) for f in data), len(data)


def read_output(path: str) -> pd.DataFrame:
    parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    return pd.concat([pd.read_csv(p, dtype={"imd_quintile": str, "IS": str}) for p in parts], ignore_index=True)


RATE_OF = {"rate.18wks.or.less": "number.18.or.less", "rate.52wks.or.more": "number.52.or.more"}


def _rounding_order(got, want, count) -> bool:
    """True when ``got`` and ``want`` are the two roundings of an exact
    midpoint 100 * count / n for a whole n.  The engine computes
    ``bround(100 * count / n, 1)``; R (and the oracle) compute
    ``round(count / n * 100, 1)``, whose binary value can fall just
    below the midpoint (51 / 80 * 100 = 63.74999999999999 -> 63.7, where
    the engine gives 63.8)."""
    if pd.isna(got) or pd.isna(want) or not count or abs(abs(float(got) - float(want)) - 0.1) > 1e-9:
        return False
    n = 100 * float(count) / ((float(got) + float(want)) / 2)
    return abs(n - round(n)) < 1e-6


def _same(got, want) -> bool:
    if want is None or (isinstance(want, float) and pd.isna(want)):
        return got is None or pd.isna(got)
    return got is not None and not pd.isna(got) and float(got) == float(want)


@dataclass
class Cell:
    variant: str
    month: str
    geo: str
    specialty: str
    pathway: str
    independent: str
    want: dict


class Backfill:
    """Landing CSVs -> lake -> provider / ccg / region / IMD statistics
    -> ratios -> CSV, with sampled output cells checked against the
    pure-Python oracle of ``tests.rtt_fixture``."""

    OUTPUTS = ("provider", "ccg", "region", "imd", "ratio")

    def __init__(self, spark, tracer, work: str, seed: int, shape: rtt_data.RttShape = BACKFILL_SHAPE):
        self.spark, self.tracer = spark, tracer
        self.inputs = rtt_data.generate(seed, shape, os.path.join(work, "landing"))
        self.lake = os.path.join(work, "lake")
        self.out = os.path.join(work, "out")
        self.rng = random.Random(seed)
        fact = self.inputs.fact
        fact["region"] = fact["Commissioner.Org.Code"].map(self.inputs.ccg_region)
        quintile = {c: str(q) for c, q in self.inputs.imd_quintile.items()}
        fact["imd_quintile"] = fact["Commissioner.Org.Code"].map(quintile)
        fact["_spec"] = fact["Treatment.Function.Name"].map(clean_spec)
        fact["_pw"] = fact["RTT.Part.Description"].map(PATHWAY_MAP)
        self.slices = {k: g for k, g in fact[fact["Commissioner.Org.Code"] != "NONC"].groupby(["monthyr", "_spec"])}
        months = self.inputs.months
        # planted cells of the first month (52 bands) for two variants
        # and of the last (104 bands) for the other two
        self.cells = {v: self.sample_cells(v, [months[-(i % 2)]], 4) for i, v in enumerate(VARIANTS)}
        self.ratio_cells = self.ratio_expect(4)
        self.prepared = None  # (rows, long) of the last run
        self.rounding_order: list[str] = []  # rate mismatches of that known defect

    # -- inputs ---------------------------------------------------------

    def read_month(self, month: str):
        with self.tracer.span("readers.read_csv_checked"):
            df = readers.read_csv_checked(
                self.spark, self.inputs.csv_paths[month], landing_schema(self.inputs.bands[month])
            )
        return df.withColumn("monthyr", F.lit(month))

    def _csv(self, path: str, schema: str):  # schema as a DDL string
        with self.tracer.span("readers.read_csv_checked"):
            return readers.read_csv_checked(self.spark, path, schema)

    def members(self):
        return self._csv(self.inputs.members_csv, "monthyr string, codes string, names string, region string")

    def ccg_region(self):
        return self._csv(self.inputs.ccg_region_csv, "ccg string, region string")

    def imd_key(self):
        """CCG -> IMD quintile for the CCG20 vintage (integer, as the engine emits it)."""
        lsoa_ccg = self._csv(self.inputs.lsoa_ccg_csv, "lsoa string, ccg_year string, ccg string")
        lsoa_imd = self._csv(self.inputs.lsoa_imd_csv, "lsoa string, imd_score double")
        lsoa_pop = self._csv(self.inputs.lsoa_pop_csv, "lsoa string, pop long")
        with self.tracer.span("lookups.weighted_imd_by_ccg"):
            weighted = lookups.weighted_imd_by_ccg(lsoa_ccg, lsoa_imd, lsoa_pop)
        with self.tracer.span("lookups.imd_deciles"):
            deciles = lookups.imd_deciles(weighted)
        return deciles.filter(F.col("ccg_year") == "CCG20").select("ccg", "imd_quintile")

    # -- outputs --------------------------------------------------------

    def dashboard(self, variant: str, rows, long):
        with self.tracer.span(f"rtt.dashboard_stats.{variant}"):
            stats = rtt.dashboard_stats(rows, long, geo_col=VARIANTS[variant][0])
        self.tracer.profile(f"rtt.dashboard_stats.{variant}", stats)
        return stats

    def write(self, df, name: str) -> str:
        path = os.path.join(self.out, name)
        with self.tracer.span("edges.write_csv") as sp:
            edges.write_csv(df, path)
        if sp is not None:
            sp.counters["bytes"] = float(dir_size(path)[0])
        return path

    # -- checks ---------------------------------------------------------

    def oracle(self, month, geo, spec, pathway, independent, geo_field="Commissioner.Org.Code") -> dict:
        """``oracle_stats`` on the month/specialty slice of the input (the
        oracle selects that slice itself; pre-slicing only saves time)."""
        return oracle_stats(self.slices[(month, spec)], month, geo, spec, pathway, independent, geo_field=geo_field)

    def sample_cells(self, variant: str, months: list[str], n_random: int) -> list[Cell]:
        """Sampled output cells with their oracle values: ENGLAND x
        IS/Non-IS/All and the planted 19/20/21 and half-even cells in
        ``months``, and random populated cells of any month."""
        geo_in = VARIANTS[variant][1]
        live = pd.concat(self.slices.values())
        bucket = {1: "IS", 0: "Non-IS"}
        picks = []
        for m in months:
            spec = clean_spec(self.rng.choice(rtt_data.SPECIALTIES))
            pw = self.rng.choice(list(PATHWAY_MAP.values())[:4])
            for ind in ("IS", "Non-IS", "All"):
                picks.append((m, "ENGLAND", spec, pw, ind))
            boundary = live[(live.monthyr == m) & (live["Treatment.Function.Name"] == rtt_data.BOUNDARY_SPECIALTY)]
            geo = str(boundary[geo_in].iloc[0])
            ind = bucket[int(boundary["IS_provider"].iloc[0])]
            for pw in list(PATHWAY_MAP.values())[:4]:
                picks.append((m, geo, clean_spec(rtt_data.BOUNDARY_SPECIALTY), pw, ind))
        for i in self.rng.sample(range(len(live)), n_random):
            r = live.iloc[i]
            ind = self.rng.choice([bucket[int(r["IS_provider"])], "All"])
            picks.append(
                (r.monthyr, str(r[geo_in]), clean_spec(r["Treatment.Function.Name"]), PATHWAY_MAP[r["RTT.Part.Description"]], ind)
            )
        if variant == "provider":  # provider_stats_exact has no IS bucket: All only
            picks = [p[:4] + ("All",) for p in picks]
        cells = []
        for m, geo, spec, pw, ind in dict.fromkeys(picks):
            sl = self.slices[(m, spec)]
            group = sl[
                ((sl[geo_in] == geo) if geo != "ENGLAND" else True)
                & (sl["_pw"] == pw)
                & ((sl["IS_provider"] == int(ind == "IS")) if ind != "All" else True)
            ]
            if group.empty:  # an empty group has no output row
                continue
            want = self.oracle(m, geo, spec, pw, ind, geo_field=geo_in)
            if variant == "provider":
                flags = live[(live.monthyr == m) & (live[geo_in] == geo)]["IS_provider"]
                want["IS"] = "0" if geo == "ENGLAND" else str(int(flags.max()))
            cells.append(Cell(variant, m, geo, spec, pw, ind, want))
        return cells

    def check_cells(self, path: str, cells: list[Cell]) -> list[str]:
        """Mismatch descriptions for ``cells`` against the CSV at ``path``.
        Rates off by one rounding step at an exact midpoint are recorded
        under the known defect ``rate_rounding_order`` instead."""
        out = read_output(path)
        bad = []
        for c in cells:
            geo_out = VARIANTS[c.variant][0]
            hit = out[
                (out.monthyear == c.month)
                & (out[geo_out].astype(str) == c.geo)
                & (out.specialty == c.specialty)
                & (out.type == c.pathway)
                & ((out.independent == c.independent) if "independent" in out.columns else True)
            ]
            if len(hit) != 1:
                bad.append(f"{c.variant} {c.month}/{c.geo}/{c.specialty}/{c.pathway}/{c.independent}: {len(hit)} rows")
                continue
            row = hit.iloc[0]
            for k, v in c.want.items():
                if _same(row[k], v):
                    continue
                msg = f"{c.variant} {c.month}/{c.geo}/{c.specialty}/{c.pathway}/{c.independent} {k}: {row[k]!r} != {v!r}"
                if k in RATE_OF and _rounding_order(row[k], v, c.want[RATE_OF[k]]):
                    self.rounding_order.append(msg)
                else:
                    bad.append(msg)
        return bad

    def ratio_expect(self, n: int) -> list[tuple[tuple, dict]]:
        live = pd.concat(self.slices.values())
        # keyed on newRTT rows, so the pivot has a row for every pick
        live = live[live["_pw"] == "newRTT"]
        picks = []
        for i in self.rng.sample(range(len(live)), n):
            r = live.iloc[i]
            picks.append((r.monthyr, r["Commissioner.Org.Code"], r["_spec"], "All"))
        out = []
        for key in dict.fromkeys(picks):
            tot = {
                pw: self.oracle(*key[:3], pw, key[3])["total.patients"]
                for pw in ("newRTT", "completeadmitted", "completenonadmitted")
            }
            out.append((key, {"started": tot["newRTT"], "completed": tot["completeadmitted"] + tot["completenonadmitted"]}))
        return out

    def check_ratio(self, path: str, expect) -> list[str]:
        out = read_output(path)
        bad = []
        for (m, ccg, spec, ind), want in expect:
            hit = out[(out.monthyear == m) & (out.ccg == ccg) & (out.specialty == spec) & (out.independent == ind)]
            if len(hit) != 1:
                bad.append(f"ratio {m}/{ccg}/{spec}/{ind}: {len(hit)} rows")
                continue
            for k, v in want.items():
                got = hit.iloc[0][k]
                if not _same(got, v):
                    bad.append(f"ratio {m}/{ccg}/{spec}/{ind} {k}: {got!r} != {v!r}")
        return bad

    # -- the run --------------------------------------------------------

    def run_once(self) -> list[tuple[str, float]]:
        """One backfill; returns (output, seconds) per output, each
        timed from the lake being ready to its CSV being written."""
        t0 = time.perf_counter()
        monthly = [self.read_month(m) for m in self.inputs.months]
        members = self.members()
        with self.tracer.span("ingest.build_fact_lake") as sp:
            ingest.build_fact_lake(monthly, members, self.lake)
        if sp is not None:
            sp.counters["lake_bytes"], sp.counters["files"] = map(float, dir_size(self.lake))
        fact = self.spark.read.parquet(self.lake)
        with self.tracer.span("rtt.prepare_fact"):
            rows, long = rtt.prepare_fact(fact)
        self.prepared = rows, long
        self.tracer.profile("rtt.prepare_fact", rows)
        self.tracer.profile("histogram.wide_to_band_long", long)
        ops = []
        t = time.perf_counter()
        ops.append(("ingest", t - t0))

        def emit(name, df):
            nonlocal t
            self.write(df, name)
            now = time.perf_counter()
            ops.append((name, now - t))
            t = now

        with self.tracer.span("rtt.provider_stats_exact"):
            prov = rtt.provider_stats_exact(rows, long)
        self.tracer.profile("rtt.provider_stats_exact", prov)
        emit("provider", prov)
        ccg = self.dashboard("ccg", rows, long)
        emit("ccg", ccg)
        region = F.broadcast(self.ccg_region())
        emit("region", self.dashboard("region", rows.join(region, "ccg"), long.join(region, "ccg")))
        # The engine emits an integer quintile, which dashboard_stats
        # cannot label with 'ENGLAND' (see check_imd_integer_key); the
        # timed path casts it to string.
        key = F.broadcast(self.imd_key().withColumn("imd_quintile", F.col("imd_quintile").cast("string")))
        emit("imd", self.dashboard("imd", rows.join(key, "ccg"), long.join(key, "ccg")))
        with self.tracer.span("reporting.ratio_started_vs_completed"):
            ratio = reporting.ratio_started_vs_completed(ccg)
        emit("ratio", ratio)
        return ops

    def check(self, output: str) -> list[str]:
        path = os.path.join(self.out, output)
        if output == "ratio":
            return self.check_ratio(path, self.ratio_cells)
        if output == "ingest":
            return []
        return self.check_cells(path, self.cells[output])

    def named_checks(self) -> dict[str, list[str]]:
        """Checks made once per run, beside the per-output ones."""
        got = {r.ccg: r.imd_quintile for r in self.imd_key().collect()}
        quint = [] if got == self.inputs.imd_quintile else [f"imd quintiles {got} != {self.inputs.imd_quintile}"]
        return {
            "imd_quintiles": quint,
            "imd_integer_key": self.check_imd_integer_key(),
            "rate_rounding_order": self.rounding_order,
        }

    def check_imd_integer_key(self) -> list[str]:
        """Pass the IMD quintile to dashboard_stats as the engine emits
        it (an integer).  Fails while the ENGLAND label cannot be cast
        to the key's type."""
        rows, long = self.prepared
        key = F.broadcast(self.imd_key())
        try:
            n = len(rtt.dashboard_stats(rows.join(key, "ccg"), long.join(key, "ccg"), geo_col="imd_quintile").collect())
        except Exception as e:  # the defect surfaces as a Spark error of any class
            return [f"{type(e).__name__}: {str(e).strip().splitlines()[0][:200]}"]
        want = len(read_output(os.path.join(self.out, "imd")))
        return [] if n == want else [f"{n} rows with an integer key, {want} with a string key"]
