"""Golden tests: the one-pass grouping-sets dashboard engine must match
the pure-Python replica of the R kernel on every grid cell."""

from __future__ import annotations

import math

import pytest

from elective_waiting_times_pipeline_spark.plans import rtt
from tests.rtt_fixture import make_fixture, oracle_stats


@pytest.fixture(scope="module")
def fact(spark):
    pdf = make_fixture()
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def engine_out(spark, fact):
    rows, long = rtt.prepare_fact(fact)
    out = rtt.dashboard_stats(rows, long, geo_col="ccg")
    pdf = out.toPandas()
    key = ["monthyear", "ccg", "specialty", "type", "independent"]
    return {tuple(r[k] for k in key): r for _, r in pdf.iterrows()}


STAT_COLS = [
    "total.patients",
    "number.18.or.less",
    "rate.18wks.or.less",
    "number.52.or.more",
    "rate.52wks.or.more",
    "weeks.50",
    "weeks.92",
    "weeks.95",
]


def _same(a, b) -> bool:
    a_nan = a is None or (isinstance(a, float) and math.isnan(a))
    b_nan = b is None or (isinstance(b, float) and math.isnan(b))
    if a_nan or b_nan:
        return a_nan and b_nan
    return float(a) == float(b)


@pytest.mark.parametrize("independent", ["All", "IS", "Non-IS"])
@pytest.mark.parametrize("geo", ["ENGLAND", "C1", "C2"])
def test_ccg_variant_matches_r_kernel(engine_out, geo, independent):
    pdf_fixture = make_fixture()
    checked = 0
    for month in ["Apr20", "May20"]:
        for spec in ["Total", "General Surgery", "Ear Nose and Throat"]:
            for ptype in [
                "incomplete",
                "incompleteDTA",
                "completeadmitted",
                "completenonadmitted",
                "newRTT",
            ]:
                want = oracle_stats(pdf_fixture, month, geo, spec, ptype, independent)
                key = (month, geo, spec, ptype, independent)
                if key not in engine_out:
                    # engine emits no row for empty groups; oracle total must be 0
                    assert want["total.patients"] == 0, f"missing non-empty group {key}"
                    continue
                got = engine_out[key]
                for c in STAT_COLS:
                    assert _same(got[c], want[c]), f"{key} {c}: {got[c]!r} != {want[c]!r}"
                checked += 1
    assert checked > 10


def test_england_all_is_superset_row_present(engine_out):
    assert ("Apr20", "ENGLAND", "Total", "incomplete", "All") in engine_out


def test_region_variant_via_dim_join(spark, fact):
    """Region / IMD-quintile variants (2.R:492, 2.R:659) = the same
    kernel after a broadcast provider→dim join; verified against the
    Python oracle using the joined column as the geo field."""
    import pandas as pd
    from pyspark.sql import functions as F
    from tests.rtt_fixture import make_fixture, oracle_stats

    dim = spark.createDataFrame(
        [(f"P{i:02d}", "North" if i < 3 else "South") for i in range(6)],
        "`Provider.Org.Code` string, region string",
    )
    joined = fact.join(F.broadcast(dim), on="Provider.Org.Code", how="left")
    rows, long = rtt.prepare_fact(joined)
    # geo_col must be carried through prepare_fact; patch in region
    region_map = {f"P{i:02d} TRUST": ("North" if i < 3 else "South") for i in range(6)}
    rows = rows.replace(region_map, subset=["provider"]).withColumnRenamed("provider", "region")
    long = long.replace(region_map, subset=["provider"]).withColumnRenamed("provider", "region")
    out = rtt.dashboard_stats(rows, long, geo_col="region").toPandas()
    got = {
        (r["monthyear"], r["region"], r["specialty"], r["type"], r["independent"]): r
        for _, r in out.iterrows()
    }
    pdf = make_fixture()
    pdf["region"] = pdf["Provider.Org.Code"].map(lambda p: "North" if int(p[1:]) < 3 else "South")
    want = oracle_stats(pdf, "Apr20", "North", "Total", "incomplete", "All", geo_field="region")
    r = got[("Apr20", "North", "Total", "incomplete", "All")]
    assert r["total.patients"] == want["total.patients"]
    assert _same(r["weeks.50"], want["weeks.50"])
    assert _same(r["rate.18wks.or.less"], want["rate.18wks.or.less"])


def test_integer_geo_key_is_labelled(spark, fact):
    """An integer geo key (the IMD quintile ``lookups.imd_deciles``
    emits) gets the string ENGLAND label, not a cast of 'ENGLAND'."""
    from pyspark.sql import functions as F

    quintile = {f"P{i:02d}": i % 5 + 1 for i in range(6)}
    dim = spark.createDataFrame([(f"{p} TRUST", q) for p, q in quintile.items()], "provider string, imd_quintile int")
    rows, long = rtt.prepare_fact(fact)
    rows, long = rows.join(F.broadcast(dim), "provider"), long.join(F.broadcast(dim), "provider")
    out = rtt.dashboard_stats(rows, long, geo_col="imd_quintile").toPandas()
    got = {
        (r["monthyear"], r["imd_quintile"], r["specialty"], r["type"], r["independent"]): r
        for _, r in out.iterrows()
    }
    pdf = make_fixture()
    pdf["imd_quintile"] = pdf["Provider.Org.Code"].map(lambda p: str(quintile[p]))
    for geo in ("ENGLAND", "1"):
        key = ("Apr20", geo, "Total", "incomplete", "All")
        want = oracle_stats(pdf, *key, geo_field="imd_quintile")
        for c in STAT_COLS:
            assert _same(got[key][c], want[c]), f"{key} {c}: {got[key][c]!r} != {want[c]!r}"


def test_provider_variant_runs(spark, fact):
    rows, long = rtt.prepare_fact(fact)
    out = rtt.dashboard_stats(rows, long, geo_col="provider")
    pdf = out.toPandas()
    assert "provider" in pdf.columns
    assert (pdf["provider"] == "ENGLAND").any()
    assert len(pdf) > 50
