"""Golden tests for the signature histogram-quantile kernel,
reproducing the reference's semantics (`2. Produce descriptive
statistics.R:237-261`): quantile = first band whose cumulative count
crosses q*total, minus 1; threshold counts/rates; suppression below 20.
"""

from __future__ import annotations

from pyspark.sql import Row

from elective_waiting_times_pipeline_spark.operators.histogram import (
    band_histogram,
    histogram_stats,
    wide_to_band_long,
)


def _stats_for(spark, counts: dict[int, int], **kw):
    rows = [Row(grp="g", band=b, cnt=c) for b, c in counts.items()]
    hist = spark.createDataFrame(rows)
    out = histogram_stats(hist, ["grp"], **kw).collect()
    assert len(out) == 1
    return out[0]


def test_median_simple(spark):
    # bands 1..4 with counts 10,10,10,10 → total 40, cum: 10,20,30,40
    # q=0.5 target 20 → first band with cum>=20 is band 2 → weeks=1
    r = _stats_for(spark, {1: 10, 2: 10, 3: 10, 4: 10}, quantiles=(0.5,))
    assert r.total_patients == 40
    assert r.weeks_50 == 1


def test_quantile_crossing_exact_boundary(spark):
    # total=100, q=0.92 → target 92; cum hits 92 exactly at band 3 → weeks=2
    r = _stats_for(spark, {1: 50, 2: 40, 3: 2, 4: 8}, quantiles=(0.92,))
    assert r.weeks_92 == 2


def test_sparse_bands_skip_missing(spark):
    # bands 1 and 50 only; median crosses at band 1 (cum 30 >= 20)
    r = _stats_for(spark, {1: 30, 50: 10}, quantiles=(0.5, 0.95))
    assert r.weeks_50 == 0
    assert r.weeks_95 == 49


def test_thresholds(spark):
    # 30 in band 10, 10 in band 60: ≤18 → 30 (75.0%), ≥52 → 10 (25.0%)
    r = _stats_for(spark, {10: 30, 60: 10}, le_thresholds=(18,), ge_thresholds=(52,))
    assert r.number_18_or_less == 30
    assert r.rate_18wks_or_less == 75.0
    assert r.number_52_or_more == 10
    assert r.rate_52wks_or_more == 25.0


def test_suppression_boundary(spark):
    # totals 19 / 20 / 21 — suppressed, kept, kept (2.R:233 rule: < 20)
    r19 = _stats_for(spark, {1: 19}, quantiles=(0.5,))
    r20 = _stats_for(spark, {1: 20}, quantiles=(0.5,))
    r21 = _stats_for(spark, {1: 21}, quantiles=(0.5,))
    assert r19.weeks_50 is None and r19.rate_18wks_or_less is None
    assert r19.total_patients == 19  # total itself is not suppressed
    assert r20.weeks_50 == 0
    assert r21.weeks_50 == 0


def test_wide_to_band_long(spark):
    df = spark.createDataFrame(
        [("a", 5, None, 7)], schema="k string, g1 long, g2 long, g3 long"
    )
    long = wide_to_band_long(df, ["g1", "g2", "g3"], ["k"]).collect()
    got = {(r.k, r.band): r.cnt for r in long}
    # NULL band dropped (na.rm), band index = 1-based column order
    assert got == {("a", 1): 5, ("a", 3): 7}


def test_band_histogram_counts_rows(spark):
    df = spark.createDataFrame([Row(g="x", band=2)] * 3 + [Row(g="x", band=5)])
    hist = {r.band: r.cnt for r in band_histogram(df, ["g"], "band").collect()}
    assert hist == {2: 3, 5: 1}


def test_rate_rounding_half_even_vs_half_up(spark):
    # 21 of 80 ≤ threshold → 26.25 exactly: R/Python half-even gives
    # 26.2, SQL-engine HALF_UP gives 26.3 (ADVICE r1).
    counts = {10: 21, 60: 59}
    up = _stats_for(spark, counts, le_thresholds=(18,), ge_thresholds=())
    ev = _stats_for(spark, counts, le_thresholds=(18,), ge_thresholds=(), half_even=True)
    assert up.rate_18wks_or_less == 26.3
    assert ev.rate_18wks_or_less == 26.2


def test_rate_half_even_rounds_the_double_like_r(spark):
    # R and Python round the binary value of x / n * 100 (21/80 -> 26.2
    # is test_rate_rounding_half_even_vs_half_up):
    # 51/80*100 = 63.74999999999999 -> 63.7; 1/2000*100 = 0.05000000000000000277 -> 0.1
    for x, n, want in ((51, 80, 63.7), (1, 2000, 0.1)):
        r = _stats_for(spark, {10: x, 60: n - x}, le_thresholds=(18,), ge_thresholds=(52,), half_even=True)
        assert r.rate_18wks_or_less == want, (x, n)
        assert r.rate_52wks_or_more == round((n - x) / n * 100, 1), (x, n)


def test_rate_half_even_matches_python_round_for_every_count(spark):
    ns = (80, 400, 2000, 4000)
    rows = [Row(grp=f"{n}/{x}", band=b, cnt=c) for n in ns for x in range(n + 1) for b, c in ((10, x), (60, n - x))]
    out = histogram_stats(
        spark.createDataFrame(rows), ["grp"], quantiles=(), le_thresholds=(18,), ge_thresholds=(), half_even=True
    ).collect()
    assert len(out) == sum(n + 1 for n in ns)
    bad = []
    for r in out:
        n, x = map(int, r.grp.split("/"))
        if r.rate_18wks_or_less != round(x / n * 100, 1):
            bad.append((x, n, r.rate_18wks_or_less))
    assert not bad, bad[:10]
