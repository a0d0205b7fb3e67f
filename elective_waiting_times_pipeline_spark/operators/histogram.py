"""Binned-histogram quantile kernel — the engine's signature aggregate.

Reference semantics (`2. Produce descriptive statistics.R:237-261`):
given per-group weekly wait-band counts (band b covers (b-1, b] weeks),
  * quantile q  = (first band where running-total ≥ q × total) − 1,
    i.e. integer weeks waited at the q-th percentile of a PRE-BINNED
    distribution — NOT percentile_approx (different semantics);
  * number ≤ T weeks   = sum of counts over bands 1..T;
  * number ≥ T weeks   = total − that prefix sum;
  * rates = round(count / total × 100, 1);
  * small-sample suppression: all stats NULL when total < 20
    (`2.R:233`, `2.R:277-298`).

Spark-first design: the kernel, ``band_vector_stats``, is row-local.
Each row carries one group's band vector (band ascending); the running
totals are built once per row and every quantile, threshold count, rate
and suppression is read off them by index.  The caller makes the
vectors in one hash aggregation (map-side partial, one shuffle):
``histogram_stats`` collects a (group × band × cnt) histogram,
``plans/rtt.py`` sums the wide band columns under grouping sets.  No
Window, no second aggregate, no UDF; the vector is bounded by the
number of distinct bands (≤ ~110), so the kernel scales with the group
count, not the fact table.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def wide_to_band_long(
    df: DataFrame,
    gt_cols: Sequence[str],
    keep_cols: Sequence[str],
    band_col: str = "band",
    cnt_col: str = "cnt",
) -> DataFrame:
    """Melt wide `Gt.*` histogram columns into (band, cnt) rows.

    Band index is 1-based in column order (Gt.00.To.01 → band 1).
    NULL counts are dropped (R's `na.rm=TRUE` everywhere); the set of
    populated bands varies by month (`2.R:141-145`) and the long form
    absorbs that drift — absent band = absent row, not a schema change.
    """
    pairs = F.array(
        *[
            # backticks: the advertised 'Gt.00.To.01...' names would
            # otherwise parse as nested struct-field access
            F.struct(F.lit(i + 1).alias(band_col), F.col(f"`{c}`").cast("long").alias(cnt_col))
            for i, c in enumerate(gt_cols)
        ]
    )
    exploded = df.select(*keep_cols, F.explode(pairs).alias("_bc"))
    return exploded.select(
        *keep_cols, F.col(f"_bc.{band_col}").alias(band_col), F.col(f"_bc.{cnt_col}").alias(cnt_col)
    ).filter(F.col(cnt_col).isNotNull())


def wide_to_band_array(
    df: DataFrame,
    gt_cols: Sequence[str],
    out_col: str = "wait_band_counts",
) -> DataFrame:
    """Canonical ArrayType form (SURVEY §7.1): the wide Gt* columns as
    one ARRAY<LONG> (index b-1 = band b; NULL cells preserved so the
    month's populated-band set is recoverable)."""
    arr = F.array(*[F.col(f"`{c}`").cast("long") for c in gt_cols])
    return df.withColumn(out_col, arr)


def band_array_to_wide(
    df: DataFrame,
    n_bands: int,
    arr_col: str = "wait_band_counts",
    name_fn=lambda b: f"Gt.{b - 1:02d}.To.{b:02d}.Weeks.SUM.1",
) -> DataFrame:
    """Export adapter: ARRAY<LONG> back to the reference's wide Gt*
    columns (golden CSV compatibility)."""
    cols = [F.element_at(F.col(arr_col), b).alias(name_fn(b)) for b in range(1, n_bands + 1)]
    return df.select("*", *cols).drop(arr_col)


def band_histogram(
    df: DataFrame,
    group_cols: Sequence[str],
    band_col: str,
    cnt_col: str | None = None,
) -> DataFrame:
    """Collapse fact rows to one row per (group × band).

    If ``cnt_col`` is None each input row counts once (building the
    histogram from raw per-item values); otherwise pre-binned counts
    are summed. Either way this is a single shuffle with map-side
    partial aggregation.
    """
    agg = F.count(F.lit(1)) if cnt_col is None else F.sum(cnt_col)
    return df.groupBy(*group_cols, band_col).agg(agg.cast("long").alias("cnt"))


def _round1(x: str, half_even: bool) -> str:
    """SQL rounding the double ``x`` to one decimal place.

    HALF_UP is Spark's ``round``.  Half-even is R's and Python's
    ``round(x, 1)``: correctly rounded from the binary value of ``x``
    (51 / 80 * 100 = 63.74999999999999 → 63.7), ties to even only when
    ``x`` is exactly a midpoint (26.25 → 26.2).  Spark's ``bround``
    rounds the decimal string Java prints for ``x`` instead, so
    1 / 2000 * 100 (printed 0.05, stored just above it) goes to 0.0.
    Here ``x`` is compared exactly with the midpoint (2k+1)/20 above its
    tenth k: 20x = 16x + 4x is split into the double sum ``s`` and its
    exact error ``e`` (both multiples are exact, so Fast2Sum applies).
    ``floor(x * 10)`` can only overshoot k when x lies just under a
    tenth, which then rounds to that tenth anyway."""
    if not half_even:
        return f"round({x}, 1)"
    k = f"floor({x} * 10)"
    s = f"({x} * 16D + {x} * 4D)"
    e = f"({x} * 4D - ({s} - {x} * 16D))"
    m = f"(2 * {k} + 1)"
    up = f"{s} > {m} OR ({s} = {m} AND ({e} > 0 OR ({e} = 0 AND {k} % 2 = 1)))"
    return f"(({k} + IF({up}, 1, 0)) / 10D)"


def band_vector_stats(
    df: DataFrame,
    vec: str,
    keep: Sequence[str],
    quantiles: Iterable[float] = (0.50, 0.92, 0.95),
    le_thresholds: Iterable[int] = (18,),
    ge_thresholds: Iterable[int] = (52,),
    min_total: int = 20,
    half_even: bool = False,
) -> DataFrame:
    """The kernel: histogram statistics of one band vector per row.

    ``vec`` is an ARRAY<STRUCT<band, cnt>> in ascending band order; NULL
    counts count as 0.  Row-local: no shuffle, Window or aggregate.
    The running totals are built once, with a leading 0, so the total
    is the last one, a quantile's crossing band is at the index given
    by the count of running totals below q × total, and the ≤ T count
    is the running total after the bands ≤ T.

    Output: ``keep``, total_patients, weeks_{q*100} (INT),
    number_{T}_or_less / rate_{T}wks_or_less per ≤-threshold and
    number_{T}_or_more / rate_{T}wks_or_more per ≥-threshold; all but
    the total NULL when total < ``min_total``.  Rates are
    ``round(100 * x / total, 1)`` HALF_UP, or with ``half_even`` R's
    ``round(x / total * 100, 1)`` (see ``_round1``).
    """
    kept = [f"`{c}`" for c in keep]
    run = df.selectExpr(
        *kept,
        f"aggregate(`{vec}`, array(0L), (c, x) -> concat(c, array(element_at(c, -1) + coalesce(CAST(x.cnt AS BIGINT), 0L)))) AS _cum",
        f"transform(`{vec}`, x -> x.band) AS _band",
    ).selectExpr(*kept, "_cum", "_band", "element_at(_cum, -1) AS total_patients")

    def when_kept(sql: str) -> str:
        return f"CASE WHEN total_patients >= {min_total} THEN {sql} END"

    def upto(thr: int) -> str:
        return f"element_at(_cum, size(filter(_band, b -> b <= {thr})) + 1)"

    weeks = {
        f"weeks_{int(round(q * 100))}": f"CAST(element_at(_band, greatest(size(filter(_cum, c -> c < {q!r}D * total_patients)), 1)) - 1 AS INT)"
        for q in quantiles
    }
    counts = [(f"number_{t}_or_less", f"rate_{t}wks_or_less", upto(t)) for t in le_thresholds]
    counts += [(f"number_{t}_or_more", f"rate_{t}wks_or_more", f"total_patients - {upto(t)}") for t in ge_thresholds]
    ratio = "CAST({0} AS DOUBLE) / total_patients * 100D" if half_even else "100D * {0} / total_patients"
    stats = run.selectExpr(
        *kept,
        "total_patients",
        *[f"{when_kept(sql)} AS {name}" for name, sql in weeks.items()],
        *[f"{when_kept(sql)} AS {name}" for name, _, sql in counts],
    ).selectExpr(
        *kept,
        "total_patients",
        *weeks,
        *[c for name, rate, _ in counts for c in (name, f"{ratio.format(name)} AS {rate}")],
    )
    return stats.withColumns({rate: F.expr(_round1(rate, half_even)) for _, rate, _ in counts})


def histogram_stats(
    hist: DataFrame,
    group_cols: Sequence[str],
    band_col: str = "band",
    cnt_col: str = "cnt",
    quantiles: Iterable[float] = (0.50, 0.92, 0.95),
    le_thresholds: Iterable[int] = (18,),
    ge_thresholds: Iterable[int] = (52,),
    min_total: int = 20,
    half_even: bool = False,
) -> DataFrame:
    """Quantiles + threshold counts/rates + suppression from a
    (group × band × cnt) histogram: one hash aggregation collects each
    group's bands into a sorted vector, then ``band_vector_stats``.

    ``half_even=True`` rounds rates as R and Python ``round`` do (golden
    parity with the reference, e.g. 26.25 → 26.2, 51/80 → 63.7); the
    default HALF_UP matches SQL-engine ROUND.
    """
    grp = list(group_cols)
    vec = hist.groupBy(*grp).agg(
        F.expr(f"array_sort(collect_list(named_struct('band', `{band_col}`, 'cnt', `{cnt_col}`)))").alias("_vec")
    )
    return band_vector_stats(vec, "_vec", grp, quantiles, le_thresholds, ge_thresholds, min_total, half_even)
