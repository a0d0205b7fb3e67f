"""RTT dashboard-statistics engine — the reference's core analytics
(`2. Produce descriptive statistics.R`) re-expressed as ONE Spark pass.

Reference shape (2.R:127-301 provider, 2.R:314-478 ccg, 2.R:492-645
region, 2.R:659-812 imd): a scalar function per (month, geo, specialty,
pathway, IS-bucket) combination, swept over an expand.grid — O(grid)
full-table rescans. Here the whole grid is computed at once:

    fact rows (group keys, scalars, band columns _gt_1.._gt_B)
        GROUP BY GROUPING SETS ((geo,is),(geo),(is),()) × fixed keys,
        summing the scalars and every band into one band vector
        ──row-local──▶ operators.histogram.band_vector_stats

The ENGLAND pseudo-group (2.R:148-150: overwrite geo with a constant)
and the independent∈{0,1,2=All} branch (2.R:344-353) are exactly the
four grouping sets. Spark's Expand operator replicates each row 4× into
one map-side partial aggregation and one shuffle — versus the
reference's |grid| rescans. Quantiles, threshold counts, rates
(R's half-even ``round``) and <20 suppression are the shared kernel's;
this module adds only what is RTT-specific:
  * pathway mapping 2.R:69-76 (5 RTT.Part.Description values);
  * specialty renames 2.R:81-90;
  * NONC (private patients) excluded 2.R:318;
  * totals by pathway 2.R:189-228: complete* = band total + unknown
    clock start; incomplete* = band total; newRTT = Total.All only.
    The kernel's total is the known-start band total (total.nonmiss,
    2.R:237-249), which also decides suppression;
  * newRTT rows keep only their total (2.R:277-298);
  * the reference's golden column names (monthyear, geo, ...,
    `total.patients`, `number.18.or.less`, `weeks.50`, ...).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.operators.histogram import band_vector_stats, wide_to_band_long

PATHWAY_MAP = {
    "Incomplete Pathways": "incomplete",
    "Completed Pathways For Admitted Patients": "completeadmitted",
    "Completed Pathways For Non-Admitted Patients": "completenonadmitted",
    "Incomplete Pathways with DTA": "incompleteDTA",
    "New RTT Periods - All Patients": "newRTT",
}

SPECIALTY_RENAMES = {
    "Ear, Nose & Throat (ENT)": "Ear Nose and Throat",
    "Geriatric Medicine": "Elderly Medicine",
    "Neurosurgical": "Neurosurgery",
    "Trauma & Orthopaedics": "Trauma and Orthopaedic",
    "Other - Medicals": "Other",
    "Other - Mental Healths": "Other",
    "Other - Others": "Other",
    "Other - Paediatrics": "Other",
    "Other - Surgicals": "Other",
}


def pathway_col(rtt_part: str = "RTT.Part.Description") -> F.Column:
    """case_when ladder of 2.R:69-76."""
    c = F.col(f"`{rtt_part}`")
    chain = None
    for raw, mapped in PATHWAY_MAP.items():
        chain = F.when(c == raw, mapped) if chain is None else chain.when(c == raw, mapped)
    return chain.otherwise(F.lit("NA")).alias("pathway")


def clean_specialty(col: str = "Treatment.Function.Name") -> F.Column:
    """` Service` strip + rename ladder of 2.R:81-90."""
    c = F.regexp_replace(F.col(f"`{col}`"), " Service", "")
    chain = None
    for raw, mapped in SPECIALTY_RENAMES.items():
        chain = F.when(c == raw, mapped) if chain is None else chain.when(c == raw, mapped)
    return chain.otherwise(c).alias("specialty")


def prepare_fact(fact: DataFrame, gt_cols: Sequence[str] | None = None) -> tuple[DataFrame, DataFrame]:
    """From the wide RTT extract (FIXTURES.md §1 schema) derive:
      rows — one row per fact row: group keys, scalar measures and the
             band counts as ``_gt_1`` … ``_gt_B`` (band b = b-th Gt column);
      long — melted (group keys, band, cnt) with NULL counts dropped,
             built lazily; ``dashboard_stats`` does not read it.
    Both filtered to NONC-excluded (2.R:318) and pathway != 'NA'.
    """
    if gt_cols is None:
        gt_cols = [c for c in fact.columns if c.startswith("Gt")]
    bands = [f"_gt_{i + 1}" for i in range(len(gt_cols))]
    rows = (
        fact.filter(F.col("`Commissioner.Org.Code`") != "NONC")
        .select(
            F.col("monthyr").alias("monthyear"),
            F.col("`Provider.Org.Name`").alias("provider"),
            F.col("`Commissioner.Org.Code`").alias("ccg"),
            F.col("`Commissioner.Org.Name`").alias("ccg_name"),
            pathway_col(),
            clean_specialty(),
            F.col("IS_provider").cast("int").alias("is_provider"),
            F.coalesce(F.col("`Patients.with.unknown.clock.start.date`").cast("long"), F.lit(0)).alias(
                "unknown_start"
            ),
            F.coalesce(F.col("`Total.All`").cast("long"), F.lit(0)).alias("total_all"),
            *[F.col(f"`{c}`").cast("long").alias(b) for c, b in zip(gt_cols, bands)],
        )
        .filter(F.col("pathway") != "NA")
    )
    keys = ["monthyear", "provider", "ccg", "ccg_name", "pathway", "specialty", "is_provider"]
    return rows, wide_to_band_long(rows, bands, keys)


def dashboard_stats(
    rows: DataFrame,
    long: DataFrame,
    geo_col: str = "ccg",
    quantiles: Sequence[float] = (0.50, 0.92, 0.95),
    all_label: str = "ENGLAND",
) -> DataFrame:
    """All (month × geo ∪ ENGLAND × specialty × pathway × IS ∪ All)
    dashboard statistics in one grouping-sets pass over ``rows``.

    geo_col selects the variant: 'provider' (2.R:127), 'ccg' (2.R:314),
    or any dimension joined onto the fact (region 2.R:492, IMD quintile
    2.R:659); the key is labelled as a string. ``long`` is accepted for
    the ``prepare_fact`` call shape ``dashboard_stats(rows, long)`` and
    ignored. Output: FIXTURES.md §4 summary schema.
    """
    fixed = ["monthyear", "specialty", "pathway"]
    vec = ", ".join(f"named_struct('band', {c[4:]}, 'cnt', SUM({c}))" for c in rows.columns if c.startswith("_gt_"))
    sets = [[*fixed, geo_col, "is_provider"], [*fixed, geo_col], [*fixed, "is_provider"], fixed]
    groups = rows.groupingSets(sets, *fixed, geo_col, "is_provider").agg(
        F.expr(f"CASE WHEN grouping(`{geo_col}`) = 1 THEN '{all_label}' ELSE CAST(`{geo_col}` AS STRING) END").alias(
            "geo"
        ),
        F.expr(
            "CASE WHEN grouping(is_provider) = 1 THEN 'All' WHEN is_provider = 1 THEN 'IS' ELSE 'Non-IS' END"
        ).alias("independent"),
        F.sum("unknown_start").alias("unknown_start"),
        F.sum("total_all").alias("total_all"),
        F.expr(f"array({vec})").alias("_vec"),
    )
    keep = [*fixed, "geo", "independent", "unknown_start", "total_all"]
    stats = band_vector_stats(groups, "_vec", keep, quantiles, (18,), (52,), min_total=20, half_even=True)
    # Totals by pathway (2.R:189-228); total_patients is the known-start
    # band total, which also decides suppression. newRTT keeps only its total.
    total = (
        "CASE WHEN pathway IN ('completeadmitted', 'completenonadmitted') THEN total_patients + unknown_start "
        "WHEN pathway = 'newRTT' THEN total_all ELSE total_patients END"
    )
    kernel = ["number_18_or_less", "rate_18wks_or_less", "number_52_or_more", "rate_52wks_or_more"]
    kernel += [f"weeks_{int(round(q * 100))}" for q in quantiles]
    return stats.selectExpr(
        "monthyear",
        f"geo AS `{geo_col}`",
        "specialty",
        "pathway AS type",
        "independent",
        f"CAST({total} AS BIGINT) AS `total.patients`",
        # the golden names are the kernel's with dots
        *[f"IF(pathway = 'newRTT', NULL, {c}) AS `{c.replace('_', '.')}`" for c in kernel],
    )


def provider_stats_exact(
    rows: DataFrame,
    long: DataFrame,
    quantiles: Sequence[float] = (0.50, 0.92, 0.95),
) -> DataFrame:
    """Exact output parity with `dashboard_stats_provider` (2.R:127-301):
    the provider variant does NOT take an IS bucket — it emits a
    single `IS` column = max(IS_provider) over the subset (0 for the
    ENGLAND pseudo-provider, 2.R:183-185). Implemented as the 'All'
    grouping-set slice of the generalized kernel plus a broadcast-
    joined per-(month, provider) max-flag."""
    stats = dashboard_stats(rows, long, geo_col="provider", quantiles=quantiles)
    all_rows = stats.filter(F.col("independent") == "All").drop("independent")
    flags = rows.groupBy("monthyear", "provider").agg(
        F.max("is_provider").cast("string").alias("IS")
    )
    out = all_rows.join(F.broadcast(flags), on=["monthyear", "provider"], how="left")
    return out.withColumn(
        "IS", F.when(F.col("provider") == "ENGLAND", F.lit("0")).otherwise(F.col("IS"))
    )
