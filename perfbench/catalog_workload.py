"""The ``catalog_headline`` workload: headline catalog queries in a
fixed order over generated tables, each collected in full (as
``bench.py`` runs them) and checked against the DuckDB oracle of
``tests/oracle.py``."""

from __future__ import annotations

import hashlib
import os
import time

import pandas as pd

from elective_waiting_times_pipeline_spark.plans import catalog
from perfbench import catalog_data
from tests.oracle import _normalize, duck_run


# The headline queries one cold run can afford within the benchmark's
# time budget: every catalog module, a query without an oracle
# (minhash_lsh_candidates) and two that pin relations with
# localCheckpoint (weighted_median_value, collocation_pmi).
# ivf_cosine_topk, the other query without an oracle, is left out: its
# cold run alone takes 8-12 s on a 4-core host.  Run in the headline
# order.
SUBSET = {
    "pricing_summary",
    "histogram_quantile",
    "weighted_median_value",
    "minhash_lsh_candidates",
    "collocation_pmi",
    "ann_cosine_topk",
    "sessionize",
    "disjunctive_revenue",
}
HEADLINE_QUERIES = [q for q in catalog.HEADLINE if q in SUBSET]


def module_of(name: str) -> str:
    return catalog.SPARK_QUERIES[name].__module__.rsplit(".", 1)[-1]


def to_pandas(rows, columns: list[str]) -> pd.DataFrame:
    """Collected rows as a frame (the headline queries emit only
    numbers, strings and timestamps, which convert as ``toPandas``)."""
    return pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)


def mismatches(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """The oracle test's comparison: same columns, same row count,
    order-insensitive values, floats equal to 1e-12 relative."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    g, w = _normalize(got), _normalize(want)
    if len(g) != len(w):
        return [f"{len(g)} rows != {len(w)}"]
    for c in g.columns:
        a, b = g[c], w[c]
        if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
            ok = (a.isna() & b.isna()) | ((a - b).abs() <= 1e-12 * b.abs().fillna(0))
        else:
            ok = (a.isna() & b.isna()) | (a == b)
        if not ok.all():
            i = int((~ok).to_numpy().argmax())
            return [f"column {c} row {i}: {a.iloc[i]!r} != {b.iloc[i]!r}"]
    return []


def digest(pdf: pd.DataFrame) -> str:
    return hashlib.sha256(_normalize(pdf).to_csv(index=False).encode()).hexdigest()


class CatalogHeadline:
    def __init__(self, spark, tracer, work: str, seed: int, queries: list[str]):
        self.spark, self.tracer, self.queries = spark, tracer, queries
        self.sf = os.path.join(work, "sf")
        catalog_data.generate(seed, self.sf)
        self.want = {n: duck_run(catalog.ORACLE_SQL[n], self.sf) for n in queries if n in catalog.ORACLE_SQL}

    def named_checks(self) -> dict[str, list[str]]:
        return {}

    def run_query(self, name: str):
        """Build and fully execute one query; returns (seconds, rows,
        columns), the seconds leaving out the traced run's profiling."""
        tr = self.tracer
        mod = module_of(name)
        with tr.span(f"query.{name}"):
            t0 = time.perf_counter()
            with tr.span(f"{mod}.call"):
                df = catalog.SPARK_QUERIES[name](self.spark, self.sf)
            t1 = time.perf_counter()
            tr.profile(mod, df, transfer=True)
            t2 = time.perf_counter()
            rows = df.collect()
        return (t1 - t0) + (time.perf_counter() - t2), rows, df.columns

    def check(self, name: str, rows, columns: list[str]) -> list[str]:
        got = to_pandas(rows, columns)
        if name in self.want:
            return mismatches(got, self.want[name].copy())
        # no oracle: a second execution must give the same result
        again = catalog.SPARK_QUERIES[name](self.spark, self.sf)
        h, h2 = digest(got), digest(to_pandas(again.collect(), again.columns))
        return [] if h == h2 else [f"result digest {h[:12]} != {h2[:12]} on re-execution"]
