"""Query registry shared by all catalog modules.

Each query is registered as a (spark_fn, duckdb_oracle_sql) pair; the
driver contract (`__spark_entry__.py`) and bench harness read these
dicts. Determinism rules (why oracles match hash-for-hash) are
documented in plans/catalog.py.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}

# Headline subset for bench.py (kept small enough to run per-round at
# sf0.1; representative of scan/join/agg/window/text/vector paths).
HEADLINE: list[str] = []


def query(name: str, oracle: str | None = None, headline: bool = False):
    def deco(fn):
        if name in SPARK_QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        SPARK_QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        if headline:
            HEADLINE.append(name)
        return fn

    return deco


def sl2(c) -> F.Column:
    """2-dp value as a scaled long: floor(x*100 + 0.5). Exact for any
    source with ≤2 decimal places (x*100 is then integer ± ε, so the
    +0.5 floor recovers it for either sign), pure codegen'd double →
    long math — no BigDecimal boxing (F.round costs ~10× in hot
    aggregates), and long sums are order-independent."""
    return F.floor((F.col(c) if isinstance(c, str) else c) * 100 + 0.5).cast("long")


def sum2(c, alias: str):
    """Order-independent double sum via scaled-long integer math."""
    return (F.sum(sl2(c)) / 100.0).alias(alias)


# DuckDB oracle fragment mirroring sl2/sum2.
def o_sum2(expr: str) -> str:
    return f"CAST(SUM(CAST(floor({expr} * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100"
