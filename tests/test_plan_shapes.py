"""Physical-plan regression guards: the properties that make these
queries scale (pushdown, pruning, broadcast, partial aggregation) must
stay visible in the plan — a correctness-preserving refactor that
loses them is a scale regression."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from elective_waiting_times_pipeline_spark.plans import catalog


def _plan(spark, name, sf_dir, mode="formatted"):
    df = catalog.SPARK_QUERIES[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _n_scans(plan: str) -> int:
    """Scan nodes by id — the formatted output names each node twice
    (tree + details)."""
    return len(re.findall(r"\(\d+\) Scan parquet", plan))


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, "filter_project", sf_dir)
    assert "PushedFilters:" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    # column pruning: untouched wide columns absent from ReadSchema
    assert "l_comment" not in plan and "l_tax" not in plan


def test_dim_join_is_broadcast(spark, sf_dir):
    plan = _plan(spark, "join_left_broadcast", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_agg_has_mapside_partial(spark, sf_dir):
    plan = _plan(spark, "pricing_summary", sf_dir)
    # partial + final pairs around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_semi_anti_join_operators(spark, sf_dir):
    assert "LeftSemi" in _plan(spark, "semi_join", sf_dir)
    assert "LeftAnti" in _plan(spark, "anti_join", sf_dir)


def test_cube_uses_expand_not_rescans(spark, sf_dir):
    plan = _plan(spark, "grouping_sets_cube", sf_dir)
    assert "Expand" in plan
    assert _n_scans(plan) == 1  # one pass, not per-combo


def test_histogram_kernel_single_scan_and_partial_aggs(spark, sf_dir):
    assert _n_scans(_plan(spark, "histogram_quantile", sf_dir)) == 1
    simple = _plan(spark, "histogram_quantile", sf_dir, mode="simple")
    # the band histogram and its per-group band vector are both
    # map-side combined; quantiles are read off the vector row-locally
    assert "partial_count" in simple and "partial_collect_list" in simple
    assert "Window" not in simple


def test_rtt_dashboard_one_shuffle_no_window_generate_join(spark):
    """The ccg dashboard is one grouping-sets aggregation feeding the
    row-local kernel: one shuffle, and no band melt, window or join."""
    from elective_waiting_times_pipeline_spark.plans import rtt
    from tests.rtt_fixture import make_fixture

    rows, long = rtt.prepare_fact(spark.createDataFrame(make_fixture()))
    stats = rtt.dashboard_stats(rows, long, geo_col="ccg")
    stats.write.format("noop").mode("overwrite").save()
    # final plan only — AQE's toString repeats nodes in the trailing
    # "== Initial Plan ==" section
    plan = stats._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1, plan
    assert "Exchange" not in plan.replace("Exchange hashpartitioning", ""), plan
    for node in ("Window", "Generate", "Join"):
        assert node not in plan, plan


def test_minhash_single_corpus_scan(spark, sf_dir):
    plan = _plan(spark, "minhash_lsh_candidates", sf_dir)
    assert _n_scans(plan) == 1  # bucket-local pairs, no self-join rescan


def test_range_join_binned_is_equi_not_nested_loop(spark, sf_dir):
    plan = _plan(spark, "range_join_busy_windows", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # the click-side filter must reach the scan
    assert "EqualTo(event_type,click)" in plan


def test_quality_filter_prunes_to_two_columns(spark, sf_dir):
    plan = _plan(spark, "text_quality_filter", sf_dir)
    # only doc_id + text read; the source/lang/n_chars columns pruned
    assert "source" not in plan.split("ReadSchema")[1].splitlines()[0]
    assert _n_scans(plan) == 1


def test_shipping_priority_pushdown_and_topk(spark, sf_dir):
    plan = _plan(spark, "shipping_priority", sf_dir)
    # all three selective predicates reach the scans
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "LessThan(o_orderdate" in plan
    assert "GreaterThan(l_shipdate" in plan
    # top-k is a TakeOrderedAndProject, never a global sort
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final revenue agg
    # lineitem scan pruned to the 4 needed columns
    assert "l_comment" not in plan and "l_quantity" not in plan


def test_tfidf_no_cartesian_blowup(spark, sf_dir):
    plan = _plan(spark, "tfidf_top_terms", sf_dir)
    # the only product is the 1-row scalar N (broadcast nested loop);
    # tf×df must be an equi-join
    assert plan.count("CartesianProduct") == 0
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # one scan of documents feeds both tf and df branches... (two scans
    # allowed: Spark re-reads rather than caching a lazy plan) — but
    # never more than the tf/df/N trio
    assert _n_scans(plan) <= 3


def test_sample_split_is_pure_projection(spark, sf_dir):
    plan = _plan(spark, "sample_split_hash", sf_dir)
    # no shuffle at all: hash-threshold splitting is per-row codegen
    assert "Exchange" not in plan
    assert _n_scans(plan) == 1


def test_centroids_partial_agg_before_shuffle(spark, sf_dir):
    plan = _plan(spark, "embedding_centroids", sf_dir)
    # posexplode fan-out must be reduced map-side before the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Generate" in plan  # the posexplode


def test_runtime_filter_prefilter_is_broadcast_semi(spark, sf_dir):
    plan = _plan(spark, "runtime_filter_semi_join", sf_dir)
    # the bucket prefilter: a broadcast LeftSemi ahead of the exact join
    assert plan.count("LeftSemi") >= 2
    assert "BroadcastExchange" in plan
    # the fact table is scanned exactly once (prefilter is not a rescan)
    assert len(re.findall(r"Location:[^\n]*lineitem", plan)) == 1


def test_gapfill_single_fact_aggregation(spark, sf_dir):
    plan = _plan(spark, "events_gapfill_locf", sf_dir)
    # grid join + LOCF window never rescan the raw event log more than
    # the bucket-agg and bounds branches need
    assert _n_scans(plan) <= 2
    assert plan.count("HashAggregate") >= 2  # partial+final bucket agg


def test_runtime_filter_equivalence_under_heavy_collisions(spark):
    # m=8 buckets over 200 fact keys: the lossy prefilter passes many
    # false positives — the exact stage must remove every one. Null
    # keys on both sides never match, exactly like the plain semi join.
    from elective_waiting_times_pipeline_spark.operators.runtimefilter import (
        prefiltered_semi_join,
    )

    fact = spark.createDataFrame(
        [(i, i % 97) for i in range(200)] + [(1000, None)], "row_id long, k long"
    )
    dim = spark.createDataFrame([(3,), (50,), (96,), (None,)], "d long")
    got = prefiltered_semi_join(fact, dim, "k", "d", m=8)
    want = fact.join(dim, fact.k == dim.d, "left_semi")
    assert sorted(r.row_id for r in got.collect()) == sorted(
        r.row_id for r in want.collect()
    )
    assert got.count() > 0


def test_q5_shape_pushdown_and_broadcasts(spark, sf_dir):
    plan = _plan(spark, "local_supplier_volume", sf_dir)
    # region + date filters reach the scans; tiny dims broadcast
    assert "EqualTo(r_name,ASIA)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final revenue agg


# ---------------------------------------------------------------------------
# Catalog-wide single-partition-window lint: an unpartitioned
# WindowExec funnels its whole input through ONE task — the classic
# silent 100 TB scale-killer (a global ntile/row_number/running-sum
# looks fine at sf0.01 and dies on a cluster). Every catalog plan is
# built and walked; an empty-partition-spec Window is allowed only if
#   (a) its input is a bucket-offset side relation of the distributed
#       rank machinery (grouping on `_bk` bounds it at 256 hash
#       buckets / |cut points| rows by construction), or
#   (b) the query is whitelisted below with the bounded axis named.
# Reverting curriculum_order / zipf_fit / peak_concurrency to their
# naive global-window forms fails this test.
# ---------------------------------------------------------------------------

# query -> (max RAW unpartitioned windows, bounded axis justifying them)
_UNPARTITIONED_WINDOW_WHITELIST = {
    "lag_delta": (1, "calendar-month axis (<= months in the data)"),
    "survival_conversion": (2, "delay-hour axis (bounded grid of lag hours)"),
    "daily_autocorrelation": (1, "calendar-day axis (one row per day after the corpus agg)"),
    "hier_share_of_parent": (1, "nation axis (<= 25 rows after the fact agg)"),
    "seat_apportionment": (1, "nation axis (<= 25 rows after the fact agg)"),
    "stl_decompose_daily": (1, "calendar-day axis (one row per day after the corpus agg)"),
    "rolling_median_7d": (1, "calendar-day axis (one row per day after the orders agg)"),
    "rrf_fusion_topk": (2, "top-50 retrieval pools (LIMIT-bounded before the rank)"),
}


def _unpartitioned_windows(df):
    plan = df._jdf.queryExecution().optimizedPlan()
    stack, raw, bucketed = [plan], 0, 0
    while stack:
        n = stack.pop()
        for i in range(n.children().size()):
            stack.append(n.children().apply(i))
        if n.nodeName() == "Window" and n.partitionSpec().size() == 0:
            if "_bk#" in n.children().apply(0).toString():
                bucketed += 1
            else:
                raw += 1
    return raw, bucketed


@pytest.mark.parametrize("name", sorted(catalog.SPARK_QUERIES))
def test_no_unpartitioned_corpus_window(spark, sf_dir, name):
    df = catalog.SPARK_QUERIES[name](spark, sf_dir)
    raw, _ = _unpartitioned_windows(df)
    allowed, why = _UNPARTITIONED_WINDOW_WHITELIST.get(name, (0, ""))
    assert raw <= allowed, (
        f"{name}: {raw} unpartitioned non-bucket Window node(s) in the optimized plan "
        f"(allowed {allowed}{' — ' + why if why else ''}). At scale each one funnels "
        "its whole input through a single task; use the sampling.ordered_prefix / "
        "hash_order_prefix distributed rank instead, or whitelist a provably "
        "bounded axis here."
    )


def test_q10_shape_pushdown_broadcast_topk(spark, sf_dir):
    plan = _plan(spark, "returned_item_revenue", sf_dir)
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "BroadcastHashJoin" in plan  # nation dim
    assert "TakeOrderedAndProject" in plan  # top-20, never a global sort
    assert plan.count("HashAggregate") >= 2


def test_q4_semi_join_no_lineitem_agg(spark, sf_dir):
    plan = _plan(spark, "order_priority_count", sf_dir)
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    # only the join columns leave the lineitem scan
    assert "l_extendedprice" not in plan and "l_quantity" not in plan


def test_runtime_filter_bypasses_when_bucket_set_saturated(spark):
    # 200 distinct keys into m=64 buckets -> expected fill ~96%: the
    # prefilter would pass nearly everything, so the adaptive form
    # must skip straight to the single exact semi-join (one LeftSemi,
    # no broadcast bucket set) while returning identical rows.
    from elective_waiting_times_pipeline_spark.operators.runtimefilter import (
        prefiltered_semi_join,
    )

    fact = spark.createDataFrame([(i, i % 250) for i in range(500)], "row_id long, k long")
    dim = spark.createDataFrame([(i,) for i in range(200)], "d long")
    got = prefiltered_semi_join(fact, dim, "k", "d", m=64)
    plan = io.StringIO()
    with contextlib.redirect_stdout(plan):
        got.explain("formatted")
    assert "__rf_bucket" not in plan.getvalue()  # no prefilter stage
    assert "LeftSemi" in plan.getvalue()
    want = fact.join(dim, fact.k == dim.d, "left_semi")
    assert sorted(r.row_id for r in got.collect()) == sorted(r.row_id for r in want.collect())
