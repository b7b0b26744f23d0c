"""Tri-engine SQL surface check: for the dialect-portable subset of the
catalog, the ORACLE SQL STRING itself — written for DuckDB — also runs
verbatim through spark.sql() over registered views and produces values
identical to the DataFrame builder. This pins SURVEY §3 entry point 2
(analytics SQL against the warehouse): a user can bring plain ANSI SQL
text to this engine and get the same answers the DataFrame API gives.

The non-portable remainder uses DuckDB-only spellings (string_split_regex,
list_*, epoch_us, // division, struct_pack) — semantic mirrors of the
Spark expressions, not portable text; they are covered by the ordinary
oracle harness.
"""

from __future__ import annotations

import pandas as pd
import pytest

from movie_data_pipeline_spark.plans import REGISTRY
from movie_data_pipeline_spark.sources.registry import TESTDATA_TABLES, load_table
from tests.conftest import TESTDATA_SF_DIR as TESTDATA_SF001_DIR
from tests.oracle_harness import canonicalize

pytestmark = pytest.mark.usefixtures("_scoped")

# Empirically verified portable set (70 queries, Spark 4 / DuckDB): the
# oracle text parses under spark.sql AND hash-matches the builder.
PORTABLE = """
q01_top_orders q02_region_revenue q04_customer_order_stats
q06_quantity_histogram q07_customers_without_orders
q09_top_orders_per_customer q100_salted_category_rollup
q101_data_quality_audit q109_customer_distribution q10_event_type_dim
q110_top_supplier q111_disjunctive_revenue q112_ramping_suppliers
q114_cumulative_distinct_types q115_rolling_view_purchase_corr
q116_copurchase_triangles q117_point_in_time_join q118_market_share
q119_product_profit q11_orderkeys_except_fulfilled q128_shipping_priority
q129_forecast_revenue_delta q130_returned_item_customers
q131_promo_revenue_share q136_snapshot_diff q138_join_key_skew_audit
q13_hourly_event_stats q141_supplier_diversity q145_ewma_hourly_value
q150_cheapest_economy_supplier q151_overweight_suppliers
q159_diversified_top_orders q15_segment_revenue q16_pricing_summary
q17_dedup_exact q28_local_supplier_revenue q30_priority_distinct_customers
q31_rollup_revenue q38_status_pivot q40_price_quartiles
q41_priority_with_returns q42_small_quantity_revenue q43_cube_order_stats
q44_moving_avg_order_price q45_rich_open_customers q46_unified_money_flow
q47_balance_percentile q48_grouping_sets_orders q50_status_revenue_share
q51_user_type_history q52_nullsafe_nation_pairs q53_fuzzy_part_names
q54_open_minus_finished_custkeys q55_open_and_finished_custkeys
q56_first_last_order_price q58_unpivot_status_counts
q61_qty_price_statistics q65_quantity_mode q66_price_histogram
q67_balance_distribution q69_customers_never_finalized
q77_funnel_conversion q86_hourly_anomalies q90_sole_blame_suppliers
q91_dormant_rich_customers q94_part_cooccurrence
q96_large_quantity_orders q97_important_parts
q98_bilateral_shipping_volume q99_salted_event_type_stats
""".split()

# Fast default sample: one per family shape.
SAMPLE = [
    "q01_top_orders", "q02_region_revenue", "q16_pricing_summary",
    "q31_rollup_revenue", "q38_status_pivot", "q44_moving_avg_order_price",
    "q52_nullsafe_nation_pairs", "q90_sole_blame_suppliers",
    "q116_copurchase_triangles", "q117_point_in_time_join",
    "q150_cheapest_economy_supplier", "q160_rebate_proration",
]
SAMPLE = [n for n in SAMPLE if n in PORTABLE] + ["q159_diversified_top_orders"]


@pytest.fixture(scope="module")
def views(spark):
    for t in TESTDATA_TABLES:
        load_table(spark, TESTDATA_SF001_DIR, t).createOrReplaceTempView(t)
    return spark


def _check(spark, name):
    spec = REGISTRY[name]
    got = canonicalize(spark.sql(spec.oracle).toPandas())
    want = canonicalize(spec.build(spark, TESTDATA_SF001_DIR).toPandas())
    assert list(got.columns) == list(want.columns), name
    assert len(got) == len(want), name
    for c in got.columns:
        pd.testing.assert_series_equal(
            got[c], want[c], check_dtype=False, check_names=False,
            check_exact=True, obj=f"{name}.{c}",
        )


@pytest.mark.parametrize("name", SAMPLE)
def test_oracle_sql_runs_on_spark_sample(views, name):
    _check(views, name)


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(PORTABLE))
def test_oracle_sql_runs_on_spark_full(views, name):
    _check(views, name)
