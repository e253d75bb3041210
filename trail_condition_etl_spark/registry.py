"""Query registry: every implemented operator from SURVEY.md §2 gets a
``queries()`` entry (Spark) and, when SQL-expressible, an ``oracle_sql()``
entry (DuckDB) producing identical rows.

Parity conventions (see also operators/weather.py docstring):
* session timezone pinned to UTC before building any plan;
* SUM/AVG over doubles computed on integer-scaled values so results are
  exact and accumulation-order independent in both engines;
* computed columns aliased identically on both sides;
* timestamps emitted as formatted strings (second precision) or epoch
  seconds, never raw timestamps (ns-vs-us type mismatch).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import catalog
from .session import ensure_engine_conf
from .sinks import manifest as manifest_sink
from .sinks import partitioned
from .sources import files as file_sources
from .sources import manifest_source
from .streaming import cdc as streaming_cdc
from .streaming import joins as streaming_joins
from .streaming import pipeline as streaming_pipeline
from .streaming import scd2 as streaming_scd2
from .streaming import stateful as stateful_streaming
from .streaming import windowed as streaming_windowed
from .operators import (
    asof,
    behavior,
    bucketing,
    curation,
    dedup,
    dq,
    ingestion,
    multimodal,
    pipeline,
    relational,
    search,
    similarity,
    sketches,
    skew,
    text,
    timeseries,
    warehouse,
    weather,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query (and optionally its DuckDB oracle SQL)."""

    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    ensure_engine_conf(spark)
    return [catalog.load_table(spark, sf_dir, n) for n in names]


# ---------------------------------------------------------------------------
# EP3 flagship: trail-condition classification (SURVEY.md §7 step 2;
# J1/J3, P3/P9, A1-A6, §2.7 CASE rules, A8 label join)
# ---------------------------------------------------------------------------


@query("trail_classifier", oracle=weather.CLASSIFY_SQL)
def q_trail_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _tables(spark, sf_dir, "events")
    return weather.classify_events(events)


@query("window_readback", oracle=weather.WINDOW_READBACK_SQL)
def q_window_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _tables(spark, sf_dir, "events")
    return weather.window_readback(events)


# ---------------------------------------------------------------------------
# Relational suite (SURVEY §2.3-§2.6): join/agg/window/set-op shapes
# ---------------------------------------------------------------------------


@query("pricing_summary", oracle=relational.PRICING_SUMMARY_SQL)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = _tables(spark, sf_dir, "lineitem")
    return relational.pricing_summary(lineitem)


@query("shipping_priority", oracle=relational.SHIPPING_PRIORITY_SQL)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem = _tables(
        spark, sf_dir, "customer", "orders", "lineitem"
    )
    return relational.shipping_priority(customer, orders, lineitem)


@query("region_volume", oracle=relational.REGION_VOLUME_SQL)
def q_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    dfs = _tables(
        spark, sf_dir, "region", "nation", "customer", "supplier", "orders", "lineitem"
    )
    return relational.region_volume(*dfs)


@query("order_priority", oracle=relational.ORDER_PRIORITY_SQL)
def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = _tables(spark, sf_dir, "orders", "lineitem")
    return relational.order_priority_check(orders, lineitem)


@query("order_count_dist", oracle=relational.ORDER_COUNT_DIST_SQL)
def q_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q13 shape: LEFT join double aggregation (zero-order bucket kept)
    customer, orders = _tables(spark, sf_dir, "customer", "orders")
    return relational.order_count_distribution(customer, orders)


@query("large_orders", oracle=relational.LARGE_ORDERS_SQL)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q18 shape: IN-subquery over grouped HAVING, de-correlated to one
    # grouped agg sharing the orderkey clustering with the join
    customer, orders, lineitem = _tables(
        spark, sf_dir, "customer", "orders", "lineitem"
    )
    return relational.large_orders(customer, orders, lineitem)


@query("waiting_suppliers", oracle=relational.WAITING_SUPPLIERS_SQL)
def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q21 shape: correlated EXISTS + NOT EXISTS chain de-correlated to
    # per-(order,supplier) flags + one per-order aggregate
    supplier, orders, lineitem = _tables(
        spark, sf_dir, "supplier", "orders", "lineitem"
    )
    return relational.waiting_suppliers(supplier, orders, lineitem)


@query("dormant_rich", oracle=relational.DORMANT_RICH_SQL)
def q_dormant_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q22 shape: scalar AVG subquery (broadcast 1-row) + NOT EXISTS
    # (left-anti against a pushed-down filtered key set)
    customer, orders = _tables(spark, sf_dir, "customer", "orders")
    return relational.dormant_rich_customers(customer, orders)


@query("promo_revenue", oracle=relational.PROMO_REVENUE_SQL)
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = _tables(spark, sf_dir, "lineitem", "part")
    return relational.promo_revenue(lineitem, part)


@query("price_band_join", oracle=relational.PRICE_BAND_JOIN_SQL)
def q_price_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # non-equi range join: broadcast BETWEEN lookup against a 3-row
    # interval dim — the fact side never shuffles
    (lineitem,) = _tables(spark, sf_dir, "lineitem")
    return relational.price_band_join(lineitem)


@query("nation_trade_volume", oracle=relational.NATION_TRADE_SQL)
def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q7 shape: 5-table join, dims broadcast, one orderkey shuffle
    lineitem, orders, customer, supplier, nation = _tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    return relational.nation_trade_volume(
        lineitem, orders, customer, supplier, nation
    )


@query("market_share", oracle=relational.MARKET_SHARE_SQL)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q8 shape: numerator as conditional SUM in the same pass as the
    # denominator — no second scan, no partition-less window
    lineitem, orders, customer, supplier, nation, region = _tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier",
        "nation", "region",
    )
    return relational.market_share(
        lineitem, orders, customer, supplier, nation, region
    )


@query("brand_profit", oracle=relational.BRAND_PROFIT_SQL)
def q_brand_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q9 shape (schema-adapted): integer micro-unit profit per brand/year
    lineitem, orders, part = _tables(spark, sf_dir, "lineitem", "orders", "part")
    return relational.brand_profit(lineitem, orders, part)


@query("forecast_revenue_change", oracle=relational.FORECAST_REVENUE_CHANGE_SQL)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q6 shape: all-range-predicate single aggregate (pushdown probe)
    (lineitem,) = _tables(spark, sf_dir, "lineitem")
    return relational.forecast_revenue_change(lineitem)


@query("returned_revenue", oracle=relational.RETURNED_REVENUE_SQL)
def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q10 shape: returned-item revenue per customer, exact-integer top-k
    customer, orders, lineitem, nation = _tables(
        spark, sf_dir, "customer", "orders", "lineitem", "nation"
    )
    return relational.returned_revenue(customer, orders, lineitem, nation)


@query("top_suppliers", oracle=relational.TOP_SUPPLIERS_SQL)
def q_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q15 shape: scalar-MAX subquery over the per-supplier aggregate
    supplier, lineitem = _tables(spark, sf_dir, "supplier", "lineitem")
    return relational.top_suppliers(supplier, lineitem)


@query("disjunctive_revenue", oracle=relational.DISJUNCTIVE_REVENUE_SQL)
def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q19 shape: OR-of-ANDs residual predicate over a broadcast join
    lineitem, part = _tables(spark, sf_dir, "lineitem", "part")
    return relational.disjunctive_revenue(lineitem, part)


@query("late_shipment_priority", oracle=relational.LATE_SHIPMENT_PRIORITY_SQL)
def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q12 shape: lateness-band conditional counts per line status
    orders, lineitem = _tables(spark, sf_dir, "orders", "lineitem")
    return relational.late_shipment_priority(orders, lineitem)


@query("setops_nations", oracle=relational.SETOPS_SQL)
def q_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, supplier = _tables(spark, sf_dir, "customer", "supplier")
    return relational.customer_supplier_setops(customer, supplier)


@query("topk_per_group", oracle=relational.TOPK_LINEITEMS_SQL)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = _tables(spark, sf_dir, "lineitem")
    return relational.topk_lineitems_per_flag(lineitem)


@query("moving_avg", oracle=relational.MOVING_AVG_SQL)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _tables(spark, sf_dir, "events")
    return relational.moving_value_avg(events)


@query("sessionize", oracle=relational.SESSIONIZE_SQL)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _tables(spark, sf_dir, "events")
    return relational.sessionize(events)


@query("session_window_agg", oracle=relational.SESSION_WINDOW_SQL)
def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _tables(spark, sf_dir, "events")
    return relational.session_window_agg(events)


@query("linear_fit", oracle=relational.LINEAR_FIT_SQL)
def q_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # closed-form OLS from five mergeable BIGINT sums — one agg, exact
    # accumulators, order-independent across partitionings
    (events,) = _tables(spark, sf_dir, "events")
    return relational.linear_fit(events)


@query("period_over_period", oracle=relational.PERIOD_OVER_PERIOD_SQL)
def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MoM deltas: monthly agg first, lag over the tiny (nation, month)
    # series — the window never sees fact-sized input
    orders, customer, nation = _tables(
        spark, sf_dir, "orders", "customer", "nation"
    )
    return relational.period_over_period(orders, customer, nation)


@query("dow_seasonality", oracle=relational.DOW_SEASONALITY_SQL)
def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # day-of-week profile: one agg over a narrow date_part expression
    (events,) = _tables(spark, sf_dir, "events")
    return relational.dow_seasonality(events)


@query("anomaly_flags", oracle=relational.ANOMALY_FLAGS_SQL)
def q_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    # z-score outliers from exact BIGINT moments broadcast back over
    # the fact — bit-identical decision boundary across engines
    (events,) = _tables(spark, sf_dir, "events")
    return relational.anomaly_flags(events)


@query("max_drawdown", oracle=timeseries.MAX_DRAWDOWN_SQL)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    # running peak/drawdown over exact integer cumulative series; worst
    # point via struct-MAX argmax — both windows share one clustering
    (events,) = _tables(spark, sf_dir, "events")
    return timeseries.max_drawdown(events)


@query("variance_decomposition", oracle=relational.VARIANCE_DECOMP_SQL)
def q_variance_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one-way ANOVA split from exact per-group BIGINT moments: one
    # grouped agg + a 1-row combine, no second scan
    (events,) = _tables(spark, sf_dir, "events")
    return relational.variance_decomposition(events)


@query("weighted_median", oracle=relational.WEIGHTED_MEDIAN_SQL)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    # weighted quantile scale-aware: reduce to a value histogram first,
    # then the cumulative walk covers distinct prices, not rows
    (lineitem,) = _tables(spark, sf_dir, "lineitem")
    return relational.weighted_median(lineitem)


@query("fulfillment_lag", oracle=relational.FULFILLMENT_LAG_SQL)
def q_fulfillment_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    # order->ship latency per priority: integer day deltas, one join +
    # one agg, exact interpolated p90
    orders, lineitem = _tables(spark, sf_dir, "orders", "lineitem")
    return relational.fulfillment_lag(orders, lineitem)


@query("discount_effect", oracle=relational.DISCOUNT_EFFECT_SQL)
def q_discount_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corr(discount, qty) per brand + exact conditional means; part
    # dim broadcast, single aggregation
    lineitem, part = _tables(spark, sf_dir, "lineitem", "part")
    return relational.discount_effect(lineitem, part)


@query("null_kit", oracle=relational.NULL_KIT_SQL)
def q_null_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL semantics: COUNT(*) vs COUNT(col), null-ignoring SUM/AVG,
    # COALESCE defaults over synthesized NULLIF columns
    (orders,) = _tables(spark, sf_dir, "orders")
    return relational.null_kit(orders)


@query("stats_kit", oracle=relational.STATS_KIT_SQL)
def q_stats_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # moment aggregates (stddev/var/corr): mergeable sketches, one
    # partial+final pass; rounded to absorb accumulation-order noise
    (events,) = _tables(spark, sf_dir, "events")
    return relational.stats_kit(events)


@query("window_kit", oracle=relational.WINDOW_KIT_SQL)
def q_window_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.5 breadth: lag/lead/ntile/percent_rank/cume_dist, both windows
    # partitioned (no global sort)
    (events,) = _tables(spark, sf_dir, "events")
    return relational.window_kit(events)


@query("approx_distinct", oracle=sketches.APPROX_DISTINCT_SQL)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HLL sketch distinct counts with an in-plan tolerance assertion the
    # oracle pins to TRUE (sketch value itself is engine-specific)
    (events,) = _tables(spark, sf_dir, "events")
    return sketches.approx_distinct_check(events)


@query("approx_quantiles", oracle=sketches.APPROX_QUANTILE_SQL)
def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mergeable quantile sketch vs exact percentile_cont, same pattern
    (events,) = _tables(spark, sf_dir, "events")
    return sketches.approx_quantile_check(events)


@query("cms_estimate", oracle=sketches.CMS_ESTIMATE_SQL)
def q_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # count-min sketch (4x256 mergeable counters) vs exact counts; the
    # one-sided error invariant is part of the hashed output
    (documents,) = _tables(spark, sf_dir, "documents")
    return sketches.cms_estimate(documents)


@query("rollup_volume", oracle=relational.ROLLUP_SQL)
def q_rollup_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region, nation, customer, orders = _tables(
        spark, sf_dir, "region", "nation", "customer", "orders"
    )
    return relational.rollup_volume(region, nation, customer, orders)


@query("small_qty_revenue", oracle=relational.SMALL_QTY_REVENUE_SQL)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # correlated scalar subquery de-correlated into a partitioned window
    lineitem, part = _tables(spark, sf_dir, "lineitem", "part")
    return relational.small_quantity_revenue(lineitem, part)


@query("cube_volume", oracle=relational.CUBE_SQL)
def q_cube_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full grouping-sets surface: CUBE + grouping_id next to rollup
    orders, customer, nation = _tables(
        spark, sf_dir, "orders", "customer", "nation"
    )
    return relational.cube_volume(orders, customer, nation)


@query("pivot_lineitem", oracle=relational.PIVOT_SQL)
def q_pivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PIVOT with an explicit (pinned) value list
    (lineitem,) = _tables(spark, sf_dir, "lineitem")
    return relational.pivot_lineitem(lineitem)


@query("unpivot_part", oracle=relational.UNPIVOT_SQL)
def q_unpivot_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    # UNPIVOT/melt to long form (narrow per-row expansion)
    (part,) = _tables(spark, sf_dir, "part")
    return relational.unpivot_part_metrics(part)


@query("price_histogram", oracle=warehouse.PRICE_HISTOGRAM_SQL)
def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # data profiling: equi-width histogram, one partial+final agg
    (lineitem,) = _tables(spark, sf_dir, "lineitem")
    return warehouse.price_histogram(lineitem)


@query("snapshot_diff", oracle=warehouse.SNAPSHOT_DIFF_SQL)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CDC-style reconciliation: full-outer key join + status CASE,
    # the audit for the idempotent-upsert sink
    (orders,) = _tables(spark, sf_dir, "orders")
    return warehouse.snapshot_diff(orders)


@query("scd2_build", oracle=warehouse.SCD2_BUILD_SQL)
def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # type-2 SCD from the event log: lag change-points + lead intervals,
    # single (user_id, ts) shuffle (pinned in test_plans)
    (events,) = _tables(spark, sf_dir, "events")
    return warehouse.scd2_build(events)


@query("conversion_funnel", oracle=behavior.CONVERSION_FUNNEL_SQL)
def q_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ordered view->click->purchase funnel (1h step windows): cascade of
    # three user-keyed aggs, AQE reuses the user clustering
    (events,) = _tables(spark, sf_dir, "events")
    return behavior.conversion_funnel(events)


@query("retention_cohorts", oracle=behavior.RETENTION_COHORTS_SQL)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cohort retention triangle: exact distinct users per cell without a
    # distinct agg (per-(user, day) reduction happens first)
    (events,) = _tables(spark, sf_dir, "events")
    return behavior.retention_cohorts(events)


@query("cumulative_users", oracle=behavior.CUMULATIVE_USERS_SQL)
def q_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # running distinct users via first-seen-day reduction: the cumsum
    # window only ever sees one row per calendar day
    (events,) = _tables(spark, sf_dir, "events")
    return behavior.cumulative_users(events)


@query("event_affinity", oracle=behavior.EVENT_AFFINITY_SQL)
def q_event_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # market-basket lift over (user, day) baskets: one collect_set agg,
    # narrow pair expansion, marginals broadcast back
    (events,) = _tables(spark, sf_dir, "events")
    return behavior.event_affinity(events)


@query("source_overlap", oracle=curation.SOURCE_OVERLAP_SQL)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cross-source vocabulary Jaccard: distinct (source, token) reduce
    # first, token-keyed self-join on the reduced frame
    (documents,) = _tables(spark, sf_dir, "documents")
    return curation.source_overlap(documents)


@query("profile_table", oracle=warehouse.PROFILE_TABLE_SQL)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ANALYZE-style column profile in one scan: nulls, exact distincts,
    # numeric/length extremes — all partial-aggregated map-side
    (orders,) = _tables(spark, sf_dir, "orders")
    return warehouse.profile_table(orders)


@query("gap_fill", oracle=behavior.GAP_FILL_SQL)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    # time-series resample: per-user date spine (sequence+explode) +
    # forward fill via last(ignoreNulls) — two shuffles, both on user_id
    (events,) = _tables(spark, sf_dir, "events")
    return behavior.gap_fill_daily(events)


@query("ohlc_bars", oracle=timeseries.OHLC_SQL)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 6h OHLC downsampling: open/close as struct-valued MIN/MAX — one
    # partial+final hash agg, no sort, no window, no self-join
    (events,) = _tables(spark, sf_dir, "events")
    return timeseries.ohlc_bars(events)


@query("activity_streaks", oracle=timeseries.STREAKS_SQL)
def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gaps-and-islands: longest consecutive-day streak per user via the
    # day - row_number anchor; every shuffle clusters on user_id
    (events,) = _tables(spark, sf_dir, "events")
    return timeseries.activity_streaks(events)


@query("peak_concurrency", oracle=timeseries.PEAK_CONCURRENCY_SQL)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sweep-line max-overlap: ±1 boundary explode (narrow) + one
    # per-user windowed running sum; half-open interval semantics
    (events,) = _tables(spark, sf_dir, "events")
    return timeseries.peak_concurrency(events)


@query("linear_interp", oracle=timeseries.LINEAR_INTERP_SQL)
def q_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gap fill by LINEAR interpolation: prev/next anchors from one
    # backward + one forward window over the same user clustering
    (events,) = _tables(spark, sf_dir, "events")
    return timeseries.linear_interp_daily(events)


@query("ewma_daily", oracle=timeseries.EWMA_SQL)
def q_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # adjusted EWMA (alpha=1/2, 16-day trailing): power-of-two weights
    # folded in BIGINT over integer cents — bit-identical cross-engine
    (events,) = _tables(spark, sf_dir, "events")
    return timeseries.ewma_daily(events)


@query("scd2_lookup", oracle=warehouse.SCD2_LOOKUP_SQL)
def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # temporal fact x SCD2 join: equi on user_id, interval containment
    # as residual predicate; per-user intervals tile the timeline
    (events,) = _tables(spark, sf_dir, "events")
    return warehouse.scd2_lookup(events)


@query("revenue_share", oracle=relational.REVENUE_SHARE_SQL)
def q_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # percent-of-total at two grains via tiny re-aggregates broadcast
    # back — no empty-partitionBy window anywhere
    region, nation, customer, orders = _tables(
        spark, sf_dir, "region", "nation", "customer", "orders"
    )
    return relational.revenue_share(region, nation, customer, orders)


@query("grouping_sets_volume", oracle=relational.GROUPING_SETS_SQL)
def q_grouping_sets_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explicit GROUPING SETS + per-column GROUPING() margin flags
    orders, customer, nation = _tables(
        spark, sf_dir, "orders", "customer", "nation"
    )
    return relational.grouping_sets_volume(orders, customer, nation)


@query("join_kit", oracle=relational.JOIN_KIT_SQL)
def q_join_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LEFT SEMI / LEFT ANTI / null-safe (<=>) semantics in one output
    customer, orders = _tables(spark, sf_dir, "customer", "orders")
    return relational.join_kit(customer, orders)


@query("heavy_hitters", oracle=text.HEAVY_HITTERS_SQL)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus-frequency heavy hitters: one count agg + broadcast total
    (documents,) = _tables(spark, sf_dir, "documents")
    return text.heavy_hitters(documents)


@query("regex_kit", oracle=text.REGEX_KIT_SQL)
def q_regex_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # regex scalar surface: extract/group/replace/split/match
    (documents,) = _tables(spark, sf_dir, "documents")
    return text.regex_kit(documents)


@query("array_kit", oracle=text.ARRAY_KIT_SQL)
def q_array_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # array scalar surface: sort/slice/distinct/set-ops/fold, all narrow
    (documents,) = _tables(spark, sf_dir, "documents")
    return text.array_kit(documents)


@query("event_transitions", oracle=behavior.EVENT_TRANSITIONS_SQL)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # first-order Markov matrix: one user-keyed lag window + count agg,
    # row totals re-aggregated tiny and broadcast back
    (events,) = _tables(spark, sf_dir, "events")
    return behavior.event_transitions(events)


@query("dataset_split", oracle=curation.DATASET_SPLIT_SQL)
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic train/val/test split via the cross-engine char hash
    # (map-side assignment, growth- and engine-stable)
    (documents,) = _tables(spark, sf_dir, "documents")
    return curation.dataset_split(documents)


@query("near_dup_pagerank", oracle=dedup.NEAR_DUP_PAGERANK_SQL)
def q_near_dup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PageRank over the near-dup graph: bounded rounds, one shuffle per
    # round, exact integer micro-unit arithmetic (floor-division damping)
    (documents,) = _tables(spark, sf_dir, "documents")
    return dedup.near_dup_pagerank(documents)


@query("time_to_convert", oracle=behavior.TIME_TO_CONVERT_SQL)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    # funnel latency: view->click delay for converters; exact
    # interpolated percentiles over the 1-row-per-converter reduction
    (events,) = _tables(spark, sf_dir, "events")
    return behavior.time_to_convert(events)


@query("degree_distribution", oracle=dedup._degree_distribution_sql())
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # near-dup graph degree histogram (degree 0 included)
    (documents,) = _tables(spark, sf_dir, "documents")
    return dedup.degree_distribution(documents)


@query("dup_rate_by_source", oracle=dedup.DUP_RATE_BY_SOURCE_SQL)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    # which corpus slices duplicate each other: LSH pair set broadcast
    # against the doc->source projection, size-normalized rates
    (documents,) = _tables(spark, sf_dir, "documents")
    return dedup.dup_rate_by_source(documents)


@query("canonical_docs", oracle=dedup.CANONICAL_DOCS_SQL)
def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # keep-best per near-dup cluster: struct-MIN argmax, no per-cluster
    # sort; survivor filter is a keyed semi-join
    (documents,) = _tables(spark, sf_dir, "documents")
    return dedup.canonical_docs(documents)


@query("rolling_median", oracle=timeseries.ROLLING_MEDIAN_SQL)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact bounded-window rolling median: narrow array math over <=7
    # cents-integers per row, engine-independent
    (events,) = _tables(spark, sf_dir, "events")
    return timeseries.rolling_median_daily(events)


@query("winsorize", oracle=warehouse.WINSORIZE_SQL)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # outlier repair: per-type percentile bounds (one grouped agg)
    # broadcast back over the fact — the fact side never shuffles
    (events,) = _tables(spark, sf_dir, "events")
    return warehouse.winsorize_values(events)


@query("string_kit", oracle=relational.STRING_KIT_SQL)
def q_string_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, nation = _tables(spark, sf_dir, "customer", "nation")
    return relational.string_kit(customer, nation)


@query("asof_tolerance", oracle=asof.ASOF_TOLERANCE_SQL)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tolerance-bounded as-of (merge_asof tolerance semantics): matches
    # staler than the window NULL out after the same union+window carry
    (events,) = _tables(spark, sf_dir, "events")
    return asof.last_purchase_before_error_within(events)


@query("asof_join", oracle=asof.ASOF_SQL)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _tables(spark, sf_dir, "events")
    return asof.last_purchase_before_error(events)


# ---------------------------------------------------------------------------
# EP2 ingestion transform (SURVEY §2.1/§2.2): JSON parse -> flatten ->
# explode -> range filter, with the P7/S14 DLQ split
# ---------------------------------------------------------------------------


@query("ingest_flatten", oracle=ingestion.INGEST_FLATTEN_SQL)
def q_ingest_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _tables(spark, sf_dir, "events")
    return ingestion.ingest_flatten_query(events)


@query("ingest_rejects", oracle=ingestion.INGEST_REJECTS_SQL)
def q_ingest_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _tables(spark, sf_dir, "events")
    return ingestion.ingest_rejects_query(events)


@query("ingest_explode", oracle=ingestion.INGEST_EXPLODE_SQL)
def q_ingest_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _tables(spark, sf_dir, "events")
    return ingestion.ingest_explode_query(events)


@query("jsonl_roundtrip", oracle=file_sources.JSONL_ROUNDTRIP_SQL)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # schema-enforced JSONL source: stage as text, read back PERMISSIVE
    # with corrupt-record routing, aggregate (parity = no typing drift)
    ensure_engine_conf(spark)
    return file_sources.jsonl_roundtrip_query(spark, sf_dir)


@query("orc_roundtrip", oracle=file_sources.ORC_ROUNDTRIP_SQL)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ORC columnar source: stage-as-ORC -> schema-enforced read-back;
    # parity pins writer/reader typing (grain, widths)
    ensure_engine_conf(spark)
    return file_sources.orc_roundtrip_query(spark, sf_dir)


@query("schema_evolution", oracle=file_sources.SCHEMA_EVOLUTION_SQL)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # additive schema drift: mergeSchema read across file generations,
    # old rows surface NULLs handled explicitly in the agg
    ensure_engine_conf(spark)
    return file_sources.schema_evolution_query(spark, sf_dir)


@query("categorization_tasks", oracle=ingestion.CATEGORIZATION_TASKS_SQL)
def q_categorization_tasks(spark: SparkSession, sf_dir: str) -> DataFrame:
    (customer,) = _tables(spark, sf_dir, "customer")
    return ingestion.categorization_tasks_query(customer)


# ---------------------------------------------------------------------------
# Pipeline semantics (SURVEY §2.8/§2.9, EP1): DLQ policy, dedup, scheduler,
# JSON/scalar kits
# ---------------------------------------------------------------------------


@query("token_bigrams", oracle=text.TOKEN_BIGRAMS_SQL)
def q_token_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bigram LM counts: narrow zip_with pair extraction, one count agg,
    # marginals broadcast back; count-floor bound (no global-sort top-k)
    (documents,) = _tables(spark, sf_dir, "documents")
    return text.token_bigrams(documents)


@query("volume_monitor", oracle=dq.VOLUME_MONITOR_SQL)
def q_volume_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    # freshness/volume DQ: daily counts vs trailing 7-day average; the
    # window only ever sees one row per day
    (events,) = _tables(spark, sf_dir, "events")
    return dq.volume_monitor(events)


@query("hash_sample_k", oracle=curation.HASH_SAMPLE_K_SQL)
def q_hash_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic global k-sample: hash order + LIMIT plans as
    # TakeOrdered (per-partition heaps, no full sort), rand()-free
    (documents,) = _tables(spark, sf_dir, "documents")
    return curation.hash_sample_k(documents)


@query("table_checksum", oracle=dq.TABLE_CHECKSUM_SQL)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # order-independent table fingerprint: one agg per side replaces a
    # row-by-row migration diff; integer-only reprs for engine parity
    (lineitem,) = _tables(spark, sf_dir, "lineitem")
    return dq.table_checksum(lineitem)


@query("dq_checks", oracle=dq.DQ_CHECKS_SQL)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # warehouse contract suite: FK integrity, key uniqueness, null keys,
    # value domains, business-rule inversions — one row per check
    customer, orders, lineitem, events = _tables(
        spark, sf_dir, "customer", "orders", "lineitem", "events"
    )
    return dq.dq_checks(customer, orders, lineitem, events)


@query("dlq_routing", oracle=pipeline.DLQ_ROUTE_SQL)
def q_dlq_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _tables(spark, sf_dir, "events")
    return pipeline.dlq_route(events)


@query("dlq_redrive", oracle=pipeline.DLQ_REDRIVE_SQL)
def q_dlq_redrive(spark: SparkSession, sf_dir: str) -> DataFrame:
    # R4 redrive loop through the real DLQ parquet: append rejects with
    # the failure envelope, select error.safe_to_retry, summarize
    ensure_engine_conf(spark)
    return pipeline.dlq_redrive_query(spark, sf_dir)


@query("manifest_merge", oracle=manifest_sink.MANIFEST_MERGE_SQL)
def q_manifest_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ACID table format (manifest-committed copy-on-write parquet):
    # two MERGE commits + time-travel read of both versions
    # (sinks/manifest.py)
    ensure_engine_conf(spark)
    return manifest_sink.manifest_merge_query(spark, sf_dir)


@query("manifest_changes", oracle=manifest_sink.MANIFEST_CHANGES_SQL)
def q_manifest_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CDC change feed between two manifest versions: content-based
    # insert/update/delete diff of the immutable snapshots (no change
    # log needed), one keyed full-outer join
    ensure_engine_conf(spark)
    return manifest_sink.manifest_changes_query(spark, sf_dir)


@query("manifest_mor_delete", oracle=manifest_sink.MANIFEST_MOR_DELETE_SQL)
def q_manifest_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    # merge-on-read DELETE (Iceberg v2 equality deletes / Delta deletion
    # vectors): the commit writes only the matched keys, no segment
    # rewrite; readers anti-join them out, time travel still sees them
    ensure_engine_conf(spark)
    return manifest_sink.manifest_mor_delete_query(spark, sf_dir)


@query(
    "manifest_update_where", oracle=manifest_sink.MANIFEST_UPDATE_WHERE_SQL
)
def q_manifest_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    # UPDATE ... WHERE: copy-on-write of exactly the buckets the matched
    # keys hash into, one atomic commit, CHECK constraints enforced
    ensure_engine_conf(spark)
    return manifest_sink.manifest_update_where_query(spark, sf_dir)


@query("manifest_restore", oracle=manifest_sink.MANIFEST_RESTORE_SQL)
def q_manifest_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RESTORE TABLE TO VERSION: metadata-only rollback (segments carried
    # by reference), history preserved — the undone version stays
    # time-travel-readable
    ensure_engine_conf(spark)
    return manifest_sink.manifest_restore_query(spark, sf_dir)


@query("cdc_incremental", oracle=streaming_cdc.CDC_INCREMENTAL_SQL)
def q_cdc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental change-feed consumption with a persisted version
    # cursor: bootstrap pass lands the snapshot, second pass consumes
    # only versions committed since (span pinned in the output) —
    # the outbox-drain -> downstream-sink propagation over versions
    ensure_engine_conf(spark)
    return streaming_cdc.cdc_incremental_query(spark, sf_dir)


@query("manifest_lookup", oracle=manifest_sink.MANIFEST_LOOKUP_SQL)
def q_manifest_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # metadata-skipping point lookup: requested keys hash to their
    # bucket dirs, key-column stats narrow further, and only those
    # dirs are opened (inputFiles-pinned) — the manifest table's
    # per-city read-back analog
    ensure_engine_conf(spark)
    return manifest_sink.manifest_lookup_query(spark, sf_dir)


@query("manifest_skip_scan", oracle=manifest_sink.MANIFEST_SKIP_SCAN_SQL)
def q_manifest_skip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stats-pruned predicate read: bucket dirs whose recorded
    # [min, max] cannot contain matching rows are never opened;
    # the residual filter keeps results exact
    ensure_engine_conf(spark)
    return manifest_sink.manifest_skip_scan_query(spark, sf_dir)


@query("zorder_skip_scan", oracle=manifest_sink.ZORDER_SKIP_SCAN_SQL)
def q_zorder_skip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # clustered optimize (OPTIMIZE ZORDER) + per-file stats: a non-key
    # predicate that dir-level stats cannot prune (hash-bucketing
    # spreads the range everywhere) opens only the clustered files
    # whose [min, max] overlap it
    ensure_engine_conf(spark)
    return manifest_sink.zorder_skip_scan_query(spark, sf_dir)


@query("bloom_skip_scan", oracle=manifest_sink.BLOOM_SKIP_SCAN_SQL)
def q_bloom_skip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-bucket bloom filters (sinks/bloom.py): an equality/IN probe
    # on a high-cardinality non-key column — which min/max stats can
    # never prune — opens only bucket dirs whose bitmaps admit a
    # probed value; absent values are proven absent from metadata
    ensure_engine_conf(spark)
    return manifest_sink.bloom_skip_scan_query(spark, sf_dir)


@query(
    "incremental_compaction",
    oracle=manifest_sink.INCREMENTAL_COMPACTION_SQL,
)
def q_incremental_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bucket-wise compaction: pending delete-file debt rewrites ONLY
    # the offending buckets (untouched dirs carry by path); the emitted
    # op column pins that the incremental 'compact' path ran
    ensure_engine_conf(spark)
    return manifest_sink.incremental_compaction_query(spark, sf_dir)


@query("generated_columns", oracle=manifest_sink.GENERATED_COLUMNS_SQL)
def q_generated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GENERATED ALWAYS AS: batches omitting the column get it computed
    # at the write edge; batches supplying it are held to the
    # expression row-for-row (adding the rule validates existing data)
    ensure_engine_conf(spark)
    return manifest_sink.generated_columns_query(spark, sf_dir)


@query("cdf_preimages", oracle=manifest_sink.CDF_PREIMAGES_SQL)
def q_cdf_preimages(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Delta CDF's update_preimage/update_postimage pair: one diff join,
    # per-row explode into the image pair (never a second join)
    ensure_engine_conf(spark)
    return manifest_sink.cdf_preimages_query(spark, sf_dir)


@query("sidecar_metadata", oracle=manifest_sink.SIDECAR_METADATA_SQL)
def q_sidecar_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sharded manifest metadata (r11): past SIDECAR_RANGE buckets the
    # per-bucket maps live in bucket-range sidecar files; a 1-key
    # commit rewrites exactly ONE of them (changed_ranges pinned at 1
    # by the oracle), the rest carry by file reference
    ensure_engine_conf(spark)
    return manifest_sink.sidecar_metadata_query(spark, sf_dir)


@query("clone_metadata", oracle=manifest_sink.CLONE_METADATA_SQL)
def q_clone_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    # zero-metadata shallow clone (r12): the fork carries the source's
    # sidecar FILES by absolute reference (zero _meta/ writes, asserted
    # in the build); its first commit re-shards exactly one range
    # (local_ranges=1), the rest keep carrying (carried_ranges=3)
    ensure_engine_conf(spark)
    return manifest_sink.clone_metadata_query(spark, sf_dir)


@query("restore_metadata", oracle=manifest_sink.RESTORE_METADATA_SQL)
def q_restore_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    # content-addressed restore (r12): sidecar names carry no version,
    # so a revert's byte-identical ranges resolve to files already on
    # disk — zero new sidecars (asserted in the build) and a slim
    # index equal to v1's (restore_divergence=0)
    ensure_engine_conf(spark)
    return manifest_sink.restore_metadata_query(spark, sf_dir)


@query(
    "commit_delta_metadata",
    oracle=manifest_sink.COMMIT_DELTA_METADATA_SQL,
)
def q_commit_delta_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    # delta-based DATA commits (r13): a 1-key upsert carries 3 of 4
    # index entries VERBATIM (no parse, no serialization) and the
    # incrementally-maintained agg/total_rows scalars equal a
    # from-scratch recompute (agg_drift=0); shares sidecar_metadata's
    # cached 256-bucket fixture
    ensure_engine_conf(spark)
    return manifest_sink.commit_delta_metadata_query(spark, sf_dir)


@query("column_mapping", oracle=manifest_sink.COLUMN_MAPPING_SQL)
def q_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    # metadata-only RENAME/DROP COLUMN (Delta column mapping): rename
    # moves zero bytes, drop tombstones the physical name, a re-added
    # column gets a fresh physical so dropped bytes never resurrect;
    # the post-rename upsert exercises the logical->physical write edge
    ensure_engine_conf(spark)
    return manifest_sink.column_mapping_query(spark, sf_dir)


@query("manifest_merge_into", oracle=manifest_sink.MERGE_INTO_SQL)
def q_manifest_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full MERGE INTO clause surface (conditional UPDATE SET, DELETE,
    # INSERT) as ONE atomic commit; target side reads only the bucket
    # dirs the source keys hash into
    ensure_engine_conf(spark)
    return manifest_sink.merge_into_query(spark, sf_dir)


@query("merge_by_source", oracle=manifest_sink.MERGE_BY_SOURCE_SQL)
def q_merge_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    # WHEN NOT MATCHED BY SOURCE clauses (Delta's sync-deletion): one
    # atomic merge retires target rows that left the feed — delete or
    # conditional update — alongside the matched/insert clauses; rows
    # neither clause selects never enter the write batch
    ensure_engine_conf(spark)
    return manifest_sink.merge_by_source_query(spark, sf_dir)


@query(
    "colocated_anti_join", oracle=manifest_sink.COLOCATED_ANTI_JOIN_SQL
)
def q_colocated_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # blocklist decontamination at table scale: co-located LEFT ANTI
    # join (right side reads only key columns; empty blocklist buckets
    # pass through; zero table bytes shuffle)
    ensure_engine_conf(spark)
    return manifest_sink.colocated_anti_join_query(spark, sf_dir)


@query("colocated_join", oracle=manifest_sink.COLOCATED_JOIN_SQL)
def q_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # storage-partitioned join: two manifest tables on the same key +
    # bucket layout join one-task-per-bucket with MoR deletes applied
    # in-task — the plan's only Exchange moves n_buckets PLAN rows,
    # zero table bytes shuffle
    ensure_engine_conf(spark)
    return manifest_sink.colocated_join_query(spark, sf_dir)


@query("manifest_clone", oracle=manifest_sink.MANIFEST_CLONE_SQL)
def q_manifest_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SHALLOW CLONE: a metadata-only table fork at a pinned version
    # (zero data copied), copy-on-write isolated in both directions;
    # the source's vacuum retention-guards clone-referenced segments
    ensure_engine_conf(spark)
    return manifest_sink.manifest_clone_query(spark, sf_dir)


@query("clone_guard", oracle=manifest_sink.CLONE_GUARD_SQL)
def q_clone_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the clone retention guard across a CLONE CHAIN (r10): grandchild
    # C pins grandparent A directly (pin derived from C's absolute
    # refs), so A's vacuum refuses even after intermediate B
    # materializes and releases — then succeeds once C does too
    ensure_engine_conf(spark)
    return manifest_sink.clone_guard_query(spark, sf_dir)


@query("manifest_vacuum", oracle=manifest_sink.MANIFEST_VACUUM_SQL)
def q_manifest_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # VACUUM under the change-feed retention guard: the sweep refuses
    # while a registered cursor pins an old version, succeeds once the
    # consumer catches up, and the post-vacuum snapshot stays exact
    ensure_engine_conf(spark)
    return manifest_sink.manifest_vacuum_query(spark, sf_dir)


@query("manifest_history", oracle=manifest_sink.MANIFEST_HISTORY_SQL)
def q_manifest_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DESCRIBE HISTORY + metadata-only COUNT(*): per-version operation
    # labels and table row counts straight from the commit log's
    # carried per-bucket counts — no data files opened
    ensure_engine_conf(spark)
    return manifest_sink.manifest_history_query(spark, sf_dir)


@query("pyds_manifest_scan", oracle=manifest_source.PYDS_MANIFEST_SCAN_SQL)
def q_pyds_manifest_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the manifest table through Spark 4's Python DataSource API:
    # spark.read.format("manifest") with Catalyst filter pushdown
    # mapped onto the manifest's stats pruning (partial pushdown —
    # Spark's residual evaluation keeps results exact)
    ensure_engine_conf(spark)
    return manifest_source.pyds_manifest_scan_query(spark, sf_dir)


@query(
    "pyds_manifest_write", oracle=manifest_source.PYDS_MANIFEST_WRITE_SQL
)
def q_pyds_manifest_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the DataFrameWriter side of the DataSource: df.write
    # .format("manifest") creates the table and appends AS a keyed
    # MERGE (staged Arrow parts -> manifest_upsert in commit())
    ensure_engine_conf(spark)
    return manifest_source.pyds_manifest_write_query(spark, sf_dir)


@query("pyds_cdf_batch", oracle=manifest_sink.MANIFEST_CHANGES_SQL)
def q_pyds_cdf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the BATCH change-data-feed read (r10): readChangeFeed=true over
    # a closed version span plans the stream source's per-bucket diff
    # partitions, the diff `table_changes` runs too
    ensure_engine_conf(spark)
    return manifest_source.pyds_cdf_batch_query(spark, sf_dir)


@query(
    "pyds_replace_where", oracle=manifest_source.PYDS_REPLACE_WHERE_SQL
)
def q_pyds_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    # atomic predicate-region replace through the DataFrameWriter
    # (r10): mode("overwrite").option("replaceWhere", pred) — one
    # MERGE-composed commit deletes the region's unmatched keys,
    # upserts staged rows, carries everything else by reference
    ensure_engine_conf(spark)
    return manifest_source.pyds_replace_where_query(spark, sf_dir)


@query("pyds_stream_sink", oracle=manifest_source.PYDS_STREAM_SINK_SQL)
def q_pyds_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    # writeStream.format("manifest"): each micro-batch is one atomic
    # manifest commit, exactly-once via the (txn_app_id, batchId)
    # ledger recorded atomically with the data
    ensure_engine_conf(spark)
    return manifest_source.pyds_stream_sink_query(spark, sf_dir)


@query(
    "pyds_evolved_scan", oracle=manifest_source.PYDS_EVOLVED_SCAN_SQL
)
def q_pyds_evolved_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # schema evolution + time travel through the DataSource read path:
    # the latest read null-fills the evolved column on carried
    # pre-evolution files; option("version", 1) surfaces that
    # snapshot's narrower schema (VERDICT r7 directive 3)
    ensure_engine_conf(spark)
    return manifest_source.pyds_evolved_scan_query(spark, sf_dir)


@query(
    "pyds_time_travel", oracle=manifest_source.PYDS_TIME_TRAVEL_SQL
)
def q_pyds_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timestamp time travel end-to-end (VERDICT r8 directive 4): batch
    # option("timestampAsOf") pins the newest commit at-or-before each
    # recorded stamp (inclusive at the exact stamp), and the CDC
    # readStream's option("startingTimestamp") streams every change
    # committed at-or-after it (Delta semantics, baseline = version-1)
    ensure_engine_conf(spark)
    return manifest_source.pyds_time_travel_query(spark, sf_dir)


@query("pyds_cdc_stream", oracle=manifest_source.PYDS_CDC_STREAM_SQL)
def q_pyds_cdc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the CDC change feed as a genuine readStream source (offsets are
    # table versions, per-bucket change computation in parallel input
    # partitions), consumed AvailableNow into a parquet sink
    ensure_engine_conf(spark)
    return manifest_source.pyds_cdc_stream_query(spark, sf_dir)


@query(
    "pyds_cdc_rescale_stream",
    oracle=manifest_source.PYDS_CDC_RESCALE_STREAM_SQL,
)
def q_pyds_cdc_rescale_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the CDC readStream across an UNALIGNED bucket rescale: the
    # residue-class per-new-bucket planner must emit the exact content
    # diff (no phantom rows for merely-moved keys) through the real
    # streaming engine (VERDICT r7 directive 2, end-to-end)
    ensure_engine_conf(spark)
    return manifest_source.pyds_cdc_rescale_stream_query(spark, sf_dir)


@query("stream_roundtrip", oracle=streaming_pipeline.STREAMING_ROUNDTRIP_SQL)
def q_stream_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # end-to-end Structured Streaming pass (source -> watermark dedup ->
    # envelope routing -> DLQ/upsert sinks) summarized per route
    ensure_engine_conf(spark)
    return streaming_pipeline.streaming_roundtrip_query(spark, sf_dir)


@query(
    "stream_roundtrip_multibatch",
    oracle=streaming_pipeline.STREAMING_ROUNDTRIP_MULTIBATCH_SQL,
)
def q_stream_roundtrip_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_engine_conf(spark)
    return streaming_pipeline.streaming_roundtrip_multibatch_query(spark, sf_dir)


@query("stream_content_dedup", oracle=streaming_pipeline.STREAM_CONTENT_DEDUP_SQL)
def q_stream_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # content-level streaming dedup: dropDuplicatesWithinWatermark on
    # sha2(text) lands each distinct content exactly once; the summary
    # is winner-independent so the oracle recomputes it from the table
    ensure_engine_conf(spark)
    return streaming_pipeline.stream_content_dedup_query(spark, sf_dir)


@query("stream_static_enrich", oracle=streaming_joins.STREAM_STATIC_ENRICH_SQL)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stream-STATIC broadcast enrichment: dim re-broadcast per batch,
    # stream side never shuffles, no state store
    ensure_engine_conf(spark)
    return streaming_joins.stream_static_enrich_query(spark, sf_dir)


@query("embed_chunks", oracle=multimodal.EMBED_CHUNKS_SQL)
def q_embed_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # batch-inference seam: chunk -> Arrow-batched mapInPandas embedding
    # (deterministic arithmetic fake model, numpy matrix op per batch)
    (documents,) = _tables(spark, sf_dir, "documents")
    return multimodal.embed_chunks_query(documents)


@query("audio_window_features", oracle=multimodal.AUDIO_WINDOW_SQL)
def q_audio_window_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # VAD-style audio framing: fixed windows -> exact integer energy +
    # zero-crossing counts; codec decode is the stubbed seam
    (documents,) = _tables(spark, sf_dir, "documents")
    return multimodal.audio_window_features(documents)


@query("wav_roundtrip", oracle=multimodal.WAV_ROUNDTRIP_SQL)
def q_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL audio codec end-to-end: samples -> RIFF/WAVE bytes
    # (codecs.wav_encode) -> real parse (wav_decode) -> exact integer
    # features the oracle replays from the source characters
    (documents,) = _tables(spark, sf_dir, "documents")
    return multimodal.wav_roundtrip_query(documents)


@query("png_roundtrip", oracle=multimodal.PNG_ROUNDTRIP_SQL)
def q_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL image codec end-to-end: bytes -> PNG encode (zlib+CRC
    # chunks) -> real decode -> pixel sum the oracle replays from the
    # source characters (lossless roundtrip proven at corpus scale)
    (documents,) = _tables(spark, sf_dir, "documents")
    return multimodal.png_roundtrip_query(documents)


@query("media_resize", oracle=multimodal.MEDIA_RESIZE_SQL)
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multimodal resize stage: Arrow-batched mapInPandas over binary
    # payloads, stubbed codec with exact-integer fake resample
    (documents,) = _tables(spark, sf_dir, "documents")
    return multimodal.media_resize_query(documents)


@query("frame_sample", oracle=multimodal.FRAME_SAMPLE_SQL)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # video frame-sampling plan: sequence + explode column math; clips
    # shorter than the interval emit no rows
    (documents,) = _tables(spark, sf_dir, "documents")
    return multimodal.frame_sample_query(documents)


@query("skew_join", oracle=skew.SKEW_JOIN_SQL)
def q_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # salted join over the 10-hot-key events table: hot keys spread over
    # n_salts partitions; output identical to the unsalted join
    (events,) = _tables(spark, sf_dir, "events")
    return skew.skewed_user_enrichment(events)


@query("bucketed_join", oracle=bucketing.BUCKETED_JOIN_SQL)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # co-located fact⋈fact: both sides bucketed by order key, sort-merge
    # join with zero Exchange under it (pinned by tests/test_plans.py)
    ensure_engine_conf(spark)
    return bucketing.bucketed_join_query(spark, sf_dir)


@query("partition_pruning", oracle=partitioned.PARTITION_PRUNING_SQL)
def q_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    # date-partitioned layout: dynamic-partition-overwrite backfill, then
    # a partition-pruned one-week readback (PartitionFilters pinned by
    # tests/test_plans.py)
    ensure_engine_conf(spark)
    return partitioned.partition_pruning_query(spark, sf_dir)


@query("incremental_rollup", oracle=partitioned.INCREMENTAL_ROLLUP_SQL)
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental aggregate maintenance: two-wave rollup over the
    # date-partitioned layout; only new days are read/aggregated per run
    ensure_engine_conf(spark)
    return partitioned.incremental_rollup_query(spark, sf_dir)


@query("stateful_sessions", oracle=stateful_streaming.STATEFUL_SESSIONS_SQL)
def q_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T8 streaming form: applyInPandasWithState session state machine,
    # driven end-to-end under Trigger.AvailableNow; emits every CLOSED
    # session (oracle: batch sessions minus each user's trailing one)
    ensure_engine_conf(spark)
    return stateful_streaming.stateful_sessions_query(spark, sf_dir)


@query("stream_windowed_agg", oracle=streaming_windowed.STREAM_WINDOWED_AGG_SQL)
def q_stream_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # watermarked tumbling-window aggregation under Trigger.AvailableNow;
    # append-mode finalization (trailing windows withheld) replayed by
    # the oracle, cross-batch late-row drops pinned in test_streaming
    ensure_engine_conf(spark)
    return streaming_windowed.stream_windowed_agg_query(spark, sf_dir)


@query("stream_scd2", oracle=warehouse.SCD2_BUILD_SQL)
def q_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental SCD2 maintenance over two AvailableNow runs; oracle is
    # the one-pass batch build verbatim — merge-equivalence is the check
    ensure_engine_conf(spark)
    return streaming_scd2.stream_scd2_query(spark, sf_dir)


@query("stream_windowed_update", oracle=streaming_windowed.STREAM_WINDOWED_UPDATE_SQL)
def q_stream_windowed_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    # update-mode running totals through the keyed upsert sink across
    # two incremental runs; oracle = plain batch GROUP BY (convergence)
    ensure_engine_conf(spark)
    return streaming_windowed.stream_windowed_update_query(spark, sf_dir)


@query("sliding_window_agg", oracle=streaming_windowed.SLIDING_AGG_SQL)
def q_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # overlapping windows (1 day every 6 h): window() explodes each row
    # into its 4 covering windows, then one (window, type) shuffle
    (events,) = _tables(spark, sf_dir, "events")
    return streaming_windowed.sliding_event_agg(events)


@query("stream_attribution", oracle=streaming_joins.ATTRIBUTION_SQL)
def q_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # watermarked stream-stream interval join (purchase <- prior clicks
    # within 1h) under Trigger.AvailableNow; state bounded by watermarks
    ensure_engine_conf(spark)
    return streaming_joins.attribution_query(spark, sf_dir)


@query("task_dedup", oracle=pipeline.DEDUP_SQL)
def q_task_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _tables(spark, sf_dir, "events")
    return pipeline.dedup_first_delivery(events)


@query("scheduler_tasks", oracle=pipeline.SCHEDULER_SQL)
def q_scheduler_tasks(spark: SparkSession, sf_dir: str) -> DataFrame:
    (customer,) = _tables(spark, sf_dir, "customer")
    return pipeline.scheduler_run(customer)


@query("json_props", oracle=pipeline.JSON_PROPS_SQL)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _tables(spark, sf_dir, "events")
    return pipeline.json_props_stats(events)


@query("variant_props", oracle=pipeline.VARIANT_PROPS_SQL)
def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark-4 VariantType: one binary parse per row, typed extraction,
    # aggregated schema-drift check
    (events,) = _tables(spark, sf_dir, "events")
    return pipeline.variant_props_stats(events)


@query("datetime_kit", oracle=pipeline.DATETIME_KIT_SQL)
def q_datetime_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _tables(spark, sf_dir, "events")
    return pipeline.datetime_kit(events)


# ---------------------------------------------------------------------------
# [EXT] LLM-data-pipeline operators (SURVEY §2.11): text analysis, dedup,
# similarity search
# ---------------------------------------------------------------------------


@query("map_kit", oracle=text.MAP_KIT_SQL)
def q_map_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MapType surface: per-doc token->count map, element_at/map_entries
    # consumption — narrow per-row work bounded by doc size
    (documents,) = _tables(spark, sf_dir, "documents")
    return text.map_kit(documents)


@query("token_stats", oracle=text.TOKEN_STATS_SQL)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = _tables(spark, sf_dir, "documents")
    return text.token_stats(documents)


@query("quality_score", oracle=text.QUALITY_SCORE_SQL)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = _tables(spark, sf_dir, "documents")
    return text.quality_score(documents)


@query("language_id", oracle=text.LANGUAGE_ID_SQL)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = _tables(spark, sf_dir, "documents")
    return text.language_id(documents)


@query("doc_fingerprint", oracle=text.DOC_FINGERPRINT_SQL)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = _tables(spark, sf_dir, "documents")
    return text.doc_fingerprint(documents)


@query("paragraph_dedup", oracle=dedup.PARAGRAPH_DEDUP_SQL)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sub-document dedup: repeated boilerplate paragraphs keep only
    # their first occurrence; per-source survival report
    (documents,) = _tables(spark, sf_dir, "documents")
    return dedup.paragraph_dedup_report(documents)


@query("pii_scrub", oracle=text.PII_SCRUB_SQL)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plant deterministic emails/phones, scrub with typed placeholders,
    # audit redactions per source
    (documents,) = _tables(spark, sf_dir, "documents")
    return text.pii_scrub_report(documents)


@query("exact_dedup", oracle=dedup.EXACT_DEDUP_SQL)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = _tables(spark, sf_dir, "documents")
    return dedup.exact_dedup(documents)


@query("minhash_near_dup", oracle=dedup.MINHASH_PAIRS_SQL)
def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # first consumer builds the per-snapshot pair-graph artifact; the
    # five graph queries + the curation funnel then read it
    (documents,) = _tables(spark, sf_dir, "documents")
    return dedup.shared_minhash_pairs(documents)


@query("minhash_near_dup_x64", oracle=dedup.MINHASH_X64_PARITY_SQL)
def q_minhash_near_dup_x64(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 64-bit-id production variant (xxhash64 shingle ids): the BENCH
    # entry for the dedup family — the sha-prefix ids mod 1e6+3 used by
    # the oracle path birthday-collide at ~1e9 distinct shingles,
    # silently merging shingles at corpus scale; xxhash64 does not.
    # DuckDB has no xxhash64, so the driver-checkable contract is a
    # parity REPORT (r6 directive 6): x64 pair set fully-outer-joined
    # against the Horner (oracle-replayable) pair set, oracle pinning
    # (|pairs|, 0, 0); pair-set equality is also pinned in
    # tests/test_dedup.py::test_minhash_xxhash_agrees_with_horner.
    (documents,) = _tables(spark, sf_dir, "documents")
    return dedup.minhash_x64_parity_report(documents)


@query("incremental_near_dup", oracle=dedup.MINHASH_PAIRS_SQL)
def q_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # new-docs-vs-accumulated-index near-dup: two arrival batches over a
    # persisted signature state; oracle = one-shot minhash_pairs verbatim
    ensure_engine_conf(spark)
    (documents,) = _tables(spark, sf_dir, "documents")
    return dedup.incremental_minhash_pairs(spark, documents)


@query("ngram_jaccard", oracle=dedup.NGRAM_JACCARD_SQL)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = _tables(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_sample(documents)


@query("simhash", oracle=dedup.SIMHASH_SQL)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = _tables(spark, sf_dir, "documents")
    return dedup.simhash(documents)


@query("fuzzy_pairs", oracle=dedup.FUZZY_PAIRS_SQL)
def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # edit-distance verify stage over LSH candidates (never all-pairs)
    (documents,) = _tables(spark, sf_dir, "documents")
    return dedup.fuzzy_pairs(documents)


@query("sample_k_per_group", oracle=curation.SAMPLE_K_PER_GROUP_SQL)
def q_sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exactly-k-per-source deterministic draw (partitioned window rank)
    (documents,) = _tables(spark, sf_dir, "documents")
    return curation.sample_k_per_group(documents)


@query("dedup_quality_report", oracle=dedup.DEDUP_QUALITY_REPORT_SQL)
def q_dedup_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # self-measuring LSH pair recall vs the exact Jaccard ground truth
    # on the deterministic sample (precision is 1 by construction —
    # candidates are Jaccard-verified); the text twin of ann_recall_report
    (documents,) = _tables(spark, sf_dir, "documents")
    return dedup.dedup_quality_report(documents)


@query("dedup_clusters", oracle=dedup.DEDUP_CLUSTERS_SQL)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = _tables(spark, sf_dir, "documents")
    return dedup.dedup_clusters(documents)


@query("quality_mad", oracle=text.QUALITY_MAD_SQL)
def q_quality_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    # grouped-map applyInPandas seam: exact per-source median + MAD
    (documents,) = _tables(spark, sf_dir, "documents")
    return text.quality_mad_by_source(documents)


@query("tfidf_topk", oracle=text.TFIDF_TOPK_SQL)
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BM25-rational tf-idf top terms per doc (no log(): cross-engine
    # rank determinism needs correctly-rounded arithmetic only)
    (documents,) = _tables(spark, sf_dir, "documents")
    return text.tfidf_topk(documents)


@query("ngram_topk", oracle=text.NGRAM_TOPK_SQL)
def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = _tables(spark, sf_dir, "documents")
    return text.ngram_topk(documents)


@query("inverted_index", oracle=search.INVERTED_INDEX_SQL)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    # retrieval: exact df + capped posting lists (rank-before-collect so
    # hot tokens never materialize unbounded arrays)
    (documents,) = _tables(spark, sf_dir, "documents")
    return search.inverted_index(documents)


@query("keyword_search", oracle=search.KEYWORD_SEARCH_SQL)
def q_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # conjunctive AND query ranked by total tf, deterministic top-10
    (documents,) = _tables(spark, sf_dir, "documents")
    return search.keyword_search(documents)


@query("chunk_documents", oracle=text.CHUNK_DOCUMENTS_SQL)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RAG chunking: overlapping char windows via sequence+posexplode —
    # narrow, zero shuffle; chunk ids from the codegen sha2-prefix hash
    (documents,) = _tables(spark, sf_dir, "documents")
    return text.chunk_documents(documents)


@query("hybrid_retrieval", oracle=search.HYBRID_RETRIEVAL_SQL)
def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # keyword candidates -> cosine rerank: vector math only touches the
    # keyword-pruned candidate set
    documents, embeddings = _tables(spark, sf_dir, "documents", "embeddings")
    return search.hybrid_retrieval(documents, embeddings)


@query("cosine_topk", oracle=similarity.COSINE_TOPK_SQL)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = _tables(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(embeddings)


@query("embedding_stats", oracle=similarity.EMBEDDING_STATS_SQL)
def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = _tables(spark, sf_dir, "embeddings")
    return similarity.embedding_stats(embeddings)


@query("label_centroids", oracle=similarity.LABEL_CENTROIDS_SQL)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-class mean embedding, exact integer-scaled sums
    (embeddings,) = _tables(spark, sf_dir, "embeddings")
    return similarity.label_centroids(embeddings)


@query("embedding_quantize", oracle=similarity.EMBEDDING_QUANTIZE_SQL)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = _tables(spark, sf_dir, "embeddings")
    return similarity.embedding_quantize(embeddings)


@query("embedding_near_dup", oracle=similarity.EMBEDDING_NEAR_DUP_SQL)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # through the floor-keyed pair-graph artifact: byte-identical to the
    # inline banded path (pinned in test_similarity), but steady-state
    # invocations — and semantic_dedup — share one LSH pass per snapshot
    (embeddings,) = _tables(spark, sf_dir, "embeddings")
    return similarity.shared_embedding_pairs(embeddings, threshold=0.42)


@query("embedding_near_dup_exact", oracle=similarity.EMBEDDING_NEAR_DUP_EXACT_SQL)
def q_embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = _tables(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_exact(embeddings)


@query("media_features", oracle=multimodal.MEDIA_FEATURES_SQL)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = _tables(spark, sf_dir, "documents")
    return multimodal.media_features_query(documents)


@query("mixture_weights", oracle=curation.MIXTURE_WEIGHTS_SQL)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # temperature-scaled (alpha=0.5) source mixture for pretraining mixes
    (documents,) = _tables(spark, sf_dir, "documents")
    return curation.mixture_weights(documents)


@query("pack_sequences", oracle=curation.PACK_SEQUENCES_SQL)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    # concat-then-chunk sequence packing plan (windowed cumsum, no
    # global sort — partitioned by source)
    (documents,) = _tables(spark, sf_dir, "documents")
    return curation.pack_sequences(documents)


@query("curation_funnel", oracle=curation.CURATION_FUNNEL_SQL)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the whole curation pipeline as one query: near-dedup -> quality ->
    # decontaminate -> repetition, per-stage retention counts
    (documents,) = _tables(spark, sf_dir, "documents")
    return curation.curation_funnel(documents)


@query("split_leakage", oracle=curation.SPLIT_LEAKAGE_SQL)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # near-dup pairs straddling train/val/test — the leak a random hash
    # split cannot see; pair graph from the shared artifact
    (documents,) = _tables(spark, sf_dir, "documents")
    return curation.split_leakage(documents)


@query("cluster_split_leakage", oracle=curation.CLUSTER_SPLIT_LEAKAGE_SQL)
def q_cluster_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the fix: split by cluster canonical — cross-split pairs vanish by
    # construction, and the oracle proves it
    (documents,) = _tables(spark, sf_dir, "documents")
    return curation.cluster_split_leakage(documents)


@query("curated_snapshot", oracle=curation.CURATED_SNAPSHOT_SQL)
def q_curated_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the curation pipeline's terminal materialization: exact winners ∩
    # near-dup canonicals ∩ uncontaminated, written partitioned by
    # split, manifest aggregated from the read-back
    (documents,) = _tables(spark, sf_dir, "documents")
    return curation.curated_snapshot(documents)


@query("decontaminate", oracle=curation.DECONTAMINATE_SQL)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # benchmark decontamination: distinct held-out gram ids broadcast,
    # corpus-side grams hash-join on the 8-byte Horner gram id
    (documents,) = _tables(spark, sf_dir, "documents")
    return curation.decontaminate(documents)


@query("repetition_score", oracle=curation.REPETITION_SCORE_SQL)
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher-style repetition signals: dup-token fraction + top-bigram mass
    (documents,) = _tables(spark, sf_dir, "documents")
    return curation.repetition_score(documents)


@query("stratified_sample", oracle=curation.STRATIFIED_SAMPLE_SQL)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic per-source hash sampling (pure narrow filter)
    (documents,) = _tables(spark, sf_dir, "documents")
    return curation.stratified_sample(documents)


# the two approximate-ANN queries are fully oracle-checked: the SQL
# replays the identical deterministic algorithm (implementation parity);
# recall floors vs cosine_topk live in tests/test_similarity.py
@query("budget_fill", oracle=curation.BUDGET_FILL_SQL)
def q_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    # greedy per-source token-budget planner (windowed cumsum admission)
    (documents,) = _tables(spark, sf_dir, "documents")
    return curation.budget_fill(documents)


@query("lang_drift", oracle=curation.LANG_DRIFT_SQL)
def q_lang_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-source language-mix drift vs the corpus (log-free chi-square)
    (documents,) = _tables(spark, sf_dir, "documents")
    return curation.lang_drift(documents)


@query("ann_lsh_topk", oracle=similarity.ANN_LSH_TOPK_SQL)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = _tables(spark, sf_dir, "embeddings")
    return similarity.ann_lsh_topk(embeddings)


@query("ivf_index_probe", oracle=similarity.IVF_TOPK_SQL)
def q_ivf_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persisted-index lifecycle: build (codebook parquet + corpus
    # partitioned by cell) then probe via DPP file pruning; output —
    # and therefore the oracle — is identical to inline ivf_topk
    (embeddings,) = _tables(spark, sf_dir, "embeddings")
    return similarity.ivf_index_roundtrip_query(spark, embeddings)


@query("pq_topk", oracle=similarity.PQ_TOPK_SQL)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # product quantization + ADC: corpus lives as 16 byte-codes per
    # vector, ranking is a LUT join — the memory-bound scale path
    (embeddings,) = _tables(spark, sf_dir, "embeddings")
    return similarity.pq_topk(embeddings)


@query("ivf_topk", oracle=similarity.IVF_TOPK_SQL)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = _tables(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(embeddings)


@query("semantic_dedup", oracle=similarity.SEMANTIC_DEDUP_SQL)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SemDeDup-style: connected components over the banded embedding
    # near-dup graph, canonical vector per component — the pass that
    # removes semantic duplicates text matching cannot see
    (embeddings,) = _tables(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(embeddings)


@query("bpe_merge_candidates", oracle=text.BPE_MERGE_CANDIDATES_SQL)
def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenizer-training statistic: top adjacent char pairs within
    # words (the first BPE merge iteration), one agg + TakeOrdered
    (documents,) = _tables(spark, sf_dir, "documents")
    return text.bpe_merge_candidates(documents)


@query("incremental_ann_index", oracle=similarity.INCREMENTAL_ANN_SQL)
def q_incremental_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    # append-only index maintenance: batch 1 trains, batch 2 encodes
    # against FROZEN codebooks and appends its cells; the probe sees the
    # accumulated index — oracle trains on batch 1 only, replays exactly
    (embeddings,) = _tables(spark, sf_dir, "embeddings")
    return similarity.incremental_ann_index_query(spark, embeddings)


@query("ann_recall_report", oracle=similarity.ANN_RECALL_REPORT_SQL)
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # self-measuring recall@5 of the LSH and IVF paths vs the exact
    # baseline, as a table — the post-rebuild quality monitor; the
    # whole three-pipeline composition is oracle-checked
    (embeddings,) = _tables(spark, sf_dir, "embeddings")
    return similarity.ann_recall_report(embeddings)


@query("ivf_pq_index_probe", oracle=similarity.IVF_PQ_TOPK_SQL)
def q_ivf_pq_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persisted IVF∘PQ lifecycle: codebooks + cell-partitioned CODES
    # table (16x smaller than vectors); probes read only probed cell
    # dirs (static partition pruning) and no embedding bytes at all —
    # output, and therefore the oracle, identical to inline ivf_pq_topk
    (embeddings,) = _tables(spark, sf_dir, "embeddings")
    return similarity.ivf_pq_index_roundtrip_query(spark, embeddings)


@query("ivf_pq_topk", oracle=similarity.IVF_PQ_TOPK_SQL)
def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the 100 TB ANN configuration: IVF cell pruning composed with PQ
    # ADC ranking — candidates are probed-cell members only, so the ADC
    # never materializes a Q×N pair set (pq_topk's flat-ADC remains the
    # small-scale oracle baseline)
    (embeddings,) = _tables(spark, sf_dir, "embeddings")
    return similarity.ivf_pq_topk(embeddings)


# ---------------------------------------------------------------------------
# public contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001 (driver smoke check: runs, ≥0 rows, stable schema)."""
    ensure_engine_conf(spark)
    return q_trail_classifier(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Sample-coverage ordering. The driver's correctness sweep samples a
# PREFIX of `queries()`; with pure registration order that prefix only
# ever covered the relational/timeseries head (VERDICT r3 directive 2),
# leaving the ANN/dedup/streaming/curation families without a
# driver-green row. `queries()` therefore emits an explicit
# family-spanning head (flagships + the heavy production paths of every
# family) followed by the remaining registrations round-robined across
# families, so ANY prefix of the dict spans the whole engine.
# ---------------------------------------------------------------------------

# ROTATION POLICY (VERDICT r5 directive 3, mechanized per r6 directive
# 7, staleness-ordered per r7 directive 1): driver_coverage.json (this
# package dir) records query -> {"first": F, "last": L} driver-green
# rounds; it is regenerated each round by
# tools/update_driver_coverage.py from the rounds' CORRECTNESS_r{N}
# records. The sample head is DERIVED: the flagship and this round's
# changed surfaces pinned up front, then every registered query with no
# coverage entry yet (never driver-green), then recently
# changed-but-covered surfaces, then EVERYTHING ELSE stalest-first
# (oldest last-green round first, family round-robin within a
# staleness group so any prefix still spans families).

# hand-pinned per round: flagship smoke + the surfaces whose CODE
# changed this round (r10: clone_guard registered over the new
# transitive clone pins; the batch DataSource empty-plan sentinel
# touches every pyds_* read, pyds_manifest_scan is its flagship; the
# CDC startingTimestamp vacuumed-history clamp sits in the reader
# __init__ pyds_time_travel streams through)
_PINNED_HEAD = [
    "trail_classifier", "clone_guard", "pyds_cdf_batch",
    "pyds_replace_where", "pyds_manifest_scan", "pyds_time_travel",
    "manifest_clone", "merge_by_source",
    # r10 session 2: bloom-filter pruning and column mapping are new;
    # column mapping also rewired every manifest read edge, so its
    # flagship plus the batch-scan flagship above re-check first
    "bloom_skip_scan", "column_mapping",
    # r10 session 2 (later): CDF image pairs, write-edge generated
    # columns (touches every upsert's pre-commit path), and the
    # incremental bucket-wise compaction maintain now prefers
    "cdf_preimages", "generated_columns", "incremental_compaction",
    # r11: the sharded-metadata tier rewires the manifest commit and
    # read_manifest for EVERY table past the threshold — sample first
    "sidecar_metadata",
    # r12: zero-metadata clones (carried sidecar refs + base
    # resolution) and content-addressed restore are new surfaces
    "clone_metadata", "restore_metadata",
    # r13: delta-based DATA commits rewired manifest_upsert's and
    # delete_where's publish path for every sharded table — sample the
    # incremental-scalars probe first
    "commit_delta_metadata",
]

# changed-but-already-covered surfaces re-sampled AFTER the never-green
# block (they have prior green rows; a re-check is cheap insurance —
# r10: both CDC stream queries construct through the clamped
# startingTimestamp baseline resolution; pyds_evolved_scan exercises
# the batch reader's pushFilters -> partitions path the sentinel edit
# sits in)
_CHANGED_TAIL = [
    "pyds_cdc_stream", "pyds_cdc_rescale_stream", "pyds_evolved_scan",
]


def _driver_coverage() -> dict[str, dict[str, int]]:
    """query name -> {"first": F, "last": L} driver-green rounds.
    Accepts the pre-r8 flat form (name -> first round) for
    compatibility. A missing/corrupt file degrades the sample rotation
    (everything counts as never-green), so it warns instead of failing
    silently — the file ships with the package and is rewritten
    atomically by tools/update_driver_coverage.py."""
    import json
    import os
    import warnings

    p = os.path.join(os.path.dirname(__file__), "driver_coverage.json")
    try:
        with open(p) as fh:
            raw = json.load(fh)
    except (OSError, ValueError) as ex:
        warnings.warn(
            f"driver_coverage.json unreadable ({ex!r}): sample rotation "
            "falls back to registration order",
            stacklevel=2,
        )
        return {}
    return {
        n: (v if isinstance(v, dict) else {"first": v, "last": v})
        for n, v in raw.items()
    }


def _sample_head(covered: dict[str, dict[str, int]] | None = None) -> list[str]:
    if covered is None:
        covered = _driver_coverage()
    head = list(_PINNED_HEAD)
    seen = set(head)
    # every registered query that has never been driver-green, in
    # registration order (stable across runs)
    for n in _QUERIES:
        if n not in seen and n not in covered:
            head.append(n)
            seen.add(n)
    for n in _CHANGED_TAIL:
        if n not in seen:
            head.append(n)
            seen.add(n)
    # stalest-first re-verification (r7 directive 1): order the covered
    # remainder by oldest LAST-green round (a query re-greened last
    # round is fresh regardless of when it first went green), family
    # round-robined within each staleness group so any sample prefix
    # still spans the engine's families.
    reg_pos = {n: i for i, n in enumerate(_QUERIES)}
    remainder = sorted(
        (n for n in _QUERIES if n not in seen and n in covered),
        key=lambda n: (covered[n].get("last", 0), reg_pos[n]),
    )
    by_round: dict[int, dict[str, list[str]]] = {}
    for n in remainder:
        grp = by_round.setdefault(covered[n].get("last", 0), {})
        grp.setdefault(_family(n), []).append(n)
    for rnd in sorted(by_round):
        buckets = by_round[rnd]
        while any(buckets.values()):
            for fam in list(buckets):
                if buckets[fam]:
                    head.append(buckets[fam].pop(0))
    return head

_FAMILY_PATTERNS: list[tuple[str, tuple[str, ...]]] = [
    ("streaming", ("stream_", "stateful", "sliding")),
    ("ann", ("cosine", "ivf", "pq_", "ann_", "embedding", "semantic",
             "centroid")),
    ("dedup", ("dedup", "minhash", "simhash", "jaccard", "fuzzy",
               "canonical", "pagerank", "degree", "dup_rate")),
    ("curation", ("curation", "decontaminate", "mixture", "pack_",
                  "budget", "lang_drift", "stratified", "split",
                  "sample", "repetition", "overlap")),
    ("text", ("token", "quality", "language", "fingerprint", "tfidf",
              "ngram", "chunk", "bpe", "heavy_hitters", "search",
              "index", "retrieval", "pii")),
    ("ingest", ("ingest", "dlq", "scheduler", "task", "json", "variant",
                "datetime", "roundtrip", "schema")),
]


def _family(name: str) -> str:
    for fam, pats in _FAMILY_PATTERNS:
        if any(p in name for p in pats):
            return fam
    return "relational"


def _sample_order() -> list[str]:
    head = [n for n in _sample_head() if n in _QUERIES]
    seen = set(head)
    buckets: dict[str, list[str]] = {}
    for n in _QUERIES:
        if n not in seen:
            buckets.setdefault(_family(n), []).append(n)
    order = list(head)
    while any(buckets.values()):
        for fam in list(buckets):
            if buckets[fam]:
                order.append(buckets[fam].pop(0))
    return order


def queries() -> dict[str, QueryFn]:
    return {n: _QUERIES[n] for n in _sample_order()}


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
