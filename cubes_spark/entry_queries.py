"""Query builders for the driver contract (__spark_entry__).

One ``q_<name>(spark, sf_dir) -> DataFrame`` per implemented
operator/query from SURVEY.md SS2 plus the LLM-pipeline, statistics,
TPC-H and streaming layers.  ``__spark_entry__.queries()`` is the thin
aggregator over these; the matching DuckDB oracle SQL lives in
``cubes_spark.oracles``.  Split out of the entry file in round 10 so
the driver contract stays a readable index (<100 KB).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cubes_spark.demo import tpch_workspace
from cubes_spark.operators import olap
from cubes_spark.llm import (
    ann_lsh_cosine,
    cosine_topk,
    embedding_near_duplicates,
    exact_duplicates,
    fingerprint,
    language_id,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
    text_stats,
)

_browsers: dict = {}
_workspaces: dict = {}


def _ws(spark: SparkSession, sf_dir: str):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (id(spark), sf_dir)
    if key not in _workspaces:
        _workspaces[key] = tpch_workspace(spark, sf_dir)
    return _workspaces[key]


def _browser(spark: SparkSession, sf_dir: str):
    key = (id(spark), sf_dir)
    if key not in _browsers:
        _browsers[key] = _ws(spark, sf_dir).browser("sales")
    return _browsers[key]


_stores: dict = {}
#: misc per-(session, sf) artifacts (staged streaming cuboid logs, …)
_stores_misc: dict = {}


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Schema-adaptive table read: ParquetStore sniffs the parquet
    footer and converts only genuine TIMESTAMP(NANOS) columns to µs
    timestamps; every other timestamp flavor reads natively.  (The
    physical unit of e.g. events.ts is a property of the data, not of
    the engine — never hard-code it.)"""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from cubes_spark.sources.workspace import ParquetStore

    key = (id(spark), sf_dir)
    if key not in _stores:
        _stores[key] = ParquetStore(spark, sf_dir)
    return _stores[key].table(name)


def _dbl(df: DataFrame, *cols: str) -> DataFrame:
    """Cast decimal aggregate columns to double for oracle comparison."""
    return df.withColumns({c: F.col(f"`{c}`").cast("double") for c in cols})


def _lng(df: DataFrame, *cols: str) -> DataFrame:
    return df.withColumns({c: F.col(f"`{c}`").cast("long") for c in cols})


# ---------------------------------------------------------------------------
# OLAP browser queries (SURVEY §2.2-2.6)
# ---------------------------------------------------------------------------


def q_agg_year(spark, sf_dir):
    """Drilldown aggregation over the virtual time dimension."""
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["date:year"],
        aggregates=["quantity_sum", "price_sum", "fact_count"],
    )
    return _lng(_dbl(df, "quantity_sum", "price_sum"), "date.year",
                "fact_count")


def q_agg_point_cut(spark, sf_dir):
    """PointCut cell filter + two-level drilldown."""
    df = _browser(spark, sf_dir).aggregation_dataframe(
        cell="date:1995",
        drilldown=["date@ym:month"],
        aggregates=["price_sum", "fact_count"],
    )
    return _lng(_dbl(df, "price_sum"), "date.year", "date.month",
                "fact_count")


def q_agg_set_cut(spark, sf_dir):
    df = _browser(spark, sf_dir).aggregation_dataframe(
        cell="returnflag:A;R",
        drilldown=["returnflag"],
        aggregates=["quantity_sum", "fact_count"],
    )
    return _lng(_dbl(df, "quantity_sum"), "fact_count")


def q_agg_invert_cut(spark, sf_dir):
    df = _browser(spark, sf_dir).aggregation_dataframe(
        cell="!returnflag:A;R",
        drilldown=["returnflag", "linestatus"],
        aggregates=["price_sum", "fact_count"],
    )
    return _lng(_dbl(df, "price_sum"), "fact_count")


def q_agg_range_cut(spark, sf_dir):
    """Hierarchical RangeCut over (year, month) paths."""
    df = _browser(spark, sf_dir).aggregation_dataframe(
        cell="date@ym:1995,3-1996,8",
        drilldown=["date@ym:month"],
        aggregates=["fact_count"],
    )
    return _lng(df, "date.year", "date.month", "fact_count")


def q_agg_half_open_range(spark, sf_dir):
    df = _browser(spark, sf_dir).aggregation_dataframe(
        cell="date:2000,6-",
        drilldown=["date:year"],
        aggregates=["fact_count"],
    )
    return _lng(df, "date.year", "fact_count")


def q_agg_snowflake(spark, sf_dir):
    """Snowflake join lineitem→orders→customer→nation→region."""
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["customer_geo:region"],
        aggregates=["price_sum", "fact_count"],
    )
    return _lng(_dbl(df, "price_sum"), "customer_geo.region_key",
                "fact_count")


def q_agg_roleplay(spark, sf_dir):
    """Role-playing dims: nation via customer AND via supplier."""
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["customer_geo@nation_only:nation",
                   "supplier_geo:region"],
        aggregates=["fact_count"],
    )
    return _lng(df, "customer_geo.nation_key", "supplier_geo.region_key",
                "fact_count")


def q_agg_expression(spark, sf_dir):
    """Derived measures: expression over base measures."""
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["returnflag"],
        aggregates=["discounted_price_sum", "charge_sum"],
    )
    return _dbl(df, "discounted_price_sum", "charge_sum")


def q_agg_expression_fns(spark, sf_dir):
    """Expression-language scalar functions end-to-end: if/CASE,
    round, scalar min (least), coalesce inside derived measures
    (parity: sql/expressions.py:25-60 function table)."""
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["returnflag"],
        aggregates=["capped_qty_sum", "price_band_sum", "fact_count"],
    )
    return _lng(_dbl(df, "capped_qty_sum", "price_band_sum"),
                "fact_count")


def q_agg_expression_case(spark, sf_dir):
    """Searched CASE in the expression language —
    ``case(cond1, v1, cond2, v2, ..., else)`` (parity:
    /root/reference/cubes/sql/expressions.py:46 ``case``)."""
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["returnflag"],
        aggregates=["qty_tier_sum", "fact_count"],
    )
    return _lng(df, "qty_tier_sum", "fact_count")


def q_agg_count_nonempty(spark, sf_dir):
    """``count_nonempty`` distinguished from plain ``count``: counts
    non-NULL values of a nullable derived measure (nullif(discount,0)),
    so the result is strictly below fact_count."""
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["returnflag"],
        aggregates=["discount_nz_count", "fact_count"],
    )
    return _lng(df, "discount_nz_count", "fact_count")


def q_agg_order_page(spark, sf_dir):
    """Explicit order by aggregate + pagination (page 1, size 5)."""
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["date@ym:month"],
        aggregates=["price_sum"],
        order=["price_sum:desc"],
        page=1, page_size=5,
    )
    return _lng(_dbl(df, "price_sum"), "date.year", "date.month")


def q_agg_minmax(spark, sf_dir):
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["returnflag"],
        aggregates=["price_min", "price_max", "part_count_distinct"],
    )
    return _lng(_dbl(df, "price_min", "price_max"), "part_count_distinct")


def q_agg_avg_var(spark, sf_dir):
    """avg / variance / stddev derived from exact sums with the same
    double formula as the oracle."""
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["returnflag"],
        aggregates=["quantity_sum", "quantity_sq_sum", "quantity_count"],
    )
    s = F.col("quantity_sum").cast("double")
    s2 = F.col("quantity_sq_sum").cast("double")
    n = F.col("quantity_count").cast("double")
    var = (s2 - s * s / n) / (n - F.lit(1.0))
    return df.select(
        F.col("`returnflag.returnflag`"),
        (s / n).alias("quantity_avg"),
        var.alias("quantity_var"),
        F.sqrt(var).alias("quantity_std"),
    )


def q_agg_split(spark, sf_dir):
    """Split dimension: in/out of the 1995 cell as a virtual dim."""
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["returnflag"],
        split="date:1995",
        aggregates=["price_sum", "fact_count"],
    )
    return _lng(_dbl(df, "price_sum"), "fact_count")


def q_agg_relative_time(spark, sf_dir):
    """Calendar cut: 'lastmonth' expanded by the member converter for
    the role:"time" dimension (now pinned for determinism)."""
    from datetime import datetime

    from cubes_spark.calendar import Calendar
    from cubes_spark.demo import tpch_workspace

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ws = tpch_workspace(spark, sf_dir)
    browser = ws.browser(
        "sales", calendar=Calendar(now=datetime(1996, 6, 15))
    )
    df = browser.aggregation_dataframe(
        cell="date@ym:lastmonth",
        drilldown=["date:day"],
        aggregates=["quantity_sum", "fact_count"],
    )
    return _lng(_dbl(df, "quantity_sum"), "date.year", "date.month",
                "date.day", "fact_count")


def q_topk_customers(spark, sf_dir):
    """High-cardinality drilldown guarded by pagination: top-5 customers
    by revenue."""
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["customer_geo:customer"],
        aggregates=["price_sum"],
        order=["price_sum:desc"],
        page=0, page_size=5,
    )
    return _lng(
        _dbl(df, "price_sum"),
        "customer_geo.region_key", "customer_geo.nation_key",
        "customer_geo.customer_key",
    )


def q_members(spark, sf_dir):
    """Distinct members of a hierarchy depth within a cell."""
    df = _browser(spark, sf_dir).members_dataframe(
        cell="customer_geo:2", dimension="customer_geo", depth=2,
    )
    return _lng(df, "customer_geo.region_key", "customer_geo.nation_key")


def q_facts_page(spark, sf_dir):
    """Detail facts with field selection, order, pagination."""
    df = _browser(spark, sf_dir).facts(
        cell="date:1995,1",
        fields=["fact_key", "linenumber", "quantity", "extendedprice",
                "returnflag"],
        order=["fact_key", "linenumber"],
        page=0, page_size=50,
    )
    return _lng(_dbl(df, "quantity", "extendedprice"), "fact_key",
                "linenumber")


def q_fact_list(spark, sf_dir):
    """facts(fact_list=...) — key-filtered detail rows."""
    df = _browser(spark, sf_dir).facts(
        fields=["fact_key", "linenumber", "quantity", "returnflag"],
        fact_list=[1, 2, 3, 5, 8, 13, 21, 34],
    )
    return _lng(_dbl(df, "quantity"), "fact_key", "linenumber")


# -- post-aggregation window calculators (SURVEY §2.5) ----------------------


def _calc_query(aggregate: str):
    def run(spark, sf_dir):
        df = _browser(spark, sf_dir).aggregation_dataframe(
            drilldown=["date@ym:month"],
            aggregates=["price_sum", aggregate],
        )
        out = _dbl(df, "price_sum", aggregate)
        return _lng(out, "date.year", "date.month")
    return run


q_calc_sma = _calc_query("price_sma")
q_calc_rsum = _calc_query("price_rsum")
q_calc_pctchange = _calc_query("price_pct_change")
q_calc_zscore = _calc_query("price_zscore")


def q_calc_ptot(spark, sf_dir):
    """Share-of-parent calculator (``ptot``): each (region, month)
    row's price as a fraction of ITS REGION's total — the "auto"
    calculator partition is every drilldown item but the last, so the
    whole-partition frame IS the parent grain."""
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["customer_geo:region", "date@ym:month"],
        aggregates=["price_sum", "price_ptot"],
    )
    out = _dbl(df, "price_sum", "price_ptot")
    return _lng(out, "customer_geo.region_key", "date.year",
                "date.month")

def q_calc_nulls(spark, sf_dir):
    """All six reference window calculators over a NULLABLE aggregate
    series (min over a measure that is NULL on odd ship-months): the
    deque holds the last N NON-NULL values, reaching back past NULL
    rows, and rows before the first non-null value get NULL (parity:
    /root/reference/cubes/query/statutils.py:192-205)."""
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["date@ym:month"],
        aggregates=["price_even_min", "pe_sma", "pe_wma", "pe_sms",
                    "pe_smstd", "pe_smvar", "pe_smrsd"],
    )
    out = _dbl(df, "price_even_min", "pe_sma", "pe_wma", "pe_sms",
               "pe_smstd", "pe_smvar", "pe_smrsd")
    return _lng(out, "date.year", "date.month")


q_calc_wma = _calc_query("price_wma")
q_calc_sms = _calc_query("price_sms")
q_calc_ewma = _calc_query("price_ewma")
q_calc_smstd = _calc_query("price_smstd")
q_calc_smvar = _calc_query("price_smvar")
q_calc_smrsd = _calc_query("price_smrsd")


# -- native OLAP extensions (SURVEY §2.4 upgrade) ---------------------------


def q_rollup_ym(spark, sf_dir):
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["date@ym:month"], aggregates=["quantity_sum"],
        include_keys_only=True,
    )
    base = df.select(
        F.col("`date.year`").cast("long").alias("year"),
        F.col("`date.month`").cast("long").alias("month"),
        F.col("quantity_sum"),
    )
    out = olap.rollup_aggregate(
        base, ["year", "month"],
        [F.sum("quantity_sum").cast("double").alias("quantity_sum")],
    )
    return _lng(out, "grouping_id")


def q_cube_flags(spark, sf_dir):
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["returnflag", "linestatus"], aggregates=["fact_count"],
    )
    out = olap.cube_aggregate(
        df.select(
            F.col("`returnflag.returnflag`").alias("returnflag"),
            F.col("`linestatus.linestatus`").alias("linestatus"),
            F.col("fact_count"),
        ),
        ["returnflag", "linestatus"],
        [F.sum("fact_count").cast("long").alias("fact_count")],
    )
    return _lng(out, "grouping_id")


def q_preagg_year(spark, sf_dir):
    """Pre-aggregation rewrite: a month-grain cuboid is materialized,
    then a coarser year-grain query is served from it — the result must
    equal computing from the raw fact table (the oracle does)."""
    import tempfile

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = ("preagg", id(spark), sf_dir)
    if key not in _browsers:
        # dedicated browser: the cuboid must not rewrite other queries
        ws = tpch_workspace(spark, sf_dir)
        browser = ws.browser("sales")
        path = tempfile.mkdtemp(prefix="cubes_spark_cuboid_") + "/ym"
        browser.materialize_cuboid(
            path, drilldown=["date@ym:month"],
            aggregates=["quantity_sum", "price_sum", "fact_count"],
        )
        _browsers[key] = browser
    browser = _browsers[key]
    df = browser.aggregation_dataframe(
        drilldown=["date:year"],
        aggregates=["quantity_sum", "price_sum", "fact_count"],
    )
    return _lng(_dbl(df, "quantity_sum", "price_sum"), "date.year",
                "fact_count")


def q_preagg_rollup_rewrite(spark, sf_dir):
    """Algebraic pre-aggregation rewrite (operators/preagg.py
    Cuboid.partials_for + Cuboid.plan): the month-grain
    cuboid stores only sum/count partials, yet serves a COARSER
    year-grain query asking for ``quantity_avg`` — reconstructed as
    sum(sums)/sum(counts), bit-identical to the engine's decimal-exact
    direct avg.  tests/test_preagg.py asserts the plan scans the
    cuboid parquet, never the fact star; the oracle computes the same
    avg from the raw facts."""
    import tempfile

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = ("preagg_rollup", id(spark), sf_dir)
    if key not in _browsers:
        ws = tpch_workspace(spark, sf_dir)
        browser = ws.browser("sales")
        path = tempfile.mkdtemp(prefix="cubes_spark_cuboid_") + "/ymp"
        browser.materialize_cuboid(
            path, drilldown=["date@ym:month"],
            aggregates=["quantity_sum", "quantity_count", "fact_count"],
        )
        _browsers[key] = browser
    browser = _browsers[key]
    df = browser.aggregation_dataframe(
        drilldown=["date:year"],
        aggregates=["quantity_avg", "quantity_sum", "fact_count"],
    )
    return _lng(_dbl(df, "quantity_sum"), "date.year", "fact_count")


def q_preagg_var_rewrite(spark, sf_dir):
    """Algebraic variance/stddev pre-aggregation rewrite (r14;
    operators/preagg.py Cuboid.materialize + partials_for): the
    month-grain cuboid materializes ``price_variance``/``price_stddev``
    and, in the same pass, hidden (sum, count, sum-of-squares) decimal
    partials — a COARSER year-grain query is then served as
    (Σs2 − (Σs1)²/Σn)/(Σn − 1) over the merged partials, bit-identical
    to the direct decimal-exact computation
    (functions/aggregates.py variance_from_sums).  tests/test_preagg.py
    asserts the plan scans the cuboid parquet, never the fact star;
    the oracle recomputes the same formula from the raw facts."""
    import tempfile

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = ("preagg_var", id(spark), sf_dir)
    if key not in _browsers:
        ws = tpch_workspace(spark, sf_dir)
        browser = ws.browser("sales")
        path = tempfile.mkdtemp(prefix="cubes_spark_cuboid_") + "/ymv"
        browser.materialize_cuboid(
            path, drilldown=["date@ym:month"],
            aggregates=["price_variance", "price_stddev", "fact_count"],
        )
        _browsers[key] = browser
    browser = _browsers[key]
    df = browser.aggregation_dataframe(
        drilldown=["date:year"],
        aggregates=["price_variance", "price_stddev", "fact_count"],
    )
    return _lng(df, "date.year", "fact_count")


def q_preagg_hll_rollup(spark, sf_dir):
    """Materialized DISTINCT-COUNT sketch cuboid (r14;
    operators/preagg.py HLLCuboid): HyperLogLog registers sketched
    ONCE at (year, month) grain over the sales star (measure
    partkey), then a COARSER year-grain distinct estimate is served
    by max-merging the stored registers — the fact star is never
    rescanned, and because registers are losslessly max-mergeable the
    served estimate is bit-identical to sketching the raw facts at
    year grain.  All bucket/rank/estimate arithmetic is integer-exact
    (functions/sketches.py), so the oracle rebuilds the identical
    registers and estimate in SQL."""
    import tempfile

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = ("preagg_hll", id(spark), sf_dir)
    if key not in _stores_misc:
        from cubes_spark.operators.preagg import HLLCuboid

        browser = tpch_workspace(spark, sf_dir).browser("sales")
        path = tempfile.mkdtemp(prefix="cubes_spark_cuboid_") + "/hll"
        HLLCuboid.materialize(browser, path, ["date@ym:month"],
                              "partkey")
        _stores_misc[key] = path
    from cubes_spark.operators.preagg import HLLCuboid

    cub = HLLCuboid(_stores_misc[key], ["date.year", "date.month"],
                    "partkey")
    out = cub.rollup(spark, ["date.year"])
    return _lng(out.select(F.col("date__year").alias("year"),
                           "hll_est"),
                "year", "hll_est")


def q_preagg_distinct_rewrite(spark, sf_dir):
    """EXACT count_distinct at a coarser grain without a fact rescan
    (r14; operators/preagg.py companion distinct-key tables): the
    month-grain cuboid materializes ``part_count_distinct``, which
    writes a companion DISTINCT (year, month, partkey) table — a
    coarser year-grain query then re-aggregates the companion by set
    union (the only state from which a distinct count re-aggregates
    exactly; per-grain exact counts cannot), joined into the cuboid
    result.  tests/test_preagg.py asserts the fact star is never
    scanned; the oracle recomputes COUNT(DISTINCT) from the raw
    facts."""
    import tempfile

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = ("preagg_distinct", id(spark), sf_dir)
    if key not in _browsers:
        ws = tpch_workspace(spark, sf_dir)
        browser = ws.browser("sales")
        path = tempfile.mkdtemp(prefix="cubes_spark_cuboid_") + "/ymd"
        browser.materialize_cuboid(
            path, drilldown=["date@ym:month"],
            aggregates=["part_count_distinct", "price_sum",
                        "fact_count"],
        )
        _browsers[key] = browser
    browser = _browsers[key]
    df = browser.aggregation_dataframe(
        drilldown=["date:year"],
        aggregates=["part_count_distinct", "price_sum", "fact_count"],
    )
    return _lng(_dbl(df, "price_sum"), "date.year",
                "part_count_distinct", "fact_count")


def q_grouping_sets(spark, sf_dir):
    """GROUP BY GROUPING SETS — one pass over two disjoint cuboids."""
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["returnflag", "linestatus"], aggregates=["quantity_sum"],
    )
    base = df.select(
        F.col("`returnflag.returnflag`").alias("returnflag"),
        F.col("`linestatus.linestatus`").alias("linestatus"),
        F.col("quantity_sum"),
    )
    out = olap.grouping_sets_aggregate(
        base, [["returnflag"], ["linestatus"]],
        ["CAST(sum(quantity_sum) AS DOUBLE) AS quantity_sum"],
    )
    return out


def q_crosstab(spark, sf_dir):
    """Pivot: returnflag rows × linestatus columns, fact counts."""
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["returnflag", "linestatus"], aggregates=["fact_count"],
    )
    out = olap.crosstab(
        df.select(
            F.col("`returnflag.returnflag`").alias("returnflag"),
            F.col("`linestatus.linestatus`").alias("linestatus"),
            F.col("fact_count"),
        ),
        rows=["returnflag"], column="linestatus",
        value=F.sum("fact_count").cast("long"),
        values=["F", "O"],
    )
    # an empty (flag, status) cell pivots to NULL while the oracle's
    # filtered COUNT yields 0 — on real TPC-H distributions (A,O) and
    # (R,O) are empty; the synthetic data only populates all six
    # combos by accident of the generator
    return out.select(
        "returnflag",
        F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("F"),
        F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("O"),
    )


# ---------------------------------------------------------------------------
# events table (batch form of the streaming model)
# ---------------------------------------------------------------------------


def q_events_hourly(spark, sf_dir):
    """Tumbling 1-hour windows over event time — the batch equivalent of
    the streaming aggregation (same plan shape Structured Streaming
    runs incrementally)."""
    ev = _table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)")).alias("value_sum"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("value_sum").cast("double").alias("value_sum"),
            F.col("n_users").cast("long").alias("n_users"),
        )
    )


def q_events_stream_hourly(spark, sf_dir):
    """The SAME hourly aggregation as q_events_hourly, executed as a
    Structured Streaming query: events replayed through a watermarked
    file stream (availableNow), result from the memory sink.  Verified
    against the same SQL oracle — streaming == batch == oracle."""
    from cubes_spark.streaming import read_parquet_stream, replay_to_memory, \
        windowed_aggregate

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # schema=None: derive the stream schema from the source footer
    # (nanos/micros/millis all handled) instead of hard-coding a unit
    stream = read_parquet_stream(spark, f"{sf_dir}/events.parquet")
    windowed = windowed_aggregate(
        stream,
        {
            "n_events": F.count(F.lit(1)).cast("long"),
            "value_sum": F.sum(F.col("value").cast("decimal(20,6)"))
            .cast("double"),
        },
        window="1 hour", group_by=["event_type"], watermark="2 hours",
    )
    result = replay_to_memory(windowed, "q_events_stream_hourly")
    return result.select("window_start", "event_type", "n_events",
                         "value_sum")


def q_events_stream_dedup(spark, sf_dir):
    """Streaming ingest dedup (dropDuplicatesWithinWatermark) over the
    replayed bounded events stream: first arrival per normalized
    (event_type|props) content wins, state bounded by the watermark.
    Aggregated to per-type unique counts so the result is independent
    of which duplicate row arrived first."""
    from cubes_spark.streaming import read_parquet_stream, \
        replay_to_memory, stream_exact_dedup

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = read_parquet_stream(spark, f"{sf_dir}/events.parquet")
    keyed = stream.withColumn(
        "__content__", F.concat_ws("|", "event_type", "props"))
    dedup = stream_exact_dedup(keyed, text_col="__content__",
                               id_col="event_id", ts_col="ts",
                               watermark="2 hours")
    result = replay_to_memory(dedup, "q_events_stream_dedup",
                              output_mode="append")
    return result.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_unique"))


def q_events_sessions(spark, sf_dir):
    """CUSTOM STATEFUL streaming operator (applyInPandasWithState):
    gap-based sessionization with an ordered event-type sequence
    payload — semantics session_window can't express — replayed over
    the bounded events stream in append mode.  Each user's final open
    session stays in GroupState (the append contract; the huge
    watermark keeps event-time timeouts from firing during replay), so
    the oracle's islands query drops each user's last session too."""
    from cubes_spark.streaming import read_parquet_stream, \
        replay_to_memory, stateful_sessionize

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = read_parquet_stream(spark, f"{sf_dir}/events.parquet")
    sessions = stateful_sessionize(stream, gap_seconds=1800,
                                   watermark="3650 days")
    return replay_to_memory(sessions, "q_events_sessions",
                            output_mode="append")


def q_events_sessions_native(spark, sf_dir):
    """Native session_window aggregation (state-merging sessions,
    gap 30 min) per user — the built-in counterpart of the custom
    stateful operator; session end = last event + gap, so the islands
    oracle adds the gap to each session's max timestamp."""
    from cubes_spark.streaming import session_aggregate

    ev = _table(spark, sf_dir, "events")
    out = session_aggregate(
        ev,
        {
            "n_events": F.count(F.lit(1)).cast("long"),
            "value_sum": F.sum(F.col("value").cast("decimal(20,6)"))
            .cast("double"),
        },
        gap="30 minutes", group_by=["user_id"],
    )
    return _lng(out, "user_id", "n_events")


def q_events_browse(spark, sf_dir):
    """The streaming fact browsed through the OLAP model: calendar
    cut + drilldown over the events cube (the store reads the
    TIMESTAMP(NANOS) column transparently; the date cut's sargable
    rewrite pushes a raw timestamp range into the scan)."""
    df = _ws(spark, sf_dir).browser("events").aggregation_dataframe(
        cell="date:2024,1",
        drilldown=["date:day", "etype"],
        aggregates=["value_sum", "fact_count"],
    )
    return _lng(_dbl(df, "value_sum"), "date.year", "date.month",
                "date.day", "fact_count")


def q_events_type_stats(spark, sf_dir):
    ev = _table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)"))
            .cast("double").alias("value_sum"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# LLM-pipeline operators over documents / embeddings
# ---------------------------------------------------------------------------


def q_events_sliding(spark, sf_dir):
    """Sliding 2h/1h event-time windows (each event lands in two)."""
    from cubes_spark.streaming import windowed_aggregate

    ev = _table(spark, sf_dir, "events")
    out = windowed_aggregate(
        ev,
        {
            "n_events": F.count(F.lit(1)).cast("long"),
            "value_sum": F.sum(F.col("value").cast("decimal(20,6)"))
            .cast("double"),
        },
        window="2 hours", slide="1 hour", group_by=["event_type"],
    )
    return out.select("window_start", "event_type", "n_events", "value_sum")


def q_doc_common_ngrams(spark, sf_dir):
    """Most common 5-gram shingles across documents (dedup-analysis
    signal): document frequency per distinct shingle, top 20."""
    from cubes_spark.llm.dedup import _shingle_array
    from cubes_spark.llm.util import spread

    docs = _table(spark, sf_dir, "documents")
    # JVM shingles kept (r15, measured): the Arrow string-shingle
    # frame was 0.7x here — the entry is small and the fixed Python
    # stage cost outweighs the HOF savings
    exploded = spread(docs).select(
        F.col("doc_id"),
        F.explode(_shingle_array(F.col("text"), 5)).alias("shingle"),
    )
    return (
        exploded.groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("shingle").asc())
        .limit(20)
    )


def q_doc_quality_filter(spark, sf_dir):
    """The pretraining-filter shape: keep documents above a quality
    threshold."""
    docs = _table(spark, sf_dir, "documents")
    stats = text_stats(docs)
    return stats.filter(F.col("quality_score") >= 0.5).select(
        "doc_id", "lang", "n_tokens", "quality_score"
    )


def q_doc_text_stats(spark, sf_dir):
    docs = _table(spark, sf_dir, "documents")
    return text_stats(docs).select(
        "doc_id", "n_chars_c", "n_tokens", "avg_token_len", "punct_ratio",
        "digit_ratio", "space_ratio", "stopword_ratio_en", "quality_score",
    )


def q_doc_bpe_tokens(spark, sf_dir):
    """Whitespace vs BPE-ish-regex token counts per document."""
    from cubes_spark.llm.text import bpe_token_count, token_array

    docs = _table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(token_array(F.col("text"))).cast("long").alias("n_ws_tokens"),
        bpe_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
    )


def q_doc_lang_quality(spark, sf_dir):
    """Quality roll-up by language.  The sum is computed over integer
    basis points (round(score*10000) as long) — exact integer addition
    on both engines, one double division at the end — so the result is
    bit-identical regardless of each engine's double→decimal rounding
    (the same bridge the emb_*_recall entries use)."""
    stats = text_stats(_table(spark, sf_dir, "documents"))
    return (
        stats.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("n_tokens")).cast("long").alias("total_tokens"),
            F.sum(F.round(F.col("quality_score") * 10000).cast("long"))
            .alias("_quality_bp"),
        )
        .withColumn(
            "quality_sum",
            (F.col("_quality_bp") / F.lit(10000.0)).cast("double"))
        .drop("_quality_bp")
    )


def q_doc_langid(spark, sf_dir):
    """Stopword language-ID predictions, counted per predicted lang."""
    pred = language_id(_table(spark, sf_dir, "documents"))
    return pred.groupBy("lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


def q_doc_fingerprint(spark, sf_dir):
    """Portable 60-bit document fingerprints (md5-derived)."""
    return fingerprint(_table(spark, sf_dir, "documents")) \
        .select("doc_id", "fingerprint")


def q_doc_exact_dup(spark, sf_dir):
    """Exact duplicate clusters (hash groupBy)."""
    docs = _table(spark, sf_dir, "documents")
    return exact_duplicates(docs).select(
        "content_hash",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
    )


def q_doc_minhash(spark, sf_dir):
    """MinHash-LSH near-duplicate candidate pairs (banded join)."""
    docs = _table(spark, sf_dir, "documents")
    return _lng(
        minhash_candidate_pairs(docs, num_hashes=16, bands=4, shingle_k=5),
        "id_a", "id_b",
    )


def q_doc_jaccard(spark, sf_dir):
    """LSH candidates verified by exact shingle-set Jaccard >= 0.5."""
    docs = _table(spark, sf_dir, "documents")
    cand = minhash_candidate_pairs(docs, num_hashes=16, bands=4,
                                   shingle_k=5).select("id_a", "id_b")
    return _lng(ngram_jaccard_pairs(cand, docs, shingle_k=5,
                                    min_jaccard=0.5), "id_a", "id_b")


def q_doc_simhash(spark, sf_dir):
    """SimHash near-duplicates (Hamming <= 3) via exact pigeonhole
    banding — identical to the all-pairs answer by construction."""
    docs = _table(spark, sf_dir, "documents")
    return _lng(
        simhash_near_duplicates(docs, nbits=48, max_distance=3),
        "id_a", "id_b", "distance",
    )


def q_emb_topk(spark, sf_dir):
    """Brute-force cosine top-5 for every 50th vector."""
    emb = _table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    out = cosine_topk(emb, queries, k=5)
    return _lng(out, "query_id", "neighbor_id", "rank")


def q_emb_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, exact method (the LSH
    scale path is bench/test-covered; exact matches the all-pairs SQL
    oracle bit-for-bit)."""
    emb = _table(spark, sf_dir, "embeddings")
    out = embedding_near_duplicates(emb, threshold=0.4, method="exact")
    return _lng(out, "id_a", "id_b")


def q_emb_ann(spark, sf_dir):
    """LSH-bucketed approximate nearest neighbours.  Deterministic
    (md5-derived hyperplanes), so the full approximate result has an
    exact SQL oracle (see _emb_ann_oracle)."""
    emb = _table(spark, sf_dir, "embeddings")
    out = ann_lsh_cosine(emb, k=5, num_planes=8, num_tables=2)
    return _lng(out, "query_id", "neighbor_id", "rank")


def q_emb_ivf(spark, sf_dir):
    """IVF (FAISS-style) approximate top-k: sample-trained centroids,
    cluster equi-join, multi-probe.  Training is fixed-seed on a fixed
    sorted sample, so the trained centroids — and hence the full result
    — have an exact SQL oracle (see _emb_ivf_oracle)."""
    from cubes_spark.llm import ivf_topk

    emb = _table(spark, sf_dir, "embeddings")
    out = ivf_topk(emb, k=5, nlist=16, nprobe=4)
    return _lng(out, "query_id", "neighbor_id", "rank")


def q_emb_kmeans(spark, sf_dir):
    """Embedding clustering: every vector assigned to its nearest
    sample-trained spherical-k-means centroid (fixed seed, centroid
    literals in-plan — exact SQL oracle replays the training,
    cubes_spark/llm/similarity.py:kmeans_clusters)."""
    from cubes_spark.llm import kmeans_clusters

    emb = _table(spark, sf_dir, "embeddings")
    return kmeans_clusters(emb, nlist=16, seed=42, sample_size=4096)


def q_emb_semdedup(spark, sf_dir):
    """SemDeDup-shaped semantic dedup: within-k-means-cell cosine
    near-dups dropped greedily by lowest id; pairwise work is an
    equi-join on cluster id, never corpus x corpus
    (cubes_spark/llm/similarity.py:semantic_dedup)."""
    from cubes_spark.llm import semantic_dedup

    emb = _table(spark, sf_dir, "embeddings")
    # the synthetic embeddings are near-orthogonal (max within-cell
    # cosine ~0.49): 0.35 makes the drop path observable
    out = semantic_dedup(emb, threshold=0.35, nlist=16, seed=42,
                         sample_size=4096)
    return out.select(
        "vec_id", "cluster",
        F.col("is_kept").cast("int").cast("long").alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# driver-verified entries for formerly pytest-only operators (SURVEY §2:
# summary row, registry avg/stddev/variance, join methods, compound keys,
# fact-by-key, null-aggregate filter, order normalization, localization,
# schema inspection, denormalized sink, cuboid enumeration)
# ---------------------------------------------------------------------------


def q_agg_summary(spark, sf_dir):
    """Summary aggregation (no drilldown): the one-row cell total
    (parity: query/browser.py summary path)."""
    res = _browser(spark, sf_dir).aggregate(
        cell="date:1995",
        aggregates=["price_sum", "quantity_sum", "fact_count"],
    )
    s = res.summary
    return spark.createDataFrame(
        [(float(s["price_sum"]), float(s["quantity_sum"]),
          int(s["fact_count"]))],
        schema="price_sum double, quantity_sum double, fact_count long",
    )


def q_agg_registry_stats(spark, sf_dir):
    """avg/stddev/variance through the aggregate-function REGISTRY
    (functions/aggregates.py) — decimal measures use the exact-sum
    deterministic implementations, so the result is bit-reproducible
    under any partitioning and SQL-expressible."""
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["returnflag"],
        aggregates=["quantity_avg", "discount_avg", "price_stddev",
                    "price_variance", "fact_count"],
    )
    return _lng(df, "fact_count")


def q_cell_count_total(spark, sf_dir):
    """Total cell count computed alongside a paginated drilldown
    (single-pass persist; parity: total_cell_count)."""
    res = _browser(spark, sf_dir).aggregate(
        cell="date:1995", drilldown=["date@ym:month"],
        aggregates=["fact_count"],
        page=0, page_size=5, include_cell_count=True,
    )
    return spark.createDataFrame(
        [(int(res.total_cell_count),)], schema="total_cell_count long"
    )


def q_fact_by_key(spark, sf_dir):
    """Single fact lookup by key (parity: sql/browser.py:211-232).
    Projected fields are order-level, hence constant across the order's
    line items — the limit(1) row is deterministic."""
    row = _browser(spark, sf_dir).fact(
        42, fields=["order.status", "customer_geo.nation_name"]
    )
    return spark.createDataFrame(
        [(int(row["fact_key"]), row["order.status"],
          row["customer_geo.nation_name"])],
        schema="fact_key long, `order.status` string, "
               "`customer_geo.nation_name` string",
    )


def q_join_master_brand(spark, sf_dir):
    """Master (left-outer) join to the `big_parts` NAMED TABLE
    EXPRESSION: line items of small parts keep a NULL brand group."""
    df = _ws(spark, sf_dir).browser("sales_outer").aggregation_dataframe(
        drilldown=["bigpart"],
        aggregates=["quantity_sum", "fact_count"],
    )
    return _lng(_dbl(df, "quantity_sum"), "fact_count")


def q_join_detail_brand(spark, sf_dir):
    """Detail (right-outer) join: every `big_parts_ext` row is kept,
    including the sentinel brand no fact references."""
    df = _ws(spark, sf_dir).browser("sales_detail").aggregation_dataframe(
        drilldown=["bigpart"],
        aggregates=["retailprice_sum", "fact_count"],
    )
    return _lng(_dbl(df, "retailprice_sum"), "fact_count")


def q_join_compound_dqty(spark, sf_dir):
    """Compound-key join (l_orderkey, l_linenumber) to a derived detail
    table; a single-key join would fan out differently and change the
    sums."""
    df = _ws(spark, sf_dir).browser("sales_outer").aggregation_dataframe(
        drilldown=["returnflag"],
        aggregates=["quantity_sum", "dqty_sum"],
    )
    return _dbl(df, "quantity_sum", "dqty_sum")


def q_agg_null_filter(spark, sf_dir):
    """exclude_null_aggregates: drilldown rows with any NULL aggregate
    are dropped (parity: sql/browser.py:454-459) — here the NULL-brand
    group (its retailprice sum is NULL under the left join)."""
    browser = _ws(spark, sf_dir).browser(
        "sales_outer", exclude_null_aggregates=True
    )
    df = browser.aggregation_dataframe(
        drilldown=["bigpart"],
        aggregates=["retailprice_sum", "quantity_sum"],
    )
    return _dbl(df, "retailprice_sum", "quantity_sum")


def q_calc_order_norm(spark, sf_dir):
    """Order normalization for post-calculators: explicit month:desc is
    supplemented with the natural year order, and the SMA window follows
    the normalized order."""
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["date@ym:month"],
        aggregates=["price_sum", "price_sma"],
        order=["date.month:desc"],
    )
    out = _dbl(df, "price_sum", "price_sma")
    return _lng(out, "date.year", "date.month")


def q_members_locale(spark, sf_dir):
    """Localized member listing: browser locale 'xx' resolves
    nation_name through its locale-specific mapping
    (parity: sql/mapper.py:240-248)."""
    browser = _ws(spark, sf_dir).browser("sales", locale="xx")
    df = browser.members_dataframe(
        cell="customer_geo:2", dimension="customer_geo", depth=2,
    )
    return _lng(df, "customer_geo.region_key", "customer_geo.nation_key")


def q_schema_inspect(spark, sf_dir):
    """Store schema inspection: tables and their columns in ordinal
    order (parity: sql/store.py:631-661)."""
    store = _ws(spark, sf_dir).store
    tables = ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"]
    rows = []
    for name in tables:
        for i, field in enumerate(store.table(name).schema.fields):
            rows.append((name, field.name, i + 1))
    return spark.createDataFrame(
        rows, schema="table_name string, column_name string, ordinal long"
    )


def q_denorm_sink(spark, sf_dir):
    """Denormalized-view sink round-trip: materialize the star to
    parquet, read it back, aggregate — must equal aggregating the raw
    fact table (parity: create_denormalized_view,
    sql/store.py:294-370)."""
    import os
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(),
        f"cubes_spark_denorm_{abs(hash(sf_dir)) % 10**8}",
    )
    olap.materialize_denormalized(_browser(spark, sf_dir), path)
    back = spark.read.parquet(path)
    out = back.groupBy(F.col("returnflag__returnflag").alias("returnflag")) \
        .agg(
            F.sum("quantity").cast("double").alias("quantity_sum"),
            F.count(F.lit(1)).cast("long").alias("fact_count"),
        )
    return out


def q_cuboid_enum(spark, sf_dir):
    """Cuboid / level-combination enumeration for pre-aggregation
    planning (parity: query/computation.py:15-70)."""
    ws = _ws(spark, sf_dir)
    rows = []
    cuboids = olap.combined_cuboids(
        ["date", "customer_geo", "part"], required=("date",)
    )
    for i, combo in enumerate(cuboids):
        rows.append(("cuboid", i + 1, "|".join(combo)))
    levels = olap.combined_levels(
        [ws.dimension("date"), ws.dimension("customer_geo")]
    )
    for i, combo in enumerate(levels):
        rows.append(
            ("levels", i + 1, "|".join(",".join(p) for p in combo))
        )
    return spark.createDataFrame(
        rows, schema="kind string, seq long, spec string"
    )


_PLANT_OFFSET = 10_000_000


def _augmented_embeddings(spark, sf_dir):
    """Corpus + planted near-duplicates: for every vec_id % 10 == 0, a
    copy with +0.2 on component 1 (cosine ≈ 0.98 to its source) under
    id + 10M.  Deterministic double arithmetic on the float-cast
    values, so the oracle reconstructs identical vectors.  Random
    unit vectors never reach cosine 0.9, so the planted pairs are
    exactly the ≥0.9 near-duplicate ground truth."""
    emb = _table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + _PLANT_OFFSET).alias("vec_id"),
        F.concat(
            F.array(F.element_at(vd, 1) + F.lit(0.2)),
            F.slice(vd, 2, F.size(vd) - 1),
        ).alias("embedding"),
    )
    return emb.select(
        "vec_id", vd.alias("embedding")
    ).unionByName(planted)


def q_emb_ann_recall(spark, sf_dir):
    """Driver signal for the ANN *scale* path quality: recall@1 of the
    LSH pipeline (the 100 TB path) on planted near-duplicate queries —
    the workload ANN is for (a random corpus's low-cosine neighbours
    are information-theoretically invisible to LSH; its true metric is
    finding HIGH-similarity matches).  Emits auditable counts: the
    recall in integer basis points and the >=0.8 acceptance bit.  The
    oracle recomputes both the exact and the LSH side independently."""
    corpus = _augmented_embeddings(spark, sf_dir)
    queries = corpus.filter(F.col("vec_id") >= _PLANT_OFFSET)
    exact = cosine_topk(corpus, queries, k=1).select(
        "query_id", "neighbor_id")
    approx = (
        ann_lsh_cosine(corpus, k=1, num_planes=8, num_tables=4)
        .filter(F.col("query_id") >= _PLANT_OFFSET)
        .select("query_id", "neighbor_id")
        .withColumn("__hit__", F.lit(1))
    )
    marked = exact.join(approx, ["query_id", "neighbor_id"], "left")
    agg = marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.sum(F.coalesce(F.col("__hit__"), F.lit(0)))
        .cast("long").alias("n_hit"),
    )
    return agg.select(
        "n_exact", "n_hit",
        F.expr("n_hit * 10000 div n_exact").alias("recall_bp"),
        (F.col("n_hit") * 10 >= F.col("n_exact") * 8).alias("recall_ok"),
    )


def q_emb_ivf_recall(spark, sf_dir):
    """Driver signal for the IVF *scale* path quality: recall@1 of
    sample-trained IVF with nprobe=4/nlist=16 on the planted
    near-duplicate queries; same auditable-count shape as
    emb_ann_recall.  The oracle retrains the identical fixed-seed
    k-means on the identically-constructed sample."""
    from cubes_spark.llm import ivf_topk

    corpus = _augmented_embeddings(spark, sf_dir)
    queries = corpus.filter(F.col("vec_id") >= _PLANT_OFFSET)
    exact = cosine_topk(corpus, queries, k=1).select(
        "query_id", "neighbor_id")
    approx = (
        ivf_topk(corpus, queries, k=1, nlist=16, nprobe=4,
                 exclude_self=True)
        .select("query_id", "neighbor_id")
        .withColumn("__hit__", F.lit(1))
    )
    marked = exact.join(approx, ["query_id", "neighbor_id"], "left")
    agg = marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.sum(F.coalesce(F.col("__hit__"), F.lit(0)))
        .cast("long").alias("n_hit"),
    )
    return agg.select(
        "n_exact", "n_hit",
        F.expr("n_hit * 10000 div n_exact").alias("recall_bp"),
        (F.col("n_hit") * 10 >= F.col("n_exact") * 8).alias("recall_ok"),
    )


def q_emb_neardup_auto(spark, sf_dir):
    """The PRODUCTION embedding near-dup path on its auto defaults
    (r14; llm/similarity.py _auto_num_planes): ``num_planes=None``
    scales the LSH bucket count with the corpus so candidate volume
    stays linear — the r14 sf10 sweep showed the pinned 8-plane
    bucket table going quadratic (spill-disk death at 2.4M vectors),
    the same lesson as r11's emb_semdedup_auto.  The oracle recomputes
    the auto plane count from the same corpus count and replays the
    identical candidate generation + exact-cosine verify."""
    corpus = _augmented_embeddings(spark, sf_dir)
    pairs = embedding_near_duplicates(
        corpus, threshold=0.9, method="lsh", num_planes=None,
        num_tables=4)
    return _lng(pairs, "id_a", "id_b")


def q_emb_projection(spark, sf_dir):
    """Deterministic JL random projection (md5-derived matrix) of
    every 25th embedding to 8 dims, exploded to (vec_id, idx, value)
    rows — the oracle replays the same projection with plane
    literals."""
    from cubes_spark.llm import random_projection

    emb = _table(spark, sf_dir, "embeddings") \
        .filter(F.col("vec_id") % 25 == 0)
    out = random_projection(emb, out_dim=8).select(
        "vec_id", F.posexplode("projected").alias("idx", "value")
    )
    return _lng(
        out.select("vec_id", "idx", F.round("value", 6).alias("value")),
        "vec_id", "idx",
    )


def q_emb_neardup_recall(spark, sf_dir):
    """Driver signal for the LSH near-duplicate *scale* path: the
    PRODUCTION arm runs method='lsh' on its production defaults
    (num_planes=None — bucket count auto-scales with the corpus,
    llm/similarity.py _auto_num_planes) over the full planted corpus;
    ground truth is exact cosine against a FIXED 256-vector evaluation
    panel (the lowest planted ids), so the verification arm is one
    broadcast panel x corpus scan — O(N) per decade, where the r14
    sweep measured the old full all-pairs truth at 34x/decade and the
    old pinned-8-planes LSH arm at 44x (SCALE.md).  Emits panel recall
    counts, the panel precision==1.0 invariant, and the total
    production pair count as the full-corpus auditable signal; the
    oracle recomputes the auto plane count from the same corpus
    count."""
    panel_k = 256
    corpus = _augmented_embeddings(spark, sf_dir)
    panel = (corpus.filter(F.col("vec_id") >= _PLANT_OFFSET)
             .orderBy("vec_id").limit(panel_k))
    from cubes_spark.llm.similarity import _dot, _norm, _probe_dim

    dim = _probe_dim(corpus, "embedding")
    a = corpus.select(F.col("vec_id").alias("__ida__"),
                      F.col("embedding").alias("__va__"),
                      _norm("embedding").alias("__na__"))
    b = F.broadcast(panel.select(
        F.col("vec_id").alias("__idb__"),
        F.col("embedding").alias("__vb__"),
        _norm("embedding").alias("__nb__")))
    cos = _dot("__va__", "__vb__", dim) / (
        F.col("__na__") * F.col("__nb__"))
    exact = (a.join(b, F.col("__ida__") != F.col("__idb__"))
             .filter(cos >= 0.9)
             .select(F.least("__ida__", "__idb__").alias("id_a"),
                     F.greatest("__ida__", "__idb__").alias("id_b"))
             .distinct())
    # the pair set is referenced three times below (panel filter,
    # total count, hit marking) — persist so the bucketed candidate
    # generation runs ONCE; the cached frame is near-dup pairs only
    # (≈ planted count), never candidates
    lsh = embedding_near_duplicates(
        corpus, threshold=0.9, method="lsh", num_planes=None,
        num_tables=4,
    ).select("id_a", "id_b").persist()
    panel_ids = F.broadcast(panel.select(
        F.col("vec_id").alias("__pid__")))
    lsh_panel = (lsh.join(panel_ids,
                          (F.col("id_a") == F.col("__pid__"))
                          | (F.col("id_b") == F.col("__pid__")))
                 .select("id_a", "id_b").distinct()
                 .withColumn("__hit__", F.lit(1)))
    marked = exact.join(lsh_panel, ["id_a", "id_b"], "left")
    agg = marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.sum(F.coalesce(F.col("__hit__"), F.lit(0)))
        .cast("long").alias("n_hit"),
    ).crossJoin(
        lsh.agg(F.count(F.lit(1)).cast("long").alias("n_lsh"))
    ).crossJoin(
        lsh_panel.agg(F.count(F.lit(1)).cast("long")
                      .alias("n_lsh_panel"))
    )
    return agg.select(
        "n_exact", "n_lsh", "n_lsh_panel", "n_hit",
        F.expr("n_hit * 10000 div n_exact").alias("recall_bp"),
        (F.col("n_hit") == F.col("n_lsh_panel")).alias("precision_ok"),
        (F.col("n_hit") * 10 >= F.col("n_exact") * 8).alias("recall_ok"),
    )


def q_preagg_refresh(spark, sf_dir):
    """Incremental cuboid maintenance: month-grain cuboid built from
    the <=1995 slice, 1996+ merged in as a delta (union + one groupBy
    over distributive partials), then served re-aggregated to year
    grain — must equal aggregating the raw facts."""
    import os
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(),
        f"cubes_spark_refresh_{abs(hash(sf_dir)) % 10**8}",
    )
    browser = _browser(spark, sf_dir)
    olap.materialize_aggregate(
        browser, path, drilldown=["date@ym:month"],
        aggregates=["quantity_sum", "fact_count"], cell="date:-1995",
    )
    olap.refresh_aggregate(
        browser, path, drilldown=["date@ym:month"],
        aggregates=["quantity_sum", "fact_count"],
        delta_cell="date:1996-",
    )
    cuboid = spark.read.parquet(path)
    out = cuboid.groupBy(F.col("date__year").alias("year")).agg(
        F.sum("quantity_sum").cast("double").alias("quantity_sum"),
        F.sum("fact_count").cast("long").alias("fact_count"),
    )
    return _lng(out, "year", "fact_count")


def q_salted_join(spark, sf_dir):
    """Skew-salted dimension join (operators/scale.py): result-set
    identical to the plain equi-join — only the partitioning changes —
    so the plain SQL join IS the oracle."""
    from cubes_spark.operators.scale import salted_join

    li = _table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity")
    part = _table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(
        li, part.withColumnRenamed("p_partkey", "l_partkey"),
        ["l_partkey"], salt=8,
    )
    out = joined.groupBy(F.col("p_brand").alias("brand")).agg(
        F.sum(F.col("l_quantity").cast("decimal(20,2)"))
        .cast("double").alias("quantity_sum"),
        F.count(F.lit(1)).cast("long").alias("fact_count"),
    )
    return out


def q_bucketed_join(spark, sf_dir):
    """Bucketed co-located join (operators/scale.py:write_bucketed):
    orders and lineitem written bucketed on the order key, re-read
    from the catalog and sort-merge-joined (merge hint — broadcast
    would trivially have no exchange and prove nothing).  The entry
    ASSERTS the executed plan contains zero hash-partition exchanges
    before returning, so a green driver row certifies both the values
    AND the shuffle-free co-location; result-set is identical to the
    plain join, so plain SQL is the oracle."""
    import os
    import tempfile

    from cubes_spark.operators.scale import (
        join_exchanges,
        read_bucketed_table,
        write_bucketed,
    )

    base = tempfile.mkdtemp(prefix="bucketed_join_")
    orders = _table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    li = _table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity")
    write_bucketed(orders, "bkt_orders_entry", ["o_orderkey"], 8,
                   path=os.path.join(base, "orders"))
    write_bucketed(li, "bkt_lineitem_entry", ["o_orderkey"], 8,
                   path=os.path.join(base, "lineitem"))
    left = read_bucketed_table(spark, "bkt_orders_entry")
    right = read_bucketed_table(spark, "bkt_lineitem_entry")
    joined = left.hint("merge").join(right, "o_orderkey")
    # groupBy on the bucket key: the join's output partitioning
    # already clusters on o_orderkey, so the aggregate adds no
    # exchange either — write once, never shuffle again
    out = joined.groupBy("o_orderkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(20,2)"))
        .cast("double").alias("quantity_sum"),
        F.count(F.lit(1)).cast("long").alias("line_count"),
        F.max("o_orderpriority").alias("priority"),
    ).filter(F.col("line_count") >= 6)
    exchanges = join_exchanges(out)
    if exchanges:
        raise AssertionError(
            f"bucketed join plan shuffled: {exchanges}")
    return out


def q_doc_winnow(spark, sf_dir):
    """Winnowing (MOSS) fingerprints over documents, summarized per
    doc (fingerprint count + xor-fold of the selected minima) so the
    result stays compact while pinning the exact selected set.
    Verified on every 5th document (both sides identically) to keep
    the gate's md5-per-gram cost bounded — an explicit verification
    sample, not an operator limit."""
    from cubes_spark.llm import winnow_fingerprints

    docs = _table(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") % 5 == 0)
    fps = winnow_fingerprints(docs, k=8, window=16)
    out = fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fingerprints"),
        # xor-fold: order-independent exact digest of the selected set
        F.aggregate(F.collect_list("fingerprint"),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc.bitwiseXOR(x))
        .alias("fp_xor"),
    )
    return out


def q_doc_repetition(spark, sf_dir):
    """Within-document n-gram repetition fractions (Gopher-style
    filter signal) for n in (2, 3)."""
    from cubes_spark.llm import repetition_stats

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    out = repetition_stats(docs).select(
        "doc_id", "dup_ngram_frac_2", "dup_ngram_frac_3")
    return _lng(out, "doc_id")


def q_doc_pii(spark, sf_dir):
    """PII scrub: per-kind match counts + md5 of the redacted text —
    the hash pins the replacement byte-for-byte."""
    from cubes_spark.llm import redact_pii

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    out = redact_pii(docs).select(
        "doc_id", "n_email", "n_ipv4", "n_phone",
        F.md5(F.col("text_redacted")).alias("redacted_hash"),
    )
    return _lng(out, "doc_id")


def q_doc_trigram_lm(spark, sf_dir):
    """Corpus-trigram fluency model: per-doc summed quantized log2
    probabilities under the corpus's own trigram distribution
    (integer 1e-4 units — exact at any parallelism)."""
    from cubes_spark.llm import trigram_logprob

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    return trigram_logprob(docs, quantized=True)


def q_doc_pipeline(spark, sf_dir):
    """The FLAGSHIP training-data pipeline composition, one plan:
    quality scoring + repetition filter + exact-dedup canonical
    selection, summarized per language — the filter chain a
    pretraining corpus build runs, with every stage individually
    driver-verified elsewhere and the composition verified here."""
    from cubes_spark.llm import repetition_stats
    from cubes_spark.llm.dedup import content_hash
    from pyspark.sql import Window

    docs = _table(spark, sf_dir, "documents")
    annotated = repetition_stats(text_stats(docs))
    wmin = Window.partitionBy("__ch__")
    canon = annotated.withColumn(
        "__ch__", content_hash(F.col("text"))
    ).withColumn("__min_id__", F.min("doc_id").over(wmin))
    kept = canon.filter(
        (F.col("quality_score") >= 0.5)
        & (F.col("dup_ngram_frac_2") < 0.3)
        & (F.col("doc_id") == F.col("__min_id__"))
    )
    out = kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    return out


def q_doc_dup_clusters(spark, sf_dir):
    """Dedup CLUSTERS from near-dup PAIRS: distributed min-label
    propagation (connected components) over the MinHash-LSH candidate
    pairs, then canonical-member selection — the step a training-data
    pipeline runs to keep ONE document per duplicate cluster.  The
    oracle recomputes the same pairs (doc_minhash's full SQL replica)
    and the components independently via union-find."""
    from cubes_spark.llm import duplicate_clusters

    docs = _table(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(docs, num_hashes=16, bands=4,
                                    shingle_k=5)
    out = duplicate_clusters(docs, pairs)
    return _lng(out, "doc_id", "component")


def q_doc_multimodal(spark, sf_dir):
    """Multimodal binary columns end-to-end: build REAL image bytes
    (PNG/GIF/BMP/JPEG headers, format by doc_id%4, dimensions derived
    from doc_id) inside the plan, then parse them back with the
    pure-JVM header readers (cubes_spark/llm/multimodal.py) — format
    sniff, big-endian PNG IHDR, little-endian GIF/BMP fields and the
    bounded JPEG SOF marker walk all get driver-verified against a
    closed-form oracle."""
    from cubes_spark.llm import image_dimensions

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    w = (F.lit(100) + F.col("doc_id") % 900).cast("long")
    h = (F.lit(80) + F.col("doc_id") % 600).cast("long")

    def be(col, nhex):
        return F.lpad(F.hex(col), nhex, "0")

    def le16(col):
        return F.concat(be(col % 256, 2), be((col / 256).cast("long") % 256, 2))

    def le32(col):
        out = []
        for i in range(4):
            out.append(be((col / (256 ** i)).cast("long") % 256, 2))
        return F.concat(*out)

    png = F.concat(
        F.lit("89504E470D0A1A0A" "0000000D" "49484452"),
        be(w, 8), be(h, 8), F.lit("0802000000" "63726330"),
    )
    gif = F.concat(F.lit("474946383961"), le16(w), le16(h),
                   F.lit("F70000"))
    bmp = F.concat(
        F.lit("424D"), le32(F.lit(70)), F.lit("00000000"),
        le32(F.lit(54)), le32(F.lit(40)), le32(w), le32(h),
        F.lit("0100" "1800"),
    )
    jpeg = F.concat(
        F.lit("FFD8"
              "FFE0" "0010" "4A46494600010200000000000000"  # APP0
              "FFFE" "0009" "636F6D6D656E74"                # COM
              "FFC0" "0011" "08"),                          # SOF0
        be(h, 4), be(w, 4),
        F.lit("03" "000000000000000000" "FFD9"),
    )
    payload = F.unhex(
        F.when(F.col("doc_id") % 4 == 0, png)
        .when(F.col("doc_id") % 4 == 1, gif)
        .when(F.col("doc_id") % 4 == 2, bmp)
        .otherwise(jpeg)
    )
    df = docs.withColumn("payload", payload)
    out = image_dimensions(df, "payload").drop("n_bytes")
    return _lng(out, "doc_id", "width", "height")


def q_doc_pixel_decode(spark, sf_dir):
    """REAL pixel decode end-to-end: complete greyscale PNG files —
    zlib container with stored-deflate blocks and a correct adler32 —
    are built per doc_id, then decoded by the stdlib PNG decoder
    (zlib inflate + unfiltering) inside the Arrow ``mapInPandas``
    operator ``png_pixel_stats`` (cubes_spark/llm/multimodal.py).
    Pixel values are closed-form in doc_id, so the DuckDB oracle
    recomputes the expected sums without decoding.

    The fixture files are assembled in ONE Arrow batch stage
    (C-speed ``zlib.adler32``; r14 opt round): the previous in-plan
    hex/``conv`` folds evaluated interpreted per BYTE and were the
    entry's cost center (6.7 s of which <1 s was the decode under
    test).  Byte-for-byte the same PNGs — any divergence would flip
    the decoded sums and fail the exact oracle."""
    from cubes_spark.llm import png_pixel_stats

    docs = _table(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 4 + did % 5, 3 + did % 4
                raw = bytearray()
                for y in range(h):
                    raw.append(0)  # filter byte
                    for x in range(w):
                        raw.append((did * 7 + x * 13 + y * 31) % 256)
                raw = bytes(raw)
                n = len(raw)
                z = (b"\x78\x01\x01" + n.to_bytes(2, "little")
                     + (65535 - n).to_bytes(2, "little") + raw
                     + zlib.adler32(raw).to_bytes(4, "big"))
                payloads.append(
                    b"\x89PNG\r\n\x1a\n"
                    + b"\x00\x00\x00\x0dIHDR"
                    + w.to_bytes(4, "big") + h.to_bytes(4, "big")
                    + b"\x08\x00\x00\x00\x00"      # depth 8, grey
                    + b"\x00\x00\x00\x00"          # IHDR CRC (lenient)
                    + (n + 11).to_bytes(4, "big") + b"IDAT" + z
                    + b"\x00\x00\x00\x00"          # IDAT CRC
                    + b"\x00\x00\x00\x00IEND\x00\x00\x00\x00")
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    from cubes_spark.llm.util import spread

    df = spread(docs).mapInPandas(build, "doc_id long, payload binary")
    stats = png_pixel_stats(df, "payload")
    return stats.withColumn(
        "sample_mean",
        (F.col("sample_sum").cast("double")
         / F.col("n_samples")).cast("double"))


def _inplan_wav(docs):
    """Complete mono 16-bit PCM WAV files built per doc_id in-plan:
    ``n = 20 + doc_id % 16`` frames at
    ``rate = 8000 + (doc_id % 4) * 4000`` Hz, sample(i) stored as
    u16 ``(doc_id*11 + i*17) % 65536`` — shared by the audio-decode
    and audio-resample driver entries, whose oracles recompute sums
    from that closed form (signed value = stored − 32768 via the
    s16le reinterpretation)."""
    n = (F.lit(20) + F.col("doc_id") % 16).cast("long")   # frames, mono
    rate = (F.lit(8000) + (F.col("doc_id") % 4) * 4000).cast("long")

    def hex2(col):
        return F.lpad(F.hex(col.cast("long")), 2, "0")

    def le16(col):
        return F.concat(hex2(col % 256), hex2((col / 256).cast("long")))

    def le32(col):
        out = []
        for i in range(4):
            out.append(hex2((col / (256 ** i)).cast("long") % 256))
        return F.concat(*out)

    # sample(i) as u16 = (doc_id*11 + i*17) % 65536; signed value is
    # that minus 32768 (decoded by the s16le reader)
    data_hex = F.aggregate(
        F.sequence(F.lit(0), n - 1), F.lit(""),
        lambda acc, i: F.concat(
            acc, le16((F.col("doc_id") * 11 + i * 17) % 65536)),
    )
    wav_hex = F.concat(
        F.lit("52494646"), le32(n * 2 + 36), F.lit("57415645"),  # RIFF/WAVE
        F.lit("666D7420"), le32(F.lit(16)),                      # fmt , 16
        F.lit("0100" "0100"),              # PCM, mono
        le32(rate), le32(rate * 2),        # sample rate, byte rate
        F.lit("0200" "1000"),              # block align 2, 16 bits
        F.lit("64617461"), le32(n * 2),    # data chunk
        data_hex,
    )
    return docs.withColumn("payload", F.unhex(wav_hex))


def q_doc_audio_decode(spark, sf_dir):
    """REAL audio decode end-to-end: the shared in-plan PCM WAVs
    (:func:`_inplan_wav`) decoded by the stdlib WAV decoder inside the
    Arrow ``mapInPandas`` operator ``wav_sample_stats``
    (cubes_spark/llm/multimodal.py).  Sample values are closed-form in
    doc_id, so the DuckDB oracle recomputes the expected sums without
    decoding."""
    from cubes_spark.llm import wav_sample_stats

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    stats = wav_sample_stats(_inplan_wav(docs), "payload")
    return stats.withColumn(
        "sample_mean",
        (F.col("sample_sum").cast("double")
         / F.col("n_samples")).cast("double"))


def q_doc_audio_resample(spark, sf_dir):
    """REAL audio resample end-to-end: the shared in-plan PCM WAVs
    decoded, then nearest-sample resampled to 4 kHz inside
    ``audio_resample_stats`` (cubes_spark/llm/multimodal.py,
    numpy-vectorized — the rate-normalization step of an audio
    training pipeline).  Output length is ``(n * 4000) // rate``
    frames and output frame j reads source frame ``(j*n) // out_n``
    (both pure integer floor), so the oracle recomputes the resampled
    sum from the stored-sample closed form without any decoding."""
    from cubes_spark.llm import audio_resample_stats

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    return audio_resample_stats(_inplan_wav(docs), "payload", 4000,
                                method="nearest")


def q_doc_g711_decode(spark, sf_dir):
    """REAL G.711 µ-law decode end-to-end: complete format-7 (µ-law)
    WAV files built per doc_id in-plan — stored byte(i) =
    ``(doc_id*7 + i*13) % 256``, ``n = 24 + doc_id % 8`` frames —
    expanded to 16-bit through the ITU-T G.711 table inside
    ``wav_sample_stats`` (cubes_spark/llm/multimodal.py, table checked
    entry-for-entry against audioop).  The expansion is integer
    closed-form (complement → mantissa/segment shift), so the oracle
    recomputes the decoded sum directly in SQL."""
    from cubes_spark.llm import wav_sample_stats

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    n = (F.lit(24) + F.col("doc_id") % 8).cast("long")   # frames, mono

    def hex2(col):
        return F.lpad(F.hex(col.cast("long")), 2, "0")

    def le32(col):
        out = []
        for i in range(4):
            out.append(hex2((col / (256 ** i)).cast("long") % 256))
        return F.concat(*out)

    data_hex = F.aggregate(
        F.sequence(F.lit(0), n - 1), F.lit(""),
        lambda acc, i: F.concat(
            acc, hex2((F.col("doc_id") * 7 + i * 13) % 256)),
    )
    pad = (n % 2).cast("int")                 # word-align the chunk
    wav_hex = F.concat(
        F.lit("52494646"), le32(n + pad + 36), F.lit("57415645"),
        F.lit("666D7420"), le32(F.lit(16)),
        F.lit("0700" "0100"),                 # µ-law, mono
        le32(F.lit(8000)), le32(F.lit(8000)),  # rate, byte rate
        F.lit("0100" "0800"),                 # block align 1, 8 bits
        F.lit("64617461"), le32(n),           # data chunk
        data_hex, F.substring(F.lit("00"), 1, pad * 2),
    )
    df = docs.withColumn("payload", F.unhex(wav_hex))
    return wav_sample_stats(df, "payload")


def q_doc_gif_decode(spark, sf_dir):
    """REAL GIF decode end-to-end: complete GIF89a files are built
    per doc_id in-plan — pixels emitted as literal 9-bit LZW codes
    after a clear code (the standard 'uncompressed GIF' encoding, a
    valid LZW stream), bit-packed LSB-first by an in-plan fold — then
    decoded by the stdlib LZW decoder inside the Arrow ``mapInPandas``
    operator ``gif_pixel_stats`` (cubes_spark/llm/multimodal.py).
    Pixel indices are closed-form in doc_id; the grey palette makes
    rgb_sum = 3 × index_sum."""
    from cubes_spark.llm import gif_pixel_stats

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    w = (F.lit(4) + F.col("doc_id") % 5).cast("long")
    h = (F.lit(3) + F.col("doc_id") % 3).cast("long")
    n = w * h                      # <= 40 pixels: 9-bit codes suffice

    def hex2(col):
        return F.lpad(F.hex(col.cast("long")), 2, "0")

    def le16(col):
        return F.concat(hex2(col % 256), hex2((col / 256).cast("long")))

    # code stream: CLEAR(256), n literal pixel codes, EOI(257) — after
    # a clear the dict grows by one entry per literal, staying far
    # below 512, so every code is 9 bits wide
    codes = F.concat(
        F.array(F.lit(256).cast("long")),
        F.transform(
            F.sequence(F.lit(0).cast("long"), n - 1),
            lambda i: (F.col("doc_id") * 5 + i * 29) % 256),
        F.array(F.lit(257).cast("long")),
    )
    pow2 = F.array(*[F.lit(1 << k).cast("long") for k in range(8)])

    def pack_step(acc, c):
        # LSB-first: or the 9-bit code in at bit offset nb (nb <= 7),
        # emit one byte always, a second when 16 bits are pending
        buf2 = (acc.getField("buf")
                + c * F.element_at(pow2, acc.getField("nb").cast("int") + 1))
        nb2 = acc.getField("nb") + 9
        rest1 = (buf2 / 256).cast("long")
        nb3 = nb2 - 8
        two = nb3 >= 8
        return F.struct(
            F.concat(acc.getField("hex"), hex2(buf2 % 256),
                     F.when(two, hex2(rest1 % 256)).otherwise(F.lit("")))
            .alias("hex"),
            F.when(two, (rest1 / 256).cast("long")).otherwise(rest1)
            .alias("buf"),
            F.when(two, nb3 - 8).otherwise(nb3).alias("nb"),
        )

    packed = F.aggregate(
        codes,
        F.struct(F.lit("").alias("hex"),
                 F.lit(0).cast("long").alias("buf"),
                 F.lit(0).cast("long").alias("nb")),
        pack_step,
        lambda acc: F.when(
            acc.getField("nb") > 0,
            F.concat(acc.getField("hex"), hex2(acc.getField("buf") % 256)),
        ).otherwise(acc.getField("hex")),
    )
    grey_palette = "".join(f"{i:02X}" * 3 for i in range(256))
    gif_hex = F.concat(
        F.lit("474946383961"), le16(w), le16(h),        # GIF89a + screen
        F.lit("F70000"), F.lit(grey_palette),           # 256-color table
        F.lit("2C" "0000" "0000"), le16(w), le16(h), F.lit("00"),
        F.lit("08"),                                    # LZW min code size
        hex2(F.length(packed) / 2), packed, F.lit("00"),  # one sub-block
        F.lit("3B"),
    )
    df = docs.withColumn("payload", F.unhex(gif_hex))
    return gif_pixel_stats(df, "payload")


def _inplan_bmp(docs):
    """Complete 24-bit BI_RGB BMPs (bottom-up rows, 4-byte padding)
    built per doc_id in-plan, stored byte (x, y, channel c in B,G,R
    order) = ``(doc_id*3 + x*7 + y*11 + c*5) % 256`` with
    ``w = 3 + doc_id % 4``, ``h = 2 + doc_id % 3`` — shared by the
    BMP-decode and image-resize driver entries, whose oracles
    recompute pixel sums from that closed form."""
    w = (F.lit(3) + F.col("doc_id") % 4).cast("long")
    h = (F.lit(2) + F.col("doc_id") % 3).cast("long")

    def hex2(col):
        return F.lpad(F.hex(col.cast("long")), 2, "0")

    def le16(col):
        return F.concat(hex2(col % 256), hex2((col / 256).cast("long")))

    def le32(col):
        out = []
        for i in range(4):
            out.append(hex2((col / (256 ** i)).cast("long") % 256))
        return F.concat(*out)

    # stored byte (x, image-row y, channel c in B,G,R order):
    byte = lambda x, y, c: (F.col("doc_id") * 3 + x * 7 + y * 11
                            + c * 5) % 256
    stride = ((w * 3 + 3) / 4).cast("long") * 4
    pad_hex = F.substring(F.lit("000000"), 1,
                          ((stride - w * 3) * 2).cast("int"))
    # file rows bottom-up: file row f holds image row y = h-1-f
    data_hex = F.aggregate(
        F.sequence(F.lit(0), h - 1), F.lit(""),
        lambda acc, f: F.concat(
            acc,
            F.aggregate(
                F.sequence(F.lit(0), w - 1), F.lit(""),
                lambda a2, x: F.concat(
                    a2, hex2(byte(x, h - 1 - f, 0)),
                    hex2(byte(x, h - 1 - f, 1)),
                    hex2(byte(x, h - 1 - f, 2)))),
            pad_hex),
    )
    bmp_hex = F.concat(
        F.lit("424D"), le32(stride * h + 54),       # BM + file size
        F.lit("00000000"), le32(F.lit(54)),         # reserved + offset
        le32(F.lit(40)), le32(w), le32(h),          # info header
        F.lit("0100" "1800"), le32(F.lit(0)),       # planes, 24bpp, BI_RGB
        le32(stride * h),
        le32(F.lit(2835)), le32(F.lit(2835)),       # ppm
        le32(F.lit(0)), le32(F.lit(0)),
        data_hex,
    )
    return docs.withColumn("payload", F.unhex(bmp_hex))


def q_doc_bmp_decode(spark, sf_dir):
    """REAL BMP decode end-to-end: the shared in-plan 24-bit BMPs
    (:func:`_inplan_bmp`) decoded by the stdlib BMP decoder inside
    ``bmp_pixel_stats`` (cubes_spark/llm/multimodal.py).  Stored bytes
    are closed-form in doc_id, so the oracle recomputes the sums
    without decoding (the BGR→RGB reorder does not change the sum)."""
    from cubes_spark.llm import bmp_pixel_stats

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    return bmp_pixel_stats(_inplan_bmp(docs), "payload")


def q_doc_image_resize(spark, sf_dir):
    """REAL image resize end-to-end: the shared in-plan 24-bit BMPs
    decoded, then nearest-neighbor resized to 2×2 inside
    ``image_resize_stats`` (cubes_spark/llm/multimodal.py,
    numpy-vectorized — the uniform-shape step of a multimodal training
    pipeline).  Nearest maps output pixel x to source pixel
    ``(x*w) // 2`` (pure integer floor), so the oracle recomputes the
    resized sample sum from the stored-byte closed form without any
    decoding; summing all three channels makes the BGR→RGB reorder
    irrelevant."""
    from cubes_spark.llm import image_resize_stats

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    return image_resize_stats(_inplan_bmp(docs), "payload", 2, 2,
                              method="nearest")


def q_doc_bmp_rle(spark, sf_dir):
    """REAL BI_RLE8 decode end-to-end: run-length-compressed 8-bit
    BMPs built in-plan — absolute mode (with its word-align pad byte)
    on the bottom file row, encoded runs + EOL on the rest, EOB
    terminator — decoded by the stdlib RLE8 state machine inside
    ``bmp_pixel_stats`` (cubes_spark/llm/multimodal.py:_decode_rle8);
    sums are row-order invariant so the oracle recomputes them from
    the closed form."""
    from cubes_spark.llm import bmp_pixel_stats

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    w = (F.lit(4) + F.col("doc_id") % 3).cast("long")
    h = (F.lit(2) + F.col("doc_id") % 2).cast("long")

    def hex2(col):
        return F.lpad(F.hex(col.cast("long")), 2, "0")

    def le32(col):
        return F.concat(*[hex2((col / (256 ** i)).cast("long") % 256)
                          for i in range(4)])

    val = lambda k: (F.col("doc_id") + k) % 200
    # bottom file row: absolute [v0 v1 v2] + pad, then run (w-3)·v3
    row0 = F.concat(
        F.lit("0003"), hex2(val(0)), hex2(val(1)), hex2(val(2)),
        F.lit("00"), hex2(w - 3), hex2(val(3)), F.lit("0000"))
    rest = F.aggregate(
        F.sequence(F.lit(1), h - 1), F.lit(""),
        lambda acc, y: F.concat(
            acc, hex2(w), hex2((F.col("doc_id") + y * 13) % 200),
            F.lit("0000")))
    rle = F.concat(row0, rest, F.lit("0001"))
    bmp_hex = F.concat(
        F.lit("424D"), le32(F.lit(0)),              # size (unchecked)
        F.lit("00000000"), le32(F.lit(58)),         # offset: 54 + 1 quad
        le32(F.lit(40)), le32(w), le32(h),
        F.lit("0100" "0800"), le32(F.lit(1)),       # planes, 8bpp, RLE8
        le32(F.lit(0)), le32(F.lit(2835)), le32(F.lit(2835)),
        le32(F.lit(1)), le32(F.lit(0)),             # biClrUsed=1
        F.lit("00000000"),                          # 1-entry palette
        rle,
    )
    bmps = docs.withColumn("payload", F.unhex(bmp_hex))
    return bmp_pixel_stats(bmps, "payload")


def _ima_decode_reference(data, pred, index):
    """Independent IMA ADPCM reference decode for the oracle: written
    from the public spec, deliberately NOT importing the library's
    state machine (which unit tests verify against audioop)."""
    steps = [7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28,
             31, 34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107,
             118, 130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
             337, 371, 408, 449, 494, 544, 598, 658, 724, 796, 876,
             963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
             2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871,
             5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
             12635, 13899, 15289, 16818, 18500, 20350, 22385,
             24623, 27086, 29794, 32767]
    adjust = [-1, -1, -1, -1, 2, 4, 6, 8]
    out = [pred]
    for byte in data:
        for nib in (byte & 0x0F, byte >> 4):
            step = steps[index]
            diff = step >> 3
            if nib & 1:
                diff += step >> 2
            if nib & 2:
                diff += step >> 1
            if nib & 4:
                diff += step
            pred = pred - diff if nib & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            index = max(0, min(88, index + adjust[nib & 7]))
            out.append(pred)
    return out


def q_doc_adpcm_decode(spark, sf_dir):
    """REAL IMA ADPCM decode end-to-end: format-0x11 WAVs built
    in-plan (4-byte block header with signed predictor + step index,
    low-nibble-first data), run through the IMA state machine inside
    ``wav_sample_stats`` (cubes_spark/llm/multimodal.py:
    _decode_ima_adpcm).  Inputs are keyed by doc_id % 8, so the oracle
    inlines the 8 reference-decoded sums as literals (decoded at
    oracle-generation time by an independent spec implementation)."""
    from cubes_spark.llm import wav_sample_stats

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    r = F.col("doc_id") % 8
    pred = r * 100 - 300
    index = r * 3

    def hex2(col):
        return F.lpad(F.hex(col.cast("long")), 2, "0")

    def le16(col):
        return F.concat(hex2(col % 256), hex2((col / 256).cast("long")))

    def le32(col):
        return F.concat(*[hex2((col / (256 ** i)).cast("long") % 256)
                          for i in range(4)])

    data_hex = F.concat(*[hex2((F.lit(j * 37) + r * 11) % 256)
                          for j in range(8)])
    block_hex = F.concat(le16((pred + 65536) % 65536), hex2(index),
                         F.lit("00"), data_hex)
    fmt_hex = F.concat(
        F.lit("1100" "0100"), le32(F.lit(8000)), le32(F.lit(8000)),
        le16(F.lit(12)), le16(F.lit(4)))
    wav_hex = F.concat(
        F.lit("52494646"), le32(F.lit(20 + 16 + 12)),
        F.lit("57415645" "666D7420"), le32(F.lit(16)), fmt_hex,
        F.lit("64617461"), le32(F.lit(12)), block_hex)
    wavs = docs.withColumn("payload", F.unhex(wav_hex))
    return wav_sample_stats(wavs, "payload")


def q_auth_restricted(spark, sf_dir):
    """Authorization end-to-end: SimpleAuthorizer cell restriction
    (hidden cut returnflag:A + requested cut date:1995) applied to a
    drilldown — the restriction compiles to one more pushed-down
    filter (parity: auth.py:194-384 restricted_cell)."""
    from cubes_spark.auth import SimpleAuthorizer

    browser = _browser(spark, sf_dir)
    authz = SimpleAuthorizer(rights={
        "restricted": {
            "allowed_cubes": ["sales"],
            "cell_restrictions": {"sales": ["returnflag:A"]},
        },
    })
    cell = browser.prepare_cell("date:1995")
    restricted = authz.restricted_cell("restricted", browser.cube, cell)
    df = browser.aggregation_dataframe(
        cell=restricted, drilldown=["order"],
        aggregates=["quantity_sum", "fact_count"],
    )
    return _lng(_dbl(df, "quantity_sum"), "fact_count")


def q_json_lines_format(spark, sf_dir):
    """JSON-lines output formatter: one document per drilldown cell,
    exact field order (parity: formatters.py:136-148)."""
    browser = _browser(spark, sf_dir)
    result = browser.aggregate(
        cell="date:1995", drilldown=["returnflag"],
        aggregates=["fact_count"],
    )
    from cubes_spark.formatters import JSONLinesFormatter

    text = JSONLinesFormatter().format(browser.cube, result)
    rows = [(i, line) for i, line in enumerate(text.splitlines())]
    return spark.createDataFrame(rows, schema="line long, text string")


def q_agg_quantiles(spark, sf_dir):
    """Exact percentiles (Spark-native extra beyond the reference's
    aggregate set): F.percentile with linear interpolation — identical
    definition to ANSI quantile_cont, so the oracle is exact on the
    integral quantity values."""
    li = _table(spark, sf_dir, "lineitem")
    q = F.percentile(F.col("l_quantity").cast("long"),
                     [0.25, 0.5, 0.75])
    out = li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        q.alias("qs"),
        F.count(F.lit(1)).cast("long").alias("fact_count"),
    )
    return out.select(
        "returnflag",
        F.element_at("qs", 1).alias("q25"),
        F.element_at("qs", 2).alias("q50"),
        F.element_at("qs", 3).alias("q75"),
        "fact_count",
    )


def q_agg_approx_distinct(spark, sf_dir):
    """HLL approx_count_distinct — the COUNT(DISTINCT) scale path (one
    fixed-size sketch per group instead of a distinct shuffle).  The
    sketch estimate is engine-defined, so the driver-checked contract
    is the exact count plus the <=5% relative-error acceptance bit."""
    li = _table(spark, sf_dir, "lineitem")
    out = li.agg(
        F.count_distinct("l_partkey").cast("long").alias("n_exact"),
        F.approx_count_distinct("l_partkey").cast("long")
        .alias("n_approx"),
    )
    err_ok = (
        F.abs(F.col("n_approx") - F.col("n_exact")) * 100
        <= F.col("n_exact") * 5
    )
    return out.select("n_exact", err_ok.alias("within_5pct"))


def q_report_combo(spark, sf_dir):
    """browser.report(): several query types batched over one cell
    (parity: query/browser.py:387-523), flattened to auditable rows."""
    browser = _browser(spark, sf_dir)
    rep = browser.report("date:1995", {
        "byflag": {"query": "aggregate", "drilldown": ["returnflag"],
                   "aggregates": ["fact_count"]},
        "statuses": {"query": "members", "dimension": "order",
                     "depth": 1},
        "total": {"query": "aggregate", "aggregates": ["fact_count"]},
    })
    rows = []
    for c in rep["byflag"]["cells"]:
        rows.append(("byflag", str(c["returnflag.returnflag"]),
                     int(c["fact_count"])))
    for m in rep["statuses"]:
        rows.append(("status", str(m["order.status"]), 0))
    rows.append(("total", "", int(rep["total"]["summary"]["fact_count"])))
    return spark.createDataFrame(
        rows, schema="kind string, member string, n long"
    )


def q_cell_details(spark, sf_dir):
    """cell_details / path_details: per-cut level keys and labels
    (parity: query/browser.py:525-639, sql/browser.py:314-343)."""
    browser = _browser(spark, sf_dir)
    details = browser.cell_details("customer_geo:2,7|date:1995")
    rows = []
    for i, detail in enumerate(details):
        for j, item in enumerate(detail):
            rows.append((i, j, str(item["_key"]), str(item["_label"])))
    return spark.createDataFrame(
        rows, schema="cut long, lvl long, key string, label string"
    )


def q_agg_natural_order(spark, sf_dir):
    """Natural (implicit level) order made observable through
    pagination: page 2 of 7 over a two-dimension drilldown is only
    stable if the engine orders by the drilldown's natural keys
    (parity: query/drilldown.py natural_order)."""
    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["date@ym:month", "returnflag"],
        aggregates=["fact_count"],
        page=2, page_size=7,
    )
    return _lng(df, "date.year", "date.month", "fact_count")


def q_csv_format(spark, sf_dir):
    """CSV output formatter byte-for-byte: header + natural-order data
    lines (parity: formatters.py:58-111,393-419)."""
    browser = _browser(spark, sf_dir)
    result = browser.aggregate(
        cell="date:1995", drilldown=["returnflag"],
        aggregates=["fact_count", "quantity_sum"],
    )
    from cubes_spark.formatters import CSVFormatter

    text = CSVFormatter().format(browser.cube, result)
    rows = [(i, line) for i, line in enumerate(text.splitlines())]
    return spark.createDataFrame(rows, schema="line long, text string")


def q_doc_chunks(spark, sf_dir):
    """Context-window chunking: fixed-size overlapping character
    chunks (max 256, overlap 32), verified chunk-for-chunk via md5
    (cubes_spark/llm/text.py:chunk_documents)."""
    from cubes_spark.llm import chunk_documents

    docs = _table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, max_chars=256, overlap=32)
    return chunks.select(
        F.col("doc_id"), F.col("chunk_id"),
        F.length("chunk_text").cast("long").alias("chunk_len"),
        F.md5(F.col("chunk_text")).alias("chunk_hash"),
    )


def q_doc_split(spark, sf_dir):
    """Deterministic hash-based train/val assignment (10% val),
    counted per (lang, split) — reproducible across engines
    (cubes_spark/llm/text.py:deterministic_split)."""
    from cubes_spark.llm import deterministic_split

    docs = deterministic_split(_table(spark, sf_dir, "documents"))
    return docs.groupBy("lang", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


def q_doc_normalize(spark, sf_dir):
    """Unicode normalization (NFC): a decomposed suffix ('e' + U+0301
    combining acute) appended in-plan must compose to the precomposed
    form — the canonical-form ingest step without which dedup/hashing
    treats visually identical text as different
    (cubes_spark/llm/text.py:normalize_unicode).  DuckDB's
    nfc_normalize is the oracle."""
    from cubes_spark.llm import normalize_unicode

    docs = _table(spark, sf_dir, "documents")
    src = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" caf"),
                 F.lit("e\u0301")).alias("text"))   # decomposed
    out = normalize_unicode(src)
    return out.select(
        "doc_id",
        F.length("normalized").cast("long").alias("n_chars_norm"),
        F.md5(F.col("normalized")).alias("norm_md5"),
    )


def q_doc_pagerank(spark, sf_dir):
    """Integer fixed-point PageRank over an in-plan link graph (each
    doc links to (id*2+1)%N and (id*3+2)%N), 3 iterations — bit-
    identical at any parallelism because all arithmetic is integer
    (cubes_spark/llm/web.py:link_pagerank); the oracle unrolls the
    same recurrence in SQL."""
    from cubes_spark.llm import link_pagerank

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    edges = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 2 + 1) % n).alias("dst"),
    ).unionByName(docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 3 + 2) % n).alias("dst"),
    ))
    return link_pagerank(edges, iterations=3).select(
        F.col("node").cast("long").alias("node"),
        "rank_units",
    )


def _pagerank_oracle() -> str:
    """Unrolled 3-iteration integer PageRank recurrence (doc ids are
    contiguous 0..N-1, so the node set is exactly `documents`)."""
    scale = 10 ** 12

    def step(prev: str, cur: str) -> str:
        return f"""
        {cur} AS (
            SELECT n.node,
                (SELECT ({scale} * 150 // 1000) // c.n FROM cnt c)
                + COALESCE(SUM({prev}.r * 850 // (1000 * dg.dg)), 0)
                    AS r
            FROM nodes n
            LEFT JOIN edges e ON e.dst = n.node
            LEFT JOIN {prev} ON {prev}.node = e.src
            LEFT JOIN deg dg ON dg.node = e.src
            GROUP BY n.node)"""

    return f"""
        WITH cnt AS (SELECT COUNT(*) AS n FROM documents),
        nodes AS (SELECT doc_id AS node FROM documents),
        edges AS (
            SELECT d.doc_id AS src, (d.doc_id * 2 + 1) % c.n AS dst
            FROM documents d, cnt c
            UNION ALL
            SELECT d.doc_id, (d.doc_id * 3 + 2) % c.n
            FROM documents d, cnt c),
        deg AS (SELECT src AS node, COUNT(*) AS dg
                FROM edges GROUP BY 1),
        r0 AS (
            SELECT node, (SELECT {scale} // c.n FROM cnt c) AS r
            FROM nodes),
        {step('r0', 'r1')},
        {step('r1', 'r2')},
        {step('r2', 'r3')}
        SELECT CAST(node AS BIGINT) AS node,
            CAST(r AS BIGINT) AS rank_units
        FROM r3"""


def _textrank_oracle() -> str:
    """Unrolled 2-iteration integer PageRank over the adjacent
    content-token co-occurrence multigraph (both directions, self
    pairs dropped) — token-for-token the link_pagerank recurrence
    doc_pagerank replays, with the node set = distinct tokens."""
    scale = 10 ** 12

    def step(prev: str, cur: str) -> str:
        return f"""
        {cur} AS (
            SELECT n.node,
                (SELECT ({scale} * 150 // 1000) // c.n FROM cnt c)
                + COALESCE(SUM({prev}.r * 850 // (1000 * dg.dg)), 0)
                    AS r
            FROM nodes n
            LEFT JOIN edges e ON e.dst = n.node
            LEFT JOIN {prev} ON {prev}.node = e.src
            LEFT JOIN deg dg ON dg.node = e.src
            GROUP BY n.node)"""

    return rf"""
        WITH tok AS (
            SELECT doc_id, t, i FROM (
                SELECT doc_id,
                    unnest(CASE WHEN trim(lower(text)) = '' THEN []
                        ELSE string_split_regex(trim(lower(text)),
                                                '\s+') END) AS t,
                    generate_subscripts(
                        CASE WHEN trim(lower(text)) = '' THEN []
                        ELSE string_split_regex(trim(lower(text)),
                                                '\s+') END, 1) AS i
                FROM documents)
            WHERE regexp_matches(t, '^[a-z]{{3,}}$')),
        pairs AS (
            SELECT t AS a, lead(t) OVER (
                PARTITION BY doc_id ORDER BY i) AS b
            FROM tok),
        kept AS (SELECT a, b FROM pairs
                 WHERE b IS NOT NULL AND a <> b),
        edges AS MATERIALIZED (
            SELECT a AS src, b AS dst FROM kept
            UNION ALL
            SELECT b, a FROM kept),
        nodes AS MATERIALIZED (SELECT DISTINCT src AS node
                               FROM edges),
        cnt AS (SELECT COUNT(*) AS n FROM nodes),
        deg AS (SELECT src AS node, COUNT(*) AS dg
                FROM edges GROUP BY 1),
        r0 AS (
            SELECT node, (SELECT {scale} // c.n FROM cnt c) AS r
            FROM nodes),
        {step('r0', 'r1')},
        {step('r1', 'r2')}
        SELECT node AS token, CAST(r AS BIGINT) AS rank_units
        FROM r2
        ORDER BY r DESC, node ASC LIMIT 20"""


def _hilbert_oracle() -> str:
    """Replays hilbert_value token-for-token: identical min-max
    scaling, then the same 16 unrolled xy2d steps from
    hilbert_step_exprs with DuckDB's ``//`` as the only dialect
    difference; chained CTEs carry (hx_i, hy_i, hd_i)."""
    from cubes_spark.operators.scale import hilbert_step_exprs

    bits = 16
    ctes = ["""stats AS MATERIALIZED (
            SELECT CAST(min(l_partkey) AS BIGINT) AS mn_p,
                CAST(max(l_partkey) AS BIGINT) AS mx_p,
                CAST(min(l_suppkey) AS BIGINT) AS mn_s,
                CAST(max(l_suppkey) AS BIGINT) AS mx_s
            FROM lineitem
        )""", f"""s0 AS (
            SELECT l_partkey, l_suppkey,
                (((CAST(l_partkey AS BIGINT) - mn_p) * {(1 << bits) - 1})
                 // greatest(mx_p - mn_p, 1)) AS hx0,
                (((CAST(l_suppkey AS BIGINT) - mn_s) * {(1 << bits) - 1})
                 // greatest(mx_s - mn_s, 1)) AS hy0,
                CAST(0 AS BIGINT) AS hd0
            FROM lineitem CROSS JOIN stats
        )"""]
    s, i = 1 << (bits - 1), 1
    while s > 0:
        xe, ye, de = hilbert_step_exprs(
            f"hx{i-1}", f"hy{i-1}", f"hd{i-1}", s, div="//")
        ctes.append(f"""s{i} AS (
            SELECT l_partkey, l_suppkey, {xe} AS hx{i},
                {ye} AS hy{i}, {de} AS hd{i}
            FROM s{i-1}
        )""")
        s, i = s >> 1, i + 1
    last = i - 1
    return f"""
        WITH {', '.join(ctes)}
        SELECT hd{last} // 16777216 AS h_bucket,
            CAST(count(*) AS BIGINT) AS n,
            min(l_partkey) AS min_part, max(l_partkey) AS max_part,
            min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
        FROM s{last} GROUP BY 1"""


def _hits_oracle() -> str:
    """Unrolled 2-iteration integer HITS: the same synthetic doc
    graph, HUGEINT sums, sum-normalization by integer division."""
    scale = 10 ** 12

    def half(score_in: str, out: str, col_in: str, col_out: str,
             match_in: str, match_out: str) -> str:
        return f"""
        r{out} AS (
            SELECT n.node,
                COALESCE(SUM({score_in}.{col_in}), 0) AS v
            FROM nodes n
            LEFT JOIN edges e ON e.{match_out} = n.node
            LEFT JOIN {score_in}
                ON {score_in}.node = e.{match_in}
            GROUP BY n.node),
        {out} AS (
            SELECT node, CASE WHEN t.s = 0 THEN CAST(0 AS HUGEINT)
                ELSE (CAST(v AS HUGEINT) * {scale}) // t.s END
                AS {col_out}
            FROM r{out}, (SELECT SUM(v) AS s FROM r{out}) t)"""

    return f"""
        WITH cnt AS (SELECT COUNT(*) AS n FROM documents),
        nodes AS (SELECT doc_id AS node FROM documents),
        edges AS (
            SELECT d.doc_id AS src, (d.doc_id * 5 + 3) % c.n AS dst
            FROM documents d, cnt c
            UNION ALL
            SELECT d.doc_id, (d.doc_id * 7 + 1) % c.n
            FROM documents d, cnt c),
        h0 AS (SELECT node, CAST({scale} AS HUGEINT) AS h
               FROM nodes),
        {half('h0', 'a1', 'h', 'a', 'src', 'dst')},
        {half('a1', 'h1', 'a', 'h', 'dst', 'src')},
        {half('h1', 'a2', 'h', 'a', 'src', 'dst')},
        {half('a2', 'h2', 'a', 'h', 'dst', 'src')}
        SELECT CAST(a2.node AS BIGINT) AS node,
            CAST(a2.a AS BIGINT) AS auth_units,
            CAST(h2.h AS BIGINT) AS hub_units
        FROM a2 JOIN h2 ON a2.node = h2.node"""


def q_events_asof(spark, sf_dir):
    """As-of join (operators/asof.py): each purchase enriched with the
    user's latest click at-or-before it, within a 30-minute tolerance
    — union + one by-key windowed shuffle, no range join, no row
    multiplication (plan: 1 exchange, 0 join nodes; see
    test_asof.test_single_shuffle_plan).  Ties break on the highest
    click event_id, so the LATERAL argmax oracle replays exactly."""
    from cubes_spark.operators.asof import asof_join

    ev = _table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts",
        F.col("value").alias("purchase_value"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts",
        F.col("value").alias("click_value"))
    out = asof_join(purchases, clicks, on="ts", by="user_id",
                    right_values=["click_id", "click_value"],
                    right_order="click_id",
                    tolerance_seconds=1800.0)
    return out.select(
        "event_id", "user_id", "purchase_value",
        F.col("click_id_right").alias("click_id"),
        F.col("click_value_right").alias("click_value"),
        (F.unix_micros(F.col("ts"))
         - F.unix_micros(F.col("ts_right"))).alias("gap_us"),
    )


def q_events_stream_join(spark, sf_dir):
    """Stream-stream interval join (streaming/stream.py:
    stream_interval_join): purchases and clicks as two watermarked
    file streams, inner-joined per user with the click at most 30
    minutes before the purchase — the watermark+interval condition is
    what bounds join state on an unbounded stream.  Replayed to
    completion (availableNow, append mode); the plain batch SQL
    interval join is the oracle."""
    from cubes_spark.streaming import read_parquet_stream, \
        replay_to_memory, stream_interval_join

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = f"{sf_dir}/events.parquet"
    purchases = read_parquet_stream(spark, src) \
        .filter(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", "ts",
                F.col("value").alias("purchase_value"))
    clicks = read_parquet_stream(spark, src) \
        .filter(F.col("event_type") == "click") \
        .select(F.col("event_id").alias("click_id"), "user_id",
                F.col("ts").alias("click_ts"),
                F.col("value").alias("click_value"))
    joined = stream_interval_join(
        purchases, clicks, on="user_id",
        left_ts="ts", right_ts="click_ts",
        lower_seconds=1800, upper_seconds=0, watermark="2 hours",
    )
    result = replay_to_memory(joined, "q_events_stream_join",
                              output_mode="append")
    return result.select(
        "event_id", "user_id", "purchase_value", "click_id",
        "click_value",
        (F.unix_micros(F.col("ts"))
         - F.unix_micros(F.col("click_ts"))).alias("gap_us"),
    )


def q_events_funnel(spark, sf_dir):
    """Ordered-funnel conversion (view -> click -> purchase): per-step
    reacher counts with strict first-touch ordering (each step after
    the user's first occurrence of the previous one) —
    cubes_spark/operators/olap.py:funnel_counts."""
    from cubes_spark.operators.olap import funnel_counts

    ev = _table(spark, sf_dir, "events")
    return funnel_counts(ev, ["view", "click", "purchase"])


def q_events_cohorts(spark, sf_dir):
    """Weekly cohort retention triangle: users bucketed by first-
    activity week, counted distinct per returning week offset —
    cubes_spark/operators/olap.py:cohort_retention."""
    from cubes_spark.operators.olap import cohort_retention

    ev = _table(spark, sf_dir, "events")
    return cohort_retention(ev, period="week")


def q_events_sessions_batch(spark, sf_dir):
    """Batch sessionization via the lag + cumulative-island windows
    (cubes_spark/streaming/stream.py:batch_sessionize) — the bounded-
    data complement of the custom stateful streaming operator, with
    the same session payload but including every user's final
    session."""
    from cubes_spark.streaming import batch_sessionize

    ev = _table(spark, sf_dir, "events")
    out = batch_sessionize(ev, gap_seconds=1800)
    return out.select(
        "user_id", "session_start", "session_end", "n_events",
        "value_usum", "event_seq",
    )


def q_doc_warc_pipeline(spark, sf_dir):
    """The COMPOSED web-ingest pipeline in one plan: WARC shards with
    HTML response bodies built in-plan → parse_warc (Content-Length
    walk) → html_to_text (tag strip + entity decode) → token/length
    stats — crawl bytes to training text end-to-end; the oracle
    recomputes the stats from the closed-form expected text."""
    from cubes_spark.llm import html_to_text, parse_warc
    from cubes_spark.llm.text import token_array

    docs = _table(spark, sf_dir, "documents")
    esc = F.replace(F.col("text"), F.lit("&"), F.lit("&amp;"))
    esc = F.replace(esc, F.lit("<"), F.lit("&lt;"))
    esc = F.replace(esc, F.lit(">"), F.lit("&gt;"))
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title></head><body><h1>"), F.col("source"),
        F.lit("</h1><script>var x = 1 < 2;</script><p>"), esc,
        F.lit("</p></body></html>"))
    http_head = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
              "Content-Length: "),
        F.octet_length(html).cast("string"), F.lit("\r\n\r\n"))
    payload = F.concat(http_head, html)
    warc = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\n"
              "WARC-Target-URI: http://example.com/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("\r\nContent-Length: "),
        F.octet_length(payload).cast("string"),
        F.lit("\r\n\r\n"), payload, F.lit("\r\n\r\n"))
    shards = docs.select("doc_id", warc.cast("binary").alias("payload"))
    recs = parse_warc(shards, warc_col="payload", id_col="doc_id")
    pages = recs.filter(F.col("warc_type") == "response").select(
        F.col("id").alias("doc_id"),
        F.col("body").cast("string").alias("html"))
    text = html_to_text(pages)
    return text.select(
        "doc_id",
        F.length("text").cast("long").alias("text_len"),
        F.size(token_array(F.col("text"))).cast("long")
            .alias("n_tokens"),
        F.md5(F.col("text")).alias("text_md5"),
    )


def q_doc_substring_dup(spark, sf_dir):
    """Exact substring dedup (Lee et al. 2022 shape): 8-token spans
    occurring in >=2 distinct documents, via local explode + one
    map-side-combinable hash group-by — only the 64-bit portable span
    hash is shuffled (cubes_spark/llm/dedup.py:duplicate_spans)."""
    from cubes_spark.llm import duplicate_spans

    docs = _table(spark, sf_dir, "documents")
    return duplicate_spans(docs, k=8).select(
        "span_hash",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
    )


def q_doc_span_docs(spark, sf_dir):
    """Per-document duplicated-span exposure (boilerplate removal
    policy knob): span counts + how many of them are corpus-duplicated
    (cubes_spark/llm/dedup.py:span_duplicate_docs)."""
    from cubes_spark.llm import span_duplicate_docs

    docs = _table(spark, sf_dir, "documents")
    return span_duplicate_docs(docs, k=8).select(
        "doc_id",
        F.col("n_dup_spans").cast("long").alias("n_dup_spans"),
        F.col("n_spans").cast("long").alias("n_spans"),
    )


def q_doc_pack(spark, sf_dir):
    """GPT-style sequence packing: documents concatenated in doc_id
    order, token stream sliced into 512-token context windows; one row
    per (window, document) overlap.  Global prefix offsets via the
    two-phase prefix sum (range repartition + bounded per-partition
    collect), never a one-partition window
    (cubes_spark/llm/text.py:pack_sequences)."""
    from cubes_spark.llm import pack_sequences

    docs = _table(spark, sf_dir, "documents")
    return pack_sequences(docs, window=512, num_partitions=8).select(
        "bin_id", "doc_id", "offset_in_bin", "tokens_in_bin",
        "n_tokens",
    )


_TAR_NUL = "\x00"

#: constant ustar header bytes (everything except name + size), in
#: field order mode..pad; the checksum field is 8 spaces here because
#: that is its value DURING checksum computation
_TAR_CONST_PRE = ("0000644" + _TAR_NUL + "0000000" + _TAR_NUL
                  + "0000000" + _TAR_NUL)                 # mode uid gid
_TAR_CONST_MID = "00000000000" + _TAR_NUL                  # mtime
_TAR_CONST_POST = ("0" + _TAR_NUL * 100                    # type linkname
                   + "ustar" + _TAR_NUL + "00"             # magic version
                   + _TAR_NUL * 64                         # uname gname
                   + "0000000" + _TAR_NUL + "0000000" + _TAR_NUL
                   + _TAR_NUL * 155 + _TAR_NUL * 12)       # prefix pad
_TAR_CONST_SUM = sum(ord(ch) for ch in
                     _TAR_CONST_PRE + _TAR_CONST_MID + " " * 8
                     + _TAR_CONST_POST)


def _tar_member(name_col, content_col):
    """One complete ustar member (512-byte header + NUL-padded
    content) as a string column.  The header checksum is the constant
    field contribution plus SQL ascii folds over the two variable
    fields (name, octal size) — NUL padding contributes zero."""
    def ascii_sum(col):
        return F.aggregate(
            F.sequence(F.lit(1), F.length(col)),
            F.lit(0).cast("long"),
            lambda acc, i: acc + F.ascii(F.substring(col, i, F.lit(1))),
        )

    size = F.octet_length(content_col).cast("long")
    oct11 = F.lpad(F.conv(size.cast("string"), 10, 8), 11, "0")
    chk = (F.lit(_TAR_CONST_SUM) + ascii_sum(name_col)
           + ascii_sum(oct11))
    header = F.concat(
        F.rpad(name_col, 100, _TAR_NUL),
        F.lit(_TAR_CONST_PRE),
        oct11, F.lit(_TAR_NUL),
        F.lit(_TAR_CONST_MID),
        F.lpad(F.conv(chk.cast("string"), 10, 8), 6, "0"),
        F.lit(_TAR_NUL + " "),
        F.lit(_TAR_CONST_POST),
    )
    pad = F.substring(F.lit(_TAR_NUL * 512), 1,
                      ((512 - size % 512) % 512).cast("int"))
    return F.concat(header, content_col, pad)


def q_doc_tar_shards(spark, sf_dir):
    """WebDataset-style tar shards built IN-PLAN (complete ustar
    headers: octal fields, checksum via SQL ascii folds over the
    variable fields, 512-byte framing), exploded for real by the
    stdlib tarfile reader; member bytes recovered exactly
    (cubes_spark/llm/web.py:parse_tar)."""
    from cubes_spark.llm import parse_tar

    docs = _table(spark, sf_dir, "documents")
    name_txt = F.concat(F.lit("doc_"), F.col("doc_id").cast("string"),
                        F.lit(".txt"))
    name_cls = F.concat(F.lit("doc_"), F.col("doc_id").cast("string"),
                        F.lit(".cls"))
    shard = F.concat(
        _tar_member(name_txt, F.col("text")),
        _tar_member(name_cls, F.col("lang")),
        F.lit(_TAR_NUL * 1024),
    )
    shards = docs.select("doc_id", shard.cast("binary").alias("payload"))
    members = parse_tar(shards, tar_col="payload", id_col="doc_id")
    return members.select(
        F.col("id").alias("doc_id"), "member_idx", "name", "size",
        F.md5(F.col("payload")).alias("payload_md5"),
    )


#: Curation-analytics model: the documents table derived into a
#: quality-stats fact via a named TABLE EXPRESSION (computed through
#: Catalyst — the derivation pushes into the scan), browsed as a cube.
_DOCS_MODEL = {
    "table_expressions": {
        "doc_stats": (
            "SELECT doc_id, lang, source, n_chars, "
            "CASE WHEN n_chars < 250 THEN 'short' "
            "WHEN n_chars < 350 THEN 'medium' ELSE 'long' END "
            "AS len_bucket, "
            "CASE WHEN trim(text) = '' THEN 0 "
            "ELSE size(split(trim(text), '\\\\s+')) END AS n_tokens "
            "FROM documents"
        ),
    },
    "dimensions": [
        {"name": "lang"},
        {"name": "source"},
        {"name": "len_bucket"},
    ],
    "cubes": [{
        "name": "docs",
        "fact": "doc_stats",
        "key": "doc_id",
        "dimensions": ["lang", "source", "len_bucket"],
        "measures": [{"name": "n_chars"}, {"name": "n_tokens"}],
        "aggregates": [
            {"name": "doc_count", "function": "count"},
            {"name": "chars_sum", "function": "sum",
             "measure": "n_chars"},
            {"name": "tokens_sum", "function": "sum",
             "measure": "n_tokens"},
        ],
        "mappings": {
            "lang.lang": "doc_stats.lang",
            "source.source": "doc_stats.source",
            "len_bucket.len_bucket": "doc_stats.len_bucket",
        },
    }],
}


def q_doc_webdataset_export(spark, sf_dir):
    """WebDataset EXPORT → INGEST round-trip: documents packed into
    deterministic tar shards of 50 (one shuffle keyed by shard id,
    cubes_spark/llm/web.py:pack_webdataset), then exploded back by
    parse_tar; every member byte-exact against the source columns."""
    from cubes_spark.llm import pack_webdataset, parse_tar

    docs = _table(spark, sf_dir, "documents")
    src = docs.withColumn(
        "shard", F.floor(F.col("doc_id") / 50).cast("long"))
    shards = pack_webdataset(
        src, "shard", key_col="doc_id",
        part_cols={"txt": "text", "cls": "lang"})
    members = parse_tar(
        shards.withColumnRenamed("shard", "doc_id"),
        tar_col="payload", id_col="doc_id")
    return members.select(
        F.col("id").alias("shard_id"), "name", "size",
        F.md5(F.col("payload")).alias("payload_md5"),
    )


def q_docs_stream_quality(spark, sf_dir):
    """STREAMING curation: the documents table replayed as a bounded
    file stream, per-document quality scoring (the same pure column
    expressions run unchanged on a stream) and a per-(lang, passed)
    running aggregate in complete mode — the shape of a live ingest
    pipeline scoring documents as they land."""
    from cubes_spark.llm import text_stats
    from cubes_spark.streaming import read_parquet_stream, \
        replay_to_memory

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = read_parquet_stream(spark, f"{sf_dir}/documents.parquet")
    scored = text_stats(stream)
    out = scored.withColumn(
        "passed",
        (F.col("quality_score") >= 0.5).cast("int").cast("long"),
    ).groupBy("lang", "passed").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    return replay_to_memory(out, "q_docs_stream_quality",
                            output_mode="complete")


def q_doc_bpe_encode(spark, sf_dir):
    """REAL learned BPE end-to-end: merges trained driver-side on the
    bounded id-sorted sample (classic greedy pair counting), applied
    distributed with the rank-greedy encoder in one Arrow stage
    (cubes_spark/llm/bpe.py).  The oracle retrains the identical
    merge list and re-encodes every document with an INDEPENDENT
    in-training-order applier (equivalence proven in tests), inlining
    the per-document token counts and md5s."""
    from cubes_spark.llm import bpe_encode, train_bpe

    docs = _table(spark, sf_dir, "documents")
    merges = train_bpe(docs, num_merges=96, sample_size=512)
    out = bpe_encode(docs, merges)
    return out.select(
        F.col("id").alias("doc_id"),
        F.size("tokens").cast("long").alias("n_tokens"),
        F.md5(F.array_join(F.col("tokens"), "\x1f")).alias("tokens_md5"),
    )


def _bpe_oracle() -> str:
    """Retrains the identical merge list (same id-sorted sample, same
    greedy trainer) and encodes every document with the INDEPENDENT
    Sennrich-style in-order applier; per-document expectations are
    inlined as VALUES."""
    import hashlib

    import duckdb

    from cubes_spark.llm.bpe import _PRETOKEN_RE, train_bpe_from_texts

    path = f"{_oracle_sf_dir()}/documents.parquet"
    sample = duckdb.sql(
        f"SELECT text FROM read_parquet('{path}') "
        "ORDER BY doc_id LIMIT 512").fetchall()
    merges = train_bpe_from_texts([r[0] for r in sample], 96)

    def in_order(word):
        sym = list(word)
        for a, b in merges:
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            sym = out
        return sym

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{path}')").fetchall()
    cache: dict = {}
    values = []
    for doc_id, text in rows:
        tokens = []
        for word in _PRETOKEN_RE.findall(text or ""):
            got = cache.get(word)
            if got is None:
                got = in_order(word)
                cache[word] = got
            tokens.extend(got)
        digest = hashlib.md5("\x1f".join(tokens).encode()).hexdigest()
        values.append(f"({doc_id}, {len(tokens)}, '{digest}')")
    return f"""
        SELECT v.d AS doc_id, CAST(v.n AS BIGINT) AS n_tokens,
            v.h AS tokens_md5
        FROM (VALUES {", ".join(values)}) v(d, n, h)"""


def q_doc_bpe_vocab(spark, sf_dir):
    """Corpus vocabulary statistics over the LEARNED tokenization:
    BPE-encode every document, explode tokens, count — the top-50
    table (count desc, token asc) that drives vocab pruning /
    coverage checks.  The oracle re-runs training + the independent
    in-order encoder and inlines the expected table."""
    from cubes_spark.llm import bpe_encode, train_bpe

    docs = _table(spark, sf_dir, "documents")
    merges = train_bpe(docs, num_merges=96, sample_size=512)
    out = bpe_encode(docs, merges)
    counts = (
        out.select(F.explode("tokens").alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(50)
    )
    return counts.select("token", F.col("n").cast("long").alias("n"))


def _bpe_vocab_oracle() -> str:
    """Top-50 learned-token counts via the independent in-order
    applier (shares the sample/trainer with _bpe_oracle)."""
    from collections import Counter

    import duckdb

    from cubes_spark.llm.bpe import _PRETOKEN_RE, train_bpe_from_texts

    path = f"{_oracle_sf_dir()}/documents.parquet"
    sample = duckdb.sql(
        f"SELECT text FROM read_parquet('{path}') "
        "ORDER BY doc_id LIMIT 512").fetchall()
    merges = train_bpe_from_texts([r[0] for r in sample], 96)

    def in_order(word):
        sym = list(word)
        for a, b in merges:
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            sym = out
        return sym

    rows = duckdb.sql(
        f"SELECT text FROM read_parquet('{path}')").fetchall()
    counts: Counter = Counter()
    word_freq: Counter = Counter()
    for (text,) in rows:
        word_freq.update(_PRETOKEN_RE.findall(text or ""))
    for word, freq in word_freq.items():
        for tok in in_order(word):
            counts[tok] += freq
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    values = ", ".join(
        "(" + "'" + tok.replace("'", "''") + "'" + f", {n})"
        for tok, n in top)
    return f"""
        SELECT v.t AS token, CAST(v.n AS BIGINT) AS n
        FROM (VALUES {values}) v(t, n)"""


def q_doc_image_dedup(spark, sf_dir):
    """Image near-duplicate groups via perceptual hashing: in-plan
    24-bit BMPs whose pixel content is keyed by doc_id % 16 (so every
    residue class is a visually-identical group), decoded + aHashed +
    grouped by the hash (cubes_spark/llm/multimodal.py:
    image_duplicates).  The oracle recomputes each residue's aHash
    with an independent implementation and inlines the 16 hashes."""
    from cubes_spark.llm import image_duplicates

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    r = (F.col("doc_id") % 16).cast("long")
    w = (F.lit(6) + r % 3).cast("long")
    h = (F.lit(5) + r % 2).cast("long")

    def hex2(col):
        return F.lpad(F.hex(col.cast("long")), 2, "0")

    def le32(col):
        return F.concat(*[hex2((col / (256 ** i)).cast("long") % 256)
                          for i in range(4)])

    byte = lambda x, y, c: (r * 37 + x * (r + 7) + y * (2 * r + 11)
                            + c * 3) % 256
    stride = ((w * 3 + 3) / 4).cast("long") * 4
    pad_hex = F.substring(F.lit("000000"), 1,
                          ((stride - w * 3) * 2).cast("int"))
    data_hex = F.aggregate(
        F.sequence(F.lit(0), h - 1), F.lit(""),
        lambda acc, f: F.concat(
            acc,
            F.aggregate(
                F.sequence(F.lit(0), w - 1), F.lit(""),
                lambda a2, x: F.concat(
                    a2, hex2(byte(x, f, 0)), hex2(byte(x, f, 1)),
                    hex2(byte(x, f, 2)))),
            pad_hex),
    )
    bmp_hex = F.concat(
        F.lit("424D"), le32(stride * h + 54),
        F.lit("00000000"), le32(F.lit(54)),
        le32(F.lit(40)), le32(w), le32(h),
        F.lit("0100" "1800"), le32(F.lit(0)),
        le32(stride * h),
        le32(F.lit(2835)), le32(F.lit(2835)),
        le32(F.lit(0)), le32(F.lit(0)),
        data_hex,
    )
    bmps = docs.withColumn("payload", F.unhex(bmp_hex))
    return image_duplicates(bmps, "payload")


def _image_dedup_oracle() -> str:
    """Independent aHash per residue class: stored-byte formula →
    top-down grayscale → 8×8 nearest → integer mean-compare bits.
    Written from the definition, not the library code."""
    values = []
    for r in range(16):
        w, h = 6 + r % 3, 5 + r % 2

        def stored(x, fy, c):
            return (r * 37 + x * (r + 7) + fy * (2 * r + 11)
                    + c * 3) % 256

        # image row ry = file row h-1-ry (bottom-up BMP); gray is the
        # floor-mean over the three channels (order-invariant)
        gray = [[sum(stored((X * w) // 8, h - 1 - (Y * h) // 8, c)
                     for c in range(3)) // 3
                 for X in range(8)] for Y in range(8)]
        total = sum(sum(row) for row in gray)
        val = 0
        for Y in range(8):
            for X in range(8):
                val = (val << 1) | (1 if gray[Y][X] * 64 >= total
                                    else 0)
        values.append(f"({r}, '{format(val, '016x')}')")
    return f"""
        SELECT v.hsh AS ahash, COUNT(*) AS n_docs,
            CAST(MIN(d.doc_id) AS BIGINT) AS canonical_id
        FROM documents d
        JOIN (VALUES {", ".join(values)}) v(r, hsh)
            ON d.doc_id % 16 = v.r
        GROUP BY 1"""


def q_doc_audio_dedup(spark, sf_dir):
    """Audio near-duplicate groups via the contour fingerprint:
    in-plan PCM WAVs whose waveform is keyed by doc_id % 12 (each
    residue class identical), decoded + fingerprinted + grouped
    (cubes_spark/llm/multimodal.py:audio_duplicates).  The oracle
    recomputes each residue's fingerprint independently."""
    from cubes_spark.llm import audio_duplicates

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    r = (F.col("doc_id") % 12).cast("long")
    n = (F.lit(40) + r).cast("long")

    def hex2(col):
        return F.lpad(F.hex(col.cast("long")), 2, "0")

    def le16(col):
        return F.concat(hex2(col % 256), hex2((col / 256).cast("long")))

    def le32(col):
        return F.concat(*[hex2((col / (256 ** i)).cast("long") % 256)
                          for i in range(4)])

    # sawtooth keyed by the residue: v(i) = ((i*(2r+3)) % 200) - 100
    sample_hex = F.aggregate(
        F.sequence(F.lit(0), n - 1), F.lit(""),
        lambda acc, i: F.concat(
            acc, le16(((i * (r * 2 + 3)) % 200 - 100 + 65536) % 65536)),
    )
    wav_hex = F.concat(
        F.lit("52494646"), le32(F.lit(36) + n * 2),
        F.lit("57415645" "666D7420"), le32(F.lit(16)),
        F.lit("0100" "0100"), le32(F.lit(8000)), le32(F.lit(16000)),
        F.lit("0200" "1000"),
        F.lit("64617461"), le32(n * 2), sample_hex)
    wavs = docs.withColumn("payload", F.unhex(wav_hex))
    return audio_duplicates(wavs, "payload")


def _audio_dedup_oracle() -> str:
    """Independent contour fingerprint per residue class (mono s16
    sawtooth, 65 nearest anchors, rising-edge bits)."""
    values = []
    for r in range(12):
        n = 40 + r
        mono = [((i * (2 * r + 3)) % 200) - 100 for i in range(n)]
        pts = [mono[(i * n) // 65] for i in range(65)]
        val = 0
        for i in range(64):
            val = (val << 1) | (1 if pts[i + 1] > pts[i] else 0)
        values.append(f"({r}, '{format(val, '016x')}')")
    return f"""
        SELECT v.fp AS fingerprint, COUNT(*) AS n_docs,
            CAST(MIN(d.doc_id) AS BIGINT) AS canonical_id
        FROM documents d
        JOIN (VALUES {", ".join(values)}) v(r, fp)
            ON d.doc_id % 12 = v.r
        GROUP BY 1"""


def q_doc_mixture(spark, sf_dir):
    """Data-mixture sampling: per-language keep rates (en 80%, de 50%,
    fr 30%, others 10%) applied as one narrow portable-hash filter,
    rolled up per language (cubes_spark/llm/text.py:mixture_sample)."""
    from cubes_spark.llm import mixture_sample

    docs = _table(spark, sf_dir, "documents")
    kept = mixture_sample(
        docs, "lang", {"en": 800, "de": 500, "fr": 300},
        default_permille=100)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


def q_doc_incremental_dedup(spark, sf_dir):
    """Incremental ingest dedup: the fresh batch (non-ingested docs
    PLUS re-crawls — ingested content under new ids, built in-plan)
    anti-joined on the normalized content hash against the
    already-ingested slice; every re-crawl must drop, every genuinely
    new doc must survive — only hashes move, never text
    (cubes_spark/llm/dedup.py:dedup_against)."""
    from cubes_spark.llm import dedup_against

    docs = _table(spark, sf_dir, "documents")
    ingested = docs.filter(F.col("doc_id") % 4 == 0)
    recrawls = ingested.withColumn(
        "doc_id", F.col("doc_id") + 1000000)
    fresh = docs.filter(F.col("doc_id") % 4 != 0).unionByName(recrawls)
    kept = dedup_against(fresh, ingested)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


def q_doc_quality_cube(spark, sf_dir):
    """OLAP over the curation pipeline: the documents table derived
    into a quality-stats fact by a named table expression and browsed
    through the cube engine — point cut on source + lang x len-bucket
    drilldown (the full dimensional surface applied to training-data
    curation)."""
    from cubes_spark.sources.workspace import Workspace

    ws = Workspace(spark, store=sf_dir)
    ws.import_model(_DOCS_MODEL)
    df = ws.browser("docs").aggregation_dataframe(
        cell="source:src1;src2;src3;src4;src5",
        drilldown=["lang", "len_bucket"],
        aggregates=["doc_count", "chars_sum", "tokens_sum"],
    )
    return _lng(df, "doc_count", "chars_sum", "tokens_sum")


def q_doc_inflate(spark, sf_dir):
    """Compressed-shard ingestion: zlib streams (stored-deflate block
    + adler32) built per document, decompressed for real by stdlib
    zlib in inflate_column (cubes_spark/llm/web.py); recovered bytes
    match the source text md5-exact.

    The fixture streams are assembled in ONE Arrow batch stage
    (C-speed ``zlib.adler32``; r14 opt round): the previous in-plan
    per-byte ``conv``/fold — already reworked once in the r14 build
    round — still evaluated interpreted per byte and remained the
    entry's cost center (5.6 s of which ~1 s was the inflate under
    test).  Byte-for-byte the same zlib streams — a divergence would
    break the inflate or flip the emitted md5 and fail the exact
    oracle."""
    from cubes_spark.llm import inflate_column

    docs = _table(spark, sf_dir, "documents")

    def build(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                if text is None:
                    # the replaced in-plan builder propagated NULL and
                    # inflate_column quarantines NULL payloads
                    payloads.append(None)
                    continue
                raw = text.encode("utf-8")
                n = len(raw)
                # one stored-deflate block carries <= 65535 bytes; the
                # corpus is far below that — fail loudly, not wrap
                assert n <= 65535, f"text over one stored block: {n}"
                payloads.append(
                    b"\x78\x01\x01" + n.to_bytes(2, "little")
                    + (65535 - n).to_bytes(2, "little") + raw
                    + zlib.adler32(raw).to_bytes(4, "big"))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    from cubes_spark.llm.util import spread

    shards = spread(docs.select("doc_id", "text")) \
        .mapInPandas(build, "doc_id long, payload binary")
    out = inflate_column(shards)
    return out.select(
        "doc_id",
        F.octet_length("inflated").cast("long").alias("n_bytes"),
        F.md5(F.col("inflated")).alias("payload_md5"),
    )


def q_doc_jsonl(spark, sf_dir):
    """JSON-lines ingestion round-trip: two records per document built
    in-plan with to_json (real escaping), re-parsed by parse_jsonl
    (from_json, permissive) — field values recovered exactly
    (cubes_spark/llm/web.py:parse_jsonl)."""
    from cubes_spark.llm import parse_jsonl

    docs = _table(spark, sf_dir, "documents")
    line1 = F.to_json(F.struct(
        F.col("doc_id").alias("id"), F.col("lang"), F.col("text")))
    line2 = F.to_json(F.struct(
        (F.col("doc_id") + 1000000).alias("id"),
        F.lit("und").alias("lang"),
        F.substring(F.col("text"), 1, 100).alias("text")))
    blob = F.concat(line1, F.lit("\n"), line2)
    src = docs.select("doc_id", blob.alias("payload"))
    recs = parse_jsonl(src, schema="id long, lang string, text string")
    return recs.select(
        "doc_id", "line_no",
        F.col("rec.id").alias("rec_id"),
        F.col("rec.lang").alias("rec_lang"),
        F.md5(F.col("rec.text")).alias("text_md5"),
    )


def q_doc_sample(spark, sf_dir):
    """Deterministic hash-Bernoulli sampling (25%): reproducible
    across engines/partitionings, rolled up per language
    (cubes_spark/llm/text.py:deterministic_sample)."""
    from cubes_spark.llm import deterministic_sample

    docs = _table(spark, sf_dir, "documents")
    kept = deterministic_sample(docs, keep_permille=250)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


def q_doc_stratified(spark, sf_dir):
    """Deterministic stratified sampling: the 25 smallest-hash docs
    per language (ties by id) — equal-allocation eval-set carving
    (cubes_spark/llm/text.py:stratified_sample)."""
    from cubes_spark.llm import stratified_sample

    docs = _table(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", 25).select("doc_id", "lang")


def q_doc_decontam(spark, sf_dir):
    """Test-set decontamination: distinct-8-gram overlap of every
    document against an in-plan benchmark slice (doc_id % 25 == 0);
    the benchmark gram set is deduped + broadcast so the corpus side
    never shuffles for the membership test
    (cubes_spark/llm/dedup.py:benchmark_contamination)."""
    from cubes_spark.llm import benchmark_contamination

    docs = _table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    out = benchmark_contamination(docs, bench, k=8, threshold=0.2)
    return out.select(
        "doc_id", "n_grams", "n_overlap",
        F.col("contaminated").cast("int").cast("long")
            .alias("contaminated"),
    )


def q_doc_warc_extract(spark, sf_dir):
    """WARC shards built in-plan (warcinfo + HTTP response records,
    exact Content-Length framing over UTF-8 byte lengths), parsed for
    real by cubes_spark.llm.web.parse_warc; response bodies recovered
    byte-exact (md5 vs the source text)."""
    from cubes_spark.llm import parse_warc

    docs = _table(spark, sf_dir, "documents")
    info_body = F.lit("software: cubes-spark")
    http_head = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain; "
              "charset=utf-8\r\nContent-Length: "),
        F.octet_length("text").cast("string"), F.lit("\r\n\r\n"))
    payload = F.concat(http_head, F.col("text"))
    warc = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: "),
        F.octet_length(info_body).cast("string"),
        F.lit("\r\n\r\n"), info_body, F.lit("\r\n\r\n"),
        F.lit("WARC/1.0\r\nWARC-Type: response\r\n"
              "WARC-Target-URI: http://example.com/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("\r\nContent-Length: "),
        F.octet_length(payload).cast("string"),
        F.lit("\r\n\r\n"), payload, F.lit("\r\n\r\n"))
    shards = docs.select("doc_id", warc.cast("binary").alias("payload"))
    recs = parse_warc(shards, warc_col="payload", id_col="doc_id")
    resp = F.col("warc_type") == "response"
    return recs.groupBy(F.col("id").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.max(F.when(resp, F.col("target_uri"))).alias("target_uri"),
        F.max(F.when(resp, F.col("http_status"))).cast("long")
            .alias("http_status"),
        F.max(F.when(resp, F.col("content_type"))).alias("content_type"),
        F.max(F.when(resp, F.col("body_len"))).cast("long")
            .alias("body_len"),
        F.max(F.when(resp, F.md5(F.col("body")))).alias("body_md5"),
    )


def q_doc_html_text(spark, sf_dir):
    """HTML pages built in-plan (title/h1/script/style/comment, the
    document text entity-escaped into a <p>, a next-doc link), reduced
    to clean text by cubes_spark.llm.web.html_to_text — script bodies
    with bare '<' and double-escaped entities covered — plus link
    extraction; oracle is the closed-form expected text."""
    from cubes_spark.llm import extract_links, html_to_text

    docs = _table(spark, sf_dir, "documents")
    esc = F.replace(F.col("text"), F.lit("&"), F.lit("&amp;"))
    esc = F.replace(esc, F.lit("<"), F.lit("&lt;"))
    esc = F.replace(esc, F.lit(">"), F.lit("&gt;"))
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>body {color: #fff;}</style></head>\n"
              "<body><h1>"), F.col("source"),
        F.lit("</h1>\n<!-- built in-plan -->\n"
              "<script type=\"text/javascript\">var x = 1 < 2;</script>"
              "\n<p>"),
        esc,
        F.lit("</p>\n<a href=\"https://example.com/doc/"),
        (F.col("doc_id") + 1).cast("string"),
        F.lit("\">next</a>\n</body></html>"))
    pages = docs.select("doc_id", html.alias("html"))
    out = extract_links(html_to_text(pages))
    return out.select(
        "doc_id",
        F.length("text").cast("long").alias("text_len"),
        F.md5(F.col("text")).alias("text_md5"),
        F.size("links").cast("long").alias("n_links"),
        F.element_at("links", 1).alias("first_link"),
    )


def _inplan_avi(docs):
    """Complete AVI containers (RIFF hdrl/strf/movi, BI_RGB 24-bit
    DIB frames) built per doc_id in-plan: ``n = 2 + doc_id % 3``
    frames of ``w = 3 + doc_id % 3`` × ``h = 2 + doc_id % 2``, stored
    byte (frame f, x, FILE row y, channel c in B,G,R order) =
    ``(doc_id*7 + f*19 + x*5 + y*11 + c*3) % 256`` — shared by the
    video-frames and video-pipeline driver entries (decoded image row
    r is file row h-1-r; per-frame totals are row-order invariant,
    pixel-selecting oracles must flip)."""
    w = (F.lit(3) + F.col("doc_id") % 3).cast("long")
    h = (F.lit(2) + F.col("doc_id") % 2).cast("long")
    n = (F.lit(2) + F.col("doc_id") % 3).cast("long")   # frames

    def hex2(col):
        return F.lpad(F.hex(col.cast("long")), 2, "0")

    def le32(col):
        out = []
        for i in range(4):
            out.append(hex2((col / (256 ** i)).cast("long") % 256))
        return F.concat(*out)

    byte = lambda f, x, y, c: (F.col("doc_id") * 7 + f * 19 + x * 5
                               + y * 11 + c * 3) % 256
    stride = ((w * 3 + 3) / 4).cast("long") * 4
    pad_hex = F.substring(F.lit("000000"), 1,
                          ((stride - w * 3) * 2).cast("int"))
    fsz = stride * h

    def frame_hex(f):
        return F.aggregate(
            F.sequence(F.lit(0), h - 1), F.lit(""),
            lambda acc, y: F.concat(
                acc,
                F.aggregate(
                    F.sequence(F.lit(0), w - 1), F.lit(""),
                    lambda a2, x: F.concat(
                        a2, hex2(byte(f, x, y, 0)),
                        hex2(byte(f, x, y, 1)),
                        hex2(byte(f, x, y, 2)))),
                pad_hex),
        )

    movi_body = F.aggregate(
        F.sequence(F.lit(0), n - 1), F.lit(""),
        lambda acc, f: F.concat(
            acc, F.lit("30306462"), le32(fsz), frame_hex(f)),
    )
    strf = F.concat(
        F.lit("73747266"), le32(F.lit(40)),          # strf, size 40
        le32(F.lit(40)), le32(w), le32(h),           # BITMAPINFOHEADER
        F.lit("0100" "1800"), le32(F.lit(0)),        # planes, 24bpp, BI_RGB
        le32(fsz), le32(F.lit(0)), le32(F.lit(0)),
        le32(F.lit(0)), le32(F.lit(0)),
    )
    hdrl = F.concat(F.lit("4C495354"), le32(F.lit(4 + 48)),
                    F.lit("6864726C"), strf)
    movi_size = F.lit(4) + n * (F.lit(8) + fsz)
    movi = F.concat(F.lit("4C495354"), le32(movi_size),
                    F.lit("6D6F7669"), movi_body)
    body_size = F.lit(4 + 60 + 8) + movi_size
    avi_hex = F.concat(
        F.lit("52494646"), le32(body_size), F.lit("41564920"),
        hdrl, movi,
    )
    return docs.withColumn("payload", F.unhex(avi_hex))


def q_doc_video_frames(spark, sf_dir):
    """REAL video frame sampling end-to-end: the shared in-plan AVIs
    (:func:`_inplan_avi`) demuxed and decoded by the stdlib AVI reader
    with every_k=2 frame sampling (cubes_spark/llm/multimodal.py:
    decode_avi / avi_frame_stats).  Frame bytes are closed-form in
    (doc_id, frame), so the oracle recomputes per-frame sums without
    demuxing (BGR→RGB reorder and row order are sum-invariant)."""
    from cubes_spark.llm import avi_frame_stats

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    return avi_frame_stats(_inplan_avi(docs), "payload", every_k=2)


def q_doc_video_pipeline(spark, sf_dir):
    """The FULL multimodal video chain end-to-end — demux + every-k
    frame sampling + per-frame nearest resize to 2×2 in one Arrow
    stage (cubes_spark/llm/multimodal.py:video_frame_pipeline) over
    the shared in-plan AVIs.  Output pixel (X, Y) reads decoded image
    pixel ``((X*w)//2, (Y*h)//2)``, which is FILE row
    ``h-1-(Y*h)//2`` of the stored bottom-up DIB, so the oracle
    recomputes each resized frame's sum from the stored-byte closed
    form with the row flip applied; summing all three channels makes
    the BGR→RGB reorder irrelevant."""
    from cubes_spark.llm import video_frame_pipeline

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    return video_frame_pipeline(_inplan_avi(docs), "payload", 2, 2,
                                every_k=2, method="nearest")


def q_doc_mkv_meta(spark, sf_dir):
    """REAL Matroska metadata extraction end-to-end: complete EBML
    containers (header + Segment → Info/Tracks → TrackEntry) built
    per doc_id in-plan with correct varint sizes, parsed by the stdlib
    EBML walker (cubes_spark/llm/multimodal.py:matroska_tracks /
    matroska_metadata).  Track layout and timestamp scale are
    closed-form in doc_id."""
    from cubes_spark.llm import matroska_metadata

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    n_audio = (F.lit(1) + F.col("doc_id") % 2).cast("long")
    has_sub = (F.col("doc_id") % 3) == 0
    scale = ((F.lit(1) + F.col("doc_id") % 4) * 100000).cast("long")

    def hex2(col):
        return F.lpad(F.hex(col.cast("long")), 2, "0")

    def codec_hex(s):
        return "".join(f"{b:02X}" for b in s.encode())

    def entry_hex(ttype, codec):
        inner = ("83" "81" + f"{ttype:02X}"
                 + "86" + f"{0x80 + len(codec):02X}" + codec_hex(codec))
        return "AE" + f"{0x80 + len(inner) // 2:02X}" + inner

    video = entry_hex(1, "V_VP9")            # 12 bytes
    audio = entry_hex(2, "A_OPUS")           # 13 bytes
    sub = entry_hex(17, "S_TEXT/UTF8")       # 18 bytes
    # EBML header: 1A45DFA3 + size + DocType("matroska")
    header = ("1A45DFA3" "8B" "4282" "88"
              + codec_hex("matroska"))
    # Info: 1549A966 + size 7 + TimestampScale(3-byte value)
    info = F.concat(F.lit("1549A966" "87" "2AD7B1" "83"),
                    F.lpad(F.hex(scale), 6, "0"))
    tracks_body_len = (F.lit(len(video) // 2)
                       + n_audio * (len(audio) // 2)
                       + F.when(has_sub, F.lit(len(sub) // 2))
                       .otherwise(F.lit(0)))
    tracks = F.concat(
        F.lit("1654AE6B"), hex2(F.lit(0x80) + tracks_body_len),
        F.lit(video),
        F.when(n_audio == 2, F.lit(audio + audio))
        .otherwise(F.lit(audio)),
        F.when(has_sub, F.lit(sub)).otherwise(F.lit("")),
    )
    segment_body_len = F.lit(12) + F.lit(5) + tracks_body_len
    mkv_hex = F.concat(
        F.lit(header),
        F.lit("18538067"), hex2(F.lit(0x80) + segment_body_len),
        info, tracks,
    )
    df = docs.withColumn("payload", F.unhex(mkv_hex))
    return matroska_metadata(df, "payload")


def q_doc_jpeg_roundtrip(spark, sf_dir):
    """REAL baseline-JPEG encode→decode roundtrip per row, inside an
    Arrow ``mapInPandas`` batch: deterministic flat greyscale images
    are Huffman-encoded (forward DCT + Annex-K tables,
    cubes_spark/llm/multimodal.py:encode_jpeg) and decoded back
    (full entropy decode + IDCT, decode_jpeg).  Flat images are
    DC-only streams, so reconstruction is EXACT and the oracle is
    closed-form in doc_id."""
    import pandas as pd

    from cubes_spark.llm.multimodal import (
        PIXEL_STATS_SCHEMA, decode_jpeg, encode_jpeg,
    )

    docs = _table(spark, sf_dir, "documents").select("doc_id")

    def roundtrip(batches):
        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [],
                   "n_samples": [], "sample_sum": []}
            for did in pdf["doc_id"]:
                did = int(did)
                w = 8 + (did % 3) * 8
                h = 8 + (did % 2) * 8
                v = (did * 37) % 256
                payload = encode_jpeg(w, h, [bytes([v]) * (w * h)])
                gw, gh, _nc, planes = decode_jpeg(payload)
                out["doc_id"].append(did)
                out["width"].append(gw)
                out["height"].append(gh)
                out["n_samples"].append(len(planes[0]))
                out["sample_sum"].append(sum(planes[0]))
            yield pd.DataFrame(out)

    return docs.mapInPandas(roundtrip, PIXEL_STATS_SCHEMA)


def q_doc_jpeg_progressive(spark, sf_dir):
    """REAL progressive (SOF2) JPEG decode end-to-end: per-block-flat
    greyscale images are encoded as THREE-scan progressive streams
    (DC first with successive approximation Al=1, DC refinement, full
    AC band — cubes_spark/llm/multimodal.py:encode_jpeg_progressive)
    and decoded back through the T.81 Annex-G coefficient-accumulation
    path (decode_jpeg).  Per-block-flat images are DC-only with even
    DC coefficients, so reconstruction is EXACT and the oracle is
    closed-form in doc_id."""
    import pandas as pd

    from cubes_spark.llm.multimodal import (
        PIXEL_STATS_SCHEMA, decode_jpeg, encode_jpeg_progressive,
    )

    docs = _table(spark, sf_dir, "documents").select("doc_id")

    def roundtrip(batches):
        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [],
                   "n_samples": [], "sample_sum": []}
            for did in pdf["doc_id"]:
                did = int(did)
                bw = 2 + did % 2                 # blocks across
                bh = 1 + did % 3                 # blocks down
                w, h = bw * 8, bh * 8
                plane = bytearray(w * h)
                for y in range(h):
                    for x in range(w):
                        plane[y * w + x] = \
                            (did * 31 + (x // 8) * 17
                             + (y // 8) * 29) % 256
                payload = encode_jpeg_progressive(w, h, bytes(plane))
                gw, gh, _nc, planes = decode_jpeg(payload)
                out["doc_id"].append(did)
                out["width"].append(gw)
                out["height"].append(gh)
                out["n_samples"].append(len(planes[0]))
                out["sample_sum"].append(sum(planes[0]))
            yield pd.DataFrame(out)

    return docs.mapInPandas(roundtrip, PIXEL_STATS_SCHEMA)


def q_xlsx_roundtrip(spark, sf_dir):
    """XLSX formatter verified through a REAL workbook round-trip: the
    dependency-free OOXML writer's zip is re-opened, the sheet XML
    parsed, and the recovered grid compared cell-for-cell against the
    SQL oracle (parity: reference formatters.py:114-130)."""
    import io
    import zipfile
    from xml.etree import ElementTree

    from cubes_spark.formatters import XLSXFormatter

    browser = _browser(spark, sf_dir)
    result = browser.aggregate(
        cell="date:1995", drilldown=["returnflag"],
        aggregates=["fact_count", "quantity_sum"],
    )
    payload = XLSXFormatter().format(browser.cube, result)
    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    with zipfile.ZipFile(io.BytesIO(payload)) as zf:
        sheet = zf.read("xl/worksheets/sheet1.xml").decode()
    grid = []
    for row in ElementTree.fromstring(sheet).findall(".//m:row", ns):
        values = []
        for cell in row.findall("m:c", ns):
            t = cell.find("m:is/m:t", ns)
            v = cell.find("m:v", ns)
            values.append(t.text if t is not None else v.text)
        grid.append(values)
    header = grid[0]
    assert header == ["returnflag.returnflag", "fact_count",
                      "quantity_sum"], header
    rows = [(r[0], int(float(r[1])), float(r[2])) for r in grid[1:]]
    return spark.createDataFrame(
        rows, schema='`returnflag.returnflag` string, fact_count long, '
                     'quantity_sum double')


def q_namespace_agg(spark, sf_dir):
    """Namespaced model resolution end-to-end: the sales model imported
    under namespace ``ext.demo``, browsed as ``ext.demo.sales`` —
    results identical to the root-namespace cube (parity: reference
    namespace lookup, /root/reference/cubes/namespace.py)."""
    ws = _ws(spark, sf_dir)
    key = ("__ns_demo__", id(spark), sf_dir)
    if key not in _browsers:
        from cubes_spark.demo import TPCH_MODEL

        ws.import_model(TPCH_MODEL, namespace="ext.demo")
        _browsers[key] = ws.browser("ext.demo.sales")
    df = _browsers[key].aggregation_dataframe(
        drilldown=["returnflag"],
        aggregates=["price_sum", "fact_count"],
    )
    return _lng(_dbl(df, "price_sum"), "fact_count")



def q_doc_line_dedup(spark, sf_dir):
    """C4-style corpus-global line dedup: 20-token lines, first
    occurrence (doc order, then position) survives, documents
    reassembled from surviving lines
    (cubes_spark/llm/text.py:line_dedup).  The oracle replays the
    same segmentation, the same integral first-occurrence window and
    the same reassembly in SQL."""
    from cubes_spark.llm import line_dedup

    docs = _table(spark, sf_dir, "documents")
    out = line_dedup(docs, line_tokens=20)
    return _lng(out, "doc_id", "n_lines", "n_lines_kept")


def q_doc_shuffle_shards(spark, sf_dir):
    """Deterministic global training-data shuffle: hash-derived shard
    + within-shard hash rank (cubes_spark/llm/text.py:shuffle_shards)
    — pseudo-random order, bit-reproducible with no RNG state."""
    from cubes_spark.llm import shuffle_shards

    docs = _table(spark, sf_dir, "documents")
    out = shuffle_shards(docs, num_shards=8)
    return _lng(out.select("doc_id", "shard", "position"),
                "doc_id", "position").withColumn(
        "shard", F.col("shard").cast("long"))


def q_doc_domain_cap(spark, sf_dir):
    """Per-domain document cap: top-10 docs per source by size
    (deterministic ties by id) — the anti-concentration step of web
    curation (cubes_spark/llm/text.py:cap_per_domain)."""
    from cubes_spark.llm import cap_per_domain

    docs = _table(spark, sf_dir, "documents")
    out = cap_per_domain(docs, domain_col="source", max_per_domain=10,
                         quality_col="n_chars")
    return _lng(out.select("doc_id", "source", "n_chars"),
                "doc_id", "n_chars")



def q_emb_semdedup_greedy(spark, sf_dir):
    """SemDeDup with the paper's EXACT sequential-greedy keep-set,
    distributed as bounded decidability rounds (a vector decides once
    all its lower-id near neighbours have; kept iff none kept) —
    on transitive chains this keeps what the one-pass rule
    over-removes (cubes_spark/llm/similarity.py:semantic_dedup_greedy).
    The oracle unrolls the same rounds as chained CTEs, so both
    engines compute the identical bounded fixed point."""
    from cubes_spark.llm import semantic_dedup_greedy

    emb = _table(spark, sf_dir, "embeddings")
    out = semantic_dedup_greedy(emb, threshold=0.35, nlist=16, seed=42,
                                sample_size=4096, max_rounds=8)
    return out.select(
        "vec_id", "cluster",
        F.col("is_kept").cast("int").cast("long").alias("is_kept"),
    )



def q_emb_semdedup_auto(spark, sf_dir):
    """The SemDeDup PRODUCTION default: ``nlist=None`` resolves via
    the bounded-expected-cell auto rule (cell ≈ 128, so total
    within-cell pair work grows LINEARLY with the corpus — the
    100 TB path, measured 2.9×/decade vs 59×/decade pinned at sf1→10)
    rather than the pinned nlist=16 of emb_semdedup.  The oracle
    recomputes the same nlist from the same corpus count and retrains
    identically (cubes_spark/llm/similarity.py:_auto_nlist)."""
    from cubes_spark.llm import semantic_dedup

    emb = _table(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, threshold=0.35, nlist=None, seed=42,
                         sample_size=4096)
    return out.select(
        "vec_id", "cluster",
        F.col("is_kept").cast("int").cast("long").alias("is_kept"),
    )


def q_doc_tfidf(spark, sf_dir):
    """Per-document TF-IDF keywords: top-5 terms by tf * smoothed-IDF
    with deterministic ties (cubes_spark/llm/text.py:tfidf_keywords).
    The oracle recomputes tf, df, N and ln((N+1)/(df+1)) in SQL —
    float-exact because both engines compute the same double
    expression."""
    from cubes_spark.llm import tfidf_keywords

    docs = _table(spark, sf_dir, "documents")
    out = tfidf_keywords(docs, top_k=5)
    return _lng(out, "doc_id", "tf", "rank")



def q_doc_embed(spark, sf_dir):
    """Feature-hashing document embeddings (hashing trick): token ->
    +/-1 on component hash64(token) mod dim, L2-normalized — the
    in-engine text->vector step that feeds the ANN / semantic-dedup
    family (cubes_spark/llm/text.py:feature_hash_embed).  The oracle
    replays both md5-derived hashes and the same fold in SQL; compared
    via the rounded vector component at doc_id mod dim plus the exact
    count of non-zero components."""
    from cubes_spark.llm import feature_hash_embed

    docs = _table(spark, sf_dir, "documents")
    out = feature_hash_embed(docs, dim=16)
    comp = (F.col("doc_id") % 16).cast("int")
    return _lng(
        out.select(
            "doc_id",
            F.round(F.element_at("embedding", comp + 1), 6)
            .alias("probe_component"),
            F.aggregate(
                "embedding", F.lit(0).cast("long"),
                lambda acc, x: acc
                + F.when(x != 0.0, 1).otherwise(0).cast("long"))
            .alias("n_nonzero"),
        ),
        "doc_id", "n_nonzero")



def q_doc_quality_model(spark, sf_dir):
    """LEARNED quality filter (DCLM/fastText-filter shape): logistic
    regression over the engine's text statistics, trained driver-side
    on the first-256-docs sample with the rule-based quality score as
    weak labels, scored as a pure-JVM dot product
    (cubes_spark/llm/quality.py).  The oracle retrains the identical
    model from the identical rounded features via DuckDB + the same
    numpy IRLS, then replays the scoring with weight literals — the
    logit is a bit-identical double on both engines (same IEEE op
    order); the sigmoid is exposed to users but not compared (exp()
    rounding is engine-specific)."""
    from cubes_spark.llm import (
        score_quality_classifier,
        train_quality_classifier,
    )

    docs = _table(spark, sf_dir, "documents")
    weights = train_quality_classifier(docs, sample_size=256)
    out = score_quality_classifier(docs, weights)
    return _lng(
        out.select(
            "doc_id",
            F.round("logit", 6).alias("logit"),
            (F.col("logit") > 0).cast("int").cast("long")
            .alias("label"),
        ),
        "doc_id", "label")


def q_drill_across(spark, sf_dir):
    """Drill-across (operators/olap.py:drill_across): the sales and
    sales_outer cubes aggregated to the SAME conformed returnflag
    grain and full-outer-joined — Kimball's multi-fact query, which
    the reference (one cube per query) cannot express.  Each side is
    its own grain-sized cuboid; the join is grain-cardinality, never
    fact-to-fact."""
    from cubes_spark.operators.olap import drill_across

    ws = _ws(spark, sf_dir)
    out = drill_across(
        [(ws.browser("sales"), ["price_sum", "fact_count"]),
         (ws.browser("sales_outer"), ["quantity_sum", "dqty_sum"])],
        drilldown=["returnflag"],
    )
    return _lng(
        _dbl(out, "sales_price_sum", "sales_outer_quantity_sum",
             "sales_outer_dqty_sum"),
        "sales_fact_count")


def q_emb_pq(spark, sf_dir):
    """Product-quantization ADC top-k (llm/similarity.py:pq_topk;
    Jégou et al. 2011): corpus vectors encoded to 8 codewords (32x
    memory cut), queries scan codes with asymmetric distances —
    the in-cell scan of an IVF-PQ index.  Codebooks train on the
    deterministic id-ordered sample; distances are int64 sums of
    1e-12-quantized subspace terms, so the oracle retrains the same
    codebooks and replays encode + ADC bit-exactly."""
    from cubes_spark.llm import pq_topk

    emb = _table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return pq_topk(emb, queries, k=5, exclude_self=True)


def q_doc_ssjoin(spark, sf_dir):
    """EXACT set-similarity self-join (llm/dedup.py:
    jaccard_similarity_join, AllPairs prefix filtering): every pair
    of documents with token-set Jaccard >= 0.95, integer-verified —
    the oracle is the BRUTE-FORCE all-pairs scan, so a hash match
    proves the prefix filter missed nothing (recall exactly 1.0,
    unlike MinHash)."""
    from cubes_spark.llm import jaccard_similarity_join

    docs = _table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 300).select("doc_id", "text")
    return jaccard_similarity_join(docs, threshold=0.95)


def q_events_twap(spark, sf_dir):
    """Time-weighted average (TWAP): each user-day's value states
    weighted by how long they held (event until next event; the last
    holds to midnight).  All arithmetic is INTEGER — value in cents ×
    duration in µs sums exactly at any parallelism (a float TWAP's
    partial-sum order would break bit-parity).  One user-keyed window
    + one groupBy."""
    from pyspark.sql import Window

    ev = _table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    day = F.date_trunc("day", F.col("ts"))
    w = Window.partitionBy("user_id", day).orderBy("ts", "event_id")
    day_end = F.unix_micros(day + F.expr("INTERVAL 24 HOURS"))
    next_ts = F.coalesce(F.unix_micros(F.lead("ts").over(w)), day_end)
    dur_us = next_ts - F.unix_micros(F.col("ts"))
    v_cents = F.round(F.col("value") * 100).cast("long")
    weighted = ev.select(
        "user_id", day.alias("day"),
        (v_cents * dur_us).alias("__wv__"),
        dur_us.alias("__d__"),
    )
    return weighted.groupBy("user_id", "day").agg(
        F.sum("__wv__").cast("long").alias("weighted_cents_us"),
        F.sum("__d__").cast("long").alias("held_us"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


def q_doc_communities(spark, sf_dir):
    """Label-propagation communities (llm/web.py:label_propagation)
    over an in-plan ring graph (blocks of 50 docs): 3 synchronous
    rounds, most-frequent-neighbor labels with min tie-break —
    deterministic at any parallelism; the oracle unrolls the same
    rounds in SQL (MATERIALIZED per round)."""
    from cubes_spark.llm import label_propagation

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        F.col("doc_id").alias("src"),
        (F.expr("doc_id div 50") * 50
         + (F.col("doc_id") % 50 + 1) % 50).alias("dst"),
    )
    return label_propagation(edges, rounds=3).select(
        F.col("node").cast("long").alias("node"),
        F.col("label").cast("long").alias("label"))


def q_events_anomaly(spark, sf_dir):
    """Time-series anomaly scoring: hourly error counts z-scored
    against the trailing 24-hour window (exclusive of the current
    hour — scoring a point against a baseline that contains it mutes
    the anomaly).  Quantized z in integer 1e-4 units for exact
    parity; flagged at |z| > 3.  Grain-bounded window work over the
    pre-aggregated hourly series."""
    from pyspark.sql import Window

    ev = _table(spark, sf_dir, "events")
    hourly = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.orderBy("hour").rowsBetween(-24, -1)
    mean = F.avg(F.col("n").cast("double")).over(w)
    nw = F.count("n").over(w).cast("double")
    s = F.sum(F.col("n").cast("double")).over(w)
    s2 = F.sum((F.col("n") * F.col("n")).cast("double")).over(w)
    var = F.when(nw < 2, F.lit(0.0)).otherwise(
        (s2 - s * s / nw) / (nw - F.lit(1.0)))
    std = F.sqrt(var)
    z = F.when(std > 0,
               (F.col("n").cast("double") - mean) / std)
    out = hourly.select(
        "hour", "n",
        F.round(z * 10000).cast("long").alias("z_q"),
        (F.abs(F.coalesce(z, F.lit(0.0))) > 3).alias("is_anomaly"),
    )
    return out


def q_events_paths(spark, sf_dir):
    """Event path analysis (funnel discovery): the 50 most common
    3-step event-type sequences across user journeys — two leads over
    the per-user ordered stream, then a count.  One user-keyed window
    shuffle + one path groupBy; paths, not users, bound the output."""
    from pyspark.sql import Window

    ev = _table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.withColumn("e2", F.lead("event_type", 1).over(w))
        .withColumn("e3", F.lead("event_type", 2).over(w))
        .filter(F.col("e3").isNotNull())
        .select(F.concat_ws(">", "event_type", "e2", "e3")
                .alias("path"))
        .groupBy("path").agg(F.count(F.lit(1)).cast("long")
                             .alias("n_paths"))
    )
    top = paths.orderBy(F.col("n_paths").desc(),
                        F.col("path").asc()).limit(50)
    w2 = Window.orderBy(F.col("n_paths").desc(), F.col("path").asc())
    return top.withColumn("rank",
                          F.row_number().over(w2).cast("long"))


def q_profile_orders(spark, sf_dir):
    """Column profiling (data-quality report): per-column null count,
    approx-free exact distinct count, min/max as strings — one
    aggregate pass per metric family over the orders table, unioned
    into a per-column report.  The profiling shape every ingestion
    pipeline runs before trusting a feed."""
    ev = _table(spark, sf_dir, "orders")
    parts = []
    for c in ["o_orderkey", "o_custkey", "o_orderstatus",
              "o_totalprice", "o_orderpriority"]:
        col = F.col(c)
        parts.append(ev.agg(
            F.lit(c).alias("column"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(col.isNull().cast("long")).cast("long")
            .alias("n_null"),
            F.countDistinct(col).cast("long").alias("n_distinct"),
            F.min(col).cast("string").alias("min_value"),
            F.max(col).cast("string").alias("max_value"),
        ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_events_scd2(spark, sf_dir):
    """SCD Type-2 history collapse (operators/olap.py:scd2_collapse):
    each user's event-type change log becomes versioned dimension
    rows with valid_from/valid_to/is_current — lag-based change
    detection, running-sum versioning, lead-based intervals; one
    key-partitioned shuffle, no self-joins.  Oracle replays the same
    windows in SQL."""
    from cubes_spark.operators.olap import scd2_collapse

    ev = _table(spark, sf_dir, "events").filter(
        F.col("user_id") < 30).select(
        "user_id", "ts", "event_id", "event_type")
    out = scd2_collapse(ev, ["user_id"], ["event_type"], "ts",
                        order_extra=["event_id"])
    return out.select("user_id", "event_type", "valid_from",
                      "valid_to", "is_current", "version")


def q_sql_view(spark, sf_dir):
    """Raw-SQL access to the cube (Workspace.register_sql_views): the
    denormalized star exposed as a LAZY temp view, aggregated with
    plain spark.sql — columns prune and filters push down to the
    scans (dimension joins remain, broadcast-sized; the browser's
    star builder is the join-pruned path), and the result equals the
    plain SQL over the raw tables."""
    ws = _ws(spark, sf_dir)
    ws.register_sql_views(cubes=["sales"])
    return spark.sql("""
        SELECT date__year AS year,
            CAST(SUM(CAST(quantity AS DECIMAL(20,2))) AS DOUBLE)
                AS quantity_sum,
            CAST(COUNT(*) AS BIGINT) AS fact_count
        FROM cube_sales GROUP BY 1""")


def q_parent_child(spark, sf_dir):
    """Ragged parent-child hierarchy flattening (operators/olap.py:
    flatten_parent_child): a 4-level customer reporting chain
    (parent = custkey div 10) resolved to (id, root, depth) by
    pointer jumping — log2(depth) self-join rounds, not depth rounds;
    the oracle is DuckDB's WITH RECURSIVE walking every chain."""
    from cubes_spark.operators.olap import flatten_parent_child

    cust = _table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.when(F.col("c_custkey") >= 10,
               F.expr("c_custkey div 10")).alias("parent"))
    return flatten_parent_child(cust, "id", "parent", max_depth=64)


def q_events_stream_hh(spark, sf_dir):
    """Streaming heavy hitters: a per-day count-min grid built
    INCREMENTALLY over the watermarked event stream (state = 2×64
    counters per window regardless of key cardinality), replayed to
    completion and compared cell-for-cell against the batch SQL grid
    — streaming == batch == oracle for a sketch, not just a sum."""
    from cubes_spark.functions.sketches import countmin_sketch
    from cubes_spark.streaming import read_parquet_stream, \
        replay_to_memory

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = read_parquet_stream(spark, f"{sf_dir}/events.parquet")
    grid = countmin_sketch(stream, "user_id", depth=2, width=64,
                           window="1 day", ts_col="ts",
                           watermark="2 hours")
    result = replay_to_memory(grid, "q_events_stream_hh")
    return result.select("window_start", "row", "bucket", "n")


def q_events_bloom(spark, sf_dir):
    """Bloom-filter membership (functions/sketches.py): the set of
    users with any purchase over 90 summarized into a 4096-bit /
    128-word filter, probed for every distinct user.  The entry emits
    the no-false-negative proof per row (a member may never probe
    false); the md5-derived bit grid replays integer-exactly in
    SQL, false positives and all."""
    from cubes_spark.functions.sketches import (
        bloom_build,
        bloom_contains,
    )

    ev = _table(spark, sf_dir, "events")
    members = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 90)
    ).select("user_id").distinct()
    bloom = bloom_build(members, "user_id")
    probes = ev.select("user_id").distinct()
    probed = bloom_contains(bloom, probes, "user_id")
    actual = members.withColumn("actual", F.lit(True))
    out = probed.join(actual, "user_id", "left").withColumn(
        "actual", F.coalesce(F.col("actual"), F.lit(False)))
    return out.select(
        "user_id", "maybe_present", "actual",
        (F.col("maybe_present") | ~F.col("actual"))
        .alias("no_false_neg"))


def q_events_countmin(spark, sf_dir):
    """Count-min heavy hitters (functions/sketches.py): a 4×256 grid
    over event user_ids, point-estimated for every distinct user and
    compared against the exact counts — the estimate can only
    overestimate (cm_ok asserts it per row), and the md5-derived grid
    replays integer-exactly in SQL."""
    from cubes_spark.functions.sketches import (
        countmin_estimates,
        countmin_sketch,
    )

    ev = _table(spark, sf_dir, "events")
    sketch = countmin_sketch(ev, "user_id")
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_n"))
    est = countmin_estimates(sketch, exact, "user_id")
    return est.select(
        "user_id", "exact_n", "cm_estimate",
        (F.col("cm_estimate") >= F.col("exact_n")).alias("cm_ok"))


def q_fuzzy_names(spark, sf_dir):
    """Fuzzy entity resolution (llm/dedup.py:fuzzy_pairs): customer
    names within Levenshtein distance 1, found by FastSS
    deletion-neighborhood blocking + single-shuffle bucket pairs.
    The oracle is the BRUTE-FORCE all-pairs scan — a hash match
    proves the blocking missed nothing (FastSS completeness), not
    just that verified pairs are right."""
    from cubes_spark.llm import fuzzy_pairs

    cust = _table(spark, sf_dir, "customer") \
        .filter(F.col("c_custkey") <= 300) \
        .select(F.col("c_custkey").alias("doc_id"),
                F.col("c_name").alias("name"))
    return fuzzy_pairs(cust, col="name").select(
        "id_a", "id_b", "distance")


def q_topk_per_region(spark, sf_dir):
    """Per-group top-N (operators/olap.py:top_n_per_group): the three
    highest-revenue customers of each region — ranked over the
    ALREADY-AGGREGATED customer grain, so the window's per-partition
    state is customers, not facts."""
    from cubes_spark.operators.olap import top_n_per_group

    df = _browser(spark, sf_dir).aggregation_dataframe(
        drilldown=["customer_geo:customer"],
        aggregates=["price_sum"],
    )
    out = top_n_per_group(
        df, ["customer_geo.region_key"],
        [F.col("price_sum").desc(),
         F.col("`customer_geo.customer_key`").asc()],
        n=3)
    out = out.select(
        "`customer_geo.region_key`", "`customer_geo.nation_key`",
        "`customer_geo.customer_key`", "price_sum", "rank")
    return _lng(
        _dbl(out, "price_sum"),
        "customer_geo.region_key", "customer_geo.nation_key",
        "customer_geo.customer_key")


def q_events_gap_fill(spark, sf_dir):
    """Dense time spine (operators/olap.py:fill_time_gaps): hourly
    error-event counts with every empty hour present as an explicit
    zero row — a plain GROUP BY cannot emit absent hours; the spine
    is a sequence() explode of the 2-value min/max row, never a fact
    rescan."""
    from cubes_spark.operators.olap import fill_time_gaps

    ev = _table(spark, sf_dir, "events")
    hourly = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_errors"))
    )
    filled = fill_time_gaps(hourly, "hour", step="1 hour")
    return filled.select(
        "hour", F.col("n_errors").cast("long").alias("n_errors"))


def q_compact_roundtrip(spark, sf_dir):
    """Small-files compaction (operators/scale.py:compact_table): the
    events table written as 64 tiny files, compacted in place, then
    re-read — the entry returns the per-type value sums plus the
    compaction's file-count proof (files shrank to the byte-sized
    target; data bit-identical), so a green row certifies the rewrite
    lost nothing."""
    import glob
    import os
    import tempfile

    from cubes_spark.operators.scale import compact_table

    ev = _table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    path = os.path.join(tempfile.mkdtemp(prefix="compact_"), "ev")
    ev.repartition(64).write.mode("overwrite").parquet(path)
    files_before = len(glob.glob(os.path.join(path, "*.parquet")))
    compact_table(spark, path, target_file_mb=256)
    files_after = len(glob.glob(os.path.join(path, "*.parquet")))
    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(20,2)")).cast("double")
        .alias("value_sum"),
        F.min("event_id").cast("long").alias("min_id"),
        F.max("event_id").cast("long").alias("max_id"),
    ).withColumn(
        "compacted_ok",
        F.lit(bool(files_after < files_before and files_after >= 1)))


def q_emb_pq_recall(spark, sf_dir):
    """Driver signal for the PQ scale-path quality: recall@1 of the
    ADC scan vs the exact cosine top-1 on the planted near-duplicate
    queries — same auditable-count shape as emb_ivf_recall.  The
    oracle retrains identical codebooks on the identically-constructed
    augmented sample and replays encode + ADC + the exact ranking."""
    from cubes_spark.llm import pq_topk

    corpus = _augmented_embeddings(spark, sf_dir)
    queries = corpus.filter(F.col("vec_id") >= _PLANT_OFFSET)
    exact = cosine_topk(corpus, queries, k=1).select(
        "query_id", "neighbor_id")
    approx = (
        pq_topk(corpus, queries, k=1, exclude_self=True)
        .select("query_id", "neighbor_id")
        .withColumn("__hit__", F.lit(1))
    )
    marked = exact.join(approx, ["query_id", "neighbor_id"], "left")
    agg = marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.sum(F.coalesce(F.col("__hit__"), F.lit(0)))
        .cast("long").alias("n_hit"),
    )
    return agg.select(
        "n_exact", "n_hit",
        F.expr("n_hit * 10000 div n_exact").alias("recall_bp"),
        (F.col("n_hit") * 10 >= F.col("n_exact") * 8).alias("recall_ok"),
    )


def q_doc_dsir_sample(spark, sf_dir):
    """DSIR Gumbel-top-k resampling (llm/quality.py:dsir_resample):
    64 docs sampled without replacement proportional to the
    importance weight, with per-document md5-seeded Gumbel noise —
    deterministic, partition-invariant, and the oracle replays the
    identical hash/ln arithmetic."""
    from cubes_spark.llm import (
        dsir_bucket_counts_pair,
        dsir_log_ratios,
        dsir_resample,
        dsir_score,
    )

    docs = _table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text")
    ratios_q = dsir_log_ratios(
        *dsir_bucket_counts_pair(docs, F.col("lang") == "en",
                                 dim=128))
    scored = dsir_score(docs, ratios_q)
    out = dsir_resample(scored, k=64)
    return out.select("doc_id", "lang", "dsir_score_q",
                      "gumbel_key", "rank")


#: fixed query for the BM25 retrieval entry
_BM25_TERMS = ["customer", "query", "stream", "vector"]


def q_doc_bm25(spark, sf_dir):
    """BM25 keyword retrieval (llm/text.py:bm25_search): top-20 docs
    for a fixed 4-term query.  Postings are filtered to the query
    terms before any shuffle; per-term contributions quantize to
    int64 1e-9 units so the document score is an exact sum at any
    parallelism; top-k via TakeOrdered, rank window only over the 20
    survivors.  The oracle recomputes df/idf/avgdl independently and
    replays the same IEEE expression order."""
    from cubes_spark.llm import bm25_search

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_search(docs, _BM25_TERMS, top_k=20)


def q_doc_dsir(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169;
    cubes_spark/llm/quality.py): hashed unigram+bigram importance
    weights ``log p_target - log p_raw`` with the English subset as
    the target distribution.  Counting is distributed with a
    dim-bounded collect; scoring is one JVM fold per document over a
    128-entry literal ratio array, quantized to int64 1e-6 units so
    the sum is exact at any parallelism.  The oracle independently
    recounts both distributions in DuckDB and replays the scoring."""
    from cubes_spark.llm import (
        dsir_bucket_counts_pair,
        dsir_log_ratios,
        dsir_score,
    )

    docs = _table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text")
    target_counts, raw_counts = dsir_bucket_counts_pair(
        docs, F.col("lang") == "en", dim=128)
    ratios_q = dsir_log_ratios(target_counts, raw_counts)
    out = dsir_score(docs, ratios_q)
    return out.select("doc_id", "lang", "dsir_score_q", "n_grams")


# ---------------------------------------------------------------------------
# driver surface
# ---------------------------------------------------------------------------


def q_slicer_http_agg(spark, sf_dir):
    """Remote Slicer store loopback (sources/slicer.py SlicerHTTPStore
    + SlicerBrowser; parity: reference server/store.py SlicerStore,
    server/browser.py SlicerBrowser): hosts this workspace's own HTTP
    server on an ephemeral loopback port, federates it into a SECOND
    workspace via import_slicer, and runs the yearly aggregate
    REMOTELY — a real urllib round-trip; the relayed cells must equal
    the base SQL the local browser would produce."""
    import threading

    from werkzeug.serving import make_server

    from cubes_spark.server import create_server
    from cubes_spark.sources.workspace import Workspace

    app = create_server(_ws(spark, sf_dir))
    server = make_server("127.0.0.1", 0, app)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        ws = Workspace(spark)
        ws.import_slicer(f"http://127.0.0.1:{server.server_port}",
                         cubes=["sales"])
        result = ws.browser("sales").aggregate(
            drilldown=["date:year"],
            aggregates=["quantity_sum", "price_sum", "fact_count"])
        cells = list(result.cells)
    finally:
        server.shutdown()
        thread.join(timeout=5)
    rows = [(int(c["date.year"]), float(c["quantity_sum"]),
             float(c["price_sum"]), int(c["fact_count"]))
            for c in cells]
    return spark.createDataFrame(
        rows, "`date.year` long, quantity_sum double, "
              "price_sum double, fact_count long")


def q_lineitem_hll(spark, sf_dir):
    """HyperLogLog distinct-count sketch (functions/sketches.py:
    hll_registers/hll_estimate; Flajolet et al. 2007): per returnflag,
    exact distinct order count vs the integer-exact HLL estimate from
    256 mergeable registers.  The md5-split bucket/rank arithmetic and
    the harmonic-sum estimate are pure integers, so the oracle rebuilds
    the identical registers AND estimate; hll_ok asserts the ±25%
    band (m=256 → σ≈6.5%)."""
    from cubes_spark.functions.sketches import (
        hll_estimate,
        hll_registers,
    )

    li = _table(spark, sf_dir, "lineitem")
    regs = hll_registers(li, "l_orderkey", ["l_returnflag"])
    est = hll_estimate(regs, ["l_returnflag"])
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").cast("long").alias("n_exact"))
    out = exact.join(est, "l_returnflag")
    return out.select(
        "l_returnflag", "n_exact", "hll_est",
        (F.abs(F.col("hll_est") - F.col("n_exact")) * 4
         <= F.col("n_exact")).alias("hll_ok"))


def q_basket_pairs(spark, sf_dir):
    """Market-basket co-occurrence (operators/olap.py:basket_pairs;
    association-rule support/lift): part pairs ordered together in
    >= 2 orders, with per-item supports and integer-basis-point lift.
    One equi-self-join on the basket key — work bounded by basket
    width, never |items|²."""
    from cubes_spark.operators.olap import basket_pairs

    li = _table(spark, sf_dir, "lineitem")
    out = basket_pairs(li, "l_orderkey", "l_partkey", min_count=2)
    return _lng(out, "item_a", "item_b")


def q_events_seasonality(spark, sf_dir):
    """Hour-of-day seasonal index per event type in exact ppm
    (cubes_spark/operators/olap.py:seasonality_profile): slot mean vs
    group mean by integer cross-multiplication — the load-curve
    profile with no double division anywhere."""
    from cubes_spark.operators.olap import seasonality_profile

    ev = _table(spark, sf_dir, "events")
    return seasonality_profile(ev, ["event_type"], "ts", "value",
                               slot="hour_of_day")


def q_orders_abc(spark, sf_dir):
    """ABC / Pareto customer classification
    (cubes_spark/operators/olap.py:abc_classification): descending
    cumulative revenue share per value tie-group off the weighted
    two-phase histogram — A ≤ 80%, B ≤ 95%, C above, all-integer
    basis points, no global sort-rank."""
    from cubes_spark.operators.olap import abc_classification

    orders = _table(spark, sf_dir, "orders")
    return abc_classification(orders, "o_custkey", "o_totalprice")


def q_doc_readability(spark, sf_dir):
    """Integer milli-point Flesch-shape readability
    (llm/text.py:readability_scores): floor-division semantics make
    the classic words/sentences + syllables/words formula exact and
    engine-portable; vowel-group syllables, terminal-punctuation
    sentences."""
    from cubes_spark.llm import readability_scores

    docs = _table(spark, sf_dir, "documents")
    return readability_scores(docs, "text")


def q_doc_diversity(spark, sf_dir):
    """Per-document Gini–Simpson lexical diversity in exact ppm
    (llm/text.py:token_diversity): (n² − Σc²)/n² over token counts —
    the all-rational repetition/boilerplate signal (no logs)."""
    from cubes_spark.llm import token_diversity

    docs = _table(spark, sf_dir, "documents")
    return token_diversity(docs, "text")


def q_source_overlap(spark, sf_dir):
    """Pairwise corpus-slice content overlap
    (llm/dedup.py:source_shingle_overlap): Jaccard of each source
    pair's distinct 5-char shingle sets in basis points — dedupe to
    the (source, shingle) grain first, so per-shingle join work is
    bounded by the slice count, never the corpus."""
    from cubes_spark.llm import source_shingle_overlap

    docs = _table(spark, sf_dir, "documents")
    return source_shingle_overlap(docs, "source", "text", k=5)


def q_lineitem_iqr(spark, sf_dir):
    """Per-returnflag Tukey-fence outlier counts on exact integer
    quartiles (cubes_spark/operators/olap.py:grouped_iqr_outliers):
    Q1/Q3 as rank-based order statistics inside each group's
    partition window, fences compared in doubled cents so 1.5·IQR
    stays integral."""
    from cubes_spark.operators.olap import grouped_iqr_outliers

    li = _table(spark, sf_dir, "lineitem")
    return grouped_iqr_outliers(li, ["l_returnflag"],
                                "l_extendedprice")


def q_events_winfunnel(spark, sf_dir):
    """Time-constrained funnel signup → view → purchase within 24h
    (cubes_spark/operators/olap.py:window_funnel; ClickHouse
    windowFunnel shape, earliest-chain semantics): per user the first
    signup, then the first later view, then the first later purchase
    — depth counts links whose time from the signup stays inside the
    window, stopping at the first miss."""
    from cubes_spark.operators.olap import window_funnel

    ev = _table(spark, sf_dir, "events")
    return window_funnel(ev, "user_id", "ts", "event_type",
                         ["signup", "view", "purchase"],
                         window_seconds=86400)


def q_events_cusum(spark, sf_dir):
    """Per-type CUSUM changepoint estimate over hourly value sums
    (cubes_spark/operators/olap.py:cusum_changepoint; Page 1954):
    scaled integer cusum n·P_i − i·T, argmax |s| with earliest-bucket
    ties — level-shift location with zero double arithmetic."""
    from cubes_spark.operators.olap import cusum_changepoint

    ev = _table(spark, sf_dir, "events")
    return cusum_changepoint(ev, ["event_type"], "ts", "value",
                             bucket="hour")


def q_doc_pmi(spark, sf_dir):
    """Adjacent-bigram collocations scored by the integer PMI
    association ratio (llm/text.py:pmi_collocations; Church & Hanks
    1990): lift_ppm = 10^6·c_ab·N div (c_a·c_b) — exact ppm, no
    double logs, pairs under 5 occurrences dropped."""
    from cubes_spark.llm import pmi_collocations

    docs = _table(spark, sf_dir, "documents")
    return pmi_collocations(docs, "text", min_count=5)


def q_part_kcore(spark, sf_dir):
    """k-core peeling (llm/web.py:kcore_subgraph; Seidman 1983) over
    the part-affinity graph: 3 synchronous peel rounds at k=3 — the
    density filter that keeps only parts whose co-order neighbourhood
    stays >= 3-connected after weak nodes drop.  Fixed rounds make
    the state SQL-unrollable (label_propagation's oracle strategy);
    production uses until_converged=True."""
    from cubes_spark.llm.web import kcore_subgraph
    from cubes_spark.operators.olap import basket_pairs

    li = _table(spark, sf_dir, "lineitem")
    edges = basket_pairs(li, "l_orderkey", "l_partkey",
                         min_count=2).select("item_a", "item_b")
    return _lng(kcore_subgraph(edges, k=3, rounds=3,
                               src="item_a", dst="item_b"), "node")


def q_orders_gini(spark, sf_dir):
    """Revenue-concentration Gini over per-customer order totals
    (cubes_spark/operators/olap.py:gini_concentration): exact
    integer basis points from the cumulative value histogram —
    tied values contribute their rank-run total in closed form, so
    no global sort-rank ever runs."""
    from cubes_spark.operators.olap import gini_concentration

    orders = _table(spark, sf_dir, "orders")
    return gini_concentration(orders, "o_custkey", "o_totalprice")


def q_events_seqmatch(spark, sf_dir):
    """Event-sequence pattern detection
    (cubes_spark/operators/olap.py:sequence_match; ClickHouse
    sequenceCount family): per user, events become a code string in
    strict (ts, event_id) order and 'vc*p' (view, any clicks,
    purchase) is counted non-overlapping; position of the first
    conversion included."""
    from cubes_spark.operators.olap import sequence_match

    ev = _table(spark, sf_dir, "events")
    return sequence_match(
        ev, "user_id", "ts", "event_type", "vc*p",
        codes={"view": "v", "click": "c", "purchase": "p",
               "signup": "s", "error": "e"},
        tiebreak_col="event_id")


def q_events_markov(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences (cubes_spark/operators/olap.py:markov_transitions):
    adjacent (state → next) pairs under deterministic (ts, event_id)
    order, transition probability as exact integer ppm — the
    "what happens after X" model, no double ratios anywhere."""
    from cubes_spark.operators.olap import markov_transitions

    ev = _table(spark, sf_dir, "events")
    return markov_transitions(ev, "user_id", "ts", "event_type",
                              tiebreak_col="event_id")


def q_orders_streaks(spark, sf_dir):
    """Gaps-and-islands longest consecutive-month order streak per
    customer (cubes_spark/operators/olap.py:longest_streak): islands
    via the month_index − row_number constant, earliest-run
    tiebreak, streak start reported as (year, month)."""
    from cubes_spark.operators.olap import longest_streak

    orders = _table(spark, sf_dir, "orders")
    return longest_streak(orders, "o_custkey", "o_orderdate")


def q_orders_mad(spark, sf_dir):
    """Per-priority median absolute deviation of order totals in
    exact cents (cubes_spark/operators/olap.py:grouped_mad; Hampel
    1974): both medians are percentile_disc order statistics from
    group-partitioned rank windows — robust dispersion with zero
    interpolation."""
    from cubes_spark.operators.olap import grouped_mad

    orders = _table(spark, sf_dir, "orders")
    return grouped_mad(orders, ["o_orderpriority"], "o_totalprice")


def q_events_attribution(spark, sf_dir):
    """Last-touch conversion attribution
    (cubes_spark/operators/olap.py:last_touch_attribution): each
    purchase credits the most recent strictly-preceding
    view/click/signup by the same user within 24h (microsecond-exact
    gap; no touch → '(none)'), via a last-ignore-nulls running window
    — never a per-conversion scan-back join."""
    from cubes_spark.operators.olap import last_touch_attribution

    ev = _table(spark, sf_dir, "events")
    return last_touch_attribution(
        ev, "user_id", "ts", "event_type", conversion="purchase",
        channels=["view", "click", "signup"],
        window_seconds=24 * 3600, tiebreak_col="event_id")


def q_lineitem_hilbert(spark, sf_dir):
    """Hilbert-curve clustering key (operators/scale.py:
    hilbert_value; the stronger-locality sibling of Z-order — the
    layout idea behind liquid clustering): per 256th of the curve
    over (l_partkey, l_suppkey), row count and min/max envelope of
    both dimensions.  The Spark side runs the xy2d walk as a
    vectorized Arrow batch (the chained-projection SQL form hit a
    measured whole-stage-codegen blowup — see hilbert_value); the
    oracle replays the engine-portable unrolled-SQL spec
    (hilbert_step_exprs with DuckDB's // division), and both produce
    bit-identical curve values."""
    from cubes_spark.operators.scale import hilbert_value

    li = _table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey")
    h = hilbert_value(li, ["l_partkey", "l_suppkey"], bits=16)
    return (
        h.groupBy(F.expr("h div 16777216").alias("h_bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.min("l_partkey").alias("min_part"),
             F.max("l_partkey").alias("max_part"),
             F.min("l_suppkey").alias("min_supp"),
             F.max("l_suppkey").alias("max_supp"))
    )


def q_doc_hits(spark, sf_dir):
    """Integer fixed-point HITS hubs/authorities (llm/web.py:
    hits_scores; Kleinberg 1999) over the synthetic directed doc
    graph (doc_id → (5·id+3) mod n and (7·id+1) mod n): sum-
    normalized per half-iteration in 1/10^12 units, 2 iterations
    unrolled — bit-identical at any parallelism, like
    link_pagerank."""
    from cubes_spark.llm.web import hits_scores

    docs = _table(spark, sf_dir, "documents")
    n = docs.count()
    edges = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 5 + 3) % n).alias("dst")).union(
        docs.select(F.col("doc_id"),
                    (F.col("doc_id") * 7 + 1) % n))
    return _lng(hits_scores(edges, iterations=2), "node")


def q_events_balance(spark, sf_dir):
    """Floor-clamped running balance per user (operators/olap.py:
    clamped_running_sum): value deltas in cents, errors negative; the
    zero-floor recurrence B_i = max(B_{i-1}+x_i, 0) computed by its
    prefix-sum closed form (two running windows — no stateful UDF),
    summarized per user with the final balance and clamp count."""
    from cubes_spark.operators.olap import clamped_running_sum

    ev = _table(spark, sf_dir, "events").withColumn(
        "__d__",
        (F.round(F.col("value") * 100).cast("long")
         * F.when(F.col("event_type") == "error", -1).otherwise(1))
        .cast("long"))
    bal = clamped_running_sum(ev, "user_id", "ts", "__d__",
                              tiebreak_col="event_id")
    return (bal.groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.max(F.struct("ts", "event_id", "balance"))
                 .getField("balance").cast("long")
                 .alias("final_balance"),
                 F.sum(F.col("clamped").cast("long")).cast("long")
                 .alias("n_clamps")))


def q_events_holt(spark, sf_dir):
    """Holt linear-trend smoothing over daily value sums per event
    type (cubes_spark/operators/olap.py:holt_trend; Holt 1957,
    alpha=beta=1/2): deterministic fixed-point integer recurrence
    folded JVM-side with F.aggregate over the calendar-bounded
    series — arithmetic shifts so Spark and the oracle's recursive
    CTE floor identically on negative trends."""
    from cubes_spark.operators.olap import holt_trend

    ev = _table(spark, sf_dir, "events")
    return holt_trend(ev, ["event_type"], "ts", "value",
                      bucket="day", horizon=1)


def q_events_bitmap(spark, sf_dir):
    """Mergeable-bitmap EXACT distinct rollup
    (functions/sketches.py:bitmap_distinct_rollup; the ClickHouse
    groupBitmap / Druid bitmap-index pattern): per-type distinct
    users from packed bit arrays built in one (type, chunk) pass,
    and the '(all)' row from OR-merging those same kilobyte bitmaps
    — the second grain never rescans the facts."""
    from cubes_spark.functions.sketches import bitmap_distinct_rollup

    ev = _table(spark, sf_dir, "events")
    return bitmap_distinct_rollup(ev, "event_type", "user_id")


def q_doc_rake(spark, sf_dir):
    """RAKE keyphrase extraction (llm/text.py:rake_keyphrases; Rose
    et al. 2010) in exact integer ppm: phrases are maximal
    stopword/punctuation-delimited content-token runs (gaps-and-
    islands over a per-document window), each word scores
    10^6*degree div frequency over all kept phrases, a phrase sums
    its word scores — no double ratios, SQL-replayable."""
    from cubes_spark.llm import rake_keyphrases

    docs = _table(spark, sf_dir, "documents")
    return rake_keyphrases(docs, "text", "doc_id")


def q_events_semiadd(spark, sf_dir):
    """Semi-additive LastNonEmpty aggregation
    (operators/olap.py:semiadditive_last): per month and event type,
    each user contributes the value of their LAST event — never a
    sum along time — summed across users; enforces what the
    reference only annotates (nonadditive='time',
    metadata/attributes.py:298-338).  Both shuffles are algebraic
    max(struct) / sum — map-side combinable, no fact-table window."""
    from cubes_spark.operators.olap import semiadditive_last

    ev = _table(spark, sf_dir, "events")
    return semiadditive_last(ev, ["event_type"], "user_id", "ts",
                             "value", bucket="month",
                             tiebreak_cols=["event_id"])


def q_events_acf(spark, sf_dir):
    """Integer-exact autocorrelation of daily value sums per event
    type at lags 1..7 (operators/olap.py:autocorrelation): n-scaled
    deviations d_i = n*y_i - S avoid the mean division, decimal(38,0)
    products, sign * truncating-div ppm so Spark's div and DuckDB's
    // agree on negative correlations."""
    from cubes_spark.operators.olap import autocorrelation

    ev = _table(spark, sf_dir, "events")
    return autocorrelation(ev, ["event_type"], "ts", "value",
                           bucket="day", max_lag=7)


def q_doc_freq_tokens(spark, sf_dir):
    """Exact frequent tokens above 0.5% corpus share via the
    two-phase Misra-Gries pattern (functions/sketches.py:
    frequent_items): bounded per-partition summaries guarantee
    candidate completeness, exact recount of candidates only — the
    full-vocabulary groupBy never happens, so 'which tokens exceed
    0.1% of 100 TB' shuffles candidate rows, not the vocabulary."""
    from cubes_spark.functions.sketches import frequent_items
    from cubes_spark.llm.text import token_array

    docs = _table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(token_array(F.lower(F.col("text")))).alias("tok")
    ).filter(F.col("tok") != "")
    return frequent_items(toks, "tok", min_share_ppm=5000)


def q_events_burstiness(spark, sf_dir):
    """Inter-arrival burstiness per user (operators/olap.py:
    burstiness): exact-ppm Fano factor of microsecond gaps,
    (n*Q - S^2) div (n*S) — variance over mean with no early
    division; one per-user window then one algebraic aggregation."""
    from cubes_spark.operators.olap import burstiness

    ev = _table(spark, sf_dir, "events")
    return burstiness(ev, ["user_id"], "ts")


def q_orders_benford(spark, sf_dir):
    """Benford first-digit audit of order totals (operators/dq.py:
    benford_digits): observed vs log10(1+1/d) digit shares and a
    chi-square-style deviation, all in integer ppm — the irrational
    logs enter only as nine pre-rounded constants both engines
    share."""
    from cubes_spark.operators.dq import benford_digits

    od = _table(spark, sf_dir, "orders")
    return benford_digits(od, "o_totalprice")


def q_part_ra(spark, sf_dir):
    """Resource-allocation link prediction (llm/web.py:
    ra_link_prediction; Zhou, Lu & Zhang 2009) over the part-affinity
    graph: non-adjacent pairs score sum over common neighbours of
    10^6 div degree — Adamic-Adar's rational sibling, hub neighbours
    discounted to noise.  Same single-wedge-join shape as
    part_links; integer ppm replays exactly in SQL."""
    from cubes_spark.llm.web import ra_link_prediction
    from cubes_spark.operators.olap import basket_pairs

    li = _table(spark, sf_dir, "lineitem")
    edges = basket_pairs(li, "l_orderkey", "l_partkey",
                         min_count=2).select("item_a", "item_b")
    out = ra_link_prediction(edges, "item_a", "item_b",
                             min_common=2)
    return _lng(out, "node_a", "node_b")


def q_rfm_customers(spark, sf_dir):
    """RFM quartile segmentation of customers from their orders
    (cubes_spark/operators/olap.py:rfm_segments): exact
    percentile_disc bin boundaries computed via the distributed
    two-phase histogram (never a one-partition window), recency
    reversed per the RFM convention, integer-cents monetary."""
    from cubes_spark.operators.olap import rfm_segments

    orders = _table(spark, sf_dir, "orders")
    return rfm_segments(orders, "o_custkey", "o_orderdate",
                        "o_totalprice", as_of="1998-12-31")


def q_multiformat_store(spark, sf_dir):
    """Multi-format store sources (sources/workspace.py ParquetStore
    EXTENSIONS): nation written as CSV (header + schema inference),
    region as JSON-lines, then read back THROUGH the store catalog and
    joined — the ingest formats a pipeline normalizes into parquet,
    resolved by the same table() lookup.  The oracle reads the
    original parquet."""
    import os
    import shutil

    from cubes_spark.sources.workspace import ParquetStore

    tmp = f"/tmp/cubes_spark_fmtstore_{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    _table(spark, sf_dir, "nation").coalesce(1).write \
        .mode("overwrite").option("header", "true") \
        .csv(os.path.join(tmp, "nation.csv"))
    _table(spark, sf_dir, "region").coalesce(1).write \
        .mode("overwrite").json(os.path.join(tmp, "region.jsonl"))
    store = ParquetStore(spark, tmp)
    assert sorted(store.list_tables()) == ["nation", "region"]
    nation, region = store.table("nation"), store.table("region")
    out = (
        nation.join(region, nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nations"),
             F.sum(F.col("n_nationkey").cast("long")).cast("long")
             .alias("key_sum"))
    )
    return out


def q_doc_cdc_dedup(spark, sf_dir):
    """Content-defined chunking dedup profile (llm/dedup.py:
    cdc_chunks/cdc_dedup_stats; FastCDC/rsync family): rolling-hash
    boundaries split each document into ~32-char content-addressed
    chunks; per-doc counts of chunks whose hash recurs in another
    document, ratio in integer basis points.  Boundaries, chunk
    hashes and ratios are all md5/integer arithmetic — the oracle
    replays chunking end-to-end."""
    from cubes_spark.llm.dedup import cdc_dedup_stats

    docs = _table(spark, sf_dir, "documents")
    return cdc_dedup_stats(docs)


def q_orders_quantiles(spark, sf_dir):
    """Mergeable histogram-quantile sketch (functions/sketches.py:
    histogram_quantiles): per order-priority price quantiles read off
    a $1000-wide cumulative histogram — the mergeable-state quantile
    answer (one map-side-combinable bucket groupBy; the true
    rank value provably lies in [est_lo, est_hi] by construction).
    All integer arithmetic; the oracle replays the histogram walk
    bit-for-bit."""
    from cubes_spark.functions.sketches import histogram_quantiles

    orders = _table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority"),
        F.round(F.col("o_totalprice") * 100).cast("long")
        .alias("price_cents"))
    return histogram_quantiles(
        orders, "price_cents", [2500, 5000, 9000, 9900],
        width=100000, group_cols=["o_orderpriority"])


def q_part_triangles(spark, sf_dir):
    """Degree-oriented triangle counting (llm/web.py:triangle_counts;
    node-iterator++/compact-forward) over the part-affinity graph
    (basket_pairs edges, parts co-ordered in >= 2 orders): per-node
    triangle counts — the local clustering signal.  Orientation from
    low to high degree bounds wedge work at ~sqrt(|E|) out-degree,
    the reason hubs don't explode the self-join."""
    from cubes_spark.llm.web import triangle_counts
    from cubes_spark.operators.olap import basket_pairs

    li = _table(spark, sf_dir, "lineitem")
    edges = basket_pairs(li, "l_orderkey", "l_partkey",
                         min_count=2).select("item_a", "item_b")
    out = triangle_counts(edges, "item_a", "item_b")
    return _lng(out, "node")


def q_events_stream_cuboid(spark, sf_dir):
    """Streaming pre-aggregate maintenance (streaming/stream.py:
    maintain_aggregate / read_aggregate / compact_aggregate): the
    events stream — staged as 4 files and replayed one file per
    micro-batch — maintains an (event_type, hour) cuboid as
    IDEMPOTENT per-batch partial-aggregate partitions (each batch
    dynamic-overwrites its own __batch_id__ partition, so an
    at-least-once replay replaces rather than duplicates).  The log
    is then compacted and served by merge-on-read; the result must
    equal the plain batch aggregate over all events — which is the
    oracle.  Partials are decimal/long, so the merged sums are exact
    regardless of how rows split across batches."""
    import os
    import tempfile

    from cubes_spark.streaming import (
        compact_aggregate,
        maintain_aggregate,
        read_aggregate,
        read_parquet_stream,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = ("stream_cuboid", id(spark), sf_dir)
    aggs = {
        "n_events": ("count", None),
        "value_sum": ("sum", "__vdec__"),
        "value_max": ("max", "__vdec__"),
    }
    if key not in _stores_misc:
        staging = tempfile.mkdtemp(prefix="cubes_spark_stage_")
        src = os.path.join(staging, "events")
        _table(spark, sf_dir, "events").repartition(4) \
            .write.mode("overwrite").parquet(src)
        stream = read_parquet_stream(spark, src,
                                     max_files_per_trigger=1)
        enriched = stream.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("value").cast("decimal(20,6)").alias("__vdec__"),
        )
        log_path = os.path.join(staging, "cuboid_log")
        maintain_aggregate(enriched, log_path,
                           ["event_type", "hour"], aggs,
                           query_name="q_events_stream_cuboid")
        compact_aggregate(spark, log_path, aggs)
        _stores_misc[key] = log_path
    out = read_aggregate(spark, _stores_misc[key], aggs)
    return out.select(
        "event_type",
        F.col("hour").alias("window_start"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("value_sum").cast("double").alias("value_sum"),
        F.col("value_max").cast("double").alias("value_max"),
    )


def q_events_stream_cuboid_rewrite(spark, sf_dir):
    """Stream-maintained cuboid served TRANSPARENTLY by the browser
    rewriter (r14; operators/preagg.py StreamAggregateCuboid +
    browser.register_stream_cuboid): the events stream — replayed one
    file per micro-batch — maintains an (event_type, year, month)
    partial log (streaming/stream.py maintain_aggregate, idempotent
    per-batch partitions); the log is then REGISTERED with the events
    cube browser, and a coarser (etype, year)-grain OLAP aggregation
    asking for value_sum, value_avg and fact_count is served by
    merge-on-read of the log — the fact table is never scanned
    (plan-asserted in tests/test_preagg.py), and value_avg is
    reconstructed from the sum/count partials bit-identically to the
    direct decimal-exact avg.  The oracle computes the same grain from
    the raw events."""
    import os
    import tempfile

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = ("stream_cuboid_rewrite", id(spark), sf_dir)
    aggs = {
        "value_sum": ("sum", "__vdec__"),
        "value_count": ("count_nonempty", "__vdec__"),
        "fact_count": ("count", None),
    }
    if key not in _browsers:
        from cubes_spark.streaming import (maintain_aggregate,
                                           read_parquet_stream)

        staging = tempfile.mkdtemp(prefix="cubes_spark_stage_")
        src = os.path.join(staging, "events")
        _table(spark, sf_dir, "events").repartition(4) \
            .write.mode("overwrite").parquet(src)
        stream = read_parquet_stream(spark, src,
                                     max_files_per_trigger=1)
        enriched = stream.select(
            F.col("event_type"),
            F.year("ts").alias("year"),
            F.month("ts").alias("month"),
            F.col("value").cast("decimal(20,6)").alias("__vdec__"),
        )
        log_path = os.path.join(staging, "cuboid_log")
        maintain_aggregate(enriched, log_path,
                           ["event_type", "year", "month"], aggs,
                           query_name="q_events_stream_cuboid_rewrite")
        browser = tpch_workspace(spark, sf_dir).browser("events")
        browser.register_stream_cuboid(
            log_path, aggs,
            column_map={"etype.etype": "event_type",
                        "date.year": "year", "date.month": "month"})
        _browsers[key] = browser
    browser = _browsers[key]
    df = browser.aggregation_dataframe(
        drilldown=["etype", "date:year"],
        aggregates=["value_sum", "value_avg", "fact_count"],
    )
    return _lng(_dbl(df, "value_sum"), "date.year", "fact_count").select(
        F.col("`etype.etype`").alias("event_type"),
        F.col("`date.year`").alias("year"),
        "value_sum", "value_avg", "fact_count",
    )


def q_events_stream_auto_maintain(spark, sf_dir):
    """The full advisor -> maintain -> rewrite loop (r14 capstone;
    operators/preagg.py auto_maintain): the HRU advisor sizes the
    (etype x year) lattice on BATCH history (one cube() pass), picks
    the highest-benefit cuboids, stream-maintains each pick as its own
    idempotent partial log (streaming/stream.py maintain_aggregate)
    and registers it with the browser (StreamAggregateCuboid) — after
    which this year-grain OLAP aggregation is served from a maintained
    log, never the fact table (plan-asserted in tests/test_preagg.py),
    with value_avg reconstructed from the sum/count partials.  The
    oracle computes the same grain from the raw events."""
    import os
    import tempfile

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = ("stream_auto_maintain", id(spark), sf_dir)
    if key not in _browsers:
        from cubes_spark.operators.preagg import auto_maintain
        from cubes_spark.streaming import read_parquet_stream

        staging = tempfile.mkdtemp(prefix="cubes_spark_stage_")
        src = os.path.join(staging, "events")
        _table(spark, sf_dir, "events").repartition(4) \
            .write.mode("overwrite").parquet(src)
        stream = read_parquet_stream(spark, src,
                                     max_files_per_trigger=1)
        enriched = stream.select(
            F.col("event_type"),
            F.year("ts").alias("year"),
            F.col("value").cast("decimal(20,6)").alias("__vdec__"),
        )
        browser = tpch_workspace(spark, sf_dir).browser("events")
        auto_maintain(
            browser, enriched, os.path.join(staging, "auto"),
            drilldowns=["etype", "date:year"],
            aggs={"value_sum": ("sum", "__vdec__"),
                  "value_count": ("count_nonempty", "__vdec__"),
                  "fact_count": ("count", None)},
            column_map={"etype.etype": "event_type",
                        "date.year": "year"},
            n_picks=2,
            checkpoint_root=os.path.join(staging, "ckpts"))
        _browsers[key] = browser
    browser = _browsers[key]
    df = browser.aggregation_dataframe(
        drilldown=["date:year"],
        aggregates=["value_sum", "value_avg", "fact_count"],
    )
    return _lng(_dbl(df, "value_sum"), "date.year", "fact_count").select(
        F.col("`date.year`").alias("year"),
        "value_sum", "value_avg", "fact_count",
    )


def q_events_stream_hll_cuboid(spark, sf_dir):
    """STREAM-MAINTAINED approx-distinct cuboid (r14 composition:
    functions/sketches.py hll_rank_rows + streaming/stream.py
    maintain_aggregate): each micro-batch's rows are staged statelessly
    into (event_type, bucket, rank) and the per-batch MAX-rank partial
    lands in its own idempotent ``__batch_id__`` partition — HLL
    registers are losslessly max-mergeable, so merge-on-read yields
    registers BIT-IDENTICAL to a batch sketch over all events, and the
    integer-exact estimate gives distinct users per event type without
    ever storing distinct keys (state: m=256 registers per type).  The
    oracle rebuilds the identical registers and estimate in SQL."""
    import os
    import tempfile

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = ("stream_hll_cuboid", id(spark), sf_dir)
    aggs = {"register": ("max", "__rank__")}
    if key not in _stores_misc:
        from cubes_spark.functions.sketches import hll_rank_rows
        from cubes_spark.streaming import (maintain_aggregate,
                                           read_parquet_stream)

        staging = tempfile.mkdtemp(prefix="cubes_spark_stage_")
        src = os.path.join(staging, "events")
        _table(spark, sf_dir, "events").repartition(3) \
            .write.mode("overwrite").parquet(src)
        stream = read_parquet_stream(spark, src,
                                     max_files_per_trigger=1)
        ranked = hll_rank_rows(
            stream.select("event_type", "user_id"), "user_id",
            ["event_type"])
        log_path = os.path.join(staging, "hll_log")
        maintain_aggregate(ranked, log_path,
                           ["event_type", "bucket"], aggs,
                           query_name="q_events_stream_hll_cuboid")
        _stores_misc[key] = log_path
    from cubes_spark.functions.sketches import hll_estimate
    from cubes_spark.streaming import read_aggregate

    regs = read_aggregate(spark, _stores_misc[key], aggs)
    out = hll_estimate(regs, ["event_type"])
    return _lng(out, "hll_est")


def q_doc_stream_near_dup(spark, sf_dir):
    """STREAMING near-dup candidate generation (streaming/stream.py:
    stream_near_dup_candidates): documents — given a synthetic ingest
    timestamp of doc_id minutes past a fixed epoch, staged as 3
    event-time-ordered files and replayed one per micro-batch — are
    MinHash-LSH banded statelessly per row (llm/dedup.py:
    row_minhash_bands, bit-identical to the batch banding) and
    stream-stream self-joined against the trailing 30-minute window
    per shared band.  The bounded replay uses an effectively-
    unbounded watermark so parity with the batch window join holds
    for any micro-batch order; the oracle replays the banding in SQL
    and windows on the doc_id arithmetic the synthetic timestamps
    encode.  (Production: a real watermark bounds join state; late
    documents past it are dropped per the standard contract.)"""
    import os
    import tempfile

    from cubes_spark.streaming import (read_parquet_stream,
                                       replay_to_memory,
                                       stream_near_dup_candidates)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = ("stream_near_dup", id(spark), sf_dir)
    if key not in _stores_misc:
        staging = tempfile.mkdtemp(prefix="cubes_spark_stage_")
        src = os.path.join(staging, "docs")
        docs = _table(spark, sf_dir, "documents").withColumn(
            "ts",
            F.expr("TIMESTAMP '2024-01-01 00:00:00' + make_interval("
                   "0, 0, 0, 0, 0, CAST(doc_id AS INT), 0)"))
        docs.repartitionByRange(3, "ts").write.mode("overwrite") \
            .parquet(src)
        _stores_misc[key] = src
    stream = read_parquet_stream(spark, _stores_misc[key],
                                 max_files_per_trigger=1)
    # each micro-batch arrives as ONE file = ONE partition (a replay-
    # staging artifact; a production file stream has many files per
    # trigger), which pinned the whole per-batch MinHash banding to a
    # single core (measured ~1.6 s of the ~2 s per batch).  A cheap
    # pre-banding shuffle of the raw docs (~0.3 MB/batch) spreads the
    # banding across the replay's pinned partition count.
    stream = stream.repartition(int(os.environ.get(
        "SPARK_GRAFT_REPLAY_PARTITIONS", "4")))
    # effectively-unbounded watermark for the bounded replay (same
    # pattern as events_sessions): the file source breaks mtime ties
    # arbitrarily, so staged same-second files can arrive out of
    # event-time order, and a short watermark would — correctly, per
    # the late-data contract — drop the late side nondeterministically
    cands = stream_near_dup_candidates(stream, horizon_seconds=1800,
                                       watermark="3650 days")
    # stream-stream join state lives per shuffle partition per side
    # per micro-batch: at this bounded replay size the state-store
    # commit overhead dominates — replay_to_memory pins a small
    # partition count for the query (fixed at stream start)
    result = replay_to_memory(cands, "q_doc_stream_near_dup",
                              output_mode="append")
    return result.select(
        F.col("id_old").cast("long").alias("id_old"),
        F.col("id_new").cast("long").alias("id_new"),
        F.col("band_id").cast("long").alias("band_id"),
    )


def q_events_stream_hll(spark, sf_dir):
    """Streaming approx-distinct: per-day HyperLogLog registers built
    INCREMENTALLY over the watermarked event stream (state = 32
    registers per open window no matter how many distinct users flow
    through), replayed to completion; the batch side then reads the
    integer-exact estimate off the collected registers and compares
    against the exact per-day distinct count — streaming == batch ==
    oracle for a cardinality sketch.  ±50% acceptance band (m=32,
    σ≈18%)."""
    from cubes_spark.functions.sketches import (
        hll_estimate,
        hll_registers,
    )
    from cubes_spark.streaming import read_parquet_stream, \
        replay_to_memory

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = read_parquet_stream(spark, f"{sf_dir}/events.parquet")
    regs = hll_registers(stream, "user_id", m=32, window="1 day",
                         ts_col="ts", watermark="2 hours")
    result = replay_to_memory(regs, "q_events_stream_hll")
    est = hll_estimate(result, ["window_start"], m=32)
    ev = _table(spark, sf_dir, "events")
    exact = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("window_start")
    ).agg(F.count_distinct("user_id").cast("long").alias("n_exact"))
    out = exact.join(est, "window_start")
    return out.select(
        "window_start", "n_exact", "hll_est",
        (F.abs(F.col("hll_est") - F.col("n_exact")) * 2
         <= F.col("n_exact")).alias("hll_ok"))


def q_orders_kmv(spark, sf_dir):
    """KMV distinct sketch with SET OPERATIONS (functions/sketches.py:
    kmv_sketch/kmv_set_ops; Beyer et al. SIGMOD 2007): per order-
    priority pair, estimated union / intersection / Jaccard of the
    distinct-customer sets from 256-hash synopses — the segment-
    overlap question HLL registers cannot answer — checked against the
    exact pairwise counts with a ±25% acceptance band (k=256 →
    σ≈6.3%).  All hash, threshold and estimator arithmetic is
    integer/decimal-exact, so the oracle replays every value."""
    from cubes_spark.functions.sketches import kmv_set_ops, kmv_sketch

    orders = _table(spark, sf_dir, "orders")
    sk = kmv_sketch(orders, "o_custkey", ["o_orderpriority"], k=256)
    ops = kmv_set_ops(sk, "o_orderpriority", k=256)
    d = orders.select("o_orderpriority", "o_custkey").distinct()
    counts = d.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    inter = (
        d.alias("a").join(
            d.withColumnRenamed("o_orderpriority", "pb").alias("b"),
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderpriority") < F.col("pb")))
        .groupBy(F.col("a.o_orderpriority").alias("group_a"),
                 F.col("pb").alias("group_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    exact = (
        inter
        .join(counts.withColumnRenamed("o_orderpriority", "group_a")
              .withColumnRenamed("n", "na"), "group_a")
        .join(counts.withColumnRenamed("o_orderpriority", "group_b")
              .withColumnRenamed("n", "nb"), "group_b")
        .select("group_a", "group_b", "n_inter",
                (F.col("na") + F.col("nb") - F.col("n_inter"))
                .alias("n_union"))
    )
    out = ops.join(exact, ["group_a", "group_b"])
    return out.select(
        "group_a", "group_b", "union_est", "inter_est", "jaccard_bp",
        "n_union", "n_inter",
        (F.abs(F.col("union_est") - F.col("n_union")) * 4
         <= F.col("n_union")).alias("union_ok"),
        (F.abs(F.col("inter_est") - F.col("n_inter")) * 4
         <= F.col("n_inter")).alias("inter_ok"))


def q_orders_psample(spark, sf_dir):
    """Approximate query processing from a bounded weighted sample
    (functions/aqp.py: priority_sample/priority_estimate; Duffield,
    Lund & Thorup JACM 2007): per order priority, total revenue
    estimated from a 256-row priority sample with Horvitz-Thompson
    weights — the fixed-size synopsis that answers subset-sum queries
    without rescanning the facts.  The uniform draw is the portable
    md5 hash and priorities/threshold/estimate are DECIMAL-exact, so
    the oracle replays the sample AND the estimate bit-for-bit;
    ps_ok asserts the ±25% band (k=256 → σ≈6%)."""
    from cubes_spark.functions.aqp import (
        priority_estimate,
        priority_sample,
    )

    orders = _table(spark, sf_dir, "orders")
    o = orders.withColumn(
        "cents", F.round(F.col("o_totalprice") * 100).cast("long"))
    s = priority_sample(o, "cents", 256, "o_orderkey",
                        ["o_orderpriority"])
    est = priority_estimate(s, 256, ["o_orderpriority"])
    exact = o.groupBy("o_orderpriority").agg(
        F.sum("cents").cast("long").alias("exact_sum"))
    out = est.join(exact, "o_orderpriority")
    return out.select(
        "o_orderpriority", "est_sum", "n_sampled", "exact_sum",
        (F.abs(F.col("est_sum") - F.col("exact_sum")) * 4
         <= F.col("exact_sum")).alias("ps_ok"))


def q_lineitem_zorder(spark, sf_dir):
    """Z-order (Morton) multi-dimensional clustering key
    (operators/scale.py: zorder_value — the layout behind
    Delta/Iceberg OPTIMIZE ZORDER): per 256th of the curve over
    (l_partkey, l_suppkey), row count and the min/max envelope of
    BOTH dimensions — the tight per-segment boxes that let footer
    statistics prune files for predicates on any participating
    column.  Min-max scaling and bit interleaving are pure integer
    ops, so the oracle rebuilds identical curve values.  (The
    write-side payoff is measured in tests/test_scale.py: a 2-D box
    query skips ~98% of z-laid-out files vs 0% of random layout.)"""
    from cubes_spark.operators.scale import zorder_value

    li = _table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey")
    z = zorder_value(li, ["l_partkey", "l_suppkey"], bits=16)
    return (
        z.groupBy(F.expr("z div 16777216").alias("z_bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.min("l_partkey").alias("min_part"),
             F.max("l_partkey").alias("max_part"),
             F.min("l_suppkey").alias("min_supp"),
             F.max("l_suppkey").alias("max_supp"))
    )


def q_cuboid_greedy(spark, sf_dir):
    """Materialized-view selection over the cuboid lattice
    (operators/preagg.py: cuboid_sizes + greedy_cuboid_selection;
    Harinarayan, Rajaraman & Ullman SIGMOD 1996): exact sizes of all
    2³ cuboids of (priority, status, year) from ONE cube() pass, each
    cuboid's first-round HRU benefit ``2^n_dims · (base − size)``,
    and the greedy algorithm's first pick — the decision layer above
    Cuboid.materialize/preagg routing that chooses WHICH aggregates
    to build under a space budget (at 100 TB you cannot build all
    2^d).  The multi-round greedy is driver arithmetic over 2^d
    numbers (tests/test_preagg.py); sizes and the first pick are
    integer-exact and replayed by the oracle."""
    from pyspark.sql import Window

    from cubes_spark.operators.preagg import cuboid_sizes

    orders = _table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("st"),
        F.year("o_orderdate").alias("yr"))
    sizes = cuboid_sizes(orders, ["pri", "st", "yr"])
    base = sizes.filter(F.col("grouping_id") == 0).select(
        F.col("size").alias("__base__"))
    benefit = (
        F.when(F.col("grouping_id") == 0, F.lit(0))
        .otherwise(
            F.pow(F.lit(2.0), F.col("n_dims").cast("double"))
            .cast("long")
            * (F.col("__base__") - F.col("size")))
    )
    w = Window.orderBy(F.desc("benefit_r1"), F.asc("size"),
                       F.asc("grouping_id"))
    return (
        sizes.crossJoin(F.broadcast(base))
        .withColumn("benefit_r1", benefit.cast("long"))
        .withColumn(
            "picked_first",
            (F.col("grouping_id") != 0)
            & (F.row_number().over(w) == 1))
        .select("grouping_id", "n_dims", "size", "benefit_r1",
                "picked_first")
    )


def q_part_links(spark, sf_dir):
    """Common-neighbor link prediction (llm/web.py:
    jaccard_link_prediction; Liben-Nowell & Kleinberg 2003) over the
    part-affinity graph: for non-adjacent part pairs sharing >= 2
    affinity neighbours, the Jaccard score of their neighbour sets in
    basis points — "parts that should co-occur but don't yet".
    Candidates come from one wedge join at the shared neighbour
    (never |V|^2); integer bp scores replay exactly in SQL."""
    from cubes_spark.llm.web import jaccard_link_prediction
    from cubes_spark.operators.olap import basket_pairs

    li = _table(spark, sf_dir, "lineitem")
    edges = basket_pairs(li, "l_orderkey", "l_partkey",
                         min_count=2).select("item_a", "item_b")
    out = jaccard_link_prediction(edges, "item_a", "item_b",
                                  min_common=2)
    return _lng(out, "node_a", "node_b")


def q_dq_orders(spark, sf_dir):
    """Declarative data-quality suite (operators/dq.py: dq_check;
    dbt-expectations/Deequ family): seven rules over orders — null,
    range, accepted-values, regex, SQL expression, key uniqueness,
    referential integrity — with per-rule violation counts.  All
    row-level rules share ONE aggregation pass; unique adds one
    map-side-combinable groupBy, the FK one anti-join.  Rules are
    chosen to produce nonzero violations (range cap, missing
    accepted value, non-unique customer key) so the counting is
    exercised, not just the happy path."""
    from cubes_spark.operators.dq import dq_check

    orders = _table(spark, sf_dir, "orders")
    cust = _table(spark, sf_dir, "customer")
    rules = [
        {"check": "not_null", "column": "o_orderkey"},
        {"check": "in_range", "column": "o_totalprice",
         "min": 0, "max": 200000},
        {"check": "accepted_values", "column": "o_orderpriority",
         "values": ["1-URGENT", "2-HIGH", "3-MEDIUM",
                    "4-NOT SPECIFIED"]},
        {"check": "matches", "column": "o_orderstatus",
         "pattern": "^[OF]$"},
        {"name": "big_ticket", "check": "expression",
         "expr": "o_totalprice >= 5000"},
        {"check": "unique", "columns": ["o_orderkey"]},
        {"name": "repeat_customers", "check": "unique",
         "columns": ["o_custkey"]},
        {"check": "foreign_key", "columns": ["o_custkey"],
         "ref": cust, "ref_columns": ["c_custkey"]},
    ]
    return dq_check(orders, rules)


def q_orders_ols(spark, sf_dir):
    """Per-priority least-squares daily trend (operators/olap.py:
    group_ols_trend): OLS from the five integer moment sums only —
    slope in micro-cents/day and r² in ppm, both truncating-div
    integers; one shuffle to the day grain, one algebraic
    aggregation, no window."""
    from cubes_spark.operators.olap import group_ols_trend

    od = _table(spark, sf_dir, "orders")
    return group_ols_trend(od, ["o_orderpriority"], "o_orderdate",
                           "o_totalprice", bucket="day")


def q_events_json_stats(spark, sf_dir):
    """Typed JSON field extraction + grouped exact stats
    (operators/olap.py:json_field_stats): from_json with a one-field
    schema parses props JVM-side; missing/malformed fields are
    counted as NULLs, never dropped rows."""
    from cubes_spark.operators.olap import json_field_stats

    ev = _table(spark, sf_dir, "events")
    return json_field_stats(ev, ["event_type"], "props", "k")


def q_orders_ks(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov distance between URGENT and LOW
    order totals (operators/stats.py:ks_two_sample): D maximized on
    the integer cross-product |ca*nb - cb*na|, cumulative counts from
    the two-phase value-bucketed prefix sum — no global sort; d_ppm
    is the one truncating div at the end."""
    from cubes_spark.operators.stats import ks_two_sample

    od = _table(spark, sf_dir, "orders")
    return ks_two_sample(od, "o_orderpriority", "o_totalprice",
                         "1-URGENT", "5-LOW")


def q_lineitem_spearman(spark, sf_dir):
    """Per-returnflag Spearman rank correlation of quantity vs price
    (operators/stats.py:spearman_rho): tie-corrected via doubled
    average ranks (integers), emitted as SIGNED rho^2 in exact ppm —
    the sqrt never happens; ranks from group-partitioned windows."""
    from cubes_spark.operators.stats import spearman_rho

    li = _table(spark, sf_dir, "lineitem")
    return spearman_rho(li, ["l_returnflag"], "l_quantity",
                        "l_extendedprice")


def q_events_chisq(spark, sf_dir):
    """Chi-square contingency of event type x hour-of-day
    (operators/stats.py:chi_square_independence): per-cell
    contribution (O*N - R*C)^2 div (R*C*N) in exact ppm, structural
    zeros included from the margin cross-product — the facts are
    scanned once."""
    from cubes_spark.operators.stats import chi_square_independence

    ev = _table(spark, sf_dir, "events")
    prepared = ev.select(F.col("event_type"),
                         F.hour("ts").alias("hour"))
    return chi_square_independence(prepared, "event_type", "hour")


def q_events_rolling_median(spark, sf_dir):
    """Exact 7-row rolling median of event values per user
    (operators/stats.py:rolling_median): sorted bounded ROWS frame,
    lower median at ceil(n/2) — state is O(7) per row regardless of
    history length; oracle replays list_sort(list() OVER w)[idx]."""
    from cubes_spark.operators.stats import rolling_median

    ev = _table(spark, sf_dir, "events")
    return rolling_median(ev, "user_id", "ts", "value", 7,
                          order_cols=["ts", "event_id"])


def q_orders_winsorize(spark, sf_dir):
    """Per-priority winsorized sum at exact P5/P95 order statistics
    (operators/stats.py:winsorized_stats): percentile_disc ranks in
    pure integer arithmetic (ceil via negated truncating div), clamp
    + re-sum in cents; group-partitioned rank windows only."""
    from cubes_spark.operators.stats import winsorized_stats

    od = _table(spark, sf_dir, "orders")
    return winsorized_stats(od, ["o_orderpriority"], "o_totalprice")


def q_orders_interarrival(spark, sf_dir):
    """Per-customer order inter-arrival gaps in exact microseconds
    (operators/stats.py:interarrival_stats): lag under per-key order,
    min/max/sum/truncated mean; customers with one order drop out."""
    from cubes_spark.operators.stats import interarrival_stats

    od = _table(spark, sf_dir, "orders")
    return interarrival_stats(od, "o_custkey", "o_orderdate")


def q_events_mode(spark, sf_dir):
    """Per-user modal event type with deterministic tiebreak
    (operators/stats.py:group_mode): highest count then smallest
    value via one min(struct(-cnt, v)) — two algebraic aggregations,
    no window."""
    from cubes_spark.operators.stats import group_mode

    ev = _table(spark, sf_dir, "events")
    return group_mode(ev, ["user_id"], "event_type")


def q_orders_emd(spark, sf_dir):
    """Two-sample Wasserstein-1 distance between URGENT and LOW
    order totals (operators/stats.py:emd_two_sample): W1*na*nb =
    sum over distinct values of |cuma*nb - cumb*na| * gap-to-next —
    all integers from the same bucketed prefix sum as KS (the
    cross-bucket successor is a broadcast lookup, never a global
    window); one truncating div to millicents at the end."""
    from cubes_spark.operators.stats import emd_two_sample

    od = _table(spark, sf_dir, "orders")
    return emd_two_sample(od, "o_orderpriority", "o_totalprice",
                          "1-URGENT", "5-LOW")


def q_doc_postings(spark, sf_dir):
    """Inverted-index build (llm/text.py:inverted_index): per term
    df/cf plus the top-10 'doc:tf' posting list in total (tf desc,
    doc asc) order, emitted as a string both engines aggregate
    identically; the per-term window runs on the vocabulary grain
    after a min_df prune, never on the corpus."""
    from cubes_spark.llm.text import inverted_index

    docs = _table(spark, sf_dir, "documents")
    return inverted_index(docs, "text", "doc_id", min_df=5,
                          postings_k=10)


def q_events_drawdown(spark, sf_dir):
    """Per-user maximum drawdown of the running net balance
    (operators/stats.py:max_drawdown; errors debit as in
    events_balance): running sum + running peak from two stacked
    windows over ONE per-key sort, worst (peak - cum) picked by an
    algebraic min(struct) — exact cents, no iteration."""
    from cubes_spark.operators.stats import max_drawdown

    ev = _table(spark, sf_dir, "events").withColumn(
        "__signed__",
        F.col("value")
        * F.when(F.col("event_type") == "error", -1).otherwise(1))
    return max_drawdown(ev, "user_id", "ts", "__signed__",
                        tiebreak_col="event_id")


def q_events_km(spark, sf_dir):
    """Kaplan-Meier survival of time-to-first-purchase per user
    (operators/stats.py:kaplan_meier): duration = days from first
    event to first purchase (death) or last event (censored); the
    product-limit estimate is the truncated-integer recurrence
    S <- (S*(n-d)) div n over the bounded DURATION grain, replayed
    exactly by the oracle's recursive CTE."""
    from cubes_spark.operators.stats import kaplan_meier

    ev = _table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(F.when(F.col("event_type") == "purchase",
                     F.col("ts"))).alias("death_ts"),
        F.max("ts").alias("last_ts")))
    dur = per_user.select(
        F.datediff(F.to_date(F.coalesce("death_ts", "last_ts")),
                   F.to_date("first_ts")).alias("dur"),
        F.col("death_ts").isNotNull().cast("int").alias("ev"))
    return kaplan_meier(dur, "dur", "ev")


def q_doc_textrank(spark, sf_dir):
    """TextRank keywords (llm/text.py:textrank_keywords; Mihalcea &
    Tarau 2004): adjacent content-token pairs as undirected
    multi-edges, ranked by the same integer fixed-point PageRank as
    doc_pagerank (2 iterations unrolled in the oracle); global
    top-20 via TakeOrdered."""
    from cubes_spark.llm.text import textrank_keywords

    docs = _table(spark, sf_dir, "documents")
    return textrank_keywords(docs, "text", "doc_id", iterations=2,
                             top_k=20)


def q_orders_mwu(spark, sf_dir):
    """Mann-Whitney U / probability-of-superiority between URGENT
    and LOW order totals (operators/stats.py:mann_whitney_u):
    doubled tie-averaged ranks from the SAME bucketed cumulative
    frame as KS/EMD — no per-row rank ever materializes; AUC as one
    truncating div."""
    from cubes_spark.operators.stats import mann_whitney_u

    od = _table(spark, sf_dir, "orders")
    return mann_whitney_u(od, "o_orderpriority", "o_totalprice",
                          "1-URGENT", "5-LOW")


def q_doc_langid_eval(spark, sf_dir):
    """Per-class precision/recall/F1 of the stopword language-ID
    heuristic against the stored lang label (operators/stats.py:
    classifier_eval over llm/text.py:language_id): tp/support/
    predicted on the label-pair grain, F1 = 2tp div (support +
    predicted) in exact ppm — the training-pipeline eval harness."""
    from cubes_spark.llm.text import language_id
    from cubes_spark.operators.stats import classifier_eval

    docs = _table(spark, sf_dir, "documents")
    pred = language_id(docs, "text")
    return classifier_eval(pred, "lang", "lang_pred")


def q_doc_kappa(spark, sf_dir):
    """Cohen's kappa agreement between the stored lang label and the
    language-ID prediction (operators/stats.py:cohen_kappa):
    (A*N - sum R*C) / (N^2 - sum R*C) as an exact integer ratio in
    ppm — chance-corrected, label-grain arithmetic only."""
    from cubes_spark.llm.text import language_id
    from cubes_spark.operators.stats import cohen_kappa

    docs = _table(spark, sf_dir, "documents")
    pred = language_id(docs, "text")
    return cohen_kappa(pred, "lang", "lang_pred")


def q_doc_vocab_growth(spark, sf_dir):
    """Per-source vocabulary statistics (llm/text.py:vocab_growth;
    the Heaps-law lexical-richness signal): tokens, types, hapax
    count and type-token/hapax ratios in exact ppm — one shuffle to
    the (source, token) grain, one algebraic aggregation."""
    from cubes_spark.llm.text import vocab_growth

    docs = _table(spark, sf_dir, "documents")
    return vocab_growth(docs, "text", "source")


def q_doc_source_hhi(spark, sf_dir):
    """Herfindahl source concentration per language
    (llm/text.py:source_concentration): HHI = (10^6 * sum c^2) div
    N^2 exact ppm — the monopoly smell of a training mixture."""
    from cubes_spark.llm.text import source_concentration

    docs = _table(spark, sf_dir, "documents")
    return source_concentration(docs, "lang", "source")


def q_events_concurrency(spark, sf_dir):
    """Sweep-line peak concurrency of 30-minute activity intervals
    (operators/asof.py:peak_concurrency): +1/-1 deltas per distinct
    boundary, the global running sum distributed as a two-phase
    time-bucketed prefix sum (bounded driver collect, bucket-local
    windows), earliest-attaining boundary on ties."""
    from cubes_spark.operators.asof import peak_concurrency

    ev = _table(spark, sf_dir, "events")
    return peak_concurrency(ev, "ts", duration_seconds=1800)


def q_orders_skyline(spark, sf_dir):
    """2-D Pareto skyline of orders maximizing (total price, order
    recency) (operators/olap.py:skyline_2d; Borzsonyi et al. 2001):
    distinct-x grain + distributed suffix max over deterministic
    value buckets — a point survives iff its max-y strictly exceeds
    every higher-x max-y; never a global sort."""
    from cubes_spark.operators.olap import skyline_2d

    od = _table(spark, sf_dir, "orders")
    prep = od.select(
        F.col("o_totalprice"),
        F.datediff(F.to_date("o_orderdate"),
                   F.lit("1970-01-01").cast("date"))
        .cast("double").alias("recency_day"))
    return skyline_2d(prep, "o_totalprice", "recency_day")


def q_events_runs(spark, sf_dir):
    """Wald-Wolfowitz runs test per user (operators/stats.py:
    runs_test): above/below-own-median sign sequence under
    deterministic order, observed runs vs the 2ab/n + 1 randomness
    benchmark in exact ppm; ties at the median dropped."""
    from cubes_spark.operators.stats import runs_test

    ev = _table(spark, sf_dir, "events")
    return runs_test(ev, "user_id", "ts", "value",
                     tiebreak_col="event_id")


def q_orders_lastdigit(spark, sf_dir):
    """Last-digit uniformity audit of order totals in cents
    (operators/stats.py:chi_square_gof_uniform): chi-square
    goodness-of-fit vs uniform over 10 digits, per-digit truncated
    (10*O - N)^2 div (10*N) contributions, absent digits generated
    from a spine — the fraud-screen companion to orders_benford."""
    from cubes_spark.operators.stats import chi_square_gof_uniform

    od = _table(spark, sf_dir, "orders")
    prep = od.select(
        (F.round(F.col("o_totalprice") * 100).cast("long") % 10)
        .alias("digit"))
    return chi_square_gof_uniform(prep, "digit", 10)


def q_events_logrank(spark, sf_dir):
    """Two-group log-rank test (operators/stats.py:logrank_test) on
    time-to-first-purchase, segmented by even/odd user id: observed
    group-A deaths vs the hypergeometric expectation and variance as
    sums of per-time truncated-micro terms over the bounded duration
    grain — the 'do these survival curves differ' companion to
    events_km."""
    from cubes_spark.operators.stats import logrank_test

    ev = _table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(F.when(F.col("event_type") == "purchase",
                     F.col("ts"))).alias("death_ts"),
        F.max("ts").alias("last_ts")))
    dur = per_user.select(
        F.datediff(F.to_date(F.coalesce("death_ts", "last_ts")),
                   F.to_date("first_ts")).alias("dur"),
        F.col("death_ts").isNotNull().cast("int").alias("ev"),
        F.when(F.col("user_id") % 2 == 0, "even")
        .otherwise("odd").alias("segment"))
    return logrank_test(dur, "dur", "ev", "segment", "even")


def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1 pricing summary (operators/tpch.py): sargable date
    filter to the scan, one map-side-combinable aggregation, money
    in exact integer units (disc_price 1e-4 $, charge 1e-6 $) so the
    sums are bit-exact at any parallelism."""
    from cubes_spark.operators.tpch import q1_pricing_summary

    return q1_pricing_summary(_table(spark, sf_dir, "lineitem"))


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shipping priority (operators/tpch.py): broadcast
    segment-filtered customer, orders-lineitem shuffle on the order
    key, top-10 by exact integer revenue via TakeOrdered with a full
    deterministic tiebreak."""
    from cubes_spark.operators.tpch import q3_shipping_priority

    return q3_shipping_priority(_table(spark, sf_dir, "customer"),
                                _table(spark, sf_dir, "orders"),
                                _table(spark, sf_dir, "lineitem"))


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 local supplier volume (operators/tpch.py): bounded
    nation x region broadcast, customer/supplier joins AQE-decided
    (they scale with SF), local supply chains via the s_nationkey =
    c_nationkey join condition, nation-grain exact revenue."""
    from cubes_spark.operators.tpch import q5_local_supplier_volume

    return q5_local_supplier_volume(
        _table(spark, sf_dir, "customer"),
        _table(spark, sf_dir, "orders"),
        _table(spark, sf_dir, "lineitem"),
        _table(spark, sf_dir, "supplier"),
        _table(spark, sf_dir, "nation"),
        _table(spark, sf_dir, "region"))


def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 volume shipping (operators/tpch.py): bidirectional
    nation-pair trade volume per ship year; the bounded nation lookup
    broadcasts, the scoped customer/supplier joins are AQE-decided;
    one fact shuffle + one 3-key aggregation."""
    from cubes_spark.operators.tpch import q7_volume_shipping

    return q7_volume_shipping(_table(spark, sf_dir, "customer"),
                              _table(spark, sf_dir, "orders"),
                              _table(spark, sf_dir, "lineitem"),
                              _table(spark, sf_dir, "supplier"),
                              _table(spark, sf_dir, "nation"))


def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 returned items (operators/tpch.py): top-20
    customers by returned revenue in one quarter; bounded nation
    broadcast, AQE-decided customer join, deterministic TakeOrdered."""
    from cubes_spark.operators.tpch import q10_returned_items

    return q10_returned_items(_table(spark, sf_dir, "customer"),
                              _table(spark, sf_dir, "orders"),
                              _table(spark, sf_dir, "lineitem"),
                              _table(spark, sf_dir, "nation"))


def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 large-volume customers (operators/tpch.py): the
    aggregate-then-semi-join pattern — qualifying order keys from
    one order-grain reduction, only survivors rejoin customer
    (AQE-decided)."""
    from cubes_spark.operators.tpch import q18_large_volume_customers

    return q18_large_volume_customers(
        _table(spark, sf_dir, "customer"),
        _table(spark, sf_dir, "orders"),
        _table(spark, sf_dir, "lineitem"))


def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 customer distribution (operators/tpch.py): LEFT
    OUTER join so zero-order customers appear, then two stacked
    aggregations (per-customer count -> histogram of counts)."""
    from cubes_spark.operators.tpch import q13_customer_distribution

    return q13_customer_distribution(_table(spark, sf_dir, "customer"),
                                     _table(spark, sf_dir, "orders"))


def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 global sales opportunity (operators/tpch.py):
    scalar-subquery average (exact cent div, computed once) +
    left_anti join for well-funded customers who never placed an
    URGENT order (every customer in the synthetic star has SOME
    order, so the anti-join is scoped to make the result
    non-vacuous)."""
    from cubes_spark.operators.tpch import q22_global_sales_opportunity

    od = _table(spark, sf_dir, "orders")
    return q22_global_sales_opportunity(
        _table(spark, sf_dir, "customer"),
        od.filter(F.col("o_orderpriority") == "1-URGENT"))


def q_doc_rrf(spark, sf_dir):
    """Reciprocal-rank fusion of BM25 and a document-length prior
    (llm/text.py:rrf_fuse; Cormack et al. 2009): each top-20 list
    contributes the exact integer 10^6 div (60 + rank); fusion runs
    on list-sized data only — the hybrid-retrieval combiner."""
    from pyspark.sql.window import Window as W

    from cubes_spark.llm import bm25_search
    from cubes_spark.llm.text import rrf_fuse

    docs = _table(spark, sf_dir, "documents")
    bm = bm25_search(docs, _BM25_TERMS, top_k=20) \
        .select("doc_id", "rank")
    top_len = (docs.orderBy(F.col("n_chars").desc(), F.col("doc_id"))
               .limit(20))
    w = W.orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    ln = top_len.withColumn("rank",
                            F.row_number().over(w).cast("long")) \
        .select("doc_id", "rank")
    return rrf_fuse([bm, ln], "doc_id", "rank", k=60, top_k=10)


def q_doc_score_auc(spark, sf_dir):
    """ROC-AUC of a ranking signal against binary labels
    (operators/stats.py:mann_whitney_u — AUC IS the tie-averaged
    Mann-Whitney probability of superiority): how well document
    length separates English from non-English docs, in exact ppm.
    The classifier-eval companion for continuous scores."""
    from cubes_spark.operators.stats import mann_whitney_u

    docs = _table(spark, sf_dir, "documents")
    prep = docs.select(
        F.when(F.col("lang") == "en", "pos").otherwise("neg")
        .alias("label"),
        F.col("n_chars").cast("double").alias("score"))
    return mann_whitney_u(prep, "label", "score", "pos", "neg")


def q_orders_theilsen(spark, sf_dir):
    """Theil-Sen robust trend per priority (operators/stats.py:
    theil_sen_slope): median of all pairwise monthly-bucket slopes
    in exact micro-cents/day — the quadratic is over the CALENDAR
    grain (84 months -> ~3.5k pairs/group at any fact count), the
    median an exact order statistic of quantized integer slopes."""
    from cubes_spark.operators.stats import theil_sen_slope

    od = _table(spark, sf_dir, "orders")
    return theil_sen_slope(od, ["o_orderpriority"], "o_orderdate",
                           "o_totalprice", bucket="month")


def q_events_cuped(spark, sf_dir):
    """CUPED-adjusted A/B effect (operators/stats.py:
    cuped_adjusted_diff; Deng et al. WSDM 2013): even/odd users as
    treatment/control, first-half-of-month value as the pre-period
    covariate, second half as the outcome; theta from pooled integer
    moment sums, every reported number a defined truncating-div
    chain both engines replay."""
    from cubes_spark.operators.stats import cuped_adjusted_diff

    ev = _table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    prep = ev.select(
        F.col("user_id"),
        F.when(F.col("user_id") % 2 == 0, "treat")
        .otherwise("control").alias("grp"),
        F.when(F.col("ts") < cut, F.col("value")).otherwise(0.0)
        .alias("pre_value"),
        F.when(F.col("ts") >= cut, F.col("value")).otherwise(0.0)
        .alias("post_value"))
    return cuped_adjusted_diff(prep, "user_id", "grp", "treat",
                               "pre_value", "post_value")


def q_orders_mannkendall(spark, sf_dir):
    """Mann-Kendall monotone-trend test per priority
    (operators/stats.py:mann_kendall): S = sum of pairwise signs
    over monthly buckets (calendar-bounded pairs), tie-corrected
    Var(S) emitted as the exact 18x integer numerator."""
    from cubes_spark.operators.stats import mann_kendall

    od = _table(spark, sf_dir, "orders")
    return mann_kendall(od, ["o_orderpriority"], "o_orderdate",
                        "o_totalprice", bucket="month")


def q_events_stream_quantiles(spark, sf_dir):
    """Streaming windowed quantile histogram: per-day fixed-width
    bucket counts accumulate INCREMENTALLY over the watermarked
    stream (state = bucket counters per open window, independent of
    row count); after replay the batch side reads the quantiles off
    the merged counts with the identical integer walk as
    orders_quantiles (functions/sketches.py:
    quantiles_from_bucket_counts) — streaming == batch == oracle for
    a quantile sketch."""
    from cubes_spark.functions.sketches import (
        quantiles_from_bucket_counts,
    )
    from cubes_spark.streaming import read_parquet_stream, \
        replay_to_memory

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = read_parquet_stream(spark, f"{sf_dir}/events.parquet")
    buck = (stream.withWatermark("ts", "2 hours")
            .groupBy(F.window(F.col("ts"), "1 day").alias("__w__"),
                     F.expr("CAST(round(value * 100) AS BIGINT)"
                            " div 100").alias("bucket"))
            .count())
    res = replay_to_memory(buck, "q_events_stream_quantiles")
    hist = res.select(F.col("__w__.start").alias("window_start"),
                      "bucket",
                      F.col("count").cast("long").alias("__n__"))
    return quantiles_from_bucket_counts(
        hist, ["window_start"], [2500, 5000, 9900], 100)


def q_events_stickiness(spark, sf_dir):
    """DAU/MAU stickiness per month (operators/olap.py:
    stickiness_ratio): (10^6 * sum of daily actives) div (days *
    monthly actives) — exact ppm engagement ratio from two
    distinct-reductions and one month-grain join."""
    from cubes_spark.operators.olap import stickiness_ratio

    ev = _table(spark, sf_dir, "events")
    return stickiness_ratio(ev, "user_id", "ts")


def q_orders_lorenz(spark, sf_dir):
    """Lorenz-curve decile points of customer spend (operators/
    olap.py:lorenz_curve): customers ranked ascending by exact cent
    totals on the WEIGHTED two-phase cumulative histogram — decile
    boundary ranks are percentile_disc ceils, shares exact ppm, and
    no global entity sort exists in the plan."""
    from cubes_spark.operators.olap import lorenz_curve

    od = _table(spark, sf_dir, "orders")
    return lorenz_curve(od, "o_custkey", "o_totalprice")


def q_doc_distinctive(spark, sf_dir):
    """Per-source distinctive vocabulary (llm/text.py:
    distinctive_terms): top-5 over-represented tokens by exact
    truncated chi-square contribution (O*N - R*C > 0 cells only,
    min_count-pruned) — the corpus-drift smell test."""
    from cubes_spark.llm.text import distinctive_terms

    docs = _table(spark, sf_dir, "documents")
    return distinctive_terms(docs, "text", "source", top_k=5,
                             min_count=10)


def q_doc_heaps(spark, sf_dir):
    """Vocabulary saturation curve (llm/text.py:heaps_curve):
    distinct types at nested deterministic hash-fraction samples —
    one (token -> min bucket) reduction + a 10-row cumulative sum;
    'is more data still buying vocabulary'."""
    from cubes_spark.llm.text import heaps_curve

    docs = _table(spark, sf_dir, "documents")
    return heaps_curve(docs, "text", "doc_id", fractions=10)


def q_doc_confusion(spark, sf_dir):
    """Language-ID confusion matrix: raw (truth, predicted) counts
    — the companion to doc_langid_eval's per-class metrics; one
    label-pair-grain aggregation."""
    from cubes_spark.llm.text import language_id

    docs = _table(spark, sf_dir, "documents")
    pred = language_id(docs, "text")
    return (pred.groupBy(F.col("lang").alias("truth"),
                         F.col("lang_pred").alias("predicted"))
            .agg(F.count(F.lit(1)).cast("long").alias("n")))


def q_events_type_overlap(spark, sf_dir):
    """Exact pairwise audience overlap between event types:
    |users(a) AND users(b)|, union and Jaccard in exact ppm over the
    distinct (type, user) grain — the exact ground truth the KMV
    sketch entry (orders_kmv) estimates; |types|^2 pair join on the
    type-grain audience counts plus one intersection aggregation."""
    ev = _table(spark, sf_dir, "events")
    tu = ev.select("event_type", "user_id").distinct()
    sizes = (tu.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n")))
    pairs = (tu.alias("a").join(
        tu.alias("b"),
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_type") < F.col("b.event_type")))
        .groupBy(F.col("a.event_type").alias("type_a"),
                 F.col("b.event_type").alias("type_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_both")))
    sa = sizes.select(F.col("event_type").alias("type_a"),
                      F.col("n").alias("__na__"))
    sb = sizes.select(F.col("event_type").alias("type_b"),
                      F.col("n").alias("__nb__"))
    return (pairs.join(F.broadcast(sa), "type_a")
            .join(F.broadcast(sb), "type_b")
            .select("type_a", "type_b",
                    F.col("__na__").cast("long").alias("n_a"),
                    F.col("__nb__").cast("long").alias("n_b"),
                    "n_both",
                    (F.col("__na__") + F.col("__nb__")
                     - F.col("n_both")).cast("long")
                    .alias("n_union"),
                    F.expr("CAST((1000000 * n_both) div"
                           " (__na__ + __nb__ - n_both) AS BIGINT)")
                    .alias("jaccard_ppm")))


def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 forecast revenue (operators/tpch.py): pure filter +
    single aggregation — every predicate (date range, integer
    discount band, quantity cap) reaches the parquet scan; the
    float 'between 0.05-0.01' trap made exact via integer percent
    points."""
    from cubes_spark.operators.tpch import q6_forecast_revenue

    return q6_forecast_revenue(_table(spark, sf_dir, "lineitem"))


def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 market share (operators/tpch.py): target-nation
    supplier share of one part type in one region per order year —
    two conditional sums in ONE aggregation, share exact ppm;
    bounded part/nation sides broadcast, scaling joins AQE-decided."""
    from cubes_spark.operators.tpch import q8_market_share

    return q8_market_share(_table(spark, sf_dir, "customer"),
                           _table(spark, sf_dir, "orders"),
                           _table(spark, sf_dir, "lineitem"),
                           _table(spark, sf_dir, "supplier"),
                           _table(spark, sf_dir, "nation"),
                           _table(spark, sf_dir, "region"),
                           _table(spark, sf_dir, "part"))


def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 promo effect (operators/tpch.py): promo vs total
    revenue for one ship month in the same aggregation, share as one
    truncating div to ppm; part broadcast into the filtered scan."""
    from cubes_spark.operators.tpch import q14_promo_effect

    return q14_promo_effect(_table(spark, sf_dir, "lineitem"),
                            _table(spark, sf_dir, "part"))


def q_events_mase(spark, sf_dir):
    """Seasonal-naive forecast skill per event type (operators/
    olap.py:forecast_mase): |y_t - y_(t-7)| vs |y_t - y_(t-1)| over
    the daily sum series, ratio in exact ppm — below 10^6 the weekly
    pattern beats a random walk; calendar-grain windows only."""
    from cubes_spark.operators.olap import forecast_mase

    ev = _table(spark, sf_dir, "events")
    return forecast_mase(ev, ["event_type"], "ts", "value",
                         bucket="day", season=7)




def _oracle_sf_dir() -> str:
    """Scale-factor dir the data-dependent oracles are generated for.

    The driver's correctness gate always compares at sf0.01; the local
    mirror (tools/check_correctness.py) overrides via env so oracle and
    query see the same data."""
    import os

    return os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


# ---------------------------------------------------------------------------
# TPC-H round-10 additions: correlated scalar subqueries, anti/semi-join
# chains, disjunctive pushdown (operators/tpch.py; schema deltas documented
# on each operator)
# ---------------------------------------------------------------------------


def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 min-cost supplier (operators/tpch.py): the correlated
    scalar-min subquery decorrelated into a per-part min aggregation
    joined back on (part, cost); the partsupp stand-in is the exact
    min unit price per distinct lineitem pair; deterministic top-100."""
    from cubes_spark.operators.tpch import q2_min_cost_supplier

    return q2_min_cost_supplier(_table(spark, sf_dir, "part"),
                                _table(spark, sf_dir, "supplier"),
                                _table(spark, sf_dir, "lineitem"),
                                _table(spark, sf_dir, "nation"),
                                _table(spark, sf_dir, "region"))


def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 product-type profit (operators/tpch.py): profit per
    (supplier nation, order year) with p_retailprice as the unit-cost
    stand-in; name-filtered part joins AQE-decided, bounded nation
    broadcast, exact decimal profit sums."""
    from cubes_spark.operators.tpch import q9_product_type_profit

    return q9_product_type_profit(_table(spark, sf_dir, "part"),
                                  _table(spark, sf_dir, "supplier"),
                                  _table(spark, sf_dir, "lineitem"),
                                  _table(spark, sf_dir, "orders"),
                                  _table(spark, sf_dir, "nation"))


def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 important stock (operators/tpch.py): the
    HAVING-vs-global-scalar pattern — part-grain value aggregate,
    ONE driver row for the global total, literal threshold filter."""
    from cubes_spark.operators.tpch import q11_important_stock

    return q11_important_stock(_table(spark, sf_dir, "supplier"),
                               _table(spark, sf_dir, "lineitem"),
                               _table(spark, sf_dir, "nation"))


def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 top supplier (operators/tpch.py): quarter-scoped
    revenue view + scalar max; ties all surface via the equality
    filter, supplier details AQE-joined."""
    from cubes_spark.operators.tpch import q15_top_supplier

    return q15_top_supplier(_table(spark, sf_dir, "supplier"),
                            _table(spark, sf_dir, "lineitem"))


def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 parts/supplier relationship (operators/tpch.py):
    NOT-IN as a left_anti join (negative-balance suppliers stand in
    for complaints), distinct supplier count per (brand,type,size)."""
    from cubes_spark.operators.tpch import q16_parts_supplier_relationship

    return q16_parts_supplier_relationship(
        _table(spark, sf_dir, "part"),
        _table(spark, sf_dir, "supplier"),
        _table(spark, sf_dir, "lineitem"))


def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 small-quantity revenue (operators/tpch.py): the
    per-part correlated average decorrelated into a part-grain
    (n, sum-qty) aggregate joined back; the 20%% comparison is the
    exact integer cross-multiplication 5·n·qty < sum."""
    from cubes_spark.operators.tpch import q17_small_quantity_revenue

    return q17_small_quantity_revenue(_table(spark, sf_dir, "part"),
                                      _table(spark, sf_dir, "lineitem"))


def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 discounted revenue (operators/tpch.py): the
    disjunctive OR-of-ANDs predicate across both join sides — the
    planner pushes single-side conjuncts to each scan and keeps the
    cross-side OR as the join filter."""
    from cubes_spark.operators.tpch import q19_discounted_revenue

    return q19_discounted_revenue(_table(spark, sf_dir, "part"),
                                  _table(spark, sf_dir, "lineitem"))


def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 potential promotion (operators/tpch.py): nested
    IN-subqueries as a semi-join chain; the availqty stand-in is
    "shipped more than half the part's year total" — the same
    correlated per-part scalar, decorrelated."""
    from cubes_spark.operators.tpch import q20_potential_promotion

    return q20_potential_promotion(_table(spark, sf_dir, "part"),
                                   _table(spark, sf_dir, "supplier"),
                                   _table(spark, sf_dir, "lineitem"),
                                   _table(spark, sf_dir, "nation"))


def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 suppliers kept waiting (operators/tpch.py): the
    EXISTS + NOT-EXISTS self-join chain collapsed into ONE order-grain
    aggregation (distinct suppliers, distinct failing suppliers, the
    sole failing key); returnflag='R' stands in for the missing
    receipt-vs-commit lateness."""
    from cubes_spark.operators.tpch import q21_suppliers_kept_waiting

    return q21_suppliers_kept_waiting(_table(spark, sf_dir, "supplier"),
                                      _table(spark, sf_dir, "lineitem"),
                                      _table(spark, sf_dir, "orders"),
                                      _table(spark, sf_dir, "nation"))


def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 order priority checking (operators/tpch.py): one
    quarter's per-priority order counts where EXISTS a problem
    lineitem — the EXISTS as a LEFT SEMI join; problem :=
    returnflag='R' (documented stand-in for the missing
    commit/receipt dates, as in tpch_q21)."""
    from cubes_spark.operators.tpch import q4_order_priority

    return q4_order_priority(_table(spark, sf_dir, "orders"),
                             _table(spark, sf_dir, "lineitem"))


def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 shipping modes and order priority
    (operators/tpch.py): critical vs non-critical order counts per
    ship mode over one year's problem lineitems; mode :=
    line-number stand-in mapping, problem := returnflag='R'
    (documented schema deltas)."""
    from cubes_spark.operators.tpch import q12_shipping_modes

    return q12_shipping_modes(_table(spark, sf_dir, "orders"),
                              _table(spark, sf_dir, "lineitem"))


def q_orders_yoy(spark, sf_dir):
    """Year-over-year monthly revenue (operators/olap.py:
    period_over_period): exact cent sums per order month, the same
    month last year attached by an add_months EQUI-JOIN on the
    calendar key (gap-correct, unlike a row-offset lag), delta in
    truncating ppm."""
    from cubes_spark.operators.olap import period_over_period

    od = _table(spark, sf_dir, "orders")
    return period_over_period(od, "o_orderdate", "o_totalprice",
                              bucket="month", lag_periods=12)


def q_nation_share(spark, sf_dir):
    """Percent-of-parent contribution (operators/olap.py:
    percent_of_parent): each supplier nation's share of its region's
    lineitem revenue in exact ppm — one (region, nation)-grain
    aggregation, then a window sum partitioned by region over that
    bounded grain (never over facts)."""
    from cubes_spark.operators.olap import percent_of_parent

    li = _table(spark, sf_dir, "lineitem")
    su = _table(spark, sf_dir, "supplier")
    na = _table(spark, sf_dir, "nation")
    re = _table(spark, sf_dir, "region")
    joined = (li.join(su, F.col("l_suppkey") == F.col("s_suppkey"))
              .join(F.broadcast(na),
                    F.col("s_nationkey") == F.col("n_nationkey"))
              .join(F.broadcast(re),
                    F.col("n_regionkey") == F.col("r_regionkey")))
    return percent_of_parent(joined, ["r_name"], ["n_name"],
                             "l_extendedprice")


def q_topn_customers_nation(spark, sf_dir):
    """Per-group top-N (operators/olap.py:top_n_per_group): top 3
    customers by exact order-revenue cents WITHIN each nation, ranked
    with a full deterministic tiebreak (revenue desc, custkey asc).
    Aggregates to the customer grain FIRST (rank aggregated rows,
    never facts), then one row_number window partitioned by nation."""
    from cubes_spark.operators.olap import top_n_per_group

    od = _table(spark, sf_dir, "orders")
    cu = _table(spark, sf_dir, "customer")
    na = _table(spark, sf_dir, "nation")
    per_cust = (od.join(cu, F.col("o_custkey") == F.col("c_custkey"))
                .join(F.broadcast(na),
                      F.col("c_nationkey") == F.col("n_nationkey"))
                .groupBy("n_name", "c_custkey")
                .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                           .cast("long")).cast("long")
                     .alias("revenue_cents")))
    return top_n_per_group(
        per_cust, ["n_name"],
        [F.col("revenue_cents").desc(), F.col("c_custkey").asc()],
        n=3)


def q_orders_anova(spark, sf_dir):
    """One-way ANOVA across order priorities (operators/stats.py:
    one_way_anova): does mean order value differ by priority?  F and
    eta² as exact scaled integers off one map-side-combinable moment
    aggregation — see _anova_from_moments for the fdiv recipe the
    oracle replays."""
    from cubes_spark.operators.stats import one_way_anova

    od = _table(spark, sf_dir, "orders")
    return one_way_anova(od, "o_orderpriority", "o_totalprice")


def q_orders_bf(spark, sf_dir):
    """Brown–Forsythe variance-equality test across order priorities
    (operators/stats.py:brown_forsythe): the ANOVA F on |v − group
    median| with exact percentile_disc medians in cents — the robust
    Levene variant, group-partitioned windows only."""
    from cubes_spark.operators.stats import brown_forsythe

    od = _table(spark, sf_dir, "orders")
    return brown_forsythe(od, "o_orderpriority", "o_totalprice")


def q_orders_kruskal(spark, sf_dir):
    """Kruskal–Wallis H across order priorities (operators/stats.py:
    kruskal_wallis): k-sample rank test with tie correction, doubled
    tie-averaged ranks off the value-grain cumulative histogram —
    no per-row rank ever materializes."""
    from cubes_spark.operators.stats import kruskal_wallis

    od = _table(spark, sf_dir, "orders")
    return kruskal_wallis(od, "o_orderpriority", "o_totalprice")


def q_window_dist(spark, sf_dir):
    """SQL window distribution-function parity (beyond the
    reference's calculator set): ntile(4), percent_rank and
    cume_dist over customers ranked by exact account-balance cents
    WITHIN each nation — a fully deterministic total order (balance,
    custkey), so the doubles are single-division exact and the
    oracle replays them bit-for-bit.  Windows partition by nation:
    per-partition state is that nation's customers, never the full
    table."""
    from pyspark.sql.window import Window as W

    cu = _table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(
        F.round(F.col("c_acctbal") * 100).cast("long"), "c_custkey")
    return cu.select(
        F.col("c_nationkey").cast("long").alias("nation_key"),
        F.col("c_custkey").cast("long").alias("cust_key"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"))


def q_region_listagg(spark, sf_dir):
    """Ordered string aggregation (LISTAGG / string_agg parity):
    each region's nation names concatenated in collation order —
    Spark side as array_join(array_sort(collect_list(...)))  (the
    deterministic formulation that never depends on row arrival
    order), oracle as string_agg(... ORDER BY ...)."""
    na = _table(spark, sf_dir, "nation")
    re_ = _table(spark, sf_dir, "region")
    return (na.join(F.broadcast(re_),
                    F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("r_name")
            .agg(F.array_join(F.array_sort(F.collect_list("n_name")),
                              ",").alias("nations"),
                 F.count(F.lit(1)).cast("long").alias("n_nations")))


def q_events_entropy(spark, sf_dir):
    """Shannon entropy of the event-type distribution
    (operators/stats.py:shannon_entropy): exact counts, one ordered
    fold for the Σ c·ln c so the double sum is deterministic."""
    from cubes_spark.operators.stats import shannon_entropy

    ev = _table(spark, sf_dir, "events")
    return shannon_entropy(ev, "event_type")


def q_lineitem_ratio_ci(spark, sf_dir):
    """Delta-method ratio metric (operators/stats.py:ratio_delta_ci):
    revenue per unit quantity by return flag with linearization
    variance — the A/B ratio-metric estimator, exact moment sums and
    one shared double formula."""
    from cubes_spark.operators.stats import ratio_delta_ci

    li = _table(spark, sf_dir, "lineitem")
    return ratio_delta_ci(li, ["l_returnflag"],
                          "l_extendedprice", "l_quantity")


def q_orders_bootstrap(spark, sf_dir):
    """Poisson bootstrap CI for mean order value per priority
    (operators/stats.py:poisson_bootstrap_mean): 64 md5-seeded
    Poisson(1) replicates via integer inverse-CDF thresholds, order-
    statistic band over the replicate means — the shuffle-free
    resampling scheme for partitioned data (Chamandy et al. 2012)."""
    from cubes_spark.operators.stats import poisson_bootstrap_mean

    od = _table(spark, sf_dir, "orders")
    return poisson_bootstrap_mean(
        od, ["o_orderpriority"], "o_totalprice", "o_orderkey")


def q_events_binseg(spark, sf_dir):
    """Single-changepoint detection on the daily event-value series
    (operators/stats.py:binary_segmentation): the SSE-optimal split
    day via exact integer prefix sums on the bounded calendar grain —
    WHERE the level shifts, complementing Mann-Kendall's IS there a
    trend."""
    from cubes_spark.operators.stats import binary_segmentation

    ev = _table(spark, sf_dir, "events")
    return binary_segmentation(ev, "ts", "value")


def q_emb_mmr(spark, sf_dir):
    """Maximal-marginal-relevance diversified retrieval
    (llm/similarity.py:mmr_topk): greedy relevance-vs-redundancy
    top-8 from each query's cosine top-24 pool, every similarity
    rounded to 6 decimals before selection so the full greedy
    trajectory has an exact unrolled-SQL oracle."""
    from cubes_spark.llm.similarity import mmr_topk

    emb = _table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return mmr_topk(emb, queries, k=8, pool=24, lam=0.7)


def q_emb_mmr_ann(spark, sf_dir):
    """MMR over ANN-bucketed candidate pools — the 100 TB composition
    (llm/similarity.py:mmr_topk candidates= + ivf_topk): each query's
    pool is its IVF top-24 (sample-trained centroids, nprobe=4 cell
    equi-join — never a corpus scan), then the same exact greedy MMR
    selection.  The oracle retrains the identical fixed-seed k-means
    and replays both stages."""
    from cubes_spark.llm import ivf_topk
    from cubes_spark.llm.similarity import mmr_topk

    emb = _table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    cand = ivf_topk(emb, queries, k=24, nlist=16, nprobe=4,
                    exclude_self=True)
    return mmr_topk(emb, queries, k=8, pool=24, lam=0.7,
                    candidates=cand)


def q_emb_mmr_ann_recall(spark, sf_dir):
    """Bridge between the MMR scale path and its brute-force
    baseline: what share of the exact MMR top-8 selections the
    IVF-pooled variant reproduces (auditable integer basis points —
    the cost of replacing the corpus scan with bucketed candidate
    generation, measured, not assumed)."""
    from cubes_spark.llm import ivf_topk
    from cubes_spark.llm.similarity import mmr_topk

    emb = _table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = mmr_topk(emb, queries, k=8, pool=24, lam=0.7) \
        .select("query_id", "vec_id")
    cand = ivf_topk(emb, queries, k=24, nlist=16, nprobe=4,
                    exclude_self=True)
    approx = (mmr_topk(emb, queries, k=8, pool=24, lam=0.7,
                       candidates=cand)
              .select("query_id", "vec_id")
              .withColumn("__hit__", F.lit(1)))
    marked = exact.join(approx, ["query_id", "vec_id"], "left")
    return marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.sum(F.coalesce(F.col("__hit__"), F.lit(0)))
        .cast("long").alias("n_hit"),
    ).select(
        "n_exact", "n_hit",
        F.expr("n_hit * 10000 div n_exact").alias("overlap_bp"),
    )


def q_orders_welch(spark, sf_dir):
    """Welch's unequal-variance two-sample test between URGENT and
    LOW order totals (operators/stats.py:welch_t2): exact t² and
    Welch-Satterthwaite dof as scaled integers from one conditional
    moment aggregation — the parametric companion of orders_mwu."""
    from cubes_spark.operators.stats import welch_t2

    od = _table(spark, sf_dir, "orders")
    return welch_t2(od, "o_orderpriority", "o_totalprice",
                    "1-URGENT", "5-LOW")


def q_doc_zipf(spark, sf_dir):
    """Zipf's-law corpus fit (llm/text.py:zipf_fit): OLS slope and r²
    of ln(count) vs ln(rank) over the top terms, with running-window
    folds so the double sums are order-deterministic — the corpus-
    health companion of doc_heaps / doc_vocab_growth."""
    from cubes_spark.llm.text import zipf_fit

    docs = _table(spark, sf_dir, "documents")
    return zipf_fit(docs, "text", top_k=100)


def q_orders_hill(spark, sf_dir):
    """Hill tail-index estimator over the largest 200 order totals
    (operators/stats.py:hill_tail_index): the heavy-tail diagnostic —
    TakeOrderedAndProject top-k, libm ln, one ordered fold."""
    from cubes_spark.operators.stats import hill_tail_index

    od = _table(spark, sf_dir, "orders")
    return hill_tail_index(od, "o_totalprice", "o_orderkey", k=200)


def q_part_assortativity(spark, sf_dir):
    """Degree assortativity of the part-affinity graph (llm/web.py:
    degree_assortativity; Newman 2002): exact integer Pearson moments
    over endpoint degrees — do hub parts co-occur with hub parts?"""
    from cubes_spark.llm.web import degree_assortativity
    from cubes_spark.operators.olap import basket_pairs

    li = _table(spark, sf_dir, "lineitem")
    edges = basket_pairs(li, "l_orderkey", "l_partkey",
                         min_count=2).select("item_a", "item_b")
    return degree_assortativity(edges, "item_a", "item_b")


def q_events_peakrate(spark, sf_dir):
    """Peak trailing-hour intensity per event type (operators/olap.py:
    peak_trailing_rate): calendar-aware RANGE window over the bounded
    second grain — the hottest hour and when it first happened."""
    from cubes_spark.operators.olap import peak_trailing_rate

    ev = _table(spark, sf_dir, "events")
    return peak_trailing_rate(ev, "ts", "value", ["event_type"],
                              window_seconds=3600)


def q_orders_qq(spark, sf_dir):
    """Quantile-quantile decile pairs between URGENT and LOW order
    totals: percentile_disc order statistics per group off ranks
    PARTITIONED BY THE GROUP — the distribution-shape companion to
    orders_ks (where does the mass shift, not just how much)."""
    from pyspark.sql.window import Window as W

    od = _table(spark, sf_dir, "orders")
    base = (od.filter(F.col("o_orderpriority")
                      .isin(["1-URGENT", "5-LOW"]))
            .select((F.col("o_orderpriority") == "1-URGENT")
                    .alias("__ua__"),
                    F.round(F.col("o_totalprice") * 100).cast("long")
                    .alias("__v__")))
    w_ord = W.partitionBy("__ua__").orderBy("__v__")
    w_all = W.partitionBy("__ua__")
    ranked = (base.withColumn("__rn__", F.row_number().over(w_ord))
              .withColumn("__n__", F.count(F.lit(1)).over(w_all)))
    deciles = spark.range(1, 10).select(
        F.col("id").cast("int").alias("decile"))
    j = ranked.join(F.broadcast(deciles),
                    F.col("__rn__") >= F.expr(
                        "CAST((decile * __n__ + 9) div 10 AS INT)"))
    return (j.groupBy("decile")
            .agg(F.min(F.when(F.col("__ua__"), F.col("__v__")))
                 .cast("long").alias("urgent_cents"),
                 F.min(F.when(~F.col("__ua__"), F.col("__v__")))
                 .cast("long").alias("low_cents"))
            )


def q_doc_minhash_recall(spark, sf_dir):
    """Recall/precision of the MinHash-LSH candidate generator vs
    exact shingle-Jaccard ground truth (llm/dedup.py:minhash_recall):
    the text-side quality bridge mirroring emb_ann_recall — ground
    truth from a shingle inverted index (never all-pairs), threshold
    as an exact integer cross-multiplication."""
    from cubes_spark.llm.dedup import minhash_recall

    docs = (_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 500)
            .select("doc_id", "text"))
    return minhash_recall(docs, num_hashes=16, bands=4, shingle_k=5)


def q_bridge_campaign(spark, sf_dir):
    """Kimball many-to-many bridge aggregation
    (operators/olap.py:bridge_weighted_aggregate): each order is
    multi-homed into 1-3 of 5 campaigns through a deterministic
    in-plan bridge carrying integer basis-point allocation weights
    (equal split, remainder to the first membership, summing to
    10000 per order), and revenue is allocated across campaigns so
    the campaign totals stay additive — the reference joins facts
    only to single-valued dimensions.  All-integer cents x bp, so
    the DuckDB oracle replays the construction and the allocation
    exactly.  Exact-replay domain: sum(cents*bp) per campaign < 2^63
    (~2e6 TPC-H-priced facts per campaign at full weight)."""
    od = _table(spark, sf_dir, "orders")
    n = (F.lit(1) + F.pmod(F.col("o_orderkey"), F.lit(3)))
    bridge = (od.select("o_orderkey", n.alias("__n__"))
              .select("o_orderkey", "__n__",
                      F.explode(F.sequence(
                          F.lit(0), (F.col("__n__") - 1).cast("int")))
                      .alias("__i__"))
              .select(
                  "o_orderkey",
                  F.concat(F.lit("C"),
                           (F.pmod(F.col("o_orderkey") * 7
                                   + F.col("__i__"), F.lit(5)) + 1)
                           .cast("string")).alias("campaign"),
                  (F.expr("10000 div __n__")
                   + F.when(F.col("__i__") == 0,
                            F.pmod(F.lit(10000), F.col("__n__")))
                   .otherwise(F.lit(0))).cast("long")
                  .alias("weight_bp")))
    return olap.bridge_weighted_aggregate(
        od, bridge, "o_orderkey", "campaign", "weight_bp",
        "o_totalprice")


def q_scd2_pit(spark, sf_dir):
    """SCD Type-2 point-in-time lookup (operators/olap.py:
    scd2_lookup): each order picks up the customer-tier attribute
    from the dimension VERSION effective at the order date.  The
    version table is built in-plan (three versions per customer,
    first effective `1992-01-01 + custkey%365 days`, then every 730
    days, tier = (custkey+version) mod 5), so early-1992 orders
    genuinely predate their customer's first version and keep NULL —
    the semantics a BETWEEN-interval join would give, executed as
    ONE per-key windowed shuffle via the as-of join instead of a
    range join.  Oracle: LEFT JOIN on eff <= orderdate + arg_max."""
    od = _table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate")
    cust = _table(spark, sf_dir, "customer")
    versions = (cust.select(
        F.col("c_custkey").alias("o_custkey"),
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2)))
        .alias("__v__"))
        .select(
            "o_custkey",
            F.date_add(F.to_date(F.lit("1992-01-01")),
                       (F.pmod(F.col("o_custkey"), F.lit(365))
                        + F.col("__v__") * 730).cast("int"))
            .cast("timestamp").alias("eff"),
            F.pmod(F.col("o_custkey") + F.col("__v__"), F.lit(5))
            .cast("long").alias("tier")))
    out = olap.scd2_lookup(od, versions, key_col="o_custkey",
                           fact_ts_col="o_orderdate",
                           effective_col="eff",
                           attr_cols=["tier"])
    return out.select("o_orderkey", "o_custkey", "tier")


def q_events_stream_enrich(spark, sf_dir):
    """Stream-static dimension enrichment (streaming/stream.py:
    stream_static_enrich): the replayed events stream broadcast-joined
    per micro-batch to a bounded in-plan dimension (event_type ->
    category = first letter, integer type weight), then the enriched
    stream is window-aggregated per category — the streaming star
    join.  Stateless join (no watermark state), replayed availableNow;
    the oracle recomputes the same CASE-free derivation in batch SQL —
    streaming == batch == oracle."""
    from cubes_spark.streaming import (read_parquet_stream,
                                       replay_to_memory,
                                       stream_static_enrich,
                                       windowed_aggregate)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    dim = (_table(spark, sf_dir, "events")
           .select("event_type").distinct()
           .select("event_type",
                   F.upper(F.substring("event_type", 1, 1))
                   .alias("category"),
                   F.length("event_type").cast("long")
                   .alias("type_weight"))
           .cache())
    stream = read_parquet_stream(spark, f"{sf_dir}/events.parquet")
    enriched = stream_static_enrich(stream, dim, on="event_type")
    windowed = windowed_aggregate(
        enriched,
        {
            "n_events": F.count(F.lit(1)).cast("long"),
            "weight_sum": F.sum("type_weight").cast("long"),
            "value_sum": F.sum(F.col("value").cast("decimal(20,6)"))
            .cast("double"),
        },
        window="1 hour", group_by=["category"], watermark="2 hours",
    )
    result = replay_to_memory(windowed, "q_events_stream_enrich")
    return result.select("window_start", "category", "n_events",
                         "weight_sum", "value_sum")


def q_doc_c4_filter(spark, sf_dir):
    """C4-style heuristic cleaning (llm/text.py:c4_line_filter —
    Raffel et al. 2020 §2.2): sentence-per-line pages built in-plan
    from the documents table (literal '. ' -> '.\\n'), salted with
    deterministic rule-violations (a curly-brace config line on
    doc_id%23, a short no-punctuation line on %13, a javascript
    notice on %17) so every published rule fires; the operator's
    line filter + page verdict replayed verbatim by the DuckDB
    oracle (md5 of the cleaned text proves content equality).  All
    JVM higher-order array functions — no explode, no shuffle."""
    from cubes_spark.llm import c4_line_filter

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    t = F.concat(
        F.when(F.col("doc_id") % 23 == 0, F.lit("{ config }\n"))
        .otherwise(F.lit("")),
        F.replace(F.col("text"), F.lit(". "), F.lit(".\n")),
        F.when(F.col("doc_id") % 13 == 0, F.lit("\ntiny line"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 17 == 0,
               F.lit("\nthis page requires javascript enabled "
                     "to render correctly."))
        .otherwise(F.lit("")),
    )
    out = c4_line_filter(docs.select("doc_id", t.alias("text")))
    return out.select("doc_id", "n_lines", "n_kept", "kept",
                      "clean_md5")


def q_emb_hard_negatives(spark, sf_dir):
    """Semi-hard negative mining over ANN pools (llm/similarity.py:
    hard_negatives + ivf_topk): per query the 4 most-similar
    candidates inside the cosine band [0.22, 0.35) of its IVF top-24
    — the contrastive-training composition (FaceNet band / DPR hard
    negatives) that never scans the corpus.  ``nlist=None`` (the
    bounded-cell auto rule) keeps IVF cells ~128 vectors as the
    corpus grows, so per-query probe work is CONSTANT and total
    mining cost linear in the query count — a pinned nlist measured
    31×/decade at sf1→sf10 (r12 sweep).  The oracle recomputes the
    same nlist from the same corpus count, retrains the identical
    fixed-seed k-means, replays the IVF candidate generation, then
    the band filter + re-rank on rounded cosines."""
    from cubes_spark.llm import ivf_topk
    from cubes_spark.llm.similarity import hard_negatives

    emb = _table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    cand = ivf_topk(emb, queries, k=24, nlist=None, nprobe=4,
                    exclude_self=True)
    return hard_negatives(cand, lo=0.22, hi=0.35, m=4)


def q_doc_exif(spark, sf_dir):
    """REAL EXIF metadata extraction end-to-end: complete TIFF files
    (even doc_id) and JPEG-APP1-wrapped EXIF (odd doc_id) built
    in-plan — little-endian IFD0 with SHORT width/height/orientation,
    an inline 3-byte ASCII make and an offset-addressed 20-byte
    DateTime — parsed for real by the stdlib TIFF/JPEG-marker walker
    inside the Arrow ``exif_metadata`` operator
    (cubes_spark/llm/multimodal.py).  Every file carries an ExifIFD
    pointer (0x8769): doc_id%3==0 rows have a sub-IFD with a
    DateTimeOriginal that DIFFERS from IFD0's DateTime (taken_at !=
    modified_at — the capture-vs-modification distinction), the rest
    an EMPTY sub-IFD so ``taken_at`` falls back to DateTime.  Every
    field is closed-form in doc_id, so the DuckDB oracle recomputes
    them without parsing; the absent model tag proves the NULL
    path."""
    from cubes_spark.llm import exif_metadata

    d = F.col("doc_id")

    def hex2(col):
        return F.lpad(F.hex(col.cast("long")), 2, "0")

    def le16(col):
        return F.concat(hex2(col % 256),
                        hex2((col / 256).cast("long") % 256))

    w = F.lit(16) + d % 32
    h = F.lit(8) + d % 16
    orient = F.lit(1) + d % 8
    make_digit = hex2(F.lit(0x30) + d % 10)
    day_digit = hex2(F.lit(0x30) + (F.lit(1) + d % 9))
    hour = d % 24
    hh_hex = F.concat(hex2(F.lit(0x30) + (hour / 10).cast("long")),
                      hex2(F.lit(0x30) + hour % 10))
    # layout: IFD0 @8 (6 entries, ends 86=0x56), DateTime @86,
    # Exif sub-IFD @106=0x6A, DateTimeOriginal @124=0x7C
    sub_ifd_hex = F.when(
        d % 3 == 0,
        F.concat(
            F.lit("0100"),                         # 1 entry
            F.lit("0390" "0200" "14000000" "7C000000"),  # DTO @ 124
            F.lit("00000000"),                     # no next IFD
            F.lit("323032333A30363A30"), day_digit,  # '2023:06:0<d>'
            F.lit("20"), hh_hex,
            F.lit("3A33303A3030" "00"),            # ':30:00\\0'
        ),
    ).otherwise(F.lit("0000" "00000000"))          # empty sub-IFD
    tiff_hex = F.concat(
        F.lit("49492A00" "08000000"),              # II, 42, IFD0 @ 8
        F.lit("0600"),                             # 6 entries
        F.lit("0001" "0300" "01000000"), le16(w), F.lit("0000"),
        F.lit("0101" "0300" "01000000"), le16(h), F.lit("0000"),
        F.lit("0F01" "0200" "03000000" "43"), make_digit,
        F.lit("0000"),                             # make 'C<d>\\0'
        F.lit("1201" "0300" "01000000"), le16(orient), F.lit("0000"),
        F.lit("3201" "0200" "14000000" "56000000"),  # datetime @ 86
        F.lit("6987" "0400" "01000000" "6A000000"),  # ExifIFD @ 106
        F.lit("00000000"),                         # no next IFD
        F.lit("323032343A30313A30"), day_digit,    # '2024:01:0<d>'
        F.lit("20"), hh_hex,
        F.lit("3A30303A3030" "00"),                # ':00:00\\0'
        sub_ifd_hex,
    )
    # APP1 length = 2 + 6 + tiff bytes (144 with DTO, 112 without)
    app1_len = F.when(d % 3 == 0, F.lit("0098")).otherwise(
        F.lit("0078"))
    payload_hex = F.when(
        d % 2 == 1,
        F.concat(F.lit("FFD8" "FFE1"), app1_len,
                 F.lit("457869660000"), tiff_hex, F.lit("FFD9")),
    ).otherwise(tiff_hex)
    docs = (_table(spark, sf_dir, "documents").select("doc_id")
            .withColumn("payload", F.unhex(payload_hex)))
    return exif_metadata(docs, "payload")


def q_doc_gopher(spark, sf_dir):
    """Gopher quality rules (llm/text.py:gopher_quality_filter — Rae
    et al. 2021 A1.1): sentence-per-line pages from the documents
    table salted with deterministic rule triggers (bullet items on
    doc_id%19, an ellipsis line on %23, a symbol run on %29); every
    counter and the integer cross-multiplied verdict replayed
    verbatim by the DuckDB oracle."""
    from cubes_spark.llm import gopher_quality_filter

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    t = F.concat(
        F.replace(F.col("text"), F.lit(". "), F.lit(".\n")),
        F.when(F.col("doc_id") % 19 == 0,
               F.lit("\n- bullet item one\n- bullet item two"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 23 == 0,
               F.lit("\nto be continued...")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 29 == 0,
               F.lit(" ### ### ###")).otherwise(F.lit("")),
    )
    return gopher_quality_filter(docs.select("doc_id", t.alias("text")))


def q_doc_urls(spark, sf_dir):
    """URL canonicalization (llm/web.py:canonicalize_urls): crawl
    URLs built in-plan in four deterministic shapes — case-variant
    host with default port + tracking param + fragment, a root-path
    HTTPS with only a gclid, a clean variant that canonicalizes to
    the SAME key as the first shape, and a non-URL string that
    quarantines to NULL.  The DuckDB oracle replays the construction
    and every rule (scheme/host lowering, default-port strip,
    fragment/tracking removal, root-path collapse) verbatim."""
    from cubes_spark.llm import canonicalize_urls

    d = F.col("doc_id")

    def s(col):
        return col.cast("string")

    url = (F.when(d % 4 == 0, F.concat(
               F.lit("HTTP://Example"), s(d % 7),
               F.lit(".COM:80/path/"), s(d % 97),
               F.lit("?utm_source=x&id="), s(d % 13), F.lit("#frag")))
           .when(d % 4 == 1, F.concat(
               F.lit("https://cdn"), s(d % 5),
               F.lit(".Example.org:443/?gclid=abc"), s(d % 9)))
           .when(d % 4 == 2, F.concat(
               F.lit("http://example"), s(d % 7),
               F.lit(".com/path/"), s(d % 97),
               F.lit("?id="), s(d % 13), F.lit("&utm_medium=mail")))
           .otherwise(F.concat(F.lit("not a url "), s(d))))
    docs = (_table(spark, sf_dir, "documents")
            .select("doc_id", url.alias("url")))
    return canonicalize_urls(docs).select(
        "doc_id", "canonical_url", "host", "n_params_kept")


def q_orders_melt(spark, sf_dir):
    """Unpivot (operators/olap.py:melt — the crosstab inverse): a
    wide per-year status-count frame melted back to the long
    (year, variable, value) grain through Spark's native Expand node
    (no shuffle, no array explode).  Oracle: the same wide CTE
    unioned per measure column."""
    od = _table(spark, sf_dir, "orders")
    wide = (od.groupBy(F.year("o_orderdate").cast("long").alias("year"))
            .agg(*[F.count(F.when(F.col("o_orderstatus") == st, 1))
                   .cast("long").alias(f"status_{st.lower()}")
                   for st in ("O", "F", "P")]))
    return olap.melt(wide, ["year"],
                     ["status_o", "status_f", "status_p"])


def q_doc_rag_topk(spark, sf_dir):
    """End-to-end in-engine retrieval (RAG shape): documents ->
    feature-hash embeddings (llm/text.py:feature_hash_embed, dim=16)
    -> exact cosine top-5 per NATURAL-LANGUAGE query
    (llm/similarity.py:cosine_topk) — three fixed query strings
    embedded by the SAME operator, no external model anywhere.  The
    oracle replays both md5 hash folds (corpus + query literals),
    normalization and the unrounded cosine ranking in SQL."""
    from cubes_spark.llm import feature_hash_embed
    from cubes_spark.llm.similarity import cosine_topk

    docs = (_table(spark, sf_dir, "documents")
            .filter(F.length(F.trim(F.col("text"))) > 0))
    emb = feature_hash_embed(docs, dim=16).select(
        F.col("doc_id").alias("vec_id"), "embedding")
    qdf = spark.createDataFrame(
        [(0, "data quality and cleaning"),
         (1, "machine learning training data"),
         (2, "the weather in paris")], ["doc_id", "text"])
    qemb = feature_hash_embed(qdf, dim=16).select(
        F.col("doc_id").alias("vec_id"), "embedding")
    return cosine_topk(emb, qemb, k=5, exclude_self=False)


def q_doc_keep_best(spark, sf_dir):
    """Quality-aware cluster dedup (llm/dedup.py:dedup_keep_best):
    MinHash-LSH pairs -> connected components -> keep the LONGEST
    member per cluster (score = n_chars, ties by lowest id) — the
    RefinedWeb/FineWeb representative-selection policy.  The oracle
    recomputes the pairs (doc_minhash's full SQL replica) and the
    components independently via union-find, then replays the
    selection window."""
    from cubes_spark.llm import dedup_keep_best

    docs = _table(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(docs, num_hashes=16, bands=4,
                                    shingle_k=5)
    out = dedup_keep_best(docs, pairs, score_col="n_chars")
    return _lng(out, "doc_id", "component", "n_chars")


def q_doc_id3(spark, sf_dir):
    """REAL ID3v2 metadata extraction end-to-end: complete ID3v2.3
    (even doc_id) / v2.4 (odd) tags built in-plan — a latin-1 TIT2
    title and a UTF-16-with-BOM TPE1 artist, both closed-form in
    doc_id — parsed for real by the stdlib tag walker inside the
    Arrow ``id3_metadata`` operator (cubes_spark/llm/multimodal.py).
    The absent TALB frame proves the NULL path; the oracle recomputes
    every field without parsing."""
    from cubes_spark.llm import id3_metadata

    d = F.col("doc_id")

    def hex2(col):
        return F.lpad(F.hex(col.cast("long")), 2, "0")

    ver = F.when(d % 2 == 1, F.lit("04")).otherwise(F.lit("03"))
    tens = hex2(F.lit(0x30) + ((d % 100) / 10).cast("long"))
    ones = hex2(F.lit(0x30) + d % 10)
    tag_hex = F.concat(
        F.lit("494433"), ver, F.lit("0000" "00000022"),   # hdr, size 34
        F.lit("54495432" "00000007" "0000" "00" "536F6E67"),
        tens, ones,                                        # Song<dd>
        F.lit("54504531" "00000007" "0000" "01" "FFFE" "4100"),
        hex2(F.lit(0x30) + d % 10), F.lit("00"),           # A<d> utf16le
    )
    docs = (_table(spark, sf_dir, "documents").select("doc_id")
            .withColumn("payload", F.unhex(tag_hex)))
    return id3_metadata(docs, "payload")


def q_doc_line_dedup_intra(spark, sf_dir):
    """Intra-document line dedup (llm/text.py:
    dedup_lines_within_doc): sentence-per-line pages with the first
    line re-appended twice on doc_id%3 (a repeating nav/banner), the
    repeats dropped keeping first occurrence — the within-page half
    of boilerplate removal (doc_line_dedup is the across-pages
    half).  The oracle replays the construction and the
    first-occurrence filter with DuckDB's indexed list lambda; md5
    proves the cleaned content."""
    from cubes_spark.llm import dedup_lines_within_doc

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    base = F.replace(F.col("text"), F.lit(". "), F.lit(".\n"))
    first = F.element_at(F.split(base, "\n"), 1)
    t = F.when(F.col("doc_id") % 3 == 0,
               F.concat(base, F.lit("\n"), first, F.lit("\n"), first)
               ).otherwise(base)
    out = dedup_lines_within_doc(docs.select("doc_id",
                                             t.alias("text")))
    return out.select("doc_id", "n_lines", "n_unique_lines",
                      F.md5("clean_text").alias("clean_md5"))


def q_lineitem_wquantiles(spark, sf_dir):
    """Exact weighted quantiles (operators/olap.py:
    weighted_quantiles): quartiles of the discount distribution
    weighted by quantity, per return flag — facts collapse to the
    ~11-value discount grain first, the cumulative window runs over
    that grain, and the threshold is an integer cross-multiplication
    the oracle replays verbatim."""
    li = _table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc"),
        F.col("l_quantity").cast("long").alias("qty"))
    return olap.weighted_quantiles(
        base, "disc", "qty", group_cols=["flag"]).select(
        "flag", "q_bp", F.col("value").cast("long").alias("value"))


def q_doc_cluster_terms(spark, sf_dir):
    """Corpus topic map: feature-hash embeddings -> fixed-seed
    spherical k-means (llm/similarity.py:kmeans_clusters, nlist=4,
    centroid literals in-plan) -> top-3 non-stopword terms per
    cluster — the cluster-labeling composition a curation pipeline
    uses to see WHAT each embedding cluster contains.  The oracle
    recomputes the unit vectors with the SQL hash fold, retrains the
    identical k-means on the identical id-sorted sample, and replays
    assignment + term ranking."""
    from cubes_spark.llm import feature_hash_embed, kmeans_clusters
    from cubes_spark.llm.text import GOPHER_STOPWORDS, token_array

    docs = (_table(spark, sf_dir, "documents")
            .filter(F.length(F.trim(F.col("text"))) > 0)
            .select("doc_id", "text"))
    emb = feature_hash_embed(docs, dim=16).select(
        F.col("doc_id").alias("vec_id"), "embedding")
    clusters = kmeans_clusters(emb, nlist=4, seed=42).select(
        F.col("vec_id").alias("doc_id"), "cluster")
    words = (docs.select(
        "doc_id",
        F.explode(token_array(F.col("text"))).alias("tok"))
        .select("doc_id", F.lower(F.col("tok")).alias("term"))
        .filter(~F.col("term").isin(list(GOPHER_STOPWORDS))))
    counts = (words.join(clusters, "doc_id")
              .groupBy("cluster", "term")
              .agg(F.count(F.lit(1)).cast("long").alias("n")))
    from pyspark.sql.window import Window as W
    w = W.partitionBy("cluster").orderBy(F.col("n").desc(),
                                         F.col("term").asc())
    return (counts.withColumn("term_rank", F.row_number().over(w))
            .filter(F.col("term_rank") <= 3)
            .select(F.col("cluster").cast("long").alias("cluster"),
                    F.col("term_rank").cast("long").alias("term_rank"),
                    "term", "n"))


def q_orders_coverage(spark, sf_dir):
    """Factless coverage gaps (operators/olap.py:coverage_gaps):
    which (nation, month) combinations placed NO orders across
    1992-1998 — the Kimball coverage question, grid built without a
    cartesian node (months exploded per nation row), observed facts
    collapsed to the key grain before one anti-join."""
    od = _table(spark, sf_dir, "orders")
    cust = _table(spark, sf_dir, "customer")
    nat = _table(spark, sf_dir, "nation")
    grid = nat.select(
        "n_name",
        F.explode(F.expr("sequence(to_date('1992-01-01'), "
                         "to_date('1998-12-01'), "
                         "interval 1 month)")).alias("__m__")
    ).select("n_name",
             F.date_format("__m__", "yyyy-MM").alias("ym"))
    observed = (od.join(F.broadcast(cust),
                        od.o_custkey == cust.c_custkey)
                .join(F.broadcast(nat),
                      cust.c_nationkey == nat.n_nationkey)
                .select("n_name",
                        F.date_format("o_orderdate", "yyyy-MM")
                        .alias("ym")))
    return olap.coverage_gaps(observed, grid, ["n_name", "ym"])


def q_customer_upsert(spark, sf_dir):
    """SCD Type-1 upsert merge (operators/olap.py:scd1_upsert): a
    per-customer latest-order dimension maintained by merging the
    pre-1996 snapshot with the 1996+ change batch — latest timestamp
    wins, the change side beats the snapshot on ties (warehouse
    MERGE semantics), all via ONE max-struct aggregation (no window,
    no join).  The oracle replays the lexicographic struct order as
    a window sort."""
    od = _table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long")
        .alias("cents"))
    cut = F.lit("1996-01-01").cast("timestamp")
    snapshot = od.filter(F.col("ts") < cut)
    changes = od.filter(F.col("ts") >= cut)
    return olap.scd1_upsert(snapshot, changes,
                            key_cols=["o_custkey"], ts_col="ts")


def q_doc_shard_bytes(spark, sf_dir):
    """Bytes-balanced export sharding (llm/text.py:
    pack_shards_by_bytes): documents laid end-to-end in id order,
    each assigned to the ~50 KB shard containing its start offset —
    the two-phase distributed prefix sum, never a one-partition
    global window.  The oracle replays the cumulative layout with a
    plain window cumsum."""
    from cubes_spark.llm import pack_shards_by_bytes

    docs = _table(spark, sf_dir, "documents")
    return pack_shards_by_bytes(docs, size_col="n_chars",
                                target_bytes=50_000)


def q_doc_fertility(spark, sf_dir):
    """Tokenizer fertility per language: characters per BPE-ish
    pre-token (llm/text.py:bpe_token_count) in exact basis points —
    the multilingual-budget metric (a language with high fertility
    pays more tokens per character, so mixture weights must correct
    for it).  Pure integer sums + one final integer division the
    oracle replays verbatim."""
    from cubes_spark.llm.text import bpe_token_count

    docs = _table(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        F.length("text").cast("long").alias("chars"),
        bpe_token_count(F.col("text")).cast("long").alias("toks"))
    agg = per.groupBy("lang").agg(
        F.sum("chars").cast("long").alias("total_chars"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_docs"))
    return agg.select(
        "lang", "total_chars", "total_tokens", "n_docs",
        F.expr("CAST(total_chars * 10000 div total_tokens AS BIGINT)")
        .alias("chars_per_token_bp"))


def q_events_new_users(spark, sf_dir):
    """New-user curve: users counted on their FIRST event hour,
    plus the running total — exact cumulative distinct users without
    any distinct-over-window (which Spark cannot express): the
    first-occurrence collapse is one map-side-combinable min-groupBy
    at user grain, the cumulative sum runs over the bounded HOUR grain
    (dozens of rows — the accepted grain-sized-window class)."""
    ev = _table(spark, sf_dir, "events")
    first = (ev.groupBy("user_id")
             .agg(F.min(F.date_trunc("hour", "ts")).alias("__h__")))
    hourly = (first.groupBy(
        F.date_format("__h__", "yyyy-MM-dd HH").alias("hour"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_new")))
    from pyspark.sql.window import Window as W
    w = (W.orderBy("hour")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return hourly.withColumn(
        "cum_users", F.sum("n_new").over(w).cast("long"))
