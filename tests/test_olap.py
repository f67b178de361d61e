"""Native OLAP extensions: rollup / cube / grouping sets / crosstab /
materialization (SURVEY §2.4 designed-in upgrade)."""

import os

import pytest

from pyspark.sql import functions as F

from cubes_spark.operators import olap


def base_df(spark):
    rows = [("A", "x", 1), ("A", "y", 2), ("B", "x", 3), ("B", "y", 4)]
    return spark.createDataFrame(rows, ["k1", "k2", "v"])


def test_rollup_aggregate(spark):
    out = olap.rollup_aggregate(
        base_df(spark), ["k1", "k2"], [F.sum("v").alias("v_sum")]
    ).collect()
    by_gid = {}
    for row in out:
        by_gid.setdefault(row["grouping_id"], []).append(row)
    assert len(by_gid[0]) == 4          # full grain
    assert len(by_gid[1]) == 2          # per k1
    assert len(by_gid[3]) == 1          # grand total
    assert by_gid[3][0]["v_sum"] == 10


def test_cube_aggregate(spark):
    out = olap.cube_aggregate(
        base_df(spark), ["k1", "k2"], [F.sum("v").alias("v_sum")]
    ).collect()
    gids = sorted({row["grouping_id"] for row in out})
    assert gids == [0, 1, 2, 3]
    per_k2 = [r for r in out if r["grouping_id"] == 2]
    assert {r["k2"]: r["v_sum"] for r in per_k2} == {"x": 4, "y": 6}


def test_grouping_sets(spark):
    out = olap.grouping_sets_aggregate(
        base_df(spark), [["k1"], ["k2"]], ["sum(v) AS v_sum"]
    ).collect()
    assert len(out) == 4  # 2 k1 groups + 2 k2 groups


def test_crosstab(spark):
    out = olap.crosstab(
        base_df(spark), rows=["k1"], column="k2",
        value=F.sum("v"), values=["x", "y"],
    ).orderBy("k1").collect()
    assert out[0]["x"] == 1 and out[0]["y"] == 2
    assert out[1]["x"] == 3 and out[1]["y"] == 4


def test_combined_cuboids():
    cuboids = olap.combined_cuboids(["a", "b", "c"])
    assert ("a", "b", "c") in cuboids
    assert () in cuboids
    assert len(cuboids) == 8


def test_materialize_aggregate(tpch_browser, spark, tmp_path):
    path = os.path.join(str(tmp_path), "agg")
    olap.materialize_aggregate(
        tpch_browser, path, drilldown=["date:year"],
        aggregates=["price_sum", "fact_count"],
    )
    df = spark.read.parquet(path)
    assert "date__year" in df.columns
    assert df.count() == 7


def test_denormalized_roundtrip_browsing(tpch_browser, spark, tmp_path):
    """materialize_denormalized output browses identically through a
    use_denormalization browser (DenormalizedMapper round-trip)."""
    from cubes_spark.demo import TPCH_MODEL
    from cubes_spark.sources.workspace import Workspace

    path = os.path.join(str(tmp_path), "denorm")
    olap.materialize_denormalized(tpch_browser, path)

    denorm_df = spark.read.parquet(path)
    import copy

    model = copy.deepcopy(TPCH_MODEL)
    cube_md = model["cubes"][0]
    cube_md["joins"] = []
    cube_md["mappings"] = {}
    cube_md.pop("key", None)
    ws = Workspace(spark, store={"lineitem": denorm_df})
    ws.import_model(model)
    browser = ws.browser("sales", use_denormalization=True)

    got = browser.aggregate(cell="date:1995",
                            drilldown=["customer_geo:region"],
                            aggregates=["price_sum", "fact_count"])
    want = tpch_browser.aggregate(cell="date:1995",
                                  drilldown=["customer_geo:region"],
                                  aggregates=["price_sum", "fact_count"])
    assert got.cells == want.cells
    assert got.summary == want.summary


def test_refresh_aggregate_incremental(tpch_browser, spark, tmp_path):
    """Cuboid built from the <=1995 slice + incremental 1996 delta ==
    cuboid built from the <=1996 slice in one shot."""
    from cubes_spark import operators
    from cubes_spark.operators import olap

    path = str(tmp_path / "cuboid")
    olap.materialize_aggregate(
        tpch_browser, path, drilldown=["date@ym:month"],
        aggregates=["quantity_sum", "fact_count"],
        cell="date:-1995",
    )
    olap.refresh_aggregate(
        tpch_browser, path, drilldown=["date@ym:month"],
        aggregates=["quantity_sum", "fact_count"],
        delta_cell="date:1996",
    )
    full_path = str(tmp_path / "cuboid_full")
    olap.materialize_aggregate(
        tpch_browser, full_path, drilldown=["date@ym:month"],
        aggregates=["quantity_sum", "fact_count"],
        cell="date:-1996",
    )
    got = sorted(map(tuple, spark.read.parquet(path).collect()))
    want = sorted(map(tuple, spark.read.parquet(full_path).collect()))
    assert got == want
    assert len(got) > 12


def test_refresh_through_browser_with_cuboid_registered(spark, tmp_path):
    """A refresh through the browser that serves the cuboid aggregates
    the delta from the fact star, not from the cuboid (which has no
    rows for the new month yet)."""
    from cubes_spark.demo import tpch_workspace
    from cubes_spark.operators.preagg import Cuboid
    from cubes_spark.query.drilldown import Drilldown
    from tests.conftest import SF_DIR

    grain = ["date@ym:month", "customer_geo:region", "returnflag"]
    aggregates = ["price_sum", "quantity_sum", "fact_count"]
    ws = tpch_workspace(spark, SF_DIR)
    serving, free = ws.browser("sales"), ws.browser("sales")
    path = str(tmp_path / "cuboid")
    olap.materialize_aggregate(serving, path, grain, aggregates,
                               cell="date:-1995")
    refs = [a.ref for a in Drilldown(grain, serving.prepare_cell(None))
            .all_attributes]
    serving.add_cuboid(Cuboid(path, refs,
                              serving.prepare_aggregates(aggregates)))

    olap.refresh_aggregate(serving, path, grain, aggregates,
                           delta_cell="date:1996,1")

    def read(browser, cell):
        return browser.aggregate(cell=cell, drilldown=grain[1:],
                                 aggregates=aggregates)

    new_month = read(serving, "date:1996,1")
    assert new_month.cells and new_month.cells == \
        read(free, "date:1996,1").cells
    assert read(serving, "date:1995,1-1996,1").summary == \
        read(free, "date:1995,1-1996,1").summary
    rows = spark.read.parquet(path).collect()
    assert {(r["date__year"], r["date__month"]) for r in rows} \
        == {(1995, m) for m in range(1, 13)} | {(1996, 1)}


def test_refresh_aggregate_rejects_nondistributive(tpch_browser,
                                                   tmp_path):
    import pytest as _pytest

    from cubes_spark.errors import ArgumentError
    from cubes_spark.operators import olap

    path = str(tmp_path / "cuboid")
    olap.materialize_aggregate(
        tpch_browser, path, drilldown=["date@ym:month"],
        aggregates=["part_count_distinct"], cell="date:1995",
    )
    with _pytest.raises(ArgumentError, match="not distributive"):
        olap.refresh_aggregate(
            tpch_browser, path, drilldown=["date@ym:month"],
            aggregates=["part_count_distinct"], delta_cell="date:1996",
        )


class TestEventAnalytics:
    @pytest.fixture(scope="class")
    def funnel_events(self, spark):
        from datetime import datetime, timezone

        def ts(m):
            return datetime(2024, 3, 1, 9, m, tzinfo=timezone.utc)

        rows = [
            # u1 completes view->click->buy in order
            (1, ts(0), 1, "view"), (2, ts(5), 1, "click"),
            (3, ts(9), 1, "buy"),
            # u2: click BEFORE view -> click does not count; no buy
            (4, ts(1), 2, "click"), (5, ts(2), 2, "view"),
            (6, ts(3), 2, "click"),
            # u3: view only
            (7, ts(0), 3, "view"),
            # u4: buy without view -> not even step 1
            (8, ts(0), 4, "buy"),
        ]
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string")

    def test_funnel_counts(self, funnel_events):
        from cubes_spark.operators.olap import funnel_counts

        out = {r.step: (r.step_name, r.n_users) for r in funnel_counts(
            funnel_events, ["view", "click", "buy"]).collect()}
        assert out == {1: ("view", 3),    # u1, u2, u3
                       2: ("click", 2),   # u1, u2 (after view)
                       3: ("buy", 1)}     # u1

    def test_cohort_retention(self, spark):
        from datetime import datetime, timezone

        from cubes_spark.operators.olap import cohort_retention

        def d(day):
            return datetime(2024, 1, 1 + day, tzinfo=timezone.utc)

        rows = [
            (1, d(0)), (1, d(1)),          # u1: day 0 + day 1
            (2, d(0)), (2, d(2)),          # u2: day 0 + day 2
            (3, d(1)),                     # u3: cohort day 1, once
        ]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        out = {(r.cohort, r.period_offset): r.n_users
               for r in cohort_retention(df, period="day").collect()}
        c0 = min(c for c, _ in out)
        assert out[(c0, 0)] == 2           # u1, u2 on their day 0
        assert out[(c0, 1)] == 1           # u1 returns next day
        assert out[(c0, 2)] == 1           # u2 returns on day 2
        assert out[(c0 + 1, 0)] == 1       # u3's own cohort


def test_refresh_aggregate_rejects_functionless(spark, tmp_path):
    """A function-less (expression) aggregate must raise, not
    silently land in the merge grain where existing and delta rows
    never merge (duplicate-grain double counting)."""
    from cubes_spark.errors import ArgumentError
    from cubes_spark.operators.olap import refresh_aggregate
    from cubes_spark.sources.workspace import Workspace
    from tests.conftest import SF_DIR

    ws = Workspace(spark, store=SF_DIR, model={"cubes": [{
        "name": "mini", "fact": "lineitem",
        "measures": [{"name": "l_quantity"}],
        "aggregates": [
            {"name": "qty_sum", "measure": "l_quantity",
             "function": "sum"},
            {"name": "double_qty",
             "expression": "qty_sum * 2"},   # no function
        ],
    }]})
    browser = ws.browser("mini")
    with pytest.raises(ArgumentError, match="not distributive"):
        refresh_aggregate(
            browser, str(tmp_path / "cuboid"),
            drilldown=[], aggregates=["qty_sum", "double_qty"],
        )


def test_crosstab_dotted_pivot_column(tpch_browser):
    """pivot() on a dotted logical ref (the shape every
    aggregation_dataframe produces) must not be parsed as nested-field
    access."""
    from pyspark.sql import functions as F

    from cubes_spark.operators.olap import crosstab

    df = tpch_browser.aggregation_dataframe(
        drilldown=["returnflag", "linestatus"],
        aggregates=["fact_count"])
    out = crosstab(
        df, rows=["returnflag.returnflag"],
        column="linestatus.linestatus",
        value=F.sum(F.col("fact_count")))
    rows = {r["returnflag.returnflag"]: r for r in out.collect()}
    assert set(rows) == {"A", "N", "R"}
    assert "F" in out.columns and "O" in out.columns


def test_drill_across_conformed(spark):
    """Drill-across: sales + sales_outer joined on the conformed
    returnflag grain; values match each cube's own aggregation."""
    from cubes_spark.demo import tpch_workspace
    from cubes_spark.operators.olap import drill_across
    from tests.conftest import SF_DIR

    ws = tpch_workspace(spark, SF_DIR)
    out = drill_across(
        [(ws.browser("sales"), ["price_sum"]),
         (ws.browser("sales_outer"), ["quantity_sum"])],
        drilldown=["returnflag"],
    ).collect()
    assert len(out) == 3
    sales = {r["returnflag.returnflag"]: r["price_sum"]
             for r in ws.browser("sales").aggregation_dataframe(
                 drilldown=["returnflag"],
                 aggregates=["price_sum"]).collect()}
    for row in out:
        assert row["sales_price_sum"] == \
            sales[row["returnflag.returnflag"]]
        assert row["sales_outer_quantity_sum"] is not None


def test_drill_across_validates(spark):
    import pytest as _pytest

    from cubes_spark.demo import tpch_workspace
    from cubes_spark.operators.olap import drill_across
    from tests.conftest import SF_DIR

    ws = tpch_workspace(spark, SF_DIR)
    with _pytest.raises(ValueError, match="at least two"):
        drill_across([(ws.browser("sales"), ["price_sum"])],
                     drilldown=["returnflag"])


def test_top_n_per_group(spark):
    from pyspark.sql import functions as F

    from cubes_spark.operators.olap import top_n_per_group

    rows = [("a", i, float(i * 10)) for i in range(5)] + \
           [("b", i, float(100 - i)) for i in range(4)]
    df = spark.createDataFrame(rows, "g string, k long, v double")
    out = top_n_per_group(df, ["g"], [F.col("v").desc(),
                                      F.col("k").asc()], n=2)
    got = {(r.g, r.rank): r.k for r in out.collect()}
    assert got == {("a", 1): 4, ("a", 2): 3,
                   ("b", 1): 0, ("b", 2): 1}


def test_fill_time_gaps(spark):
    import datetime

    from pyspark.sql import functions as F

    from cubes_spark.operators.olap import fill_time_gaps

    def _h(h):
        return datetime.datetime(2024, 1, 1, h)

    df = spark.createDataFrame(
        [(_h(0), "x", 5), (_h(3), "x", 7), (_h(1), "y", 2)],
        "t timestamp, g string, n long")
    out = fill_time_gaps(df, "t", step="1 hour", group_cols=["g"])
    got = {(r.g, r.t.hour): r.n for r in out.collect()}
    # 4 ticks x 2 groups, zeros where absent
    assert len(got) == 8
    assert got[("x", 0)] == 5 and got[("x", 1)] == 0
    assert got[("x", 3)] == 7 and got[("y", 1)] == 2
    assert got[("y", 0)] == 0 and got[("y", 3)] == 0


def test_flatten_parent_child(spark):
    from cubes_spark.operators.olap import flatten_parent_child

    rows = [(0, None)] + [(i, i - 1) for i in range(1, 10)] \
        + [(100, None), (101, 100), (102, 100)] \
        + [(200, 201), (201, 200)]  # cycle
    df = spark.createDataFrame(rows, "id long, parent long")
    got = {r.id: (r.root, r.depth)
           for r in flatten_parent_child(df, "id", "parent",
                                         max_depth=16).collect()}
    assert got[0] == (0, 0)
    assert got[9] == (0, 9)          # 9-deep chain resolves
    assert got[101] == (100, 1) and got[102] == (100, 1)
    assert got[200] == (None, -1)    # cycle flagged, not looped
    assert got[201] == (None, -1)


def test_flatten_parent_child_deep_chain_log_rounds(spark):
    """A 60-deep chain resolves within ceil(log2(64)) = 6 pointer
    jumps (would need 60 rounds parent-at-a-time)."""
    from cubes_spark.operators.olap import flatten_parent_child

    rows = [(0, None)] + [(i, i - 1) for i in range(1, 61)]
    df = spark.createDataFrame(rows, "id long, parent long")
    got = {r.id: (r.root, r.depth)
           for r in flatten_parent_child(df, "id", "parent",
                                         max_depth=64).collect()}
    assert got[60] == (0, 60)


def test_scd2_collapse(spark):
    import datetime

    from cubes_spark.operators.olap import scd2_collapse

    d = datetime.datetime
    rows = [(1, d(2024, 1, 1), 1, "A"), (1, d(2024, 1, 2), 2, "A"),
            (1, d(2024, 1, 3), 3, "B"), (1, d(2024, 1, 4), 4, "A"),
            (2, d(2024, 1, 1), 5, None), (2, d(2024, 1, 2), 6, "X")]
    df = spark.createDataFrame(
        rows, "k long, ts timestamp, seq long, seg string")
    out = {(r.k, r.version): (r.seg, r.valid_from.day,
                              r.valid_to.day if r.valid_to else None,
                              r.is_current)
           for r in scd2_collapse(df, ["k"], ["seg"], "ts",
                                  order_extra=["seq"]).collect()}
    assert out[(1, 1)] == ("A", 1, 3, False)   # run of two collapses
    assert out[(1, 2)] == ("B", 3, 4, False)
    assert out[(1, 3)] == ("A", 4, None, True)  # A returns as NEW row
    assert out[(2, 1)] == (None, 1, 2, False)   # null -> X is a change
    assert out[(2, 2)] == ("X", 2, None, True)
    assert len(out) == 5


def test_scd2_partition_invariant(spark):
    import datetime

    from cubes_spark.operators.olap import scd2_collapse

    d = datetime.datetime
    rows = [(i % 5, d(2024, 1, 1 + i % 20, i % 24), i, f"s{i % 3}")
            for i in range(200)]
    df = spark.createDataFrame(
        rows, "k long, ts timestamp, seq long, seg string")
    key = lambda r: (r.k, r.version, r.seg, r.valid_from, r.valid_to)
    a = sorted(map(key, scd2_collapse(
        df, ["k"], ["seg"], "ts", order_extra=["seq"]).collect()))
    b = sorted(map(key, scd2_collapse(
        df.repartition(13), ["k"], ["seg"], "ts",
        order_extra=["seq"]).collect()))
    assert a == b


def test_fill_time_gaps_non_numeric_stays_null(spark):
    import datetime

    from cubes_spark.operators.olap import fill_time_gaps

    d = datetime.datetime
    df = spark.createDataFrame(
        [(d(2024, 1, 1, 0), "up", 1), (d(2024, 1, 1, 2), "down", 2)],
        "t timestamp, status string, n long")
    out = {r.t.hour: (r.status, r.n)
           for r in fill_time_gaps(df, "t").collect()}
    assert out[1] == (None, 0)       # string null, numeric zero
    assert out[0] == ("up", 1)
    # explicit fill overrides for any type
    out2 = {r.t.hour: r.status for r in fill_time_gaps(
        df, "t", fill={"status": "unknown"}).collect()}
    assert out2[1] == "unknown"


def test_exact_disc_quantiles_matches_sorted_ranks(spark):
    """Boundary for rank r must be the r-th order statistic, for every
    rank, including ties and a bucket count larger than the domain."""
    import random

    from cubes_spark.operators.olap import exact_disc_quantiles

    rng = random.Random(7)
    values = [rng.randint(0, 40) for _ in range(300)]
    df = spark.createDataFrame([(v,) for v in values], "v long")
    ordered = sorted(values)
    ranks = [1, 75, 150, 225, 300]
    got = exact_disc_quantiles(df, "v", ranks, num_buckets=8)
    assert got == [ordered[r - 1] for r in ranks]


def test_exact_disc_quantiles_partition_invariant(spark):
    from cubes_spark.operators.olap import exact_disc_quantiles

    df = spark.createDataFrame([(v,) for v in range(1, 101)], "v long")
    for parts in (1, 7):
        got = exact_disc_quantiles(df.repartition(parts), "v", [25, 50, 75],
                                   num_buckets=5)
        assert got == [25, 50, 75]


def test_rfm_segments_small(spark):
    """Hand-checkable RFM: 4 customers, quartile boundaries land on the
    order statistics at ranks ceil(i*4/4) = 1,2,3; recency reversed."""
    import datetime as dt

    from cubes_spark.operators.olap import rfm_segments

    rows = []
    # cust 1: 1 order, old, small;  cust 4: 4 orders, recent, large
    for cust, n_orders, day, amount in (
            (1, 1, 1, 10.0), (2, 2, 5, 20.0),
            (3, 3, 10, 30.0), (4, 4, 20, 40.0)):
        for k in range(n_orders):
            rows.append((cust, dt.datetime(2020, 1, day), amount))
    df = spark.createDataFrame(rows, "c long, ts timestamp, amt double")
    out = {r["c"]: r for r in
           rfm_segments(df, "c", "ts", "amt", as_of="2020-01-31").collect()}
    # recency_days: c1=30 c2=26 c3=21 c4=11 -> sorted [11,21,26,30],
    # bounds(ranks 1,2,3)=11,21,26 -> raw bins 4,3,2,1 -> reversed 1,2,3,4
    assert [out[c]["r_score"] for c in (1, 2, 3, 4)] == [1, 2, 3, 4]
    # frequency 1,2,3,4 -> bins 1,2,3,4
    assert [out[c]["f_score"] for c in (1, 2, 3, 4)] == [1, 2, 3, 4]
    # monetary_cents 1000,4000,9000,16000 -> bins 1,2,3,4
    assert [out[c]["m_score"] for c in (1, 2, 3, 4)] == [1, 2, 3, 4]
    assert out[4]["segment"] == 444 and out[1]["segment"] == 111
    assert out[2]["monetary_cents"] == 4000


def test_sequence_match_semantics(spark):
    """Non-overlapping counts, tiebreak ordering at equal timestamps,
    unmapped-type drop, whale guard."""
    import datetime as dt

    from cubes_spark.operators.olap import sequence_match

    t0 = dt.datetime(2020, 1, 1)

    def ev(uid, i, typ):
        return (uid, t0 + dt.timedelta(minutes=i), i, typ)

    rows = [
        # user 1: v c p v p  -> 'vc*p' matches twice; first at pos 1
        ev(1, 1, "view"), ev(1, 2, "click"), ev(1, 3, "purchase"),
        ev(1, 4, "view"), ev(1, 5, "purchase"),
        # user 2: equal ts, ordered by event_id -> v p ; 'other' dropped
        (2, t0, 1, "view"), (2, t0, 2, "purchase"), (2, t0, 3, "other"),
        # user 3: no match, 3 events
        ev(3, 1, "click"), ev(3, 2, "click"), ev(3, 3, "view"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string")
    codes = {"view": "v", "click": "c", "purchase": "p"}
    out = {r["user_id"]: r for r in sequence_match(
        df, "user_id", "ts", "event_type", "vc*p", codes,
        tiebreak_col="event_id").collect()}
    assert (out[1]["n_matches"], out[1]["first_match_pos"],
            out[1]["seq_len"]) == (2, 1, 5)
    assert (out[2]["n_matches"], out[2]["first_match_pos"],
            out[2]["seq_len"]) == (1, 1, 2)
    assert (out[3]["n_matches"], out[3]["first_match_pos"]) == (0, 0)
    guarded = sequence_match(
        df, "user_id", "ts", "event_type", "vc*p", codes,
        tiebreak_col="event_id", max_seq_len=3)
    assert {r["user_id"] for r in guarded.collect()} == {2, 3}


def test_gini_concentration_known_values(spark):
    """Gini of equal values is 0; a single holder owns everything ->
    (n-1)/n; a hand-computed mixed case with TIES matches the sorted
    rank-sum formula."""
    from cubes_spark.operators.olap import gini_concentration

    def gini_bp(amounts):
        rows = [(i, a) for i, a in enumerate(amounts)]
        df = spark.createDataFrame(rows, "k long, amt double")
        return gini_concentration(df, "k", "amt").first()

    r = gini_bp([5.0, 5.0, 5.0, 5.0])
    assert (r["gini_bp"], r["n_keys"], r["total_cents"]) == (0, 4, 2000)
    # one holder: G = (2*n*x - (n+1)*x)/(n*x) = (n-1)/n = 0.75
    assert gini_bp([0.0, 0.0, 0.0, 10.0])["gini_bp"] == 7500
    # ties: x = [1,1,2] cents=[100,100,200]; sorted ranks 1,2,3
    # sum i*x = 100+200+600=900; num=2*900-4*400=200; den=3*400=1200
    assert gini_bp([1.0, 1.0, 2.0])["gini_bp"] == 1666


def test_cusum_changepoint_level_shift(spark):
    """Step series 1,1,1,5,5: scaled cusum bottoms at the last
    low bucket (hour 3), negative sign = level rose after."""
    import datetime as dt

    from cubes_spark.operators.olap import cusum_changepoint

    t0 = dt.datetime(2020, 1, 1)
    rows = [("a", t0 + dt.timedelta(hours=h, minutes=m), v)
            for h, v in enumerate([1.0, 1.0, 1.0, 5.0, 5.0])
            for m in (0,)]
    # second group: constant series -> cusum 0 everywhere, earliest wins
    rows += [("b", t0 + dt.timedelta(hours=h), 2.0) for h in range(3)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    out = {r["g"]: r for r in cusum_changepoint(
        df, ["g"], "ts", "v").collect()}
    assert out["a"]["cp_ts"] == t0 + dt.timedelta(hours=2)
    assert out["a"]["cp_stat"] == -2400  # 5*300 - 3*1300 (cents)
    assert out["a"]["n_buckets"] == 5
    assert out["b"]["cp_stat"] == 0
    assert out["b"]["cp_ts"] == t0


def test_grouped_iqr_outliers_hand_case(spark):
    """Group of 1..11 plus one far point: quartile ranks ceil(n/4)=3,
    ceil(3n/4)=9; fences catch exactly the planted outlier."""
    from cubes_spark.operators.olap import grouped_iqr_outliers

    vals = [float(v) for v in range(1, 12)] + [100.0]
    rows = [("a", v) for v in vals] + [("b", 5.0), ("b", 6.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in
           grouped_iqr_outliers(df, ["g"], "v").collect()}
    a = out["a"]
    assert a["n_rows"] == 12
    assert (a["q1_cents"], a["q3_cents"]) == (300, 900)
    # fences: [300 - 900, 900 + 900] = [-600, 1800] -> only 10000 out
    assert a["n_outliers"] == 1
    b = out["b"]
    assert (b["q1_cents"], b["q3_cents"], b["n_outliers"]) == \
        (500, 600, 0)


def test_window_funnel_earliest_chain(spark):
    """Depth stops at the first blown link; later in-window events
    cannot revive it; chain times are strictly increasing."""
    import datetime as dt

    from cubes_spark.operators.olap import window_funnel

    t0 = dt.datetime(2020, 1, 1)

    def e(u, minutes, typ):
        return (u, t0 + dt.timedelta(minutes=minutes), typ)

    rows = [
        # u1 completes in order within the hour window
        e(1, 0, "a"), e(1, 10, "b"), e(1, 20, "c"),
        # u2: b BEFORE first a -> never counts; no later b
        e(2, 5, "b"), e(2, 10, "a"), e(2, 20, "c"),
        # u3: b inside window, c outside it -> depth 2
        e(3, 0, "a"), e(3, 30, "b"), e(3, 90, "c"),
        # u4 never signs up -> absent
        e(4, 0, "b"), e(4, 1, "c"),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, t string")
    out = {r["u"]: r["steps_reached"] for r in window_funnel(
        df, "u", "ts", "t", ["a", "b", "c"], 3600).collect()}
    assert out == {1: 3, 2: 1, 3: 2}


def test_abc_classification_pareto(spark):
    """One whale (90% of revenue) is C?? no — whale carries the TOP
    share: its from-top share is its own 90% -> above 80% threshold?
    Exactly: whale share_from_top = 9000 <= 9500 -> B; minnows land C.
    A tie-group shares its class."""
    from cubes_spark.operators.olap import abc_classification

    rows = [(1, 90.0)] + [(k, 5.0) for k in (2, 3)]
    df = spark.createDataFrame(rows, "k long, amt double")
    out = {r["k"]: r for r in
           abc_classification(df, "k", "amt").collect()}
    assert out[1]["share_from_top_bp"] == 9000
    assert out[1]["abc_class"] == "B"
    # minnows: from-top share includes everything = 10000 -> C
    assert out[2]["abc_class"] == "C" and out[3]["abc_class"] == "C"
    assert out[2]["share_from_top_bp"] == 10000

    # steeper curve: 80/15/5 -> exactly 8000 is still A
    df2 = spark.createDataFrame(
        [(1, 80.0), (2, 15.0), (3, 5.0)], "k long, amt double")
    out2 = {r["k"]: r["abc_class"] for r in
            abc_classification(df2, "k", "amt").collect()}
    assert out2 == {1: "A", 2: "B", 3: "C"}


def test_seasonality_profile_index(spark):
    """Two slots, one group: hour 0 carries 3x the per-row value of
    hour 1 -> indexes bracket 10^6 and cross-multiply exactly."""
    import datetime as dt

    from cubes_spark.operators.olap import seasonality_profile

    t0 = dt.datetime(2020, 1, 1, 0, 0)
    t1 = dt.datetime(2020, 1, 1, 1, 0)
    rows = [("a", t0, 3.0), ("a", t0, 3.0),
            ("a", t1, 1.0), ("a", t1, 1.0)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    out = {r["slot"]: r for r in seasonality_profile(
        df, ["g"], "ts", "v").collect()}
    # overall mean 2.0; slot means 3.0 and 1.0
    assert out[0]["index_ppm"] == 1_500_000
    assert out[1]["index_ppm"] == 500_000
    assert out[0]["sum_cents"] == 600 and out[0]["n_rows"] == 2


def test_markov_transitions_hand_case(spark):
    """Two users: u1 v->c->p, u2 v->v. Transitions: v->c 1, c->p 1,
    v->v 1; from 'v' total 2 -> each 500000 ppm."""
    import datetime as dt

    from cubes_spark.operators.olap import markov_transitions

    t0 = dt.datetime(2020, 1, 1)
    rows = [(1, t0, 1, "v"), (1, t0 + dt.timedelta(seconds=1), 2, "c"),
            (1, t0 + dt.timedelta(seconds=2), 3, "p"),
            (2, t0, 4, "v"), (2, t0 + dt.timedelta(seconds=1), 5, "v")]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, t string")
    out = {(r["from_type"], r["to_type"]):
           (r["n_transitions"], r["prob_ppm"])
           for r in markov_transitions(df, "user_id", "ts", "t",
                                       "event_id").collect()}
    assert out == {("v", "c"): (1, 500000), ("v", "v"): (1, 500000),
                   ("c", "p"): (1, 1000000)}


def test_markov_same_ts_tiebreak(spark):
    """Events sharing a timestamp order by the tiebreak column."""
    import datetime as dt

    from cubes_spark.operators.olap import markov_transitions

    t0 = dt.datetime(2020, 1, 1)
    rows = [(1, t0, 2, "b"), (1, t0, 1, "a")]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, t string")
    out = markov_transitions(df, "user_id", "ts", "t",
                             "event_id").collect()
    assert [(r["from_type"], r["to_type"]) for r in out] == [("a", "b")]


def test_longest_streak_islands(spark):
    """Customer 1: months {Jan,Feb,Mar, Jun,Jul 2020} -> longest 3
    starting 2020-01; customer 2 single month. Duplicate rows in a
    month count once. December->January rollover joins runs."""
    import datetime as dt

    from cubes_spark.operators.olap import longest_streak

    rows = ([(1, dt.datetime(2020, m, d)) for m, d in
             [(1, 5), (1, 20), (2, 1), (3, 9), (6, 2), (7, 30)]]
            + [(2, dt.datetime(2021, 4, 1))]
            + [(3, dt.datetime(2019, 12, 25)), (3, dt.datetime(2020, 1, 3))])
    df = spark.createDataFrame(rows, "k long, d timestamp")
    out = {r["k"]: r for r in longest_streak(df, "k", "d").collect()}
    assert (out[1]["n_active_months"], out[1]["longest_streak"],
            out[1]["streak_start_year"],
            out[1]["streak_start_month"]) == (5, 3, 2020, 1)
    assert (out[2]["longest_streak"], out[2]["streak_start_month"]) \
        == (1, 4)
    assert (out[3]["longest_streak"], out[3]["streak_start_year"],
            out[3]["streak_start_month"]) == (2, 2019, 12)


def test_longest_streak_earliest_tie(spark):
    """Two runs of equal length -> the earlier one is reported."""
    import datetime as dt

    from cubes_spark.operators.olap import longest_streak

    rows = [(1, dt.datetime(2020, m, 1)) for m in (1, 2, 5, 6)]
    df = spark.createDataFrame(rows, "k long, d timestamp")
    r = longest_streak(df, "k", "d").first()
    assert (r["longest_streak"], r["streak_start_month"]) == (2, 1)


def test_grouped_mad_hand_case(spark):
    """Group a: [1,2,3,4,100] -> median 3.00, deviations
    [2,1,0,1,97] -> MAD 1.00 (robust to the outlier). Even group b:
    [1,2,3,4] -> percentile_disc median = rank-2 value 2.00."""
    from cubes_spark.operators.olap import grouped_mad

    rows = ([("a", v) for v in (1.0, 2.0, 3.0, 4.0, 100.0)]
            + [("b", v) for v in (1.0, 2.0, 3.0, 4.0)])
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in grouped_mad(df, ["g"], "v").collect()}
    assert (out["a"]["n_rows"], out["a"]["median_cents"],
            out["a"]["mad_cents"]) == (5, 300, 100)
    assert (out["b"]["median_cents"], out["b"]["mad_cents"]) \
        == (200, 100)


def test_last_touch_attribution_semantics(spark):
    """u1: click 10s before purchase -> 'click'. u2: view outside the
    window -> '(none)'. u3: view then click -> last touch 'click'.
    u4: channel at the SAME ts as the purchase, earlier tiebreak ->
    attributes; later tiebreak does not."""
    import datetime as dt

    from cubes_spark.operators.olap import last_touch_attribution

    t0 = dt.datetime(2020, 1, 1, 12)
    rows = [
        (1, t0, 1, "click"), (1, t0 + dt.timedelta(seconds=10), 2, "purchase"),
        (2, t0 - dt.timedelta(hours=2), 3, "view"),
        (2, t0, 4, "purchase"),
        (3, t0, 5, "view"), (3, t0 + dt.timedelta(seconds=1), 6, "click"),
        (3, t0 + dt.timedelta(seconds=2), 7, "purchase"),
        (4, t0, 8, "signup"), (4, t0, 9, "purchase"),
        (5, t0, 11, "purchase"), (5, t0, 12, "view"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, t string")
    out = {r["channel"]: r["n_conversions"]
           for r in last_touch_attribution(
               df, "user_id", "ts", "t", "purchase",
               ["view", "click", "signup"], 3600,
               tiebreak_col="event_id").collect()}
    assert out == {"click": 2, "signup": 1, "(none)": 2}


def test_clamped_running_sum_closed_form(spark):
    """Hand case: deltas [5,-10,3,-1,-5,4] -> balances
    [5,0,3,2,0,4] with clamps at rows 2 and 5 (the prefix sum's
    new strict minima below zero)."""
    import datetime as dt

    from cubes_spark.operators.olap import clamped_running_sum

    t0 = dt.datetime(2020, 1, 1)
    deltas = [5, -10, 3, -1, -5, 4]
    rows = [(1, t0 + dt.timedelta(seconds=i), i, d)
            for i, d in enumerate(deltas)]
    df = spark.createDataFrame(
        rows, "k long, ts timestamp, i long, d long")
    out = [(r["balance"], r["clamped"]) for r in
           clamped_running_sum(df, "k", "ts", "d", "i")
           .orderBy("i").collect()]
    assert out == [(5, False), (0, True), (3, False), (2, False),
                   (0, True), (4, False)]
    # brute-force equivalence on the same data
    bal, brute = 0, []
    for d in deltas:
        clamped = bal + d < 0
        bal = max(bal + d, 0)
        brute.append((bal, clamped))
    assert out == brute


def test_clamped_running_sum_never_negative_property(spark):
    """Pseudo-random deltas across several keys: closed form always
    equals the sequential recurrence and never dips below 0."""
    import datetime as dt

    from cubes_spark.operators.olap import clamped_running_sum

    t0 = dt.datetime(2020, 1, 1)
    rows = []
    for k in range(5):
        for i in range(40):
            d = ((i * 2654435761 + k * 40503) % 21) - 10
            rows.append((k, t0 + dt.timedelta(seconds=i), i, d))
    df = spark.createDataFrame(
        rows, "k long, ts timestamp, i long, d long")
    got = {(r["k"], r["i"]): (r["balance"], r["clamped"]) for r in
           clamped_running_sum(df, "k", "ts", "d", "i").collect()}
    for k in range(5):
        bal = 0
        for i in range(40):
            d = ((i * 2654435761 + k * 40503) % 21) - 10
            clamped = bal + d < 0
            bal = max(bal + d, 0)
            assert got[(k, i)] == (bal, clamped)
            assert bal >= 0


def test_holt_trend_fixed_point(spark):
    """Linear series tracks the trend; output equals the reference
    fixed-point walk exactly; single-bucket groups are dropped;
    a falling series yields a NEGATIVE trend (floor-shift path)."""
    import datetime as dt

    from cubes_spark.operators.olap import holt_trend

    t0 = dt.datetime(2020, 1, 1)
    rows = [("a", t0 + dt.timedelta(days=i), float(10 + 2 * i))
            for i in range(4)]
    rows += [("down", t0 + dt.timedelta(days=i), float(50 - 7 * i))
             for i in range(5)]
    rows += [("solo", t0, 5.0)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    out = {r["g"]: r for r in
           holt_trend(df, ["g"], "ts", "v").collect()}
    assert "solo" not in out

    def ref(ys):
        l, b = ys[0], ys[1] - ys[0]
        for y in ys[2:]:
            lt = (y + l + b) >> 1
            b = ((lt - l) + b) >> 1
            l = lt
        return l, b

    l, b = ref([1000, 1200, 1400, 1600])
    assert (out["a"]["level_cents"], out["a"]["trend_cents"],
            out["a"]["forecast_cents"]) == (l, b, l + b)
    l, b = ref([5000, 4300, 3600, 2900, 2200])
    assert b < 0
    assert (out["down"]["level_cents"], out["down"]["trend_cents"]) \
        == (l, b)


def test_holt_trend_partition_invariant(spark):
    """Integer arithmetic: identical output at any parallelism."""
    import datetime as dt

    from cubes_spark.operators.olap import holt_trend

    t0 = dt.datetime(2020, 1, 1)
    rows = [("g", t0 + dt.timedelta(days=i),
             float((i * 37) % 19) - 9.0) for i in range(30)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    a = holt_trend(df.repartition(1), ["g"], "ts", "v").collect()
    b = holt_trend(df.repartition(17), ["g"], "ts", "v").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_semiadditive_last(spark):
    """LastNonEmpty: per entity the bucket's last value (never a sum
    along time), summed across entities; same-timestamp ties break on
    the tiebreak column."""
    import datetime as dt

    from cubes_spark.operators.olap import semiadditive_last

    d = dt.datetime
    rows = [
        ("A", "u1", d(2020, 1, 1), 1, 10.0),
        ("A", "u1", d(2020, 1, 5), 2, 20.0),   # u1's Jan last
        ("A", "u2", d(2020, 1, 3), 3, 5.0),
        ("A", "u1", d(2020, 2, 2), 4, 7.0),
        ("B", "u9", d(2020, 1, 9), 5, 1.0),
        ("B", "u9", d(2020, 1, 9), 6, 99.0),   # same ts -> higher id
    ]
    df = spark.createDataFrame(
        rows, "g string, e string, ts timestamp, id long, v double")
    out = {(r["g"], str(r["bucket"])[:7]): r for r in
           semiadditive_last(df, ["g"], "e", "ts", "v",
                             bucket="month", tiebreak_cols=["id"])
           .collect()}
    assert out[("A", "2020-01")]["last_sum_cents"] == 2500
    assert out[("A", "2020-01")]["n_entities"] == 2
    assert out[("A", "2020-02")]["last_sum_cents"] == 700
    assert out[("B", "2020-01")]["last_sum_cents"] == 9900


def test_autocorrelation_hand_computed(spark):
    """d_i = n*y - S deviations, truncating div on |num|: lag-1
    positive, lag-2 negative on a monotone ramp; short groups and
    constant series are dropped."""
    import datetime as dt

    from cubes_spark.operators.olap import autocorrelation

    t0 = dt.datetime(2020, 1, 1)
    rows = [("g", t0 + dt.timedelta(days=i), 0.01 * (i + 1))
            for i in range(4)]                       # cents 1,2,3,4
    rows += [("flat", t0 + dt.timedelta(days=i), 1.0)
             for i in range(5)]                      # zero variance
    rows += [("tiny", t0, 1.0), ("tiny", t0 + dt.timedelta(days=1), 2.0)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    out = {(r["g"], r["lag"]): r["acf_ppm"] for r in
           autocorrelation(df, ["g"], "ts", "v", max_lag=2).collect()}
    # d = [-6,-2,2,6]; den=80; num1=20 -> 250000; num2=-24 -> -300000
    assert out[("g", 1)] == 250_000
    assert out[("g", 2)] == -300_000
    assert not any(g == "flat" for g, _ in out)
    assert not any(g == "tiny" for g, _ in out)  # n=2 < lag+2


def test_autocorrelation_partition_invariant(spark):
    import datetime as dt

    from cubes_spark.operators.olap import autocorrelation

    t0 = dt.datetime(2020, 1, 1)
    rows = [("g", t0 + dt.timedelta(days=i), float((i * 13) % 7))
            for i in range(40)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    a = autocorrelation(df.repartition(1), ["g"], "ts", "v").collect()
    b = autocorrelation(df.repartition(13), ["g"], "ts", "v").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_burstiness_hand_computed(spark):
    """gaps 1s,2s,3s: fano = (nQ-S^2) div (n*S) scaled to ppm;
    single-event and constant-timestamp groups are dropped."""
    import datetime as dt

    from cubes_spark.operators.olap import burstiness

    t0 = dt.datetime(2020, 1, 1)
    rows = [("g", t0), ("g", t0 + dt.timedelta(seconds=1)),
            ("g", t0 + dt.timedelta(seconds=3)),
            ("g", t0 + dt.timedelta(seconds=6)),
            ("solo", t0), ("tied", t0), ("tied", t0)]
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    out = {r["g"]: r for r in
           burstiness(df, ["g"], "ts").collect()}
    assert set(out) == {"g"}
    r = out["g"]
    # n=3, S=6e6, Q=14e12 -> (3*14e12-36e12)*1e6 div 1.8e7
    assert (r["n_gaps"], r["mean_gap_us"], r["fano_ppm"]) == \
        (3, 2_000_000, 333_333_333_333)


def test_burstiness_regular_vs_bursty(spark):
    """A metronome has fano ~ 0; a burst-then-silence pattern of the
    same mean rate scores orders of magnitude higher."""
    import datetime as dt

    from cubes_spark.operators.olap import burstiness

    t0 = dt.datetime(2020, 1, 1)
    rows = [("tick", t0 + dt.timedelta(seconds=10 * i))
            for i in range(20)]
    rows += [("burst", t0 + dt.timedelta(seconds=i)) for i in range(10)]
    rows += [("burst", t0 + dt.timedelta(seconds=180 + i))
             for i in range(10)]
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    out = {r["g"]: r["fano_ppm"] for r in
           burstiness(df, ["g"], "ts").collect()}
    assert out["tick"] == 0
    assert out["burst"] > 1000 * max(out["tick"], 1)


def test_json_field_stats(spark):
    """Typed JSON extraction: valid values aggregate exactly;
    missing-field, malformed and null JSON all count as unparsed."""
    from cubes_spark.operators.olap import json_field_stats

    rows = [("a", '{"k": 10}'), ("a", '{"k": 32}'),
            ("a", '{"other": 5}'), ("a", "not json"),
            ("b", '{"k": -7}'), ("b", None)]
    df = spark.createDataFrame(rows, "g string, props string")
    out = {r["g"]: r for r in
           json_field_stats(df, ["g"], "props", "k").collect()}
    a = out["a"]
    assert (a["n"], a["n_parsed"], a["sum_v"], a["min_v"],
            a["max_v"]) == (4, 2, 42, 10, 32)
    b = out["b"]
    assert (b["n"], b["n_parsed"], b["sum_v"]) == (2, 1, -7)


def test_group_ols_trend_hand_computed(spark):
    """Perfect line: slope exact in micro-cents/day, r2 = 1e6;
    noisy flat series: slope 0-ish, r2 small; constant-y and
    single-bucket groups dropped."""
    import datetime as dt

    from cubes_spark.operators.olap import group_ols_trend

    t0 = dt.datetime(2020, 1, 1)
    rows = [("line", t0 + dt.timedelta(days=i), 1.0 + 0.25 * i)
            for i in range(8)]                      # +25 cents/day
    rows += [("flat", t0 + dt.timedelta(days=i), 5.0)
             for i in range(5)]                     # den_y = 0
    rows += [("solo", t0, 3.0)]
    rows += [("zig", t0 + dt.timedelta(days=i), [1.0, 2.0][i % 2])
             for i in range(6)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    out = {r["g"]: r for r in
           group_ols_trend(df, ["g"], "ts", "v").collect()}
    assert set(out) == {"line", "zig"}
    assert out["line"]["slope_upd"] == 25_000_000   # 25 cents/day
    assert out["line"]["r2_ppm"] == 1_000_000
    assert abs(out["zig"]["slope_upd"]) < 25_000_000
    assert out["zig"]["r2_ppm"] < 200_000


def test_group_ols_trend_partition_invariant(spark):
    import datetime as dt

    from cubes_spark.operators.olap import group_ols_trend

    t0 = dt.datetime(2020, 1, 1)
    rows = [("g", t0 + dt.timedelta(days=i, hours=i % 5),
             float((i * 31) % 17) - 4.0) for i in range(60)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    a = group_ols_trend(df.repartition(1), ["g"], "ts", "v").collect()
    b = group_ols_trend(df.repartition(11), ["g"], "ts", "v").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestPeriodOverPeriod:
    def test_yoy_with_gap_month(self, spark):
        import datetime as dt
        from cubes_spark.operators.olap import period_over_period
        rows = [
            (dt.datetime(1995, 3, 10), 10.0),
            (dt.datetime(1995, 3, 20), 5.0),
            # 1995-04 missing entirely: a row-offset lag would
            # misalign; the calendar join must not
            (dt.datetime(1996, 3, 5), 30.0),
            (dt.datetime(1996, 4, 5), 7.0),
        ]
        df = spark.createDataFrame(rows, "ts timestamp, v double")
        out = {r["period"].strftime("%Y-%m"): r for r in
               period_over_period(df, "ts", "v").collect()}
        assert out["1995-03"]["prior_cents"] is None
        assert out["1996-03"]["value_cents"] == 3000
        assert out["1996-03"]["prior_cents"] == 1500
        assert out["1996-03"]["delta_ppm"] == 1000000  # doubled
        # 1996-04's prior (1995-04) has no data -> NULLs, not 1995-03
        assert out["1996-04"]["prior_cents"] is None
        assert out["1996-04"]["delta_ppm"] is None

    def test_negative_prior_null_delta(self, spark):
        import datetime as dt
        from cubes_spark.operators.olap import period_over_period
        rows = [(dt.datetime(1995, 1, 1), -5.0),
                (dt.datetime(1996, 1, 1), 10.0)]
        df = spark.createDataFrame(rows, "ts timestamp, v double")
        out = {r["period"].strftime("%Y-%m"): r for r in
               period_over_period(df, "ts", "v").collect()}
        assert out["1996-01"]["prior_cents"] == -500
        assert out["1996-01"]["delta_ppm"] is None


class TestPercentOfParent:
    def test_shares_sum_within_parent(self, spark):
        from cubes_spark.operators.olap import percent_of_parent
        rows = [("R1", "A", 10.0), ("R1", "B", 30.0),
                ("R2", "C", 5.0)]
        df = spark.createDataFrame(rows, "r string, n string, v double")
        out = {(r["r"], r["n"]): r for r in
               percent_of_parent(df, ["r"], ["n"], "v").collect()}
        assert out[("R1", "A")]["share_ppm"] == 250000
        assert out[("R1", "B")]["share_ppm"] == 750000
        assert out[("R2", "C")]["share_ppm"] == 1000000
        assert out[("R1", "A")]["parent_cents"] == 4000

    def test_non_positive_parent_null_share(self, spark):
        from cubes_spark.operators.olap import percent_of_parent
        rows = [("R1", "A", -10.0), ("R1", "B", 10.0)]
        df = spark.createDataFrame(rows, "r string, n string, v double")
        out = percent_of_parent(df, ["r"], ["n"], "v").collect()
        assert all(r["share_ppm"] is None for r in out)


class TestPeakTrailingRate:
    def test_gap_aware_frame(self, spark):
        import datetime as dt
        from cubes_spark.operators.olap import peak_trailing_rate
        t0 = dt.datetime(2020, 1, 1)
        # burst of 3.00 in one minute, then a lone 2.00 two hours
        # later: the RANGE frame must NOT reach back across the gap
        rows = [("a", t0, 1.0),
                ("a", t0 + dt.timedelta(seconds=30), 1.0),
                ("a", t0 + dt.timedelta(seconds=60), 1.0),
                ("a", t0 + dt.timedelta(hours=2), 2.0)]
        df = spark.createDataFrame(
            rows, "k string, ts timestamp, v double")
        out = peak_trailing_rate(df, "ts", "v", ["k"],
                                 window_seconds=3600).collect()[0]
        assert out["peak_window_cents"] == 300
        assert out["peak_at_epoch"] == int(
            (t0 + dt.timedelta(seconds=60)
             - dt.datetime(1970, 1, 1)).total_seconds())

    def test_rows_frame_would_differ(self, spark):
        import datetime as dt
        from cubes_spark.operators.olap import peak_trailing_rate
        # two events 90 min apart: every 1h frame holds ONE event, so
        # the peak is the larger single value (a 2-ROWS frame would
        # wrongly combine them)
        t0 = dt.datetime(2020, 1, 1)
        rows = [("a", t0, 5.0),
                ("a", t0 + dt.timedelta(minutes=90), 4.0)]
        df = spark.createDataFrame(
            rows, "k string, ts timestamp, v double")
        out = peak_trailing_rate(df, "ts", "v", ["k"],
                                 window_seconds=3600).collect()[0]
        assert out["peak_window_cents"] == 500


class TestBridgeWeighted:
    def test_allocation_is_exact_and_additive(self, spark):
        # order 1 -> two groups 60/40, order 2 -> one group
        fact = spark.createDataFrame(
            [(1, 10.00), (2, 5.00)], ["fk", "amount"])
        bridge = spark.createDataFrame(
            [(1, "g1", 6000), (1, "g2", 4000), (2, "g1", 10000)],
            ["fk", "grp", "w"])
        out = {r["grp"]: r for r in olap.bridge_weighted_aggregate(
            fact, bridge, "fk", "grp", "w", "amount").collect()}
        assert out["g1"]["alloc_cents"] == 600 + 500   # 60% + 100%
        assert out["g2"]["alloc_cents"] == 400
        # allocation is additive: weighted parts sum to the grand total
        assert (out["g1"]["alloc_cents"] + out["g2"]["alloc_cents"]
                == 1500)
        # raw double-counts the multi-homed fact
        assert out["g1"]["raw_cents"] == 1500
        assert out["g1"]["fact_cnt"] == 2

    def test_floor_division_once_at_the_end(self, spark):
        # three 1-cent facts at weight 3333bp each: per-row floor
        # would yield 0; the single end floor yields sum//denom
        fact = spark.createDataFrame(
            [(i, 0.01) for i in range(3)], ["fk", "amount"])
        bridge = spark.createDataFrame(
            [(i, "g", 3333) for i in range(3)], ["fk", "grp", "w"])
        out = olap.bridge_weighted_aggregate(
            fact, bridge, "fk", "grp", "w", "amount").collect()[0]
        assert out["alloc_cents"] == (3 * 3333) // 10000  # == 0
        fact2 = spark.createDataFrame(
            [(i, 1.00) for i in range(3)], ["fk", "amount"])
        out2 = olap.bridge_weighted_aggregate(
            fact2, bridge, "fk", "grp", "w", "amount").collect()[0]
        assert out2["alloc_cents"] == (300 * 3333) // 10000  # == 99


class TestSCD2Lookup:
    def _versions(self, spark):
        return spark.createDataFrame(
            [(1, "2020-01-01 00:00:00", "bronze"),
             (1, "2021-01-01 00:00:00", "silver"),
             (2, "2020-06-01 00:00:00", "gold")],
            ["k", "eff", "tier"]).withColumn(
                "eff", F.col("eff").cast("timestamp"))

    def test_point_in_time_semantics(self, spark):
        facts = spark.createDataFrame(
            [(10, 1, "2020-05-05 00:00:00"),   # inside v1
             (11, 1, "2021-01-01 00:00:00"),   # AT v2 boundary -> v2
             (12, 1, "2019-12-31 00:00:00"),   # before first -> NULL
             (13, 2, "2022-01-01 00:00:00"),   # after last -> last
             (14, 3, "2022-01-01 00:00:00")],  # unknown key -> NULL
            ["fid", "k", "ts"]).withColumn(
                "ts", F.col("ts").cast("timestamp"))
        out = {r["fid"]: r["tier"] for r in olap.scd2_lookup(
            facts, self._versions(spark), key_col="k",
            fact_ts_col="ts", effective_col="eff",
            attr_cols=["tier"]).collect()}
        assert out == {10: "bronze", 11: "silver", 12: None,
                       13: "gold", 14: None}

    def test_matches_between_interval_join(self, spark):
        # property: identical to the closed-open interval formulation
        import random
        rnd = random.Random(7)
        facts = spark.createDataFrame(
            [(i, rnd.randint(1, 3),
              f"20{rnd.randint(19, 22)}-0{rnd.randint(1, 9)}-01 00:00:00")
             for i in range(60)], ["fid", "k", "ts"]).withColumn(
                 "ts", F.col("ts").cast("timestamp"))
        got = {r["fid"]: r["tier"] for r in olap.scd2_lookup(
            facts, self._versions(spark), key_col="k",
            fact_ts_col="ts", effective_col="eff",
            attr_cols=["tier"]).collect()}
        v = self._versions(spark).collect()
        for f in facts.collect():
            cand = [r for r in v
                    if r["k"] == f["k"] and r["eff"] <= f["ts"]]
            want = (max(cand, key=lambda r: r["eff"])["tier"]
                    if cand else None)
            assert got[f["fid"]] == want, f["fid"]

    def test_null_attrs_applied_atomically(self, spark):
        # A version with a NULL attribute is still a full version:
        # facts in its interval get THAT version's values (incl. the
        # NULL), never a blend with the previous version's non-nulls.
        versions = spark.createDataFrame(
            [(1, "2020-01-01 00:00:00", "bronze", "eu"),
             (1, "2021-01-01 00:00:00", None, "us"),
             (1, "2022-01-01 00:00:00", "gold", None)],
            ["k", "eff", "tier", "region"]).withColumn(
                "eff", F.col("eff").cast("timestamp"))
        facts = spark.createDataFrame(
            [(10, 1, "2020-06-01 00:00:00"),   # v1
             (11, 1, "2021-06-01 00:00:00"),   # v2: tier NULL
             (12, 1, "2022-06-01 00:00:00")],  # v3: region NULL
            ["fid", "k", "ts"]).withColumn(
                "ts", F.col("ts").cast("timestamp"))
        got = {r["fid"]: (r["tier"], r["region"])
               for r in olap.scd2_lookup(
                   facts, versions, key_col="k", fact_ts_col="ts",
                   effective_col="eff",
                   attr_cols=["tier", "region"]).collect()}
        assert got == {10: ("bronze", "eu"),
                       11: (None, "us"),
                       12: ("gold", None)}


class TestMelt:
    def test_roundtrip_with_crosstab_grain(self, spark):
        wide = spark.createDataFrame(
            [("a", 1, 2, None), ("b", 3, None, 4)],
            "k string, x long, y long, z long")
        out = olap.melt(wide, ["k"], ["x", "y", "z"]).collect()
        assert len(out) == 6
        got = {(r.k, r.variable): r.value for r in out}
        assert got[("a", "x")] == 1 and got[("b", "z")] == 4
        assert got[("a", "z")] is None
        dropped = olap.melt(wide, ["k"], ["x", "y", "z"],
                            drop_nulls=True).collect()
        assert len(dropped) == 4

    def test_no_shuffle_plan(self, spark):
        wide = spark.createDataFrame(
            [("a", 1, 2)], "k string, x long, y long")
        plan = olap.melt(wide, ["k"], ["x", "y"]) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestWeightedQuantiles:
    def test_matches_expanded_percentile_disc(self, spark):
        import random
        rnd = random.Random(11)
        rows = [(["a", "b"][i % 2], rnd.randint(0, 9),
                 rnd.randint(1, 5)) for i in range(200)]
        df = spark.createDataFrame(rows, "g string, v long, w long")
        got = {(r.g, r.q_bp): r.value for r in olap.weighted_quantiles(
            df, "v", "w", group_cols=["g"]).collect()}
        # reference: expand each row w times, take percentile_disc
        for g in ("a", "b"):
            vals = sorted(v for gg, v, w in rows if gg == g
                          for _ in range(w))
            n = len(vals)
            for q_bp in (2500, 5000, 7500):
                import math
                idx = math.ceil(q_bp * n / 10000) - 1
                assert got[(g, q_bp)] == vals[idx], (g, q_bp)

    def test_unit_weights_equal_disc_quantiles(self, spark):
        df = spark.createDataFrame(
            [("g", v, 1) for v in (1, 2, 3, 4)],
            "g string, v long, w long")
        got = {r.q_bp: r.value for r in olap.weighted_quantiles(
            df, "v", "w", group_cols=["g"]).collect()}
        assert got == {2500: 1, 5000: 2, 7500: 3}


class TestDedupLinesWithinDoc:
    def test_first_occurrence_kept(self, spark):
        from cubes_spark.llm import dedup_lines_within_doc

        df = spark.createDataFrame(
            [(1, "nav\nbody one\nnav\nbody two\nnav"),
             (2, "only\nunique\nlines")],
            ["doc_id", "text"])
        out = {r.doc_id: r for r in
               dedup_lines_within_doc(df).collect()}
        assert out[1].clean_text == "nav\nbody one\nbody two"
        assert out[1].n_lines == 5 and out[1].n_unique_lines == 3
        assert out[2].clean_text == "only\nunique\nlines"


class TestCoverageGaps:
    def test_missing_combinations(self, spark):
        grid = spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 1), ("b", 2)],
            "k string, t long")
        fact = spark.createDataFrame(
            [("a", 1, 10.0), ("a", 1, 11.0), ("b", 2, 12.0)],
            "k string, t long, v double")
        out = {(r.k, r.t) for r in olap.coverage_gaps(
            fact, grid, ["k", "t"]).collect()}
        assert out == {("a", 2), ("b", 1)}


class TestScd1Upsert:
    def test_merge_semantics(self, spark):
        import datetime as dt
        snap = spark.createDataFrame(
            [(1, dt.datetime(2020, 1, 1), "old"),
             (2, dt.datetime(2020, 1, 1), "keep"),
             (3, dt.datetime(2020, 6, 1), "newer-in-snapshot")],
            "k long, ts timestamp, v string")
        chg = spark.createDataFrame(
            [(1, dt.datetime(2020, 2, 1), "updated"),   # overwrite
             (3, dt.datetime(2020, 3, 1), "stale"),     # older -> lose
             (4, dt.datetime(2020, 1, 1), "insert"),    # new key
             (2, dt.datetime(2020, 1, 1), "tie-change")],  # tie: change wins
            "k long, ts timestamp, v string")
        out = {r.k: r.v for r in olap.scd1_upsert(
            snap, chg, key_cols=["k"], ts_col="ts").collect()}
        assert out == {1: "updated", 2: "tie-change",
                       3: "newer-in-snapshot", 4: "insert"}

    def test_schema_mismatch_rejected(self, spark):
        import pytest as _pt
        a = spark.createDataFrame([(1, 2)], "k long, ts long")
        b = spark.createDataFrame([(1, 2, 3)], "k long, ts long, x long")
        with _pt.raises(ValueError):
            olap.scd1_upsert(a, b, key_cols=["k"], ts_col="ts")
