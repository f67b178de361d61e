"""Pre-aggregation rewriting: queries covered by a materialized cuboid
read the cuboid; everything else falls back to the fact star."""

import os
from urllib.parse import unquote, urlparse

import pytest

from cubes_spark.demo import tpch_workspace
from tests.conftest import SF_DIR


@pytest.fixture()
def browser(spark, tmp_path):
    ws = tpch_workspace(spark, SF_DIR)
    b = ws.browser("sales")
    b.materialize_cuboid(
        str(tmp_path / "ym_cuboid"),
        drilldown=["date@ym:month", "returnflag"],
        aggregates=["price_sum", "quantity_sum", "fact_count",
                    "price_min", "price_max"],
    )
    return b


def plan_of(df):
    return df._jdf.queryExecution().toString()


def test_exact_grain_served_from_cuboid(browser):
    df = browser.aggregation_dataframe(
        drilldown=["date@ym:month", "returnflag"],
        aggregates=["price_sum", "fact_count"],
    )
    plan = plan_of(df)
    assert "lineitem" not in plan          # fact star not scanned
    assert "returnflag__returnflag" in plan  # cuboid columns read


def test_coarser_grain_reaggregates(browser):
    fresh = tpch_workspace(
        browser.star_schema.fact_df.sparkSession, SF_DIR
    ).browser("sales")
    from_cuboid = browser.aggregate(
        drilldown=["date:year"],
        aggregates=["price_sum", "fact_count", "price_min", "price_max"],
    )
    from_fact = fresh.aggregate(
        drilldown=["date:year"],
        aggregates=["price_sum", "fact_count", "price_min", "price_max"],
    )
    assert from_cuboid.cells == from_fact.cells
    assert from_cuboid.summary == from_fact.summary


def test_cell_filter_on_cuboid(browser):
    df = browser.aggregation_dataframe(
        cell="date:1995|returnflag:A",
        drilldown=["date@ym:month"],
        aggregates=["quantity_sum"],
    )
    assert "lineitem" not in plan_of(df)
    fresh = tpch_workspace(
        browser.star_schema.fact_df.sparkSession, SF_DIR
    ).browser("sales")
    expect = fresh.aggregation_dataframe(
        cell="date:1995|returnflag:A",
        drilldown=["date@ym:month"],
        aggregates=["quantity_sum"],
    )
    assert sorted(map(str, df.collect())) == sorted(map(str, expect.collect()))


def test_uncovered_attribute_falls_back(browser):
    # linestatus is not in the cuboid grain
    df = browser.aggregation_dataframe(
        drilldown=["linestatus"], aggregates=["price_sum"],
    )
    assert "lineitem" in plan_of(df)


def test_nondistributive_falls_back_on_coarser_grain(browser):
    # count_distinct cannot be re-aggregated from a coarser cuboid
    df = browser.aggregation_dataframe(
        drilldown=["date:year"], aggregates=["part_count_distinct"],
    )
    assert "lineitem" in plan_of(df)


def test_nondistributive_ok_on_exact_grain(browser, spark, tmp_path):
    browser.materialize_cuboid(
        str(tmp_path / "flag_cuboid"),
        drilldown=["returnflag"],
        aggregates=["part_count_distinct", "fact_count"],
    )
    df = browser.aggregation_dataframe(
        drilldown=["returnflag"], aggregates=["part_count_distinct"],
    )
    assert "lineitem" not in plan_of(df)
    fresh = tpch_workspace(spark, SF_DIR).browser("sales")
    expect = fresh.aggregation_dataframe(
        drilldown=["returnflag"], aggregates=["part_count_distinct"],
    )
    assert sorted(map(str, df.collect())) == sorted(map(str, expect.collect()))


def test_summary_from_cuboid(browser):
    result = browser.aggregate(aggregates=["price_sum", "fact_count"])
    fresh = tpch_workspace(
        browser.star_schema.fact_df.sparkSession, SF_DIR
    ).browser("sales")
    expect = fresh.aggregate(aggregates=["price_sum", "fact_count"])
    assert result.summary == expect.summary


class TestCuboidSizes:
    def test_sizes_match_per_cuboid_distinct(self, spark):
        from itertools import product

        from cubes_spark.operators.preagg import cuboid_sizes

        rows = [(a % 3, b % 4, (a + b) % 2)
                for a, b in product(range(6), range(8))]
        df = spark.createDataFrame(rows, "x int, y int, z int")
        got = {r.grouping_id: r.size
               for r in cuboid_sizes(df, ["x", "y", "z"]).collect()}
        # grouping_id bit i (MSB-first) = dims[i] rolled away
        dims = ["x", "y", "z"]
        for gid in range(8):
            kept = [dims[i] for i in range(3)
                    if not (gid >> (2 - i)) & 1]
            want = (df.select(*kept).distinct().count()
                    if kept else 1)
            assert got[gid] == want, gid

    def test_n_dims(self, spark):
        from cubes_spark.operators.preagg import cuboid_sizes

        df = spark.createDataFrame([(1, 2)], "a int, b int")
        got = {r.grouping_id: r.n_dims
               for r in cuboid_sizes(df, ["a", "b"]).collect()}
        assert got == {0: 2, 1: 1, 2: 1, 3: 0}


class TestGreedySelection:
    def test_hru_textbook_example(self):
        from cubes_spark.operators.preagg import (
            greedy_cuboid_selection,
        )

        # base 100; one cheap cuboid that answers half the lattice
        sizes = {0: 100, 1: 20, 2: 90, 3: 15}
        picks = greedy_cuboid_selection(sizes, 2, 2)
        # round 1: c=1 benefit (100-20)*2=160; c=2 (100-90)*2=20;
        #          c=3 (100-15)*1=85 -> pick 1
        # round 2: c=3 now costs 20 -> (20-15)=5; c=2 -> 20 -> pick 2
        assert picks == [1, 2]

    def test_stops_when_no_benefit(self):
        from cubes_spark.operators.preagg import (
            greedy_cuboid_selection,
        )

        # every cuboid as big as the base: nothing worth building
        sizes = {0: 50, 1: 50, 2: 50, 3: 50}
        assert greedy_cuboid_selection(sizes, 3, 2) == []

    def test_deterministic_tiebreak(self):
        from cubes_spark.operators.preagg import (
            greedy_cuboid_selection,
        )

        # 1 and 2 tie on benefit and size -> lowest grouping_id wins
        sizes = {0: 100, 1: 10, 2: 10, 3: 10}
        picks = greedy_cuboid_selection(sizes, 1, 2)
        assert picks == [1]


def test_greedy_pick_materializes_and_routes(spark, tmp_path):
    """End-to-end: size the lattice, greedy-pick, materialize the
    winner, and watch the browser route a covered query to it."""
    from cubes_spark.operators.preagg import (
        cuboid_sizes,
        greedy_cuboid_selection,
    )

    ws = tpch_workspace(spark, SF_DIR)
    b = ws.browser("sales")
    facts = b.star_schema.fact_df
    sizes = {r.grouping_id: r.size for r in cuboid_sizes(
        facts.selectExpr("l_returnflag", "l_linestatus"),
        ["l_returnflag", "l_linestatus"]).collect()}
    picks = greedy_cuboid_selection(sizes, 1, 2)
    assert picks, "a 6M-row base must make some cuboid worth building"
    # the flag x status cuboid (grouping_id 0 is the base itself;
    # the pick is one of the 1-dim rollups or the 2-dim base grain)
    b.materialize_cuboid(
        str(tmp_path / "greedy_cuboid"),
        drilldown=["returnflag", "linestatus"],
        aggregates=["price_sum", "fact_count"],
    )
    df = b.aggregation_dataframe(
        drilldown=["returnflag"], aggregates=["price_sum"])
    assert "lineitem" not in df._jdf.queryExecution().toString()


class TestAvgFromPartials:
    """Algebraic avg rewrite: a cuboid storing sum + count_nonempty
    partials of a decimal measure serves a coarser avg exactly
    (Cuboid.partials_for); every exclusion falls back to the star."""

    @pytest.fixture()
    def avg_browser(self, spark, tmp_path):
        ws = tpch_workspace(spark, SF_DIR)
        b = ws.browser("sales")
        b.materialize_cuboid(
            str(tmp_path / "avg_cuboid"),
            drilldown=["date@ym:month"],
            aggregates=["quantity_sum", "quantity_count", "fact_count"],
        )
        return b

    def test_avg_served_from_partials(self, avg_browser, spark):
        df = avg_browser.aggregation_dataframe(
            drilldown=["date:year"],
            aggregates=["quantity_avg", "quantity_sum", "fact_count"],
        )
        plan = plan_of(df)
        assert "lineitem" not in plan
        assert "date__year" in plan  # cuboid's safe column is scanned
        fresh = tpch_workspace(spark, SF_DIR).browser("sales")
        expect = fresh.aggregation_dataframe(
            drilldown=["date:year"],
            aggregates=["quantity_avg", "quantity_sum", "fact_count"],
        )
        got = {r["date.year"]: r["quantity_avg"] for r in df.collect()}
        want = {r["date.year"]: r["quantity_avg"]
                for r in expect.collect()}
        # BIT-identical, not approximately equal: decimal partial sums
        # merge exactly, so sum(sums)/sum(counts) is the same double
        assert got == want

    def test_avg_summary_from_partials(self, avg_browser, spark):
        result = avg_browser.aggregate(aggregates=["quantity_avg"])
        fresh = tpch_workspace(spark, SF_DIR).browser("sales")
        expect = fresh.aggregate(aggregates=["quantity_avg"])
        assert result.summary == expect.summary

    def test_avg_without_count_partial_falls_back(self, spark, tmp_path):
        ws = tpch_workspace(spark, SF_DIR)
        b = ws.browser("sales")
        b.materialize_cuboid(
            str(tmp_path / "nocount_cuboid"),
            drilldown=["date@ym:month"],
            aggregates=["quantity_sum", "fact_count"],  # no count_nonempty
        )
        df = b.aggregation_dataframe(
            drilldown=["date:year"], aggregates=["quantity_avg"],
        )
        assert "lineitem" in plan_of(df)

    def test_avg_other_measure_falls_back(self, avg_browser):
        # discount_avg's measure has no stored partials in the cuboid
        df = avg_browser.aggregation_dataframe(
            drilldown=["date:year"], aggregates=["discount_avg"],
        )
        assert "lineitem" in plan_of(df)

    def test_coalesce_measures_disables_partials(self, spark, tmp_path):
        # under coalesce_measures, avg(coalesce(m,0)) != sum/count_nonempty
        ws = tpch_workspace(spark, SF_DIR)
        b = ws.browser("sales", coalesce_measures=True)
        b.materialize_cuboid(
            str(tmp_path / "coal_cuboid"),
            drilldown=["date@ym:month"],
            aggregates=["quantity_sum", "quantity_count", "fact_count"],
        )
        df = b.aggregation_dataframe(
            drilldown=["date:year"], aggregates=["quantity_avg"],
        )
        assert "lineitem" in plan_of(df)

    def test_handbuilt_cuboid_without_dtypes_is_conservative(
            self, avg_browser):
        from cubes_spark.operators.preagg import Cuboid

        src = avg_browser._cuboids[0]
        bare = Cuboid(src.path, src.attribute_refs,
                      list(src.aggregates.values()))  # no column_dtypes
        agg = next(a for a in avg_browser.prepare_aggregates(
            ["quantity_avg"]))
        assert src.partials_for(agg) is not None
        assert bare.partials_for(agg) is None


def test_smallest_covering_cuboid_wins(spark, tmp_path):
    """With a month-grain AND a year-grain cuboid both covering a
    year-grain query, the browser must scan the smaller (year) one —
    recorded row counts order the candidates."""
    ws = tpch_workspace(spark, SF_DIR)
    b = ws.browser("sales")
    big = b.materialize_cuboid(
        str(tmp_path / "month_cuboid"),
        drilldown=["date@ym:month"],
        aggregates=["quantity_sum", "fact_count"],
    )
    small = b.materialize_cuboid(
        str(tmp_path / "year_cuboid"),
        drilldown=["date:year"],
        aggregates=["quantity_sum", "fact_count"],
    )
    assert big.rows is not None and small.rows is not None
    assert small.rows < big.rows
    df = b.aggregation_dataframe(
        drilldown=["date:year"],
        aggregates=["quantity_sum", "fact_count"],
    )
    files = "\n".join(df.inputFiles())
    assert "year_cuboid" in files
    assert "month_cuboid" not in files
    assert "lineitem" not in files
    # values still correct vs a cuboid-free browser
    fresh = tpch_workspace(spark, SF_DIR).browser("sales")
    expect = fresh.aggregation_dataframe(
        drilldown=["date:year"],
        aggregates=["quantity_sum", "fact_count"],
    )
    assert sorted(map(str, df.collect())) \
        == sorted(map(str, expect.collect()))


class TestAutoMaterialize:
    def test_picks_materialize_and_route(self, spark, tmp_path):
        from cubes_spark.operators.preagg import auto_materialize

        ws = tpch_workspace(spark, SF_DIR)
        b = ws.browser("sales")
        built = auto_materialize(
            b, str(tmp_path / "auto"),
            ["returnflag", "linestatus", "date:year"],
            aggregates=["price_sum", "quantity_sum", "fact_count"],
            n_picks=2,
        )
        assert built, "a fact-grain base must make some cuboid worth it"
        assert all(c.rows is not None for c in built)
        assert b._cuboids == built
        # a query covered by a pick routes off the fact star and
        # matches the cuboid-free browser exactly
        df = b.aggregation_dataframe(
            drilldown=["returnflag"],
            aggregates=["price_sum", "fact_count"],
        )
        assert "lineitem" not in plan_of(df)
        fresh = tpch_workspace(spark, SF_DIR).browser("sales")
        expect = fresh.aggregation_dataframe(
            drilldown=["returnflag"],
            aggregates=["price_sum", "fact_count"],
        )
        assert sorted(map(str, df.collect())) \
            == sorted(map(str, expect.collect()))

    def test_hierarchical_drilldown_rejected(self, spark, tmp_path):
        from cubes_spark.errors import ArgumentError
        from cubes_spark.operators.preagg import auto_materialize

        b = tpch_workspace(spark, SF_DIR).browser("sales")
        with pytest.raises(ArgumentError):
            auto_materialize(b, str(tmp_path / "auto2"),
                             ["date@ym:month", "returnflag"],
                             aggregates=["price_sum"])


class TestVarFromPartials:
    """Algebraic variance/stddev rewrite (r14): materializing a
    var/stddev aggregate of a decimal measure stores hidden
    (sum, count, sum-of-squares) partial columns in the same pass
    (Cuboid.materialize), and any coarser grain is then served as
    (Σs2 − (Σs1)²/Σn)/(Σn − 1) — bit-identical to the direct
    decimal-exact path (functions/aggregates.py variance_from_sums).
    Ungated measures (non-decimal, scale > 6) record no partials and
    fall back to the fact star."""

    @pytest.fixture()
    def var_browser(self, spark, tmp_path):
        ws = tpch_workspace(spark, SF_DIR)
        b = ws.browser("sales")
        b.materialize_cuboid(
            str(tmp_path / "var_cuboid"),
            drilldown=["date@ym:month"],
            aggregates=["price_variance", "price_stddev", "fact_count"],
        )
        return b

    def test_partials_recorded_and_written(self, var_browser, spark):
        cuboid = var_browser._cuboids[0]
        assert cuboid.partials["price_variance"] == (
            "variance", "__psum__extendedprice",
            "__pcount__extendedprice", "__psumsq__extendedprice")
        assert cuboid.partials["price_stddev"][0] == "stddev"
        cols = set(spark.read.parquet(cuboid.path).columns)
        assert {"__psum__extendedprice", "__pcount__extendedprice",
                "__psumsq__extendedprice"} <= cols
        # partial sums stayed decimal (the exactness gate's premise)
        assert cuboid.column_dtypes["__psum__extendedprice"] \
            .startswith("decimal")
        assert cuboid.column_dtypes["__psumsq__extendedprice"] \
            .startswith("decimal")

    def test_var_served_bit_identical(self, var_browser, spark):
        df = var_browser.aggregation_dataframe(
            drilldown=["date:year"],
            aggregates=["price_variance", "price_stddev", "fact_count"],
        )
        plan = plan_of(df)
        assert "lineitem" not in plan
        assert "date__year" in plan
        fresh = tpch_workspace(spark, SF_DIR).browser("sales")
        expect = fresh.aggregation_dataframe(
            drilldown=["date:year"],
            aggregates=["price_variance", "price_stddev", "fact_count"],
        )
        got = {r["date.year"]: (r["price_variance"], r["price_stddev"])
               for r in df.collect()}
        want = {r["date.year"]: (r["price_variance"], r["price_stddev"])
                for r in expect.collect()}
        # BIT-identical: merged decimal partials are the same exact
        # sums the direct path computes
        assert got == want

    def test_var_summary_from_partials(self, var_browser, spark):
        result = var_browser.aggregate(aggregates=["price_variance"])
        fresh = tpch_workspace(spark, SF_DIR).browser("sales")
        expect = fresh.aggregate(aggregates=["price_variance"])
        assert result.summary == expect.summary

    def test_exact_grain_serves_stored_value(self, var_browser):
        df = var_browser.aggregation_dataframe(
            drilldown=["date@ym:month"],
            aggregates=["price_variance"],
        )
        assert "lineitem" not in plan_of(df)

    def test_reuses_model_sum_count_partials(self, spark, tmp_path):
        # sum/count_nonempty of the measure already in the aggregate
        # list → only the sum-of-squares column is added
        ws = tpch_workspace(spark, SF_DIR)
        b = ws.browser("sales")
        b.materialize_cuboid(
            str(tmp_path / "qvar_cuboid"),
            drilldown=["date@ym:month"],
            aggregates=["quantity_sum", "quantity_count",
                        "quantity_avg", "fact_count"],
        )
        cuboid = b._cuboids[0]
        assert cuboid.partials["quantity_avg"] == (
            "avg", "quantity_sum", "quantity_count")
        cols = set(spark.read.parquet(cuboid.path).columns)
        assert not any(c.startswith("__psum__") for c in cols)

    def test_avg_partials_autostored(self, spark, tmp_path):
        # avg materialized WITHOUT model sum/count in the list: hidden
        # partials still serve the coarser grain (new in r14 — the
        # model-derived path needed both stored)
        ws = tpch_workspace(spark, SF_DIR)
        b = ws.browser("sales")
        b.materialize_cuboid(
            str(tmp_path / "avg_only_cuboid"),
            drilldown=["date@ym:month"],
            aggregates=["quantity_avg", "fact_count"],
        )
        df = b.aggregation_dataframe(
            drilldown=["date:year"], aggregates=["quantity_avg"],
        )
        assert "lineitem" not in plan_of(df)
        fresh = tpch_workspace(spark, SF_DIR).browser("sales")
        expect = fresh.aggregation_dataframe(
            drilldown=["date:year"], aggregates=["quantity_avg"],
        )
        got = {r["date.year"]: r["quantity_avg"] for r in df.collect()}
        want = {r["date.year"]: r["quantity_avg"]
                for r in expect.collect()}
        assert got == want

    def test_nondecimal_measure_records_no_partials(self, spark,
                                                    tmp_path):
        # a variance over a plain-long measure fails the gate: no
        # partial columns written, coarser grains fall back
        import copy

        from cubes_spark.demo import TPCH_MODEL
        from cubes_spark.sources.workspace import Workspace

        model = copy.deepcopy(TPCH_MODEL)
        sales = next(c for c in model["cubes"] if c["name"] == "sales")
        sales["aggregates"].append(
            {"name": "linenumber_var", "function": "variance",
             "measure": "linenumber"})
        ws = Workspace(spark, store=SF_DIR)
        ws.import_model(model)
        b = ws.browser("sales")
        b.materialize_cuboid(
            str(tmp_path / "lnvar_cuboid"),
            drilldown=["date@ym:month"],
            aggregates=["linenumber_var", "fact_count"],
        )
        cuboid = b._cuboids[0]
        assert cuboid.partials == {}
        cols = set(spark.read.parquet(cuboid.path).columns)
        assert not any(c.startswith("__p") for c in cols)
        df = b.aggregation_dataframe(
            drilldown=["date:year"], aggregates=["linenumber_var"],
        )
        assert "lineitem" in plan_of(df)
        # exact grain still serves the stored (double) value
        df = b.aggregation_dataframe(
            drilldown=["date@ym:month"], aggregates=["linenumber_var"],
        )
        assert "lineitem" not in plan_of(df)

    def test_coalesce_measures_disables_var_partials(self, spark,
                                                     tmp_path):
        ws = tpch_workspace(spark, SF_DIR)
        b = ws.browser("sales", coalesce_measures=True)
        b.materialize_cuboid(
            str(tmp_path / "coal_var_cuboid"),
            drilldown=["date@ym:month"],
            aggregates=["price_variance", "fact_count"],
        )
        df = b.aggregation_dataframe(
            drilldown=["date:year"], aggregates=["price_variance"],
        )
        assert "lineitem" in plan_of(df)


#: measure → the functions the direct path computes from exact sums:
#: decimal(20,2), decimal(25,7) (scale > 6) and a plain integer
EXACT_FUNCTIONS = {
    "extendedprice": {"avg", "variance", "stddev"},
    "price7": {"avg"},
    "linenumber": set(),
}


@pytest.fixture(scope="module")
def exactness_ws(spark):
    """The TPC-H workspace with a scale-7 decimal measure and an avg,
    a variance and a stddev of each measure of EXACT_FUNCTIONS."""
    import copy

    from cubes_spark.demo import TPCH_MODEL
    from cubes_spark.sources.workspace import Workspace

    model = copy.deepcopy(TPCH_MODEL)
    sales = next(c for c in model["cubes"] if c["name"] == "sales")
    sales["measures"].append({"name": "price7"})
    sales["mappings"]["price7"] = {
        "table": "lineitem", "column": "l_extendedprice",
        "cast": "decimal(25,7)"}
    sales["aggregates"] += [
        {"name": f"{function}_of_{measure}", "function": function,
         "measure": measure}
        for measure in EXACT_FUNCTIONS
        for function in ("avg", "variance", "stddev")]
    ws = Workspace(spark, store=SF_DIR)
    ws.import_model(model)
    return ws


@pytest.mark.parametrize("measure", sorted(EXACT_FUNCTIONS))
@pytest.mark.parametrize("function", ["avg", "variance", "stddev"])
def test_partials_follow_the_exactness_rule(exactness_ws, spark, tmp_path,
                                            function, measure):
    """The cuboid stores and serves partials for exactly the aggregates
    the direct path computes from exact sums (exact_from_sums); every
    coarser-grain answer equals the fact star's."""
    from cubes_spark.functions.aggregates import exact_from_sums

    name = f"{function}_of_{measure}"
    exact = function in EXACT_FUNCTIONS[measure]
    b = exactness_ws.browser("sales")
    dtype = dict(b.denormalized_dataframe(attributes=[measure]).dtypes)
    assert exact_from_sums(function, dtype[measure]) is exact

    cuboid = b.materialize_cuboid(
        str(tmp_path / "cuboid"), drilldown=["date@ym:month"],
        aggregates=[name, "fact_count"])
    assert (name in cuboid.partials) is exact
    hidden = [c for c in cuboid.load(spark).columns if c.startswith("__p")]
    assert bool(hidden) is exact

    df = b.aggregation_dataframe(drilldown=["date:year"], aggregates=[name])
    assert ("lineitem" not in plan_of(df)) is exact
    expect = b._fact_only().aggregation_dataframe(
        drilldown=["date:year"], aggregates=[name])
    assert sorted(map(str, df.collect())) \
        == sorted(map(str, expect.collect()))


class TestSlicedCuboid:
    """A cuboid materialized over a cell's slice holds only that
    slice's facts: it serves a request whose cell carries each cut of
    the slice, and the fact star answers every other request."""

    AGGREGATES = ["quantity_sum", "fact_count"]

    @pytest.fixture()
    def sliced(self, spark, tmp_path):
        from cubes_spark.operators import olap

        b = tpch_workspace(spark, SF_DIR).browser("sales")
        b.add_cuboid(olap.materialize_aggregate(
            b, str(tmp_path / "y1995"), drilldown=["date@ym:month"],
            aggregates=self.AGGREGATES, cell="date:1995"))
        return b

    @pytest.mark.parametrize(
        "cell", ["date:1996", None, "date:1995-1996", "!date:1996"])
    def test_outside_the_slice_reads_the_facts(self, sliced, cell):
        got = sliced.aggregate(cell=cell, aggregates=self.AGGREGATES)
        want = sliced._fact_only().aggregate(
            cell=cell, aggregates=self.AGGREGATES)
        assert got.summary == want.summary
        assert got.summary["fact_count"]

    def test_the_slice_is_served_from_the_cuboid(self, sliced):
        request = dict(cell="date:1995",
                       drilldown=["date@ym:month"],
                       aggregates=self.AGGREGATES)
        df = sliced.aggregation_dataframe(**request)
        assert "lineitem" not in plan_of(df)
        expect = sliced._fact_only().aggregation_dataframe(**request)
        assert sorted(map(str, df.collect())) \
            == sorted(map(str, expect.collect()))

    def test_a_cut_naming_no_hierarchy_is_served_from_the_cuboid(
            self, sliced):
        # the /report payload shape: a cut dict with no hierarchy is
        # the same cut as the parsed "date:1995" the slice recorded
        request = dict(
            cell=[{"type": "point", "dimension": "date", "path": ["1995"]}],
            drilldown=["date@ym:month"], aggregates=self.AGGREGATES)
        df = sliced.aggregation_dataframe(**request)
        assert "lineitem" not in plan_of(df)
        expect = sliced._fact_only().aggregation_dataframe(**request)
        assert sorted(map(str, df.collect())) \
            == sorted(map(str, expect.collect()))

    def test_same_path_in_another_hierarchy_reads_the_facts(
            self, spark, tmp_path):
        # "12" is a month under one hierarchy and a day under the other:
        # the December cuboid holds few of the day-12 facts
        import copy

        from cubes_spark.demo import TPCH_MODEL
        from cubes_spark.operators import olap
        from cubes_spark.sources.workspace import Workspace

        model = copy.deepcopy(TPCH_MODEL)
        date = next(d for d in model["dimensions"] if d["name"] == "date")
        date["hierarchies"] += [{"name": "md", "levels": ["month", "day"]},
                                {"name": "dm", "levels": ["day", "month"]}]
        ws = Workspace(spark, store=SF_DIR)
        ws.import_model(model)
        b = ws.browser("sales")
        b.add_cuboid(olap.materialize_aggregate(
            b, str(tmp_path / "december"), drilldown=["date:day"],
            aggregates=self.AGGREGATES, cell="date@md:12"))
        request = dict(cell="date@dm:12", aggregates=self.AGGREGATES)
        got = b.aggregate(**request)
        assert got.summary == b._fact_only().aggregate(**request).summary
        assert got.summary["fact_count"]


class TestStreamCuboid:
    """A maintain_aggregate partial log registered with the browser
    (StreamAggregateCuboid / browser.register_stream_cuboid) serves
    covered aggregations by merge-on-read — transparently, at coarser
    grains, with the algebraic avg path — and stays fresh as batches
    land after registration."""

    AGGS = {
        "value_sum": ("sum", "__vdec__"),
        "value_count": ("count_nonempty", "__vdec__"),
        "fact_count": ("count", None),
    }
    COLMAP = {"etype.etype": "event_type", "date.year": "year",
              "date.month": "month"}

    @pytest.fixture()
    def stream_browser(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from cubes_spark.sources.workspace import ParquetStore
        from cubes_spark.streaming import (maintain_aggregate,
                                           read_parquet_stream)

        src = str(tmp_path / "events_src")
        ParquetStore(spark, SF_DIR).table("events").repartition(3) \
            .write.mode("overwrite").parquet(src)
        stream = read_parquet_stream(
            spark, src, max_files_per_trigger=1
        ).select(
            "event_type",
            F.year("ts").alias("year"), F.month("ts").alias("month"),
            F.col("value").cast("decimal(20,6)").alias("__vdec__"),
        )
        log = str(tmp_path / "log")
        maintain_aggregate(stream, log,
                           ["event_type", "year", "month"], self.AGGS,
                           query_name="t_stream_cuboid")
        b = tpch_workspace(spark, SF_DIR).browser("events")
        b.register_stream_cuboid(log, self.AGGS, self.COLMAP)
        return b, log

    def _collect(self, browser, **kw):
        df = browser.aggregation_dataframe(**kw)
        rows = []
        for r in df.collect():
            rows.append(tuple(
                float(v) if hasattr(v, "as_integer_ratio")
                and not isinstance(v, int) else v
                for v in r))
        return df, sorted(map(repr, rows))

    @staticmethod
    def _files(df):
        """Paths of the files ``df`` reads: its file indexes, which,
        unlike the plan string, are never truncated."""
        return [unquote(urlparse(f).path) for f in df.inputFiles()]

    @staticmethod
    def _under(directory, path):
        return os.path.commonpath([directory, path]) == directory

    def test_coarser_grain_served_from_log(self, stream_browser, spark):
        b, log = stream_browser
        df, got = self._collect(
            b, drilldown=["etype", "date:year"],
            aggregates=["value_sum", "value_avg", "fact_count"])
        files = self._files(df)
        assert files and all(self._under(log, f) for f in files)
        assert not any("events.parquet" in f for f in files)  # no fact
        fresh = tpch_workspace(spark, SF_DIR).browser("events")
        _, want = self._collect(
            fresh, drilldown=["etype", "date:year"],
            aggregates=["value_sum", "value_avg", "fact_count"])
        # bit-identical: decimal partials merge exactly, and avg is
        # sum(sums)/sum(counts) on both paths
        assert got == want

    def test_cell_cut_on_log(self, stream_browser, spark):
        b, log = stream_browser
        df, got = self._collect(
            b, cell="date:2024,1", drilldown=["etype"],
            aggregates=["value_sum", "fact_count"])
        files = self._files(df)
        assert files and all(self._under(log, f) for f in files)
        fresh = tpch_workspace(spark, SF_DIR).browser("events")
        _, want = self._collect(
            fresh, cell="date:2024,1", drilldown=["etype"],
            aggregates=["value_sum", "fact_count"])
        assert got == want

    def test_uncovered_falls_back_to_fact(self, stream_browser):
        b, log = stream_browser
        # date.day is not in the log grain
        df = b.aggregation_dataframe(
            drilldown=["date:day"], aggregates=["value_sum"])
        files = self._files(df)
        assert not any(self._under(log, f) for f in files)
        assert any("events" in f for f in files)

    def test_new_batch_visible_after_registration(self, stream_browser,
                                                  spark):
        from pyspark.sql import functions as F

        b, log = stream_browser
        base = {r["etype.etype"]: r["fact_count"]
                for r in b.aggregation_dataframe(
                    drilldown=["etype"],
                    aggregates=["fact_count"]).collect()}
        # a late batch lands as its own partial partition
        extra = spark.createDataFrame(
            [("__late__", 2024, 1)], "event_type string, year int, "
            "month int").select(
            "event_type", "year", "month",
            F.lit(123.5).cast("decimal(30,6)").alias("value_sum"),
            F.lit(1).cast("long").alias("value_count"),
            F.lit(7).cast("long").alias("fact_count"),
            F.lit(99).alias("__batch_id__"))
        extra.write.mode("append").partitionBy("__batch_id__") \
            .parquet(log)
        after = {r["etype.etype"]: r["fact_count"]
                 for r in b.aggregation_dataframe(
                     drilldown=["etype"],
                     aggregates=["fact_count"]).collect()}
        assert after.pop("__late__") == 7
        assert after == base

    def test_function_mismatch_raises(self, spark, tmp_path,
                                      stream_browser):
        from cubes_spark.errors import ArgumentError

        b, log = stream_browser
        bad = dict(self.AGGS)
        bad["value_sum"] = ("max", "__vdec__")
        fresh = tpch_workspace(spark, SF_DIR).browser("events")
        with pytest.raises(ArgumentError, match="value_sum"):
            fresh.register_stream_cuboid(log, bad, self.COLMAP)

    def test_missing_grain_column_raises(self, spark, stream_browser):
        from cubes_spark.errors import ArgumentError

        b, log = stream_browser
        fresh = tpch_workspace(spark, SF_DIR).browser("events")
        with pytest.raises(ArgumentError, match="not in the partial"):
            fresh.register_stream_cuboid(
                log, self.AGGS, {"etype.etype": "event_type",
                                 "date.year": "nope"})


class TestAutoMaintain:
    """advisor -> maintain -> rewrite (r14 capstone): HRU picks sized
    on batch history are stream-maintained (one partial log per pick)
    and served by the browser transparently."""

    def test_picks_maintained_and_routed(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from cubes_spark.operators.preagg import auto_maintain
        from cubes_spark.sources.workspace import ParquetStore
        from cubes_spark.streaming import read_parquet_stream

        src = str(tmp_path / "events_src")
        ParquetStore(spark, SF_DIR).table("events").repartition(2) \
            .write.mode("overwrite").parquet(src)
        stream = read_parquet_stream(
            spark, src, max_files_per_trigger=1
        ).select(
            "event_type",
            F.year("ts").alias("year"),
            F.col("value").cast("decimal(20,6)").alias("__vdec__"),
        )
        b = tpch_workspace(spark, SF_DIR).browser("events")
        aggs = {"value_sum": ("sum", "__vdec__"),
                "value_count": ("count_nonempty", "__vdec__"),
                "fact_count": ("count", None)}
        built = auto_maintain(
            b, stream, str(tmp_path / "auto"),
            drilldowns=["etype", "date:year"], aggs=aggs,
            column_map={"etype.etype": "event_type",
                        "date.year": "year"},
            n_picks=2,
            checkpoint_root=str(tmp_path / "ckpts"))
        # sf0.001 events span one year: only the year rollup has HRU
        # benefit (the etype cuboid is base-sized)
        assert len(built) >= 1
        assert all(c.path.startswith(str(tmp_path / "auto"))
                   for c in built)
        df = b.aggregation_dataframe(
            drilldown=["date:year"],
            aggregates=["value_sum", "value_avg", "fact_count"])
        plan = plan_of(df)
        # served from a pick's log: the scan reads the MERGED partial
        # schema (plan_of truncates file paths, so match the schema)
        assert "value_sum:decimal(30,6)" in plan
        assert "events.parquet" not in plan   # fact never scanned
        fresh = tpch_workspace(spark, SF_DIR).browser("events")
        expect = fresh.aggregation_dataframe(
            drilldown=["date:year"],
            aggregates=["value_sum", "value_avg", "fact_count"])
        got = sorted(map(str, df.collect()))
        want = sorted(map(str, expect.collect()))
        assert got == want


class TestHLLCuboid:
    """Materialized distinct-count sketch cuboid: registers stored at
    (year, month) serve ANY coarser grain by lossless max-merge —
    bit-identical to sketching the raw facts at that grain."""

    def test_rollup_bit_identical_to_direct(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from cubes_spark.functions.sketches import (hll_estimate,
                                                    hll_registers)
        from cubes_spark.operators.preagg import HLLCuboid
        from cubes_spark.sources.workspace import ParquetStore

        b = tpch_workspace(spark, SF_DIR).browser("sales")
        cub = HLLCuboid.materialize(
            b, str(tmp_path / "hll"), ["date@ym:month"], "partkey")
        served = {r["date__year"]: r["hll_est"]
                  for r in cub.rollup(spark, ["date.year"]).collect()}
        li = ParquetStore(spark, SF_DIR).table("lineitem")
        direct_regs = hll_registers(
            li.select(F.year("l_shipdate").alias("y"),
                      F.col("l_partkey").alias("__m__")),
            "__m__", ["y"])
        direct = {r["y"]: r["hll_est"]
                  for r in hll_estimate(direct_regs, ["y"]).collect()}
        assert served == direct
        # grand total: all grain refs rolled away
        total = cub.rollup(spark, []).collect()[0]["hll_est"]
        all_regs = hll_registers(
            li.select(F.col("l_partkey").alias("__m__")), "__m__", [])
        want = hll_estimate(all_regs, []).collect()[0]["hll_est"]
        assert total == want

    def test_rollup_plans_no_job(self, spark, tmp_path, spark_jobs):
        """A rollup reads the register table its materialize just
        wrote: planning it lists no files and infers no schema."""
        from cubes_spark.operators.preagg import HLLCuboid

        b = tpch_workspace(spark, SF_DIR).browser("sales")
        cub = HLLCuboid.materialize(
            b, str(tmp_path / "hll"), ["date@ym:month"], "partkey")
        jobs, df = spark_jobs(lambda: cub.rollup(spark, ["date.year"]))
        assert jobs == 0
        fresh = HLLCuboid(cub.path, cub.attribute_refs, cub.measure)
        assert sorted(df.collect()) == sorted(
            fresh.rollup(spark.newSession(), ["date.year"]).collect())

    def test_uncovered_grain_raises(self, spark, tmp_path):
        from cubes_spark.errors import ArgumentError
        from cubes_spark.operators.preagg import HLLCuboid

        b = tpch_workspace(spark, SF_DIR).browser("sales")
        cub = HLLCuboid.materialize(
            b, str(tmp_path / "hll2"), ["returnflag"], "partkey")
        with pytest.raises(ArgumentError, match="cannot"):
            cub.registers(spark, ["date.year"])


class TestDistinctFromCompanion:
    """Exact count_distinct at coarser grains (r14): materialization
    writes a companion DISTINCT (grain, key) table; coarser grains
    re-aggregate it by set union — exact, so legally part of the
    transparent rewrite (unlike the HLL sketch path)."""

    @pytest.fixture()
    def cd_browser(self, spark, tmp_path):
        b = tpch_workspace(spark, SF_DIR).browser("sales")
        b.materialize_cuboid(
            str(tmp_path / "cd_cuboid"),
            drilldown=["date@ym:month"],
            aggregates=["part_count_distinct", "price_sum",
                        "fact_count"],
        )
        return b

    def test_coarser_grain_exact_no_fact_scan(self, cd_browser, spark):
        df = cd_browser.aggregation_dataframe(
            drilldown=["date:year"],
            aggregates=["part_count_distinct", "price_sum",
                        "fact_count"],
        )
        assert "lineitem" not in plan_of(df)
        fresh = tpch_workspace(spark, SF_DIR).browser("sales")
        expect = fresh.aggregation_dataframe(
            drilldown=["date:year"],
            aggregates=["part_count_distinct", "price_sum",
                        "fact_count"],
        )
        assert sorted(map(str, df.collect())) \
            == sorted(map(str, expect.collect()))

    def test_coarser_grain_plans_no_job(self, cd_browser, spark_jobs):
        """The companion table is read through the DataFrame its writer
        built: planning the rewrite starts no Spark job."""
        jobs, df = spark_jobs(lambda: cd_browser.aggregation_dataframe(
            drilldown=["date:year"],
            aggregates=["part_count_distinct", "fact_count"]))
        assert jobs == 0
        assert "lineitem" not in plan_of(df)

    def test_cell_cut_applies_to_companion(self, cd_browser, spark):
        df = cd_browser.aggregation_dataframe(
            cell="date:1995-1996", drilldown=["date:year"],
            aggregates=["part_count_distinct"],
        )
        assert "lineitem" not in plan_of(df)
        fresh = tpch_workspace(spark, SF_DIR).browser("sales")
        expect = fresh.aggregation_dataframe(
            cell="date:1995-1996", drilldown=["date:year"],
            aggregates=["part_count_distinct"],
        )
        assert sorted(map(str, df.collect())) \
            == sorted(map(str, expect.collect()))

    def test_summary_distinct_only(self, cd_browser, spark):
        result = cd_browser.aggregate(
            aggregates=["part_count_distinct"])
        fresh = tpch_workspace(spark, SF_DIR).browser("sales")
        expect = fresh.aggregate(aggregates=["part_count_distinct"])
        assert result.summary == expect.summary

    def test_exact_grain_uses_stored_value(self, cd_browser):
        df = cd_browser.aggregation_dataframe(
            drilldown=["date@ym:month"],
            aggregates=["part_count_distinct"],
        )
        plan = plan_of(df)
        assert "lineitem" not in plan
        assert "__key__" not in plan  # stored value, not the companion

    def test_companion_only_serves_own_grain(self, cd_browser, spark,
                                             tmp_path):
        """A descriptor whose count_distinct lives only in its companion
        table serves it from the companion at the cuboid's own grain."""
        from cubes_spark.operators.preagg import Cuboid

        b = tpch_workspace(spark, SF_DIR).browser("sales")
        main = Cuboid.materialize(b, str(tmp_path / "main"),
                                  ["date@ym:month"],
                                  ["price_sum", "fact_count"])
        b.add_cuboid(Cuboid(
            main.path, main.attribute_refs, list(main.aggregates.values()),
            distinct_tables=cd_browser._cuboids[0].distinct_tables))
        request = dict(drilldown=["date@ym:month"],
                       aggregates=["part_count_distinct", "price_sum"])
        assert "lineitem" not in plan_of(b.aggregation_dataframe(**request))
        got = b.aggregate(**request)
        want = b._fact_only().aggregate(**request)
        assert got.cells == want.cells
        assert got.summary == want.summary

    def test_coalesce_measures_disables(self, spark, tmp_path):
        b = tpch_workspace(spark, SF_DIR).browser(
            "sales", coalesce_measures=True)
        b.materialize_cuboid(
            str(tmp_path / "cd_coal"),
            drilldown=["date@ym:month"],
            aggregates=["part_count_distinct", "fact_count"],
        )
        df = b.aggregation_dataframe(
            drilldown=["date:year"],
            aggregates=["part_count_distinct"],
        )
        assert "lineitem" in plan_of(df)


class TestRefresh:
    """``Cuboid.refresh`` merges a delta slice of the facts into a
    registered cuboid; the browser then serves the merged range from
    the cuboid with the fact star's answers."""

    AGGREGATES = ["price_sum", "quantity_sum", "fact_count",
                  "price_min", "price_max"]

    @staticmethod
    def _files(df):
        return [os.path.realpath(unquote(urlparse(f).path))
                for f in df.inputFiles()]

    def test_refresh_serves_merged_range(self, spark, tmp_path):
        from cubes_spark.operators.preagg import Cuboid

        b = tpch_workspace(spark, SF_DIR).browser("sales")
        path = str(tmp_path / "ym_cuboid")
        cuboid = Cuboid.materialize(
            b, path, ["date@ym:month", "returnflag"], self.AGGREGATES,
            cell="date:-1995")
        b.add_cuboid(cuboid)
        cuboid.refresh(b, "date:1996")

        directory = os.path.realpath(path)
        for cell, drilldown in [("date:1995-1996", ["date:year"]),
                                ("date:1996,3", ["returnflag"]),
                                ("date:1995,11-1996,2", ["date:month"]),
                                ("date:-1996", None)]:
            df = b.aggregation_dataframe(
                cell=cell, drilldown=drilldown, aggregates=self.AGGREGATES)
            files = self._files(df)
            assert files and all(
                os.path.commonpath([directory, f]) == directory
                for f in files), (cell, files)
            got = b.aggregate(cell=cell, drilldown=drilldown,
                              aggregates=self.AGGREGATES)
            want = b._fact_only().aggregate(
                cell=cell, drilldown=drilldown,
                aggregates=self.AGGREGATES)
            assert got.cells == want.cells, cell
            assert got.summary == want.summary, cell
        # 1996 came in through the refresh, nothing after it
        years = {r["date__year"] for r in spark.read.parquet(path).collect()}
        assert max(years) == 1996

    @pytest.mark.parametrize("refreshed", [False, True])
    def test_a_read_plans_no_job(self, spark, tmp_path, spark_jobs,
                                 refreshed):
        """A read plans over the table its writer just wrote, after a
        materialize and after a refresh: no file listing and no
        schema-inference job."""
        from cubes_spark.operators.preagg import Cuboid

        b = tpch_workspace(spark, SF_DIR).browser("sales")
        path = str(tmp_path / "ym_cuboid")
        cuboid = Cuboid.materialize(
            b, path, ["date@ym:month", "returnflag"], self.AGGREGATES,
            cell="date:-1995")
        b.add_cuboid(cuboid)
        cell = "date:1995"
        if refreshed:
            cuboid.refresh(b, "date:1996")
            cell = "date:1995-1996"

        request = dict(cell=cell, drilldown=["date:year", "returnflag"],
                       aggregates=self.AGGREGATES)
        jobs, df = spark_jobs(lambda: b.aggregation_dataframe(**request))
        assert jobs == 0
        directory = os.path.realpath(path)
        assert all(os.path.commonpath([directory, f]) == directory
                   for f in self._files(df))
        got = b.aggregate(**request)
        want = b._fact_only().aggregate(**request)
        assert got.cells == want.cells
        assert got.summary == want.summary

    def test_a_write_that_raises_holds_nothing(self, spark, tmp_path,
                                               monkeypatch):
        """A refresh whose write raises after it replaced the files
        leaves no table held for the path: the next read lists the
        files again and answers the merged range."""
        from pyspark.sql.readwriter import DataFrameWriter

        from cubes_spark.operators import preagg
        from cubes_spark.operators.preagg import Cuboid

        b = tpch_workspace(spark, SF_DIR).browser("sales")
        path = str(tmp_path / "ym_cuboid")
        cuboid = Cuboid.materialize(
            b, path, ["date@ym:month", "returnflag"], self.AGGREGATES,
            cell="date:-1995")
        b.add_cuboid(cuboid)
        held = preagg._written[path]

        write = DataFrameWriter.parquet

        def fails_after(self, *args, **kwargs):
            write(self, *args, **kwargs)
            raise OSError("disk gone")
        monkeypatch.setattr(DataFrameWriter, "parquet", fails_after)
        with pytest.raises(OSError, match="disk gone"):
            cuboid.refresh(b, "date:1996")
        monkeypatch.undo()

        assert path not in preagg._written
        assert cuboid.load(spark) is not held
        request = dict(cell="date:1995-1996", drilldown=["date:year"],
                       aggregates=self.AGGREGATES)
        got = b.aggregate(**request)
        want = b._fact_only().aggregate(**request)
        assert got.cells == want.cells
        assert got.summary == want.summary
