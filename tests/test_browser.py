"""Browser behavior over the TPC-H demo snowflake at sf0.001
(semantics parity: /root/reference/tests/sql/test_browser.py)."""

import pytest

from cubes_spark.errors import ArgumentError


def test_store_schema_inspection_and_table_expressions(spark):
    from tests.conftest import SF_DIR

    from cubes_spark.errors import StoreError
    from cubes_spark.sources.workspace import ParquetStore, Workspace

    store = ParquetStore(spark, SF_DIR)
    tables = store.list_tables()
    assert {"region", "nation", "lineitem", "orders"} <= set(tables)
    assert tables == sorted(tables)
    assert "nation" in store and "no_such_table" not in store
    with pytest.raises(StoreError):
        store.table("no_such_table")

    # named table expressions shadow the store
    ws = Workspace(spark, store=SF_DIR)
    tiny = spark.range(3).withColumnRenamed("id", "n_nationkey")
    ws.set_store({"nation": tiny})
    assert ws.table("nation").count() == 3           # dict entry wins
    assert ws.table("region").count() == store.table("region").count()


def test_summary_and_drilldown_consistency(tpch_browser):
    result = tpch_browser.aggregate(
        cell="date:1995", drilldown=["date:month"],
        aggregates=["quantity_sum", "fact_count"],
    )
    assert result.total_cell_count == len(result.cells) == 12
    assert sum(c["fact_count"] for c in result.cells) \
        == result.summary["fact_count"]
    assert float(sum(c["quantity_sum"] for c in result.cells)) \
        == float(result.summary["quantity_sum"])


def test_snowflake_join_grouping(tpch_browser):
    result = tpch_browser.aggregate(
        drilldown=["customer_geo:region"], aggregates=["fact_count"],
    )
    assert len(result.cells) == 5
    names = [c["customer_geo.region_name"] for c in result.cells]
    assert names == sorted(names)


def test_roleplaying_dimensions_differ(tpch_browser):
    cust = tpch_browser.aggregate(
        cell="customer_geo:1", aggregates=["fact_count"])
    supp = tpch_browser.aggregate(
        cell="supplier_geo:1", aggregates=["fact_count"])
    assert cust.summary["fact_count"] != supp.summary["fact_count"]


def test_split_produces_two_groups(tpch_browser):
    result = tpch_browser.aggregate(split="date:1995",
                                    aggregates=["fact_count"])
    flags = sorted(c["__within_split__"] for c in result.cells)
    assert flags == [False, True]
    assert sum(c["fact_count"] for c in result.cells) \
        == result.summary["fact_count"]


def test_pagination_disjoint_pages(tpch_browser):
    pages = []
    for page in (0, 1):
        r = tpch_browser.aggregate(
            drilldown=["date@ym:month"], aggregates=["price_sum"],
            page=page, page_size=6,
        )
        pages.append([(c["date.year"], c["date.month"]) for c in r.cells])
    assert len(pages[0]) == len(pages[1]) == 6
    assert not set(pages[0]) & set(pages[1])


def test_order_by_aggregate_desc(tpch_browser):
    r = tpch_browser.aggregate(
        drilldown=["date:year"], aggregates=["price_sum"],
        order=["price_sum:desc"],
    )
    sums = [float(c["price_sum"]) for c in r.cells]
    assert sums == sorted(sums, reverse=True)


def test_high_cardinality_guard(tpch_browser):
    with pytest.raises(ArgumentError):
        tpch_browser.aggregate(drilldown=["customer_geo:customer"])


def test_high_cardinality_allowed_with_pagination(tpch_browser):
    r = tpch_browser.aggregate(drilldown=["customer_geo:customer"],
                               aggregates=["fact_count"],
                               page=0, page_size=3)
    assert len(r.cells) == 3


def test_expression_measure(tpch_browser):
    r = tpch_browser.aggregate(
        aggregates=["price_sum", "discounted_price_sum"])
    assert float(r.summary["discounted_price_sum"]) \
        < float(r.summary["price_sum"])


def test_members_depth_and_cell(tpch_browser):
    members = tpch_browser.members(dimension="customer_geo", depth=1)
    assert len(members) == 5
    within = tpch_browser.members(cell="customer_geo:2",
                                  dimension="customer_geo", depth=2)
    assert all(m["customer_geo.region_key"] == 2 for m in within)


def test_fact_roundtrip(tpch_browser):
    row = tpch_browser.fact(1)
    assert row is not None
    assert row["fact_key"] == 1


def test_path_details(tpch_browser):
    details = tpch_browser.path_details("customer_geo", [2])
    assert details["customer_geo.region_key"] == 2


def test_report_batch(tpch_browser):
    report = tpch_browser.report(None, {
        "byflag": {"query": "aggregate", "drilldown": ["returnflag"],
                   "aggregates": ["fact_count"]},
        "details": {"query": "cell"},
    })
    assert len(report["byflag"]["cells"]) == 3


def test_implicit_drilldown_next_level(tpch_browser):
    # cell at year level + drilldown 'date' → implicit next level (month)
    r = tpch_browser.aggregate(cell="date:1995", drilldown=["date"],
                               aggregates=["fact_count"])
    assert len(r.cells) == 12


def test_exclude_null_aggregates_option(tpch_browser):
    # sanity: option accepted; no NULL aggregates in this data so
    # results are unchanged
    r = tpch_browser.aggregate(cell="date:1995",
                               drilldown=["date:month"],
                               aggregates=["fact_count"])
    tpch_browser.exclude_null_agregates = True
    try:
        r2 = tpch_browser.aggregate(cell="date:1995",
                                    drilldown=["date:month"],
                                    aggregates=["fact_count"])
    finally:
        tpch_browser.exclude_null_agregates = False
    assert [c["fact_count"] for c in r.cells] \
        == [c["fact_count"] for c in r2.cells]


class TestParquetTimestampProvenance:
    """The store boundary must normalize every parquet timestamp
    flavor to TIMESTAMP: driver-written naive micros (inference path),
    Spark-written TIMESTAMP_NTZ schema metadata (which
    inferTimestampNTZ=false can NOT override — that conf only affects
    inference), legacy INT96 (which pyarrow reports as timestamp[ns]
    and must NOT be routed down the TIMESTAMP(NANOS) nanosAsLong
    path), and true INT64 TIMESTAMP(NANOS).  Found by the round-6 sf1
    scale sweep."""

    def _roundtrip(self, spark, tmp_path, writer):
        from datetime import datetime, timezone

        from cubes_spark.sources.workspace import ParquetStore

        ts = [datetime(2024, 1, 1, 10, 0, 5, 123456,
                       tzinfo=timezone.utc),
              datetime(2024, 3, 2, 23, 59, 59, 999999,
                       tzinfo=timezone.utc)]
        writer(tmp_path, ts)
        store = ParquetStore(spark, str(tmp_path))
        df = store.table("events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = [r.ts.replace(tzinfo=timezone.utc)
               for r in df.orderBy("event_id").collect()]
        assert got == ts

    def test_spark_ntz_metadata_normalized(self, spark, tmp_path):
        def writer(path, ts):
            df = spark.createDataFrame(
                [(i, t.replace(tzinfo=None)) for i, t in enumerate(ts)],
                "event_id long, ts timestamp_ntz")
            df.coalesce(1).write.mode("overwrite").parquet(
                f"{path}/events.parquet")

        self._roundtrip(spark, tmp_path, writer)

    def test_int96_reads_natively(self, spark, tmp_path):
        def writer(path, ts):
            import pyarrow as pa
            import pyarrow.parquet as pq

            table = pa.table({
                "event_id": pa.array(range(len(ts)), pa.int64()),
                "ts": pa.array([t.replace(tzinfo=None) for t in ts],
                               pa.timestamp("us")),
            })
            pq.write_table(table, f"{path}/events.parquet",
                           use_deprecated_int96_timestamps=True)

        self._roundtrip(spark, tmp_path, writer)

    def test_int64_nanos_converted(self, spark, tmp_path):
        def writer(path, ts):
            import pyarrow as pa
            import pyarrow.parquet as pq

            table = pa.table({
                "event_id": pa.array(range(len(ts)), pa.int64()),
                "ts": pa.array([t.replace(tzinfo=None) for t in ts],
                               pa.timestamp("ns")),
            })
            pq.write_table(table, f"{path}/events.parquet",
                           store_schema=False)

        self._roundtrip(spark, tmp_path, writer)


def test_named_store_per_cube(spark, tmp_path):
    """A cube whose `store` metadata names a registered store browses
    that store's tables; other cubes keep the default store (parity:
    reference multi-store workspaces, [store_NAME] config sections)."""
    import pytest as _pytest

    from cubes_spark.errors import StoreError
    from cubes_spark.sources.workspace import Workspace

    main_dir = tmp_path / "main"
    archive_dir = tmp_path / "arch"
    spark.createDataFrame([(1, "m", 10)], "id long, tag string, v long") \
        .write.parquet(str(main_dir / "facts.parquet"))
    spark.createDataFrame(
        [(1, "a", 100), (2, "a", 200)],
        "id long, tag string, v long") \
        .write.parquet(str(archive_dir / "facts.parquet"))

    model = {"cubes": [
        {"name": "current", "fact": "facts",
         "measures": [{"name": "v"}],
         "aggregates": [{"name": "v_sum", "measure": "v",
                         "function": "sum"}]},
        {"name": "history", "fact": "facts", "store": "archive",
         "measures": [{"name": "v"}],
         "aggregates": [{"name": "v_sum", "measure": "v",
                         "function": "sum"}]},
    ]}
    ws = Workspace(spark, store=str(main_dir), model=model)
    ws.register_store("archive", str(archive_dir))

    assert ws.browser("current").aggregate(
        aggregates=["v_sum"]).summary["v_sum"] == 10
    assert ws.browser("history").aggregate(
        aggregates=["v_sum"]).summary["v_sum"] == 300
    # unknown store name fails loudly
    ws.import_model({"cubes": [
        {"name": "bad", "fact": "facts", "store": "nope",
         "measures": [{"name": "v"}]}]})
    with _pytest.raises(StoreError, match="nope"):
        ws.browser("bad").aggregate()


def test_chained_table_expressions(spark):
    """A table expression referencing another table expression works
    regardless of evaluation order; cycles fail loudly."""
    import pytest as _pytest

    from cubes_spark.errors import StoreError
    from cubes_spark.sources.workspace import Workspace
    from tests.conftest import SF_DIR

    ws = Workspace(spark, store=SF_DIR)
    ws.add_table_expression(
        "flagged", "SELECT l_returnflag AS f, l_quantity AS q "
                   "FROM lineitem")
    ws.add_table_expression(
        "flag_counts", "SELECT f, COUNT(*) AS n FROM flagged GROUP BY f")
    # the DEPENDENT expression is requested first
    assert ws.table("flag_counts").count() == 3
    ws2 = Workspace(spark, store=SF_DIR)
    ws2.add_table_expression("a", "SELECT * FROM b")
    ws2.add_table_expression("b", "SELECT * FROM a")
    with _pytest.raises(StoreError, match="Cyclic"):
        ws2.table("a")


def test_register_sql_views_pruned_plan(spark):
    """SQL over a cube view: values match the browser aggregation and
    the plan reads only the needed columns (the view is lazy — no
    materialization, dimension joins prune away)."""
    from cubes_spark.demo import tpch_workspace
    from tests.conftest import SF_DIR

    ws = tpch_workspace(spark, SF_DIR)
    views = ws.register_sql_views(cubes=["sales"])
    assert views == ["cube_sales"]
    df = spark.sql(
        "SELECT returnflag__returnflag AS flag, "
        "CAST(SUM(CAST(quantity AS DECIMAL(20,2))) AS DOUBLE) AS q "
        "FROM cube_sales GROUP BY 1")
    got = {r.flag: r.q for r in df.collect()}
    expect = {
        r["returnflag.returnflag"]: float(r["quantity_sum"])
        for r in ws.browser("sales").aggregation_dataframe(
            drilldown=["returnflag"],
            aggregates=["quantity_sum"]).collect()}
    assert got == expect
    # column pruning reached the scan: no customer/part/order columns
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "c_name" not in plan and "p_brand" not in plan


class TestOneActionAggregate:
    """``aggregate`` runs one Spark action per request: the cells, the
    total cell count and the summary come back from one ``collect``,
    and nothing is persisted.  Every answer is checked against an
    independent computation: the summary against a drilldown-free
    ``aggregate``, the count and the cells against
    ``aggregation_dataframe``."""

    @pytest.fixture()
    def actions(self, spark, monkeypatch):
        """Counts of DataFrame.collect / count / persist calls."""
        from collections import Counter

        calls = Counter()
        cls = type(spark.range(1))
        for name in ("collect", "count", "persist"):
            def counted(self, *args, _name=name,
                        _original=getattr(cls, name), **kwargs):
                calls[_name] += 1
                return _original(self, *args, **kwargs)
            monkeypatch.setattr(cls, name, counted)
        return calls

    @staticmethod
    def _expected(browser, cell=None, aggregates=None, drilldown=None,
                  split=None, order=None, page=None, page_size=None):
        """(summary, total cell count, cells) computed independently."""
        summary = browser.aggregate(cell, aggregates=aggregates).summary
        full = browser.aggregation_dataframe(
            cell, aggregates, drilldown, split, order)
        paged = browser.aggregation_dataframe(
            cell, aggregates, drilldown, split, order, page, page_size)
        return summary, full.count(), [r.asDict() for r in paged.collect()]

    def _check(self, browser, actions, **request):
        want = self._expected(browser, **request)
        actions.clear()
        result = browser.aggregate(**request)
        assert (actions["collect"], actions["count"],
                actions["persist"]) == (1, 0, 0), dict(actions)
        assert (result.summary, result.total_cell_count,
                result.cells) == want
        return result

    @pytest.mark.parametrize("drilldown, cells", [
        (["date:month", "returnflag"], 36),
        # customer_geo adds four joins the summary does not read
        (["customer_geo:region", "returnflag"], 15),
    ])
    def test_distributive_drilldown(self, tpch_browser, actions,
                                    drilldown, cells):
        r = self._check(
            tpch_browser, actions, cell="date:1996", drilldown=drilldown,
            aggregates=["fact_count", "price_sum", "quantity_count",
                        "price_min", "price_max"])
        assert r.total_cell_count == len(r.cells) == cells

    def test_avg_and_count_distinct(self, tpch_browser, actions):
        r = self._check(
            tpch_browser, actions, drilldown=["date:year"],
            aggregates=["fact_count", "quantity_avg",
                        "part_count_distinct"],
            order=["fact_count:desc"])
        assert r.summary["quantity_avg"] is not None
        assert "__summary_row__" not in r.labels

    def test_paginated_customers(self, tpch_browser, actions):
        r = self._check(
            tpch_browser, actions, drilldown=["customer_geo:customer"],
            aggregates=["fact_count", "price_sum"], page=2, page_size=20)
        assert len(r.cells) == 20 < r.total_cell_count
        assert "__cell_count__" not in r.labels

    def test_split(self, tpch_browser, actions):
        r = self._check(
            tpch_browser, actions, split="date:1995",
            drilldown=["returnflag"],
            aggregates=["fact_count", "price_sum"])
        assert {c["__within_split__"] for c in r.cells} == {False, True}

    def test_calculator(self, tpch_browser, actions):
        r = self._check(
            tpch_browser, actions, cell="date:1995",
            drilldown=["date@ym:month"], aggregates=["price_sma"])
        assert r.summary["price_sma"] is not None
        assert all("price_sma" in c for c in r.cells)

    @pytest.mark.parametrize("aggregates", [
        ["fact_count", "price_sum"],
        ["fact_count", "price_sum", "quantity_avg"],
    ])
    def test_empty_cell(self, tpch_browser, actions, aggregates):
        r = self._check(tpch_browser, actions, cell="date:1980",
                        drilldown=["returnflag"], aggregates=aggregates)
        assert (r.cells, r.total_cell_count) == ([], 0)
        assert r.summary["fact_count"] == 0
        assert r.summary["price_sum"] is None

    def test_record_limit_keeps_full_count(self, tpch_browser, actions,
                                           monkeypatch):
        monkeypatch.setattr(tpch_browser, "safe_record_limit", 5)
        request = dict(cell="date:1995", drilldown=["date:month"],
                       aggregates=["fact_count", "price_sum"])
        summary, total, cells = self._expected(tpch_browser, **request)
        actions.clear()
        r = tpch_browser.aggregate(**request)
        assert (actions["collect"], actions["count"]) == (1, 0)
        assert r.summary == summary
        assert r.total_cell_count == total == 12
        assert r.cells == cells[:5]

    def test_page_past_the_end(self, tpch_browser, actions):
        # no cell comes back, the count row still does
        r = self._check(
            tpch_browser, actions, drilldown=["customer_geo:customer"],
            aggregates=["fact_count", "price_sum"], page=1000,
            page_size=20)
        assert r.cells == [] and r.total_cell_count > 0

    def test_excluded_null_cells_still_counted(self, spark, actions):
        from decimal import Decimal

        from tests.conftest import GOLDEN_FACTS, GOLDEN_MODEL

        from cubes_spark.sources.workspace import Workspace

        # every amount of 2011 is NULL, so its amount_sum cell is NULL
        facts = [(i, y, None if y == 2011 else Decimal(a), p, d)
                 for i, y, a, p, d in GOLDEN_FACTS]
        df = spark.createDataFrame(
            facts, "id long, year long, amount decimal(10,2), "
                   "price long, discount long")
        ws = Workspace(spark, store={"facts": df})
        ws.import_model(GOLDEN_MODEL)
        browser = ws.browser("facts", exclude_null_aggregates=True)
        request = dict(drilldown=["year"],
                       aggregates=["amount_sum", "count"])
        summary, _, cells = self._expected(browser, **request)
        # the count before the drop: aggregation_dataframe drops too
        _, total, _ = self._expected(ws.browser("facts"), **request)
        for page, page_size in ((None, None), (0, 2)):
            actions.clear()
            r = browser.aggregate(page=page, page_size=page_size,
                                  **request)
            assert (actions["collect"], actions["count"]) == (1, 0)
            assert r.summary == summary
            assert r.summary["count"] == 16
            assert r.total_cell_count == total == 4
            assert 2011 not in [c["year.year"] for c in r.cells]
        assert r.cells == cells[:1]
