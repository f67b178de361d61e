"""The persisted star (plans/star.py ``StarSchema.persist_star``, owned
by ``Workspace``): its gates, each falling back to the join-pruned
answer, its lifecycle on the workspace, and answers identical to the
lazy star's."""

import functools
import gc
import threading

import pytest
from pyspark import StorageLevel

from cubes_spark.operators.browser import SparkBrowser
from cubes_spark.sources.workspace import Workspace
from tests.conftest import SF_DIR


def thing_model(method):
    """The tests/test_joins.py cube: facts joined to dim_thing on code."""
    return {
        "dimensions": [
            {"name": "thing",
             "levels": [{"name": "thing", "attributes": ["code", "name"],
                         "key": "code", "label_attribute": "name"}]},
        ],
        "cubes": [{
            "name": "sales",
            "fact": "facts",
            "key": "id",
            "dimensions": ["thing"],
            "measures": [{"name": "amount"}],
            "aggregates": [
                {"name": "amount_sum", "function": "sum",
                 "measure": "amount"},
                {"name": "fact_count", "function": "count"},
            ],
            "joins": [{"master": "facts.code", "detail": "dim_thing.code",
                       "method": method}],
            "mappings": {
                "amount": "facts.amount",
                "id": "facts.id",
                "thing.code": "dim_thing.code",
                "thing.name": "dim_thing.name",
            },
        }],
    }


FACTS = [(1, "a", 10), (2, "b", 20), (3, "b", 30)]
DIM = [("a", "Alpha"), ("b", "Beta"), ("c", "Gamma")]


def write_things(spark, path, facts=FACTS, dim=DIM):
    """Parquet copies of the fixture in `path` (a parquet scan has a
    Catalyst size estimate; an in-memory DataFrame has none)."""
    spark.createDataFrame(facts, ["id", "code", "amount"]) \
        .write.parquet(str(path / "facts.parquet"))
    spark.createDataFrame(dim, ["code", "name"]) \
        .write.parquet(str(path / "dim_thing.parquet"))
    return str(path)


def thing_workspace(spark, tmp_path, facts=FACTS, dim=DIM, method="match"):
    return Workspace(spark, store=write_things(spark, tmp_path, facts, dim),
                     model=thing_model(method))


def by_thing(browser):
    result = browser.aggregate(drilldown=["thing"],
                               aggregates=["amount_sum", "fact_count"])
    cells = sorted(((c["thing.code"], c["fact_count"], c["amount_sum"])
                    for c in result.cells), key=str)
    return result.summary, cells


def lazy_browser(ws, name):
    """A browser of the same cube without the persisted star."""
    cube = ws.cube(name)
    return SparkBrowser(cube, functools.partial(ws.table, store=cube.store),
                        naming=ws.naming)


def thing_names(browser):
    result = browser.aggregate(drilldown=["thing"],
                               aggregates=["fact_count"])
    return sorted(c["thing.name"] for c in result.cells)


def reads_star(df):
    return "InMemoryTableScan" in \
        df._jdf.queryExecution().executedPlan().toString()


def thing_plan(browser):
    return browser.aggregation_dataframe(drilldown=["thing"],
                                         aggregates=["fact_count"])


class TestGates:
    """Each gate that fails leaves the workspace without a star for the
    cube and gives the join-pruned answer."""

    def test_lossless_joins_use_the_star(self, spark, tmp_path):
        ws = thing_workspace(spark, tmp_path)
        browser = ws.browser("sales")
        assert by_thing(browser) == by_thing(lazy_browser(ws, "sales")) \
            == ({"amount_sum": 60, "fact_count": 3},
                [("a", 1, 10), ("b", 2, 50)])
        assert reads_star(thing_plan(browser))
        # fact-only requests keep the parquet scan
        assert not reads_star(browser.aggregation_dataframe(
            aggregates=["amount_sum"]))

    def test_dangling_fk_under_match_join(self, spark, tmp_path):
        facts = [(1, "a", 10), (2, "b", 20), (3, "zz", 30)]
        ws = thing_workspace(spark, tmp_path, facts=facts)
        summary, cells = by_thing(ws.browser("sales"))
        # the summary joins nothing; the cells drop the 'zz' fact
        assert summary == {"amount_sum": 60, "fact_count": 3}
        assert cells == [("a", 1, 10), ("b", 1, 20)]
        assert list(ws._stars.values()) == [None]
        assert not reads_star(thing_plan(ws.browser("sales")))

    def test_dangling_fk_under_master_join_uses_the_star(self, spark,
                                                         tmp_path):
        facts = [(1, "a", 10), (2, "b", 20), (3, "zz", 30)]
        ws = thing_workspace(spark, tmp_path, facts=facts,
                             method="master")
        summary, cells = by_thing(ws.browser("sales"))
        assert summary == {"amount_sum": 60, "fact_count": 3}
        assert cells == [("a", 1, 10), ("b", 1, 20), (None, 1, 30)]
        assert reads_star(thing_plan(ws.browser("sales")))

    def test_duplicate_detail_key(self, spark, tmp_path):
        # the doubled 'b' fact and the dropped 'zz' fact leave the star
        # with as many rows as the fact: only the key check rejects it
        facts = [(1, "a", 10), (2, "b", 20), (3, "zz", 30)]
        dim = DIM + [("b", "Beta again")]
        ws = thing_workspace(spark, tmp_path, facts=facts, dim=dim)
        summary, cells = by_thing(ws.browser("sales"))
        assert summary == {"amount_sum": 60, "fact_count": 3}
        # each 'b' name gets the 'b' fact, as in the join-pruned star
        assert cells == [("a", 1, 10), ("b", 1, 20), ("b", 1, 20)]
        assert list(ws._stars.values()) == [None]

    def test_detail_join(self, spark, tmp_path):
        ws = thing_workspace(spark, tmp_path, method="detail")
        summary, cells = by_thing(ws.browser("sales"))
        assert cells == [("a", 1, 10), ("b", 2, 50), ("c", 1, None)]
        assert list(ws._stars.values()) == [None]

    def test_broadcast_threshold_disabled(self, spark, tmp_path):
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            ws = thing_workspace(spark, tmp_path)
            assert by_thing(ws.browser("sales"))[1] == \
                [("a", 1, 10), ("b", 2, 50)]
            assert list(ws._stars.values()) == [None]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


class TestLifecycle:

    def test_one_build_under_concurrent_first_requests(
            self, spark, tmp_path, monkeypatch):
        ws = thing_workspace(spark, tmp_path)
        cls = type(spark.range(1))
        original = cls.persist
        persists = []

        def counted(self, *args, **kwargs):
            persists.append(self)
            return original(self, *args, **kwargs)
        monkeypatch.setattr(cls, "persist", counted)

        barrier = threading.Barrier(4)
        answers = [None] * 4

        def request(i):
            browser = ws.browser("sales")
            barrier.wait(timeout=60)
            answers[i] = by_thing(browser)
        threads = [threading.Thread(target=request, args=(i,))
                   for i in range(4)]
        for thread in threads:
            thread.start()
        for thread in threads:
            thread.join(timeout=300)
            assert not thread.is_alive()
        assert len(persists) == 1
        assert answers == [by_thing(lazy_browser(ws, "sales"))] * 4

    @pytest.mark.parametrize("change", [
        "register_store", "set_store", "add_table", "add_table_expression",
        "import_model", "add_cube"])
    def test_dropped_when_the_model_or_tables_change(self, spark, tmp_path,
                                                     change):
        ws = thing_workspace(spark, tmp_path)
        before = ws.browser("sales")
        assert by_thing(before)[1] == [("a", 1, 10), ("b", 2, 50)]
        star = before.star_schema.get_star(["thing.code"])
        assert star.storageLevel != StorageLevel.NONE

        renamed, names = [("a", "X"), ("b", "Y")], ["X", "Y"]
        other = tmp_path / "other"
        if change == "register_store":
            ws.register_store("default", write_things(spark, other,
                                                      dim=renamed))
        elif change == "set_store":
            ws.set_store(write_things(spark, other, dim=renamed))
        elif change == "add_table":
            ws.add_table("dim_thing", spark.createDataFrame(
                renamed, ["code", "name"]))
        elif change == "add_table_expression":
            ws.add_table_expression(
                "dim_thing", "SELECT * FROM VALUES ('a', 'X'), ('b', 'Y')"
                             " AS t(code, name)")
        elif change == "import_model":
            ws.import_model(thing_model("detail"), namespace="other")
            names = ["Alpha", "Beta"]
        else:
            ws.add_cube(ws.cube("sales"))
            names = ["Alpha", "Beta"]

        assert star.storageLevel == StorageLevel.NONE
        assert ws._stars == {}
        got = thing_names(ws.browser("sales"))
        assert got == thing_names(lazy_browser(ws, "sales")) == names
        assert reads_star(thing_plan(ws.browser("sales")))
        if change == "import_model":
            assert by_thing(ws.browser("other.sales"))[1] == \
                [("a", 1, 10), ("b", 2, 50), ("c", 1, None)]
        # a browser made before the change does not bring the star back
        assert not reads_star(thing_plan(before))

    @pytest.mark.parametrize("hook", ["before_the_drop", "after_the_drop"])
    def test_a_request_beside_the_drop_sees_the_change(
            self, spark, tmp_path, monkeypatch, hook):
        """A request that runs while a catalog change drops the stars
        leaves nothing built over the old tables: neither the star nor
        an evaluated table expression."""
        ws = thing_workspace(spark, tmp_path)
        ws.add_table_expression("named", "SELECT name FROM dim_thing")
        drop = Workspace._drop_stars

        def request():
            thing_names(ws.browser("sales"))
            ws.table("named").collect()

        def hooked(self):
            if hook == "before_the_drop":
                request()
            drop(self)
            if hook == "after_the_drop":
                request()
        monkeypatch.setattr(Workspace, "_drop_stars", hooked)
        ws.add_table("dim_thing", spark.createDataFrame(
            [("a", "X"), ("b", "Y")], ["code", "name"]))
        monkeypatch.undo()

        assert thing_names(ws.browser("sales")) == ["X", "Y"]
        assert reads_star(thing_plan(ws.browser("sales")))
        assert sorted(r.name for r in ws.table("named").collect()) == \
            ["X", "Y"]

    def test_no_cache_entry_left_after_the_workspace_is_dropped(
            self, spark, tmp_path):
        ws = thing_workspace(spark, tmp_path)
        browser = ws.browser("sales")
        star = browser.star_schema.get_star(["thing.code"])
        assert star.storageLevel != StorageLevel.NONE
        del ws, browser
        gc.collect()
        assert star.storageLevel == StorageLevel.NONE


class TestTpchAnswers:
    """The TPC-H cube answers the same with and without the star."""

    @pytest.fixture(scope="class")
    def browsers(self, spark):
        from cubes_spark.demo import tpch_workspace

        ws = tpch_workspace(spark, SF_DIR)
        return ws.browser("sales"), lazy_browser(ws, "sales")

    @pytest.mark.parametrize("request_", [
        dict(cell="date:1996", drilldown=["customer_geo:region",
                                          "returnflag"],
             aggregates=["fact_count", "price_sum", "quantity_avg"]),
        dict(cell="supplier_geo:2", drilldown=["date:year"],
             aggregates=["fact_count", "part_count_distinct"]),
        dict(drilldown=["customer_geo:customer"],
             aggregates=["fact_count", "price_sum"], page=1, page_size=7),
        dict(cell="part:Brand#13", aggregates=["price_sum"]),
    ])
    def test_aggregate(self, browsers, request_):
        star, lazy = browsers
        got, want = star.aggregate(**request_), lazy.aggregate(**request_)
        assert (got.summary, got.total_cell_count, got.cells) == \
            (want.summary, want.total_cell_count, want.cells)

    def test_members(self, browsers):
        star, lazy = browsers
        for request in (dict(dimension="customer_geo", depth=2),
                        dict(dimension="part", depth=1, cell="date:1995",
                             page=1, page_size=11)):
            got = star.members(**request)
            assert got and got == lazy.members(**request)

    def test_facts(self, browsers):
        star, lazy = browsers
        request = dict(cell="date:1997|customer_geo:3",
                       fields=["customer_geo.customer_name",
                               "supplier_geo.region_name", "extendedprice"])

        def rows(browser):
            return sorted(tuple(r) for r in browser.facts(**request)
                          .collect())
        got = rows(star)
        assert got and got == rows(lazy)

    def test_join_request_reads_the_star(self, browsers):
        star, _ = browsers
        df = star.aggregation_dataframe(drilldown=["supplier_geo:region"],
                                        aggregates=["fact_count"])
        assert reads_star(df)

    def test_sql_view_stays_lazy_after_the_star_is_built(self, spark):
        from cubes_spark.demo import tpch_workspace

        ws = tpch_workspace(spark, SF_DIR)
        ws.browser("sales").aggregate(drilldown=["customer_geo:region"],
                                      aggregates=["fact_count"])
        assert [v is not None for v in ws._stars.values()] == [True]
        ws.register_sql_views(cubes=["sales"])
        df = spark.sql("SELECT customer_geo__region_name AS r, COUNT(*) AS n"
                       " FROM cube_sales GROUP BY 1")
        assert not reads_star(df)
        assert sum(r.n for r in df.collect()) == \
            ws.browser("sales").aggregate(
                aggregates=["fact_count"]).summary["fact_count"]
