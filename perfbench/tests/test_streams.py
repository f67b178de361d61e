"""Request streams: determinism, and that the engine's parsers accept
every generated cut and drilldown.  No SparkSession is started."""

import itertools
import random

import pytest

import streams
from streams import (CUBOID_GRAIN, HIGH_CARDINALITY, adhoc_stream,
                     cuboid_read, dashboard_pool, refresh_months)


def _adhoc(seed, n=200):
    return list(itertools.islice(adhoc_stream(seed), n))


def _reads(seed, n=100):
    rng = random.Random(seed)
    return [cuboid_read(rng, (1996, m % 12 + 1), m) for m in range(n)]


def test_same_seed_same_stream():
    assert _adhoc(7) == _adhoc(7)
    assert dashboard_pool(7) == dashboard_pool(7)
    assert _reads(7) == _reads(7)
    assert _adhoc(7) != _adhoc(8)


def test_adhoc_urls_are_distinct_and_follow_the_mix():
    cycle = len(streams.ADHOC_SHAPES)
    requests = _adhoc(3, 20 * cycle)
    assert len({r.url for r in requests}) == len(requests)
    kinds = [r.kind for r in requests[:cycle]]
    assert (kinds.count("aggregate"), kinds.count("members"),
            kinds.count("facts")) == (9, 2, 1)


def test_dashboard_pool_is_distinct():
    pool = dashboard_pool(5)
    assert len({r.url for r in pool}) == len(streams.DASHBOARD_PANELS)


def test_cuboid_reads_stay_inside_merged_months():
    through = (1996, 3)
    rng = random.Random(2)
    for k in range(200):
        date = cuboid_read(rng, through, k).cuts[0]
        assert date[1] == "date"
        ends = [date[2]] if date[0] == "point" else [date[2], date[3]]
        for path in ends:
            last = (path[0], path[1] if len(path) > 1 else 12)
            assert last <= through


def test_refresh_months_run_to_the_end_of_the_data():
    months = list(refresh_months((1995, 12)))
    assert months[0] == (1996, 1)
    assert months[-1] == (2001, 11)
    assert len(months) == 71


@pytest.fixture(scope="module")
def cube():
    from cubes_spark.demo import TPCH_MODEL
    from cubes_spark.sources.workspace import Workspace

    # any truthy session stands in: importing the model reads no table
    workspace = Workspace(spark=object())
    workspace.import_model(TPCH_MODEL)
    return workspace.cube("sales")


def _parse(cube, request):
    from cubes_spark.query.cells import Cell, cuts_from_string
    from cubes_spark.query.drilldown import Drilldown

    cuts = cuts_from_string(cube, request.cell)
    assert len(cuts) == len(request.cuts)
    cell = Cell(cube, cuts)
    drilldown = Drilldown(list(request.drilldown) or None, cell)
    assert len(drilldown.drilldown) == len(request.drilldown)
    if request.kind == "members":
        hierarchy = cube.dimension(request.dimension).hierarchy()
        assert len(hierarchy.levels_for_depth(request.depth)) == \
            request.depth
    return cell, drilldown


def test_generated_cuts_and_drilldowns_parse(cube):
    requests = (_adhoc(1, 100) + dashboard_pool(1) + _reads(1, 50))
    for request in requests:
        cell, drilldown = _parse(cube, request)
        high = [d for d in request.drilldown if d in HIGH_CARDINALITY]
        if high:
            assert request.pagesize, request.url


def test_cuboid_grain_parses(cube):
    from cubes_spark.query.cells import Cell, cuts_from_string
    from cubes_spark.query.drilldown import Drilldown

    cell = Cell(cube, cuts_from_string(cube, streams.CUBOID_BASE_CELL))
    refs = {a.ref for a in Drilldown(list(CUBOID_GRAIN), cell)
            .all_attributes}
    assert {"date.year", "date.month", "returnflag.returnflag"} <= refs
