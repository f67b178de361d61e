"""Cut-string grammar round-trips and cell algebra (parity with
/root/reference/tests/test_cells.py)."""

import pytest

from cubes_spark.metadata.cube import Cube
from cubes_spark.metadata.dimension import Dimension
from cubes_spark.query.cells import (
    Cell,
    PointCut,
    RangeCut,
    SetCut,
    cut_from_string,
    cuts_from_string,
    path_from_string,
    string_from_cuts,
    string_from_path,
)


@pytest.fixture(scope="module")
def cube():
    cube = Cube.from_metadata({
        "name": "sales",
        "dimensions": ["date", "geo", "flag"],
        "measures": [{"name": "amount"}],
    })
    cube.link_dimension(Dimension.from_metadata({
        "name": "date",
        "levels": [{"name": n} for n in ("year", "month", "day")],
        "hierarchies": [
            {"name": "default", "levels": ["year", "month", "day"]},
            {"name": "ym", "levels": ["year", "month"]},
        ],
    }))
    cube.link_dimension(Dimension.from_metadata({
        "name": "geo",
        "levels": [{"name": "region"}, {"name": "country"}],
    }))
    cube.link_dimension(Dimension.from_metadata("flag"))
    return cube


def test_path_from_string():
    assert path_from_string("2010,1,5") == ["2010", "1", "5"]
    assert path_from_string("") == []
    assert path_from_string(None) == []


def test_path_null_element():
    assert path_from_string("2010,__null__,5") == ["2010", None, "5"]
    assert string_from_path(["2010", None, "5"]) == "2010,__null__,5"


def test_path_escaping_roundtrip():
    path = ["a-b", "c,d", "e\\f"]
    assert path_from_string(string_from_path(path)) == path


def test_point_cut_from_string(cube):
    cut = cut_from_string("date:2010,5", cube)
    assert isinstance(cut, PointCut)
    assert cut.path == ["2010", "5"]
    assert not cut.invert


def test_invert_cut_from_string(cube):
    cut = cut_from_string("!date:2010", cube)
    assert cut.invert


def test_set_cut_from_string(cube):
    cut = cut_from_string("geo:east;west,us", cube)
    assert isinstance(cut, SetCut)
    assert cut.paths == [["east"], ["west", "us"]]


def test_range_cut_from_string(cube):
    cut = cut_from_string("date:2010,1-2011,6", cube)
    assert isinstance(cut, RangeCut)
    assert cut.from_path == ["2010", "1"]
    assert cut.to_path == ["2011", "6"]


def test_open_range_cut(cube):
    cut = cut_from_string("date:2010-", cube)
    assert cut.from_path == ["2010"]
    assert not cut.to_path  # open end: empty path / None both mean open
    cut = cut_from_string("date:-2010", cube)
    assert not cut.from_path
    assert cut.to_path == ["2010"]


def test_hierarchy_spec(cube):
    cut = cut_from_string("date@ym:2010,3", cube)
    assert str(cut.hierarchy) == "ym"


def test_cuts_from_string_multi(cube):
    cuts = cuts_from_string(cube, "date:2010|geo:east|flag:1")
    assert len(cuts) == 3
    assert [type(c) for c in cuts] == [PointCut, PointCut, PointCut]


def test_string_roundtrip(cube):
    for s in ("date:2010,5", "!date:2010", "geo:east;west",
              "date:2010,1-2011,6", "date@ym:2010"):
        cuts = cuts_from_string(cube, s)
        assert cuts_from_string(cube, string_from_cuts(cuts)) == cuts


def test_cell_slice_and_rollup(cube):
    cell = Cell(cube, cuts_from_string(cube, "date:2010,5|geo:east"))
    sliced = cell.point_slice("flag", ["1"])
    assert len(sliced.cuts) == 3
    rolled = cell.rollup_dim("date", level="year")
    date_cut = [c for c in rolled.cuts if str(c.dimension) == "date"][0]
    assert date_cut.path == ["2010"]


def test_cell_drilldown(cube):
    cell = Cell(cube)
    drilled = cell.drilldown("date", "2010")
    cut = drilled.cuts[0]
    assert cut.path == ["2010"]
    deeper = drilled.drilldown("date", "5")
    assert deeper.cuts[0].path == ["2010", "5"]


def test_cell_and_operator(cube):
    a = Cell(cube, cuts_from_string(cube, "date:2010"))
    b = Cell(cube, cuts_from_string(cube, "geo:east"))
    combined = a & b
    assert len(combined.cuts) == 2


def test_level_depths(cube):
    cell = Cell(cube, cuts_from_string(cube, "date:2010,5|geo:east"))
    depths = cell.level_depths()
    assert depths["date"] == 2
    assert depths["geo"] == 1


def test_cut_identity_names_its_hierarchy(cube):
    # one path under two hierarchies selects two different members
    for make in (lambda h: PointCut("date", ["12"], h),
                 lambda h: RangeCut("date", ["1"], ["12"], h),
                 lambda h: SetCut("date", [["1"], ["12"]], h)):
        md, dm = make("md"), make("dm")
        assert md != dm
        assert len({md, dm}) == 2
        assert Cell(cube, [md]) != Cell(cube, [dm])
    # a cut that names no hierarchy addresses the default one
    parsed = cut_from_string("date:1995", cube)
    bare = PointCut(cube.dimension("date"), ["1995"])
    assert str(parsed) == "date@default:1995" and str(bare) == "date:1995"
    assert parsed == bare
    assert hash(parsed) == hash(bare)
    assert len({parsed, bare}) == 1
    assert Cell(cube, [parsed]) == Cell(cube, [bare])
