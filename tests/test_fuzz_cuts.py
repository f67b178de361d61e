"""Property-based fuzzing of the subtlest semantics (SURVEY §7 risk
register): hierarchical RangeCut boundaries, the cut-string grammar and
the cut algebra (identity, containment).

The range-cut oracle here is a brute-force Python evaluation of the
lexicographic path order over the collected (year, month) pairs —
independent of both the engine's Column algebra and the SQL oracles.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cubes_spark.errors import ArgumentError
from cubes_spark.metadata.cube import Cube
from cubes_spark.metadata.dimension import Dimension
from cubes_spark.query.cells import (
    PointCut,
    RangeCut,
    cut_from_string,
    cuts_from_string,
    path_from_string,
    string_from_cuts,
    string_from_path,
)

# -- grammar round-trips ----------------------------------------------------

path_element = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=0, max_size=8,
).filter(lambda s: s not in ("",))


@given(st.lists(path_element | st.none(), min_size=1, max_size=4))
@settings(max_examples=200)
def test_path_string_roundtrip(path):
    assert path_from_string(string_from_path(path)) == path


# -- hierarchical range-cut semantics --------------------------------------

MONTHS = [(y, m) for y in range(1995, 1999) for m in range(1, 13)]

ym_path = st.tuples(st.integers(1994, 1999), st.integers(1, 12))


def lex_ge(pair, bound):
    (y, m), blen = pair, len(bound)
    if blen == 1:
        return y >= bound[0]
    return y > bound[0] or (y == bound[0] and m >= bound[1])


def lex_le(pair, bound):
    (y, m), blen = pair, len(bound)
    if blen == 1:
        return y <= bound[0]
    return y < bound[0] or (y == bound[0] and m <= bound[1])


_browser_cache = {}


def get_rows(tpch_browser):
    if "rows" not in _browser_cache:
        df = tpch_browser.aggregation_dataframe(
            drilldown=["date@ym:month"], aggregates=["fact_count"],
        )
        _browser_cache["rows"] = {
            (r["date.year"], r["date.month"]): r["fact_count"]
            for r in df.collect()
        }
    return _browser_cache["rows"]


@given(
    frm=st.one_of(st.none(), st.tuples(st.integers(1994, 1999)), ym_path),
    to=st.one_of(st.none(), st.tuples(st.integers(1994, 1999)), ym_path),
    invert=st.booleans(),
)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_range_cut_matches_bruteforce(tpch_browser, frm, to, invert):
    if frm is None and to is None:
        return
    all_rows = get_rows(tpch_browser)

    def fmt(path):
        return ",".join(str(p) for p in path)

    cut = f"{fmt(frm) if frm else ''}-{fmt(to) if to else ''}"
    cell = f"{'!' if invert else ''}date@ym:{cut}"

    df = tpch_browser.aggregation_dataframe(
        cell=cell, drilldown=["date@ym:month"], aggregates=["fact_count"],
    )
    got = {(r["date.year"], r["date.month"]): r["fact_count"]
           for r in df.collect()}

    expected = {}
    for pair, count in all_rows.items():
        inside = (frm is None or lex_ge(pair, frm)) and \
            (to is None or lex_le(pair, to))
        if inside != invert:
            expected[pair] = count
    assert got == expected


# -- cut algebra: containment and identity (pure Python) ---------------------

CUBE = Cube.from_metadata({
    "name": "sales", "dimensions": ["date"], "measures": [{"name": "amount"}],
})
CUBE.link_dimension(Dimension.from_metadata({
    "name": "date",
    "levels": [{"name": n} for n in ("year", "month", "day")],
    "hierarchies": [
        {"name": "default", "levels": ["year", "month", "day"]},
        {"name": "ym", "levels": ["year", "month"]},
    ],
}))
DATE = CUBE.dimension("date")

year = st.integers(1995, 1997).map(str)
# one- and two-digit months, written bare or zero-padded
month = st.integers(1, 12).flatmap(
    lambda m: st.sampled_from([str(m), f"{m:02d}"]))
ym_or_y = st.one_of(st.tuples(year), st.tuples(year, month)).map(list)
open_end = st.none() | ym_or_y
hierarchy = st.sampled_from([None, "default", "ym"])
date_cut = st.one_of(
    st.builds(lambda p, h, i: PointCut(DATE, p, h, i),
              ym_or_y, hierarchy, st.booleans()),
    st.builds(lambda f, t, h, i: RangeCut(DATE, f, t, h, i),
              open_end, open_end, hierarchy, st.booleans()),
)


def selects(cut, pair):
    """Whether ``cut`` selects the month ``pair``, with numeric members."""
    if isinstance(cut, PointCut):
        lower = upper = cut.path
    else:
        lower, upper = cut.from_path, cut.to_path
    inside = (not lower or lex_ge(pair, [int(v) for v in lower])) and \
        (not upper or lex_le(pair, [int(v) for v in upper]))
    return inside != cut.invert


@given(inner=date_cut, outer=date_cut)
@settings(max_examples=1000, deadline=None)
def test_within_is_sound(inner, outer):
    if inner.within(outer):
        assert all(selects(outer, pair)
                   for pair in MONTHS if selects(inner, pair)), \
            (str(inner), str(outer))


cut_string = st.builds(
    lambda spec, body: f"{spec}:{body}",
    st.sampled_from(["date", "date@default", "date@ym", "!date",
                     "!date@ym"]),
    st.text(alphabet="19,-;", max_size=5),
)


@given(st.lists(st.tuples(cut_string, st.booleans()),
                min_size=2, max_size=6))
@settings(max_examples=300, deadline=None)
def test_equal_cuts_hash_alike(specs):
    cuts = []
    for string, with_cube in specs:
        try:
            cuts.append(cut_from_string(string, CUBE if with_cube else None))
        except ArgumentError:
            continue
    for a in cuts:
        for b in cuts:
            if a == b:
                assert hash(a) == hash(b), (str(a), str(b))
