"""Seeded request streams for the three workloads.

Pure Python, no Spark: every request is a :class:`Request` holding the
URL or call arguments the program receives plus the structured cuts
the DuckDB oracle (``oracle.py``) needs to check the answer.

A cut is one of
``("point", dim, path)``, ``("range", dim, from_path, to_path)`` or
``("set", dim, [path, ...])``; paths are lists of level values.
"""

from __future__ import annotations

import itertools
import random
from dataclasses import dataclass
from typing import Iterator, List, Optional, Sequence, Tuple
from urllib.parse import quote, urlencode

from datagen import (N_BRANDS, N_NATIONS, RETURNFLAGS, STATUSES,
                     nation_region)

CUBE = "sales"
FIRST_YEAR, LAST_YEAR, LAST_MONTH = 1995, 2001, 11
ORACLE_AGGREGATES = ("fact_count", "price_sum")

#: aggregate lists of the general ad-hoc requests (each carries the two
#: aggregates the oracle checks)
AGGREGATE_LISTS = (
    ("price_sum", "fact_count"),
    ("price_sum", "fact_count", "quantity_sum"),
    ("fact_count", "price_sum", "discounted_price_sum", "price_max"),
    ("fact_count", "price_sum", "quantity_avg"),
)
CALCULATOR_AGGREGATES = ("price_sum", "price_sma", "fact_count")
#: result orders of the general ad-hoc aggregates (None: natural order)
ORDERS = (None, "fact_count:desc", "price_sum:desc", "price_sum:asc")

#: drillable levels of each dimension (coarse levels only; the
#: high-cardinality levels need pagination, see HIGH_CARDINALITY)
LEVELS_OF = {
    "date": ("date:year", "date:month", "date@ym:month"),
    "customer_geo": ("customer_geo:region", "customer_geo:nation"),
    "supplier_geo": ("supplier_geo:region", "supplier_geo:nation"),
    "part": ("part:brand", "part:type"),
    "returnflag": ("returnflag",),
    "order": ("order:status", "order@priority:priority"),
}
HIGH_CARDINALITY = ("customer_geo:customer", "supplier_geo:supplier",
                    "part:part")
#: members dimension -> depths requested
MEMBER_DEPTHS = {"customer_geo": (1, 2), "supplier_geo": (1, 2),
                 "part": (1, 2), "date": (1, 2), "order": (1,),
                 "returnflag": (1,)}

Cut = tuple


@dataclass(frozen=True)
class Request:
    kind: str                       # aggregate | members | facts
    cuts: Tuple[Cut, ...] = ()
    drilldown: Tuple[str, ...] = ()
    aggregates: Tuple[str, ...] = ()
    dimension: Optional[str] = None  # members
    depth: Optional[int] = None      # members
    order: Optional[str] = None
    page: Optional[int] = None
    pagesize: Optional[int] = None

    @property
    def cell(self) -> str:
        return cell_string(self.cuts)

    @property
    def url(self) -> str:
        params: List[Tuple[str, str]] = []
        if self.cuts:
            params.append(("cut", self.cell))
        if self.drilldown:
            params.append(("drilldown", "|".join(self.drilldown)))
        if self.aggregates:
            params.append(("aggregates", "|".join(self.aggregates)))
        if self.depth is not None:
            params.append(("depth", str(self.depth)))
        if self.order is not None:
            params.append(("order", self.order))
        if self.page is not None:
            params.append(("page", str(self.page)))
        if self.pagesize is not None:
            params.append(("pagesize", str(self.pagesize)))
        if self.kind == "members":
            path = f"/cube/{CUBE}/members/{self.dimension}"
        else:
            path = f"/cube/{CUBE}/{self.kind}"
        query = urlencode(params, quote_via=quote, safe=":,|;@-!")
        return f"{path}?{query}" if query else path


def path_string(path: Sequence) -> str:
    return ",".join(str(v) for v in path)


def cut_string(cut: Cut) -> str:
    kind, dim = cut[0], cut[1]
    if kind == "point":
        return f"{dim}:{path_string(cut[2])}"
    if kind == "range":
        return f"{dim}:{path_string(cut[2])}-{path_string(cut[3])}"
    if kind == "set":
        return f"{dim}:" + ";".join(path_string(p) for p in cut[2])
    raise ValueError(f"unknown cut kind {kind!r}")


def cell_string(cuts: Sequence[Cut]) -> str:
    return "|".join(cut_string(c) for c in cuts)


# -- cut makers -------------------------------------------------------------

def _month(rng: random.Random) -> Tuple[int, int]:
    year = rng.randint(FIRST_YEAR, LAST_YEAR)
    last = LAST_MONTH if year == LAST_YEAR else 12
    return year, rng.randint(1, last)


def _date_cut(rng: random.Random) -> Cut:
    roll = rng.random()
    if roll < 0.35:
        return ("point", "date", [rng.randint(FIRST_YEAR, LAST_YEAR)])
    if roll < 0.7:
        return ("point", "date", list(_month(rng)))
    if roll < 0.85:
        a, b = sorted(rng.sample(range(FIRST_YEAR, LAST_YEAR + 1), 2))
        return ("range", "date", [a], [b])
    a, b = sorted([_month(rng), _month(rng)])
    return ("range", "date", list(a), list(b))


def _geo_cut(rng: random.Random, dim: str) -> Cut:
    nation = rng.randrange(N_NATIONS)
    if rng.random() < 0.5:
        return ("point", dim, [nation_region(nation)])
    return ("point", dim, [nation_region(nation), nation])


def _brand(rng: random.Random) -> str:
    return f"Brand#{rng.randint(1, N_BRANDS)}"


def _part_cut(rng: random.Random) -> Cut:
    if rng.random() < 0.5:
        return ("point", "part", [_brand(rng)])
    return ("set", "part", [[b] for b in sorted({_brand(rng)
                                                 for _ in range(3)})])


def _flag_cut(rng: random.Random) -> Cut:
    flags = sorted(rng.sample(RETURNFLAGS, rng.randint(1, 2)))
    if len(flags) == 1:
        return ("point", "returnflag", flags)
    return ("set", "returnflag", [[f] for f in flags])


def _order_cut(rng: random.Random) -> Cut:
    statuses = sorted(rng.sample(STATUSES, 2))
    return ("set", "order", [[s] for s in statuses])


CUT_MAKERS = {
    "date": _date_cut,
    "customer_geo": lambda rng: _geo_cut(rng, "customer_geo"),
    "supplier_geo": lambda rng: _geo_cut(rng, "supplier_geo"),
    "part": _part_cut,
    "returnflag": _flag_cut,
    "order": _order_cut,
}


def _cuts_on(rng: random.Random, dims: Sequence[str]) -> Tuple[Cut, ...]:
    return tuple(CUT_MAKERS[d](rng) for d in dims)


# -- ad-hoc stream ----------------------------------------------------------

#: The ad-hoc cycle: 12 request shapes in a fixed order — 7 general
#: aggregates, a calculator aggregate and a paginated high-cardinality
#: drilldown (9 aggregates, 75%), 2 members (17%) and a facts page (8%).
#: A shape fixes the kind and the dimensions drilled and cut, which set
#: the joins and so most of the cost; the seed draws the levels, cut
#: kinds and values.  Every seed therefore runs the same mix in the same
#: order, on different requests.
ADHOC_SHAPES = (
    ("aggregate", ("date",), ()),
    ("aggregate", ("customer_geo",), ("date",)),
    ("members", "customer_geo", ("date",)),
    ("aggregate", ("part", "date"), ("returnflag",)),
    ("calculator", (), ("customer_geo",)),
    ("aggregate", ("supplier_geo",), ("part", "order")),
    ("facts", (), ()),
    ("aggregate", ("returnflag", "customer_geo"), ("date", "supplier_geo")),
    ("high_cardinality", ("customer_geo", "supplier_geo", "part"), ("date",)),
    ("aggregate", ("order",), ("part",)),
    ("members", "part", ("date",)),
    ("aggregate", ("date", "supplier_geo"), ("customer_geo",)),
)
MAX_DRAWS = 100


def _adhoc_request(rng: random.Random, shape: tuple) -> Request:
    kind, drilled, cut_dims = shape
    if kind == "aggregate":
        return Request("aggregate", _cuts_on(rng, cut_dims),
                       tuple(rng.choice(LEVELS_OF[d]) for d in drilled),
                       rng.choice(AGGREGATE_LISTS), order=rng.choice(ORDERS))
    if kind == "calculator":
        year = ("point", "date", [rng.randint(FIRST_YEAR, LAST_YEAR - 1)])
        return Request("aggregate", (year,) + _cuts_on(rng, cut_dims),
                       ("date@ym:month",), CALCULATOR_AGGREGATES)
    if kind == "high_cardinality":
        dim = rng.choice(drilled)
        level = next(h for h in HIGH_CARDINALITY if h.split(":")[0] == dim)
        return Request("aggregate", _cuts_on(rng, cut_dims), (level,),
                       rng.choice(AGGREGATE_LISTS),
                       page=rng.randint(0, 4),
                       pagesize=rng.choice((20, 50)))
    if kind == "members":
        return Request("members", _cuts_on(rng, cut_dims), dimension=drilled,
                       depth=rng.choice(MEMBER_DEPTHS[drilled]))
    if kind == "facts":
        year, month = _month(rng)
        day = ("point", "date", [year, month, rng.randint(1, 28)])
        return Request("facts", (day,) + _cuts_on(rng, cut_dims),
                       page=rng.randint(0, 2), pagesize=20)
    raise ValueError(f"unknown request kind {kind!r}")


def adhoc_stream(seed: int) -> Iterator[Request]:
    """Endless stream of DISTINCT ad-hoc requests following
    :data:`ADHOC_SHAPES` cycle after cycle."""
    rng = random.Random(f"adhoc-{seed}")
    seen = set()
    for shape in itertools.cycle(ADHOC_SHAPES):
        for _ in range(MAX_DRAWS):
            request = _adhoc_request(rng, shape)
            if request.url not in seen:
                break
        else:
            raise RuntimeError(f"no new request of shape {shape}")
        seen.add(request.url)
        yield request


# -- dashboard pool ---------------------------------------------------------

#: The dashboard panels, most requested first: (kind, drilldown level or
#: members dimension, members depth, cut dimension or None).  The seed
#: draws only the cut values, so body sizes, and with them the cost of
#: the hit path, are the same for every seed.
DASHBOARD_PANELS = (
    ("aggregate", "date:year", None, None),
    ("aggregate", "customer_geo:region", None, "date"),
    ("members", "date", 1, None),
    ("aggregate", "date@ym:month", None, "returnflag"),
    ("aggregate", "supplier_geo:region", None, "part"),
    ("aggregate", "returnflag", None, "customer_geo"),
    ("members", "customer_geo", 2, "date"),
    ("aggregate", "part:brand", None, "date"),
    ("aggregate", "order:status", None, "supplier_geo"),
    ("aggregate", "customer_geo:nation", None, "returnflag"),
    ("aggregate", "date:month", None, "customer_geo"),
    ("members", "part", 1, "returnflag"),
)


def dashboard_pool(seed: int) -> List[Request]:
    """One request per :data:`DASHBOARD_PANELS` entry, in rank order."""
    rng = random.Random(f"dashboard-{seed}")
    pool = []
    for index, (kind, target, depth, cut_dim) in enumerate(DASHBOARD_PANELS):
        cuts = _cuts_on(rng, (cut_dim,) if cut_dim else ())
        if kind == "members":
            pool.append(Request("members", cuts, dimension=target,
                                depth=depth))
        else:
            pool.append(Request("aggregate", cuts, (target,),
                                AGGREGATE_LISTS[index % len(
                                    AGGREGATE_LISTS)]))
    return pool


def zipf_cum_weights(n: int, s: float = 1.1) -> List[float]:
    """Cumulative Zipf(s) weights over ranks 1..n (``random.choices``)."""
    return list(itertools.accumulate(1.0 / (rank ** s)
                                     for rank in range(1, n + 1)))


# -- cuboid reads -----------------------------------------------------------

CUBOID_GRAIN = ("date@ym:month", "customer_geo:region", "returnflag")
CUBOID_AGGREGATES = ("price_sum", "quantity_sum", "fact_count")
CUBOID_BASE_CELL = "date:-1995"
#: the reads after each refresh, in order: (date cut kind, drilldowns,
#: extra cut dimension); the seed draws the values
CUBOID_READ_SHAPES = (
    ("month", ("customer_geo:region",), None),
    ("year", ("date:month", "returnflag"), None),
    ("range", (), "customer_geo"),
    ("month", ("customer_geo:region",), "returnflag"),
)


def month_after(year: int, month: int) -> Tuple[int, int]:
    return (year + 1, 1) if month == 12 else (year, month + 1)


def refresh_months(start: Tuple[int, int]) -> Iterator[Tuple[int, int]]:
    """Months after ``start`` up to the last month of the data."""
    year, month = month_after(*start)
    while (year, month) <= (LAST_YEAR, LAST_MONTH):
        yield year, month
        year, month = month_after(year, month)


def _merged_month(rng: random.Random, through: Tuple[int, int]):
    while True:
        ym = (rng.randint(FIRST_YEAR, through[0]), rng.randint(1, 12))
        if ym <= through:
            return ym


def cuboid_read(rng: random.Random, through: Tuple[int, int],
                index: int) -> Request:
    """Read ``index`` (of :data:`CUBOID_READ_SHAPES`, cyclically) after
    the cuboid was refreshed through month ``through``: an aggregate the
    month x region x returnflag cuboid serves, restricted to the merged
    months 1995-01 .. ``through``."""
    date_kind, drilldown, extra = CUBOID_READ_SHAPES[
        index % len(CUBOID_READ_SHAPES)]
    if date_kind == "year":
        full_years = [y for y in range(FIRST_YEAR, through[0] + 1)
                      if (y, 12) <= through]
        date = ("point", "date", [rng.choice(full_years)])
    elif date_kind == "month":
        date = ("point", "date", list(_merged_month(rng, through)))
    else:
        a, b = sorted([_merged_month(rng, through),
                       _merged_month(rng, through)])
        date = ("range", "date", list(a), list(b))
    cuts: Tuple[Cut, ...] = (date,)
    if extra == "customer_geo":
        cuts += (("point", "customer_geo", [rng.randrange(5)]),)
    elif extra == "returnflag":
        cuts += (_flag_cut(rng),)
    aggregates = ORACLE_AGGREGATES + (("quantity_sum",)
                                      if rng.random() < 0.5 else ())
    return Request("aggregate", cuts, drilldown, aggregates)
