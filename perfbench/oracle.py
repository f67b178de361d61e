"""DuckDB oracle: the expected answer of a generated request, computed
straight from the parquet tables with the demo model's joins and
decimal casts (``cubes_spark.demo.TPCH_MODEL``)."""

from __future__ import annotations

import os
from decimal import Decimal
from typing import List, Optional, Sequence

import duckdb

from streams import Cut, Request

STAR = """
CREATE VIEW star AS
SELECT l.*, o.o_orderstatus, o.o_orderpriority,
       c.c_custkey, cn.n_nationkey AS c_nationkey, cr.r_regionkey AS c_regionkey,
       s.s_suppkey, sn.n_nationkey AS s_nationkey, sr.r_regionkey AS s_regionkey,
       p.p_partkey, p.p_brand, p.p_type
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
JOIN region cr ON cn.n_regionkey = cr.r_regionkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN region sr ON sn.n_regionkey = sr.r_regionkey
JOIN part p ON l.l_partkey = p.p_partkey
"""

#: dimension -> SQL of each level key of its default hierarchy
LEVELS = {
    "date": ["year(l_shipdate)", "month(l_shipdate)", "day(l_shipdate)"],
    "customer_geo": ["c_regionkey", "c_nationkey", "c_custkey"],
    "supplier_geo": ["s_regionkey", "s_nationkey", "s_suppkey"],
    "part": ["p_brand", "p_type", "p_partkey"],
    "returnflag": ["l_returnflag"],
    "order": ["o_orderstatus"],
}
SUMS = {
    "price_sum": "sum(CAST(l_extendedprice AS DECIMAL(20,2)))",
    "quantity_sum": "sum(CAST(l_quantity AS DECIMAL(20,2)))",
}


def _literal(value) -> str:
    if isinstance(value, int):
        return str(value)
    return "'" + str(value).replace("'", "''") + "'"


def _point(dim: str, path: Sequence) -> str:
    return "(" + " AND ".join(f"{LEVELS[dim][i]} = {_literal(v)}"
                              for i, v in enumerate(path)) + ")"


def _bound(levels: Sequence[str], path: Sequence, op: str) -> str:
    """Lexicographic bound on the level keys ``levels`` by ``path``
    (``op`` is ``>`` or ``<``; the bound itself is included)."""
    key, value = levels[0], _literal(path[0])
    if len(path) == 1:
        return f"{key} {op}= {value}"
    inner = _bound(levels[1:], path[1:], op)
    return f"({key} {op} {value} OR ({key} = {value} AND {inner}))"


def cut_condition(cut: Cut) -> str:
    kind, dim = cut[0], cut[1]
    if kind == "point":
        return _point(dim, cut[2])
    if kind == "range":
        low = _bound(LEVELS[dim], cut[2], ">")
        high = _bound(LEVELS[dim], cut[3], "<")
        return f"({low} AND {high})"
    if kind == "set":
        return "(" + " OR ".join(_point(dim, p) for p in cut[2]) + ")"
    raise ValueError(f"unknown cut kind {kind!r}")


def where(cuts: Sequence[Cut]) -> str:
    return " AND ".join(cut_condition(c) for c in cuts) or "TRUE"


class Oracle:
    """DuckDB connection over the generated tables in ``data_dir``."""

    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for name in ("lineitem", "orders", "customer", "nation", "region",
                     "supplier", "part"):
            path = os.path.join(data_dir, f"{name}.parquet")
            self.con.execute(f"CREATE VIEW {name} AS "
                             f"SELECT * FROM read_parquet('{path}')")
        self.con.execute(STAR)

    def close(self) -> None:
        self.con.close()

    def summary(self, cuts: Sequence[Cut],
                aggregates: Sequence[str]) -> dict:
        """fact_count plus the decimal sums of ``aggregates``."""
        names = ["fact_count"] + [a for a in aggregates if a in SUMS]
        exprs = ["count(*)"] + [SUMS[a] for a in names[1:]]
        row = self.con.execute(
            f"SELECT {', '.join(exprs)} FROM star WHERE {where(cuts)}"
        ).fetchone()
        return {n: (v if v is not None or n == "fact_count"
                    else Decimal("0")) for n, v in zip(names, row)}

    def member_count(self, cuts: Sequence[Cut], dimension: str,
                     depth: int) -> int:
        keys = ", ".join(LEVELS[dimension][:depth])
        return self.con.execute(
            f"SELECT count(*) FROM (SELECT DISTINCT {keys} FROM star "
            f"WHERE {where(cuts)})").fetchone()[0]

    def fact_count(self, cuts: Sequence[Cut]) -> int:
        return self.con.execute(
            f"SELECT count(*) FROM star WHERE {where(cuts)}").fetchone()[0]

    def check(self, request: Request, answer) -> Optional[str]:
        """None when ``answer`` (the decoded response body, or an
        ``AggregationResult.summary`` dict for library reads) is right,
        else a description of the mismatch."""
        if request.kind == "aggregate":
            summary = answer.get("summary", answer) if isinstance(
                answer, dict) else None
            if not isinstance(summary, dict):
                return f"no summary in {type(answer).__name__}"
            expected = self.summary(request.cuts, request.aggregates)
            return _compare_summary(summary, expected)
        if request.kind == "members":
            data = answer.get("data") if isinstance(answer, dict) else None
            if not isinstance(data, list):
                return "no member list"
            want = self.member_count(request.cuts, request.dimension,
                                     request.depth)
            return None if len(data) == want else \
                f"{len(data)} members, expected {want}"
        if request.kind == "facts":
            if not isinstance(answer, list):
                return "no fact list"
            total = self.fact_count(request.cuts)
            want = min(request.pagesize,
                       max(0, total - request.page * request.pagesize))
            return None if len(answer) == want else \
                f"{len(answer)} facts, expected {want}"
        return f"unknown request kind {request.kind!r}"


def _compare_summary(summary: dict, expected: dict) -> Optional[str]:
    wrong: List[str] = []
    for name, want in expected.items():
        got = summary.get(name)
        if got is None and want == 0:
            continue
        # the HTTP body carries decimals as JSON floats; the library
        # path returns Decimal — compare each at its own precision
        if isinstance(got, float):
            ok = got == float(want)
        else:
            ok = got is not None and Decimal(got) == Decimal(want)
        if not ok:
            wrong.append(f"{name}={got!r} expected {want}")
    return "; ".join(wrong) or None
