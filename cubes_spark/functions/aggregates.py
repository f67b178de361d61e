"""Aggregate functions: name → Column builder.

Parity: /root/reference/cubes/sql/functions.py:60-201.  Null-handling
quirks preserved: with ``coalesce`` enabled, ``min``/``max``/``avg``/
``stddev``/``variance`` coalesce the *value* to 0 before aggregation
(ValueCoalescingFunction, functions.py:104-110), ``sum``/
``count_nonempty`` coalesce the *result* to 0 (SummaryCoalescingFunction,
functions.py:113-118), and ``count`` counts the fact key column instead
of ``COUNT(1)`` (FactCountFunction, functions.py:131-145).

Unlike the reference's fixed ``_functions`` table, the registry here is
user-extensible via :func:`register_aggregate_function` — any callable
``(Column) -> Column`` works, including ``F.expr`` wrappers or Pandas
UDAFs.  At 100 TB prefer JVM-side builtins: everything registered below
stays inside whole-stage codegen with map-side partial aggregation.
"""

from __future__ import annotations

import re
from typing import Any, Callable, Dict, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "AggregateFunction",
    "available_aggregate_functions",
    "exact_from_sums",
    "get_aggregate_function",
    "register_aggregate_function",
]


class AggregateFunction:
    """An aggregate function; `builder(column)` returns the aggregate
    Column expression."""

    #: coalesce value before aggregation (min/max/avg/stddev/variance)
    coalesce_value = False
    #: coalesce aggregated result (sum/count_nonempty)
    coalesce_aggregate = False
    #: function needs no measure column (count)
    generative = False
    #: builder accepts a ``dtype=`` keyword (decimal-aware functions)
    dtype_aware = False

    def __init__(self, name: str, builder: Callable[..., Column],
                 coalesce_value: bool = False,
                 coalesce_aggregate: bool = False,
                 generative: bool = False,
                 dtype_aware: bool = False) -> None:
        self.name = name
        self.builder = builder
        self.coalesce_value = coalesce_value
        self.coalesce_aggregate = coalesce_aggregate
        self.generative = generative
        self.dtype_aware = dtype_aware

    def apply(self, column: Optional[Column],
              context: Optional[Dict[str, Any]] = None,
              coalesce: bool = False) -> Column:
        if self.generative:
            if coalesce and context and "__fact_key__" in context:
                # COUNT(fact_key): count only existing facts
                # (parity: functions.py:131-145)
                return F.count(context["__fact_key__"])
            return self.builder()
        if column is None:
            raise ValueError(
                f"Aggregate function '{self.name}' requires a measure column"
            )
        if coalesce and self.coalesce_value:
            column = F.coalesce(column, F.lit(0))
        if self.dtype_aware:
            dtype = (context or {}).get("dtype")
            expr = self.builder(column, dtype=dtype)
        else:
            expr = self.builder(column)
        if coalesce and self.coalesce_aggregate:
            expr = F.coalesce(expr, F.lit(0))
        return expr

    def __str__(self) -> str:
        return self.name


_FUNCTIONS: Dict[str, AggregateFunction] = {}


def register_aggregate_function(
    name: str,
    builder: Callable[..., Column],
    coalesce_value: bool = False,
    coalesce_aggregate: bool = False,
    generative: bool = False,
    dtype_aware: bool = False,
) -> AggregateFunction:
    fn = AggregateFunction(
        name, builder,
        coalesce_value=coalesce_value,
        coalesce_aggregate=coalesce_aggregate,
        generative=generative,
        dtype_aware=dtype_aware,
    )
    _FUNCTIONS[name] = fn
    return fn


# -- decimal-aware statistical aggregates -----------------------------------
#
# For decimal measures, avg/variance/stddev are derived from EXACT decimal
# sums with one final double computation.  Exact sums are independent of
# partitioning and merge order, so the same query returns bit-identical
# doubles on 1 core or 1000 executors — unlike native AVG/VAR_SAMP, whose
# floating-point partial-aggregate merges are order-dependent.  For non-
# decimal measures the native (fast, last-ulp nondeterministic) functions
# are used.

_DECIMAL_RE = re.compile(r"decimal\((\d+),\s*(\d+)\)")


def exact_from_sums(function: str, dtype: Optional[str]) -> bool:
    """Whether ``function`` (avg, variance or stddev) of a measure of
    Spark dtype ``dtype`` is computed from exact decimal sums: avg of
    any decimal; variance and stddev of a decimal with scale <= 6 (a
    larger scale is adjusted by Spark's precision capping when
    squared).  Anything else is the native floating-point aggregate."""
    m = _DECIMAL_RE.match(dtype or "")
    if not m:
        return False
    return function == "avg" or int(m.group(2)) <= 6


def _exact_avg(column: Column, dtype: Optional[str] = None) -> Column:
    if not exact_from_sums("avg", dtype):
        return F.avg(column)
    return F.sum(column).cast("double") / F.count(column).cast("double")


def variance_from_sums(n_raw: Column, s1: Column, s2: Column) -> Column:
    """Sample variance from exact component sums: ``n_raw`` (integral
    count), ``s1`` = sum(m) cast to double, ``s2`` = sum(m*m) cast to
    double.  Shared by the direct decimal-exact path (:func:`_exact_var`)
    and the cuboid partial-aggregate rewrite
    (operators/preagg.py ``Cuboid.plan``) so a variance served
    from merged (sum, sum², count) partials is bit-identical to the
    direct computation — the component sums are decimal-exact, hence
    independent of partitioning and merge order."""
    n = n_raw.cast("double")
    return F.when(n_raw > 1, (s2 - s1 * s1 / n) / (n - F.lit(1.0)))


def _exact_var(column: Column, dtype: Optional[str] = None):
    """Sample variance from exact decimal sums; returns None when
    :func:`exact_from_sums` says the native aggregate applies."""
    if not exact_from_sums("variance", dtype):
        return None
    # square at native precision: (p,s)^2 caps at (38,2s) identically in
    # Spark and ANSI SQL engines — exact for values < 10^(19-s)
    return variance_from_sums(
        F.count(column),
        F.sum(column).cast("double"),
        F.sum(column * column).cast("double"),
    )


def _variance_builder(column: Column, dtype: Optional[str] = None) -> Column:
    var = _exact_var(column, dtype)
    return F.var_samp(column) if var is None else var


def _stddev_builder(column: Column, dtype: Optional[str] = None) -> Column:
    var = _exact_var(column, dtype)
    return F.stddev_samp(column) if var is None else F.sqrt(var)


# Parity table: functions.py:168-178
register_aggregate_function("sum", F.sum, coalesce_aggregate=True)
register_aggregate_function("count_nonempty", F.count, coalesce_aggregate=True)
register_aggregate_function("count", lambda: F.count(F.lit(1)), generative=True)
register_aggregate_function("count_distinct", F.count_distinct)
register_aggregate_function("min", F.min, coalesce_value=True)
register_aggregate_function("max", F.max, coalesce_value=True)
register_aggregate_function("avg", _exact_avg, coalesce_value=True,
                            dtype_aware=True)
register_aggregate_function("stddev", _stddev_builder, coalesce_value=True,
                            dtype_aware=True)
register_aggregate_function("variance", _variance_builder, coalesce_value=True,
                            dtype_aware=True)

# Spark-native extras beyond the reference (designed-in upgrades).
# approx_count_distinct: the scale path for COUNT(DISTINCT) — HLL sketch,
# one pass, no shuffle explosion on high-cardinality keys.
register_aggregate_function("approx_count_distinct", F.approx_count_distinct)
register_aggregate_function("median", F.median)
register_aggregate_function(
    "p95", lambda c: F.percentile_approx(c, 0.95)
)
register_aggregate_function("first", F.first)
register_aggregate_function("last", F.last)
register_aggregate_function("stddev_pop", F.stddev_pop)
register_aggregate_function("var_pop", F.var_pop)


def get_aggregate_function(name: str) -> AggregateFunction:
    """Parity: functions.py:188-194.  Unknown names fall back to
    ``cubes_spark.aggregate_function`` entry points (reference
    ext.py:75-260): the entry point resolves to either a ready
    AggregateFunction or a Column-builder callable, registered on
    first use."""
    try:
        return _FUNCTIONS[name]
    except KeyError:
        pass
    from cubes_spark import ext
    from cubes_spark.errors import InternalError

    try:
        factory = ext.aggregate_function.factory(name)
    except InternalError:
        raise KeyError(name)
    if isinstance(factory, AggregateFunction):
        _FUNCTIONS[name] = factory
        return factory
    return register_aggregate_function(name, factory)


def available_aggregate_functions() -> list:
    """Parity: functions.py:197-201 (registry + entry points)."""
    from cubes_spark import ext

    return sorted(set(_FUNCTIONS) | set(ext.aggregate_function.names()))
