"""Star/snowflake schema builder and query context over DataFrames.

Parity: /root/reference/cubes/sql/query.py — StarSchema 277-816
(relevant-join pruning 606-676, "The Method" join builder 681-816),
QueryContext 819-1111 (cut conditions 940-1077, split column
1102-1111).  The physical "statement" here is a lazily-built
``pyspark.sql.DataFrame``: Catalyst prunes parquet columns and pushes
filters down to the scan; we keep the one optimization Catalyst can
not do for us — joining only the tables required by the requested
attributes (an unused LEFT join is not semantically removable without
key-uniqueness knowledge, and the reference's contract is "join only
what is needed").

Scale notes (100 TB design):

* A small cube keeps one persisted star: the join of the fact with
  every table of its ``joins``, built once per workspace
  (:meth:`StarSchema.persist_star`, owned by ``Workspace``).  A request
  that needs any join reads it from memory instead of re-reading and
  re-broadcasting its dimensions.  It is built only when every join is
  ``match`` or ``master``, the fact's Catalyst size estimate is within
  ``spark.sql.autoBroadcastJoinThreshold`` and the joins prove
  lossless on the data (unique detail keys, no fact row dropped), so
  it answers exactly like the join-pruned star.
* Above that size, and for fact-only requests, the star is built per
  request from the scans, joining only the required tables; Spark's
  planner picks broadcast-hash joins for small dims (size-based, AQE
  re-plans at runtime).
* The fact table is never collected or repartitioned here — filters
  compiled from cuts are applied before aggregation so they reach the
  parquet scan (predicate pushdown + partition pruning).
"""

from __future__ import annotations

import functools
import operator
from collections import namedtuple
from typing import Any, Callable, Dict, Iterable, List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cubes_spark.errors import (
    ArgumentError,
    HierarchyError,
    InternalError,
    ModelError,
)
from cubes_spark.plans.expressions import SparkExpressionCompiler, datepart
from cubes_spark.query.cells import Cell, PointCut, RangeCut, SetCut
from cubes_spark.query.drilldown import SPLIT_DIMENSION_NAME

__all__ = [
    "ColumnRef",
    "Join",
    "JoinKey",
    "QueryContext",
    "SchemaError",
    "NoSuchTableError",
    "StarSchema",
    "to_column",
    "to_join",
    "to_join_key",
]


class SchemaError(InternalError):
    """Error related to the physical star schema."""


class NoSuchTableError(SchemaError):
    pass


class NoSuchAttributeError(SchemaError):
    pass


#: Physical column reference (parity: sql/query.py:51-52). ``schema`` is
#: kept for model compatibility but unused: a cube's store is one flat
#: catalog, so a table is named by its name alone.
#: ``cast`` is a Spark extension: an optional DDL type the physical
#: column is cast to on read (e.g. ``decimal(25,6)`` for exact,
#: order-independent monetary sums at any parallelism).
ColumnRef = namedtuple(
    "ColumnRef",
    ["schema", "table", "column", "extract", "function", "cast"],
    defaults=(None,),
)

JoinKey = namedtuple("JoinKey", ["schema", "table", "column"])

#: Join spec: master (fact side) / detail (dimension side) / alias / method
#: method: "match" = inner, "master" = left outer, "detail" = right outer
#: (parity: sql/query.py:176-187)
Join = namedtuple("Join", ["master", "detail", "alias", "method"])

_TableRef = namedtuple("_TableRef", ["name", "alias", "df", "join"])


def to_column(obj: Any, default_table: Optional[str] = None) -> ColumnRef:
    """Create ColumnRef from string ``table.column``, tuple or dict
    (parity: sql/query.py:64-112)."""
    if obj is None:
        raise ArgumentError("Mapping object can not be None")

    if isinstance(obj, str):
        obj = obj.split(".")

    if isinstance(obj, ColumnRef):
        return obj

    if isinstance(obj, (tuple, list)):
        if len(obj) == 1:
            schema, table, column = None, None, obj[0]
        elif len(obj) == 2:
            schema, (table, column) = None, obj
        elif len(obj) == 3:
            schema, table, column = obj
        else:
            raise ArgumentError(
                f"Column reference can have 1 to 3 items, has {len(obj)}: {obj}"
            )
        extract = None
        function = None
        cast = None
    elif hasattr(obj, "get"):
        schema = obj.get("schema")
        table = obj.get("table")
        column = obj.get("column")
        extract = obj.get("extract")
        function = obj.get("function")
        cast = obj.get("cast")
    else:
        schema = obj.schema
        table = obj.table
        column = obj.column
        extract = obj.extract
        function = obj.function
        cast = getattr(obj, "cast", None)

    return ColumnRef(schema, table or default_table,
                     column, extract, function, cast)


def to_join_key(obj: Any) -> JoinKey:
    """Parity: sql/query.py:122-171."""
    if obj is None:
        return JoinKey(None, None, None)
    if isinstance(obj, str):
        obj = obj.split(".")
    if isinstance(obj, JoinKey):
        return obj
    if isinstance(obj, (tuple, list)):
        if len(obj) == 1:
            schema, table, column = None, None, obj[0]
        elif len(obj) == 2:
            schema, (table, column) = None, obj
        elif len(obj) == 3:
            schema, table, column = obj
        else:
            raise ArgumentError(
                f"Join key can have 1 to 3 items, has {len(obj)}: {obj}"
            )
    elif hasattr(obj, "get"):
        schema = obj.get("schema")
        table = obj.get("table")
        column = obj.get("column")
    else:
        schema, table, column = obj.schema, obj.table, obj.column

    if isinstance(column, list):
        column = tuple(column)
    return JoinKey(schema, table, column)


def to_join(obj: Any) -> Join:
    """Parity: sql/query.py:190-225."""
    if isinstance(obj, Join):
        return obj
    if isinstance(obj, (tuple, list)):
        alias = None
        method = None
        if len(obj) == 3:
            alias = obj[2]
        elif len(obj) == 4:
            alias, method = obj[2], obj[3]
        elif len(obj) < 2 or len(obj) > 4:
            raise ArgumentError(
                f"Join object can have 2 to 4 items, has {len(obj)}: {obj}"
            )
        return Join(to_join_key(obj[0]), to_join_key(obj[1]), alias, method)
    if hasattr(obj, "get"):
        return Join(
            to_join_key(obj.get("master")),
            to_join_key(obj.get("detail")),
            obj.get("alias"),
            obj.get("method"),
        )
    return Join(to_join_key(obj.master), to_join_key(obj.detail),
                obj.alias, obj.method)


#: Column of a persisted star holding its build number.  Spark's
#: CacheManager matches plans by result, so without it a lazy plan of
#: the same join (``Workspace.register_sql_views``) or another
#: workspace's star over the same files would share, and unpersist,
#: this star's cache entry.
STAR_MARKER = "__star__"


def _key_columns(key: JoinKey) -> tuple:
    columns = key.column
    return tuple(columns) if isinstance(columns, (list, tuple)) \
        else (columns,)


def _all(conditions: List[Column]) -> Column:
    """The AND of `conditions`, folded left-deep."""
    return functools.reduce(operator.and_, conditions)


class StarSchema:
    """Star/snowflake query builder over DataFrames.

    `fact_df` is the fact DataFrame; `mappings` maps logical attribute
    refs to :class:`ColumnRef`; `joins` describe the (snow)flake;
    `table` returns the DataFrame of a detail table by name (a missing
    table raises the lookup's own error).

    `persisted` — optional callable returning the persisted star of
    this schema (see :meth:`persist_star`) or None; :meth:`get_star`
    serves every request that needs a join from it.
    """

    def __init__(
        self,
        label: str,
        fact_name: str,
        fact_df: DataFrame,
        mappings: Dict[str, ColumnRef],
        joins: Optional[Iterable] = None,
        table: Optional[Callable[[str], DataFrame]] = None,
        persisted: Optional[Callable[["StarSchema"], Optional[DataFrame]]]
        = None,
    ) -> None:
        self.label = label
        self.fact_name = fact_name
        self.fact_df = fact_df
        self.mappings = mappings or {}
        self.joins = [to_join(j) for j in (joins or [])]
        self.persisted = persisted

        # tables by alias; the fact also by None (parity: query.py:344-350)
        fact_ref = _TableRef(name=fact_name, alias=fact_name,
                             df=fact_df.alias(fact_name), join=None)
        self._tables: Dict[Optional[str], _TableRef] = {
            fact_name: fact_ref, None: fact_ref}

        # Collect all tables from joins (parity: query.py:392-473)
        for join in self.joins:
            if not join.detail.table:
                raise ModelError(
                    f"No detail table specified for join in star {label}"
                )
            if join.detail.table == fact_name and not join.alias:
                raise ModelError(
                    f"Detail table name in join same as fact name ({fact_name}) "
                    "and no alias specified"
                )
            name = join.detail.table
            alias = join.alias or name
            if alias in self._tables:
                raise ModelError(
                    f"Duplicate table reference {alias} in star {label}"
                )
            self._tables[alias] = _TableRef(
                name=name, alias=alias, df=table(name).alias(alias),
                join=join)

        self._column_cache: Dict[str, Column] = {}

    # -- table access ---------------------------------------------------

    def table(self, alias: Optional[str]) -> _TableRef:
        """The table joined as `alias`; None is the fact."""
        try:
            return self._tables[alias]
        except KeyError:
            raise NoSuchTableError(
                f"Unknown table {alias} in star {self.label}"
            )

    # -- attribute columns -----------------------------------------------

    def mapping_for(self, ref: str) -> ColumnRef:
        try:
            return self.mappings[ref]
        except KeyError:
            raise NoSuchAttributeError(
                f"No mapping for attribute '{ref}' in star {self.label}"
            )

    def column(self, ref: str) -> Column:
        """Physical Column for logical attribute `ref`
        (parity: query.py:539-592 — incl. `extract` and unary
        `function` mapping modifiers)."""
        if ref in self._column_cache:
            return self._column_cache[ref]

        mapping = self.mapping_for(ref)
        table_ref = self.table(mapping.table)
        column = F.col(f"{table_ref.alias}.`{mapping.column}`")

        if mapping.cast:
            column = column.cast(mapping.cast)
        if mapping.extract:
            column = datepart(mapping.extract, column)
        elif mapping.function:
            fn = getattr(F, mapping.function, None)
            if fn is None:
                raise ModelError(
                    f"Unknown unary function '{mapping.function}' "
                    f"for attribute '{ref}'"
                )
            column = fn(column)

        self._column_cache[ref] = column
        return column

    # -- join pruning ------------------------------------------------------

    def required_tables(self, attributes: Iterable[str]) -> List[_TableRef]:
        """Tables required for `attributes`, topologically sorted
        master→detail (parity: query.py:606-676)."""
        # tables directly referenced by attribute mappings
        return self._sorted_tables(
            {self.mapping_for(ref).table for ref in attributes})

    def _sorted_tables(self, relevant: Iterable[Optional[str]]
                       ) -> List[_TableRef]:
        """The fact, the tables joined as `relevant` and every master
        they join through: master before detail, else in the order of
        the joins."""
        # transitive closure over join masters; the fact is always there
        required = {self.fact_name}
        queue = [self.table(alias) for alias in relevant]
        while queue:
            table_ref = queue.pop()
            if table_ref.alias not in required:
                required.add(table_ref.alias)
                queue.append(self.table(self._master_alias(table_ref)))

        # topological sort: master before detail (parity: query.py:652-676)
        sorted_refs = [self.table(self.fact_name)]
        emitted = {self.fact_name}
        pending = [ref for alias, ref in self._tables.items()
                   if alias in required and ref.join is not None]
        progress = True
        while pending and progress:
            progress = False
            for tref in list(pending):
                if self._master_alias(tref) in emitted:
                    sorted_refs.append(tref)
                    emitted.add(tref.alias)
                    pending.remove(tref)
                    progress = True
        if pending:
            names = ", ".join(tref.alias for tref in pending)
            raise ModelError(
                f"Can not sort tables for star {self.label}; "
                f"unresolved master links for: {names}"
            )
        return sorted_refs

    def _master_alias(self, table_ref: _TableRef) -> str:
        """Alias of the table `table_ref` joins to: the fact by
        default."""
        return table_ref.join.master.table or self.fact_name

    # -- the star ---------------------------------------------------------

    def get_star(self, attributes: Iterable[str]) -> DataFrame:
        """Join of exactly the tables required for `attributes`
        ("The Method", parity: query.py:681-816).  A request that needs
        any join reads the persisted star instead, when there is one."""
        tables = self.required_tables(attributes)
        if len(tables) > 1 and self.persisted is not None:
            star = self.persisted(self)
            if star is not None:
                return star
        return self._join(tables)

    def _join(self, tables: List[_TableRef]) -> DataFrame:
        star = tables[0].df  # the fact

        for table_ref in tables[1:]:
            join = table_ref.join
            if join is None:  # pragma: no cover - guarded by required_tables
                raise ModelError(
                    f"Missing join for table {table_ref.alias}"
                )

            # master column(s)
            master = self.table(self._master_alias(table_ref))

            master_cols = _key_columns(join.master)
            detail_cols = _key_columns(join.detail)
            if len(master_cols) != len(detail_cols):
                raise ModelError(
                    f"Compound key size mismatch in join for "
                    f"{table_ref.alias}"
                )

            condition = _all([
                F.col(f"{master.alias}.`{mc}`") == F.col(f"{table_ref.alias}.`{dc}`")
                for mc, dc in zip(master_cols, detail_cols)
            ])

            method = join.method or "match"
            if method == "match":
                how = "inner"
            elif method == "master":
                how = "left"
            elif method == "detail":
                how = "right"
            else:
                raise ModelError(f"Unknown join method '{method}'")

            star = star.join(table_ref.df, condition, how)

        return star

    def persist_star(self, build: int) -> Optional[DataFrame]:
        """The join of the fact with every table of the schema,
        persisted — or None when it could answer differently from the
        join-pruned star or is too big to keep:

        * a join is neither ``match`` nor ``master``;
        * the fact's Catalyst size estimate exceeds
          ``spark.sql.autoBroadcastJoinThreshold`` (-1: never persist);
        * a join is lossy: a detail key is not unique in its table (it
          would multiply facts), or a ``match`` join drops facts (then
          the star has fewer rows than the fact).

        The lossless check and the cache fill are one ``collect``.
        `build` is the value of the :data:`STAR_MARKER` column."""
        if not self.joins or any((join.method or "match") not in
                                 ("match", "master") for join in self.joins):
            return None
        session = self.fact_df.sparkSession
        threshold = session._jsparkSession.sessionState().conf() \
            .autoBroadcastJoinThreshold()
        size = self.fact_df._jdf.queryExecution().optimizedPlan() \
            .stats().sizeInBytes()
        if threshold < 0 or int(size) > threshold:
            return None

        tables = self._sorted_tables(self._tables)
        star = self._join(tables).withColumn(STAR_MARKER, F.lit(build))
        star.persist()

        # detail keys seen twice, over every detail table in one shuffle;
        # a table joined under two aliases is listed once, and rows with
        # a NULL key part join nothing and are left out
        keys, checked = None, set()
        for table_ref in tables[1:]:
            columns = _key_columns(table_ref.join.detail)
            if (table_ref.name, columns) in checked:
                continue
            checked.add((table_ref.name, columns))
            parts = [F.col(f"`{c}`") for c in columns]
            notnull = _all([part.isNotNull() for part in parts])
            table_keys = table_ref.df.where(notnull).select(
                F.lit(table_ref.name).alias("table"),
                F.to_json(F.struct(*parts)).alias("key"))
            keys = table_keys if keys is None else keys.unionAll(table_keys)
        duplicates = keys.groupBy("table", "key").count() \
            .where(F.col("count") > 1)

        lossless = False
        try:
            row = star.agg(F.count(F.lit(1)).alias("star")) \
                .crossJoin(self.fact_df.agg(F.count(F.lit(1)).alias("fact"))) \
                .crossJoin(duplicates.agg(F.count(F.lit(1)).alias("dup"))) \
                .collect()[0]
            lossless = not row["dup"] and row["star"] == row["fact"]
        finally:
            if not lossless:
                star.unpersist()
        return star if lossless else None


# ---------------------------------------------------------------------------
# Query context
# ---------------------------------------------------------------------------


class QueryContext:
    """Per-query compilation context: star DataFrame + compiled attribute
    Columns + cut predicates (parity: sql/query.py:819-1111).

    `attributes` must be the dependency-sorted closure of everything the
    query touches (cube.collect_dependencies); base attributes resolve
    through the star's mappings, derived attributes compile their
    expression against previously compiled columns.
    """

    def __init__(
        self,
        star_schema: StarSchema,
        attributes: Iterable,
        hierarchies: Optional[dict] = None,
    ) -> None:
        self.star_schema = star_schema
        # materialize: a generator input would be exhausted by the
        # first comprehension, silently building an attribute-less
        # context whose every lookup fails
        attributes = list(attributes)
        self.attributes = {attr.ref: attr for attr in attributes}
        self.hierarchies = hierarchies or {}
        self.base_refs = [
            attr.ref for attr in attributes if attr.is_base
        ]

        self.star = star_schema.get_star(self.base_refs)

        # Compile columns in dependency order (parity: sql/expressions.py:123-150)
        self._columns: Dict[str, Column] = {}
        compiler = SparkExpressionCompiler(self._columns)
        for attr in attributes:
            if getattr(attr, "function", None):
                # aggregates with function are handled at aggregation time
                continue
            if attr.is_base:
                self._columns[attr.ref] = star_schema.column(attr.ref)
            elif attr.expression:
                self._columns[attr.ref] = compiler.compile(attr.expression)

    def column(self, ref: str) -> Column:
        try:
            return self._columns[ref]
        except KeyError:
            raise NoSuchAttributeError(f"Unknown attribute '{ref}'")

    # -- conditions -------------------------------------------------------

    def filtered_star(self, cell: Optional[Cell]) -> DataFrame:
        """The star filtered by the cell, before any aggregation, so
        the condition reaches the scans."""
        condition = self.condition_for_cell(cell)
        return self.star if condition is None else self.star.filter(condition)

    def condition_for_cell(self, cell: Optional[Cell]) -> Optional[Column]:
        """AND of all cut conditions (parity: query.py:940-949)."""
        if not cell or not cell.cuts:
            return None
        return _all(self.conditions_for_cuts(cell.cuts))

    def conditions_for_cuts(self, cuts: Iterable) -> List[Column]:
        """Parity: query.py:951-993."""
        conditions = []
        for cut in cuts:
            hierarchy = str(cut.hierarchy) if cut.hierarchy else None
            if isinstance(cut, PointCut):
                condition = self.condition_for_point(
                    str(cut.dimension), cut.path, hierarchy, cut.invert
                )
            elif isinstance(cut, SetCut):
                set_conds = [
                    self.condition_for_point(
                        str(cut.dimension), path, hierarchy, invert=False
                    )
                    for path in cut.paths
                ]
                condition = set_conds[0]
                for cond in set_conds[1:]:
                    condition = condition | cond
                if cut.invert:
                    condition = ~condition
            elif isinstance(cut, RangeCut):
                condition = self.range_condition(
                    str(cut.dimension), hierarchy,
                    cut.from_path, cut.to_path, cut.invert,
                )
            else:
                raise ArgumentError(f"Unknown cut type {type(cut)}")
            conditions.append(condition)
        return conditions

    def _eq(self, column: Column, value: Any) -> Column:
        if value is None:
            return column.isNull()
        return column == value

    def _time_prefix_bounds(self, dim: str, hierarchy: Optional[str],
                            path: Optional[list], upper_open: bool = True):
        """Sargable rewrite for datepart cuts.

        When every level key addressed by ``path`` maps to ``extract``
        year/month/day (in hierarchy order) of ONE physical timestamp
        column, the path prefix implies a raw range on that column:
        ``[year-month-day 00:00, +1 finest unit)``.  Returns
        ``(raw_column, lower_datetime, upper_datetime)`` or None.

        The caller ANDs this range alongside the exact ``year(col)=…``
        equalities: it is implied by them (semantically redundant) but,
        unlike a function predicate, it pushes into the parquet scan —
        min/max row-group skipping and partition pruning, the difference
        between scanning a year and scanning 100 TB.
        """
        from datetime import datetime

        if not path:
            return None
        parts = []
        column_key = None
        for level_key, value in zip(
            self.level_keys(dim, hierarchy, path), path
        ):
            if value is None:
                return None
            try:
                mapping = self.star_schema.mapping_for(level_key)
            except Exception:
                return None
            if mapping.extract not in ("year", "month", "day"):
                return None
            key = (mapping.table, mapping.column)
            if column_key is None:
                column_key = key
            elif key != column_key:
                return None
            try:
                parts.append((mapping.extract, int(value)))
            except (TypeError, ValueError):
                return None

        units = [u for u, _ in parts]
        if units != ["year", "month", "day"][: len(units)]:
            return None
        values = dict(parts)
        year = values["year"]
        month = values.get("month", 1)
        day = values.get("day", 1)
        try:
            lower = datetime(year, month, day)
        except ValueError:
            return None
        if "day" in values:
            from datetime import timedelta

            upper = lower + timedelta(days=1)
        elif "month" in values:
            upper = datetime(year + (month == 12), month % 12 + 1, 1)
        else:
            upper = datetime(year + 1, 1, 1)

        table_ref = self.star_schema.table(column_key[0])
        raw = F.col(f"{table_ref.alias}.`{column_key[1]}`")
        return raw, lower, upper

    def condition_for_point(self, dim: str, path: list,
                            hierarchy: Optional[str] = None,
                            invert: bool = False) -> Column:
        """Path-prefix equality on hierarchy level keys
        (parity: query.py:995-1016), plus a pushdown-friendly raw range
        for datepart-mapped time prefixes."""
        conditions = []
        for level_key, value in zip(self.level_keys(dim, hierarchy, path), path):
            conditions.append(self._eq(self.column(level_key), value))
        bounds = self._time_prefix_bounds(dim, hierarchy, path)
        if bounds is not None:
            raw, lower, upper = bounds
            conditions.append((raw >= F.lit(lower)) & (raw < F.lit(upper)))
        condition = _all(conditions) if conditions else F.lit(True)
        if invert:
            condition = ~condition
        return condition

    def range_condition(self, dim: str, hierarchy: Optional[str],
                        from_path: Optional[list], to_path: Optional[list],
                        invert: bool = False) -> Column:
        """Hierarchical (lexicographic) range; open ends allowed
        (parity: query.py:1018-1038).  Datepart-mapped time boundaries
        additionally emit a raw scan-pushable range (see
        ``_time_prefix_bounds``)."""
        lower = self._boundary_condition(dim, hierarchy, from_path, 0)
        upper = self._boundary_condition(dim, hierarchy, to_path, 1)

        conditions = [c for c in (lower, upper) if c is not None]
        from_bounds = self._time_prefix_bounds(dim, hierarchy, from_path)
        if from_bounds is not None:
            raw, low, _ = from_bounds
            conditions.append(raw >= F.lit(low))
        to_bounds = self._time_prefix_bounds(dim, hierarchy, to_path)
        if to_bounds is not None:
            raw, _, up = to_bounds
            conditions.append(raw < F.lit(up))
        condition = _all(conditions) if conditions else F.lit(True)
        if invert:
            condition = ~condition
        return condition

    def _boundary_condition(self, dim: str, hierarchy: Optional[str],
                            path: Optional[list], bound: int,
                            first: bool = True) -> Optional[Column]:
        """Recursive lexicographic boundary builder
        (parity: query.py:1040-1077)."""
        if not path:
            return None

        last = self._boundary_condition(dim, hierarchy, path[:-1], bound,
                                        first=False)

        levels = self.level_keys(dim, hierarchy, path)
        conditions = []
        for level_key, value in zip(levels[:-1], path[:-1]):
            conditions.append(self._eq(self.column(level_key), value))

        column = self.column(levels[-1])
        value = path[-1]
        if bound == 1:  # upper bound
            conditions.append(column <= value if first else column < value)
        else:  # lower bound
            conditions.append(column >= value if first else column > value)

        condition = _all(conditions)

        if last is not None:
            condition = condition | last
        return condition

    def level_keys(self, dimension: str, hierarchy: Optional[str],
                   path: Optional[list]) -> List[str]:
        """Key attribute refs of levels addressed by `path`
        (parity: query.py:1079-1100)."""
        try:
            levels = self.hierarchies[(str(dimension), hierarchy)]
        except KeyError as e:
            raise InternalError(
                f"Unknown hierarchy {e}. Hierarchies are not properly "
                "initialized (maybe missing default?)"
            )
        depth = len(path) if path else 0
        if depth > len(levels):
            levels_str = ", ".join(levels)
            raise HierarchyError(
                f"Path '{path}' is longer than hierarchy. Levels: {levels_str}"
            )
        return levels[0:depth]

    def column_for_split(self, split_cell: Cell,
                         label: Optional[str] = None) -> Column:
        """CASE WHEN <split condition> THEN TRUE ELSE FALSE
        (parity: query.py:1102-1111)."""
        condition = self.condition_for_cell(split_cell)
        if condition is None:
            condition = F.lit(False)
        return (
            F.when(condition, F.lit(True))
            .otherwise(F.lit(False))
            .alias(label or SPLIT_DIMENSION_NAME)
        )
