"""SparkBrowser — the aggregation browser over a star of DataFrames.

Parity: /root/reference/cubes/sql/browser.py (SQLBrowser) +
/root/reference/cubes/query/browser.py (AggregationBrowser).  The
reference builds one SQLAlchemy SELECT per request; we build one
DataFrame plan per request and let Catalyst optimize it.

Execution-model differences (deliberate, Spark-first):

* Reference issues up to 3 SQL statements per aggregate() call —
  summary, drilldown, total count (sql/browser.py:378-383).  We run
  ONE Spark action for all three: the summary row of the
  drilldown-free aggregation, and the count row of the drilldown's
  groups, are unioned onto the cells and come back in the same
  ``collect``.  When the collected cells are all the cells, the count
  is their number and needs no row of its own.
* Post-aggregation window calculators run inside the same Spark plan
  (native Window functions) instead of client-side Python.
* At scale: the cell condition is applied *before* aggregation so
  Catalyst pushes predicates into the parquet scan; group-by runs with
  map-side partial aggregation; small dimension joins broadcast, and a
  small cube's joined star stays in memory on the workspace
  (plans/star.py).
"""

from __future__ import annotations

import copy
from typing import (
    Any, Callable, Dict, Iterable, List, Optional, Sequence,
)

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cubes_spark.errors import ArgumentError
from cubes_spark.functions.aggregates import (
    available_aggregate_functions,
    get_aggregate_function,
)
from cubes_spark.functions.calculators import (
    CALCULATED_AGGREGATIONS,
    apply_window_calculators,
    available_calculators,
    calculate_scalar,
    calculators_for_aggregates,
)
from cubes_spark.metadata.cube import Cube
from cubes_spark.plans.expressions import SparkExpressionCompiler
from cubes_spark.plans.mapper import (
    DenormalizedMapper,
    Naming,
    StarSchemaMapper,
    distill_naming,
    map_base_attributes,
    ref_col,
)
from cubes_spark.plans.star import QueryContext, StarSchema
from cubes_spark.query.cells import Cell, PointCut, cuts_from_string
from cubes_spark.query.drilldown import SPLIT_DIMENSION_NAME, Drilldown
from cubes_spark.query.result import AggregationResult

__all__ = ["SparkBrowser"]


def _sort_column(ref: str, direction: Optional[str]) -> Column:
    """``ref`` ascending, or descending when ``direction`` says so."""
    col = ref_col(ref)
    if direction and direction.lower().startswith("desc"):
        return col.desc()
    return col.asc()


def _computed_names(aggregates: Sequence) -> List[str]:
    """Names of the aggregates an aggregation plan computes: all but
    the post-calculated ones, in request order."""
    return [a.name for a in aggregates
            if a.function not in CALCULATED_AGGREGATIONS]


#: Aggregate functions available inside aggregate ``expression`` strings,
#: e.g. ``{"name": "double_sum", "expression": "sum(amount * 2)"}``.
_AGG_EXPR_FUNCTIONS = {
    "sum": F.sum,
    "count": F.count,
    "count_distinct": F.count_distinct,
    "min": F.min,
    "max": F.max,
    "avg": F.avg,
    "stddev": F.stddev_samp,
    "variance": F.var_samp,
}

#: helper columns of the one aggregate() action, dropped from the cells
_CELL_COUNT = "__cell_count__"
_SUMMARY_ROW = "__summary_row__"


class SparkBrowser:
    """Aggregation browser for one cube over its tables: ``tables``
    returns a table's DataFrame by name (``Workspace.browser`` passes
    ``Workspace.table``).

    Options (cube.browser_options or constructor kwargs; parity:
    sql/browser.py:102-190):

    * ``include_summary``, ``include_cell_count`` — defaults True
    * ``use_denormalization`` — map all attributes to one table
    * ``safe_labels`` — unnecessary in Spark, accepted and ignored
    * ``exclude_null_aggregates`` — drop result rows with NULL in any
      built-in aggregate (sql/browser.py:144-147,616-618)

    ``persisted`` returns the cube's persisted star, if any (see
    ``StarSchema``); ``Workspace.browser`` passes the workspace's.
    """

    __extension_name__ = "spark"

    def __init__(
        self,
        cube: Cube,
        tables: Callable[[str], DataFrame],
        locale: Optional[str] = None,
        naming: Optional[Naming] = None,
        persisted: Optional[Callable[[StarSchema], Optional[DataFrame]]]
        = None,
        **options: Any,
    ) -> None:
        self.cube = cube
        self.locale = locale

        opts = dict(cube.browser_options or {})
        opts.update(options)
        self.options = opts
        self.include_summary = opts.get("include_summary", True)
        self.include_cell_count = opts.get("include_cell_count", True)
        self.exclude_null_agregates = opts.get(
            "exclude_null_aggregates",
            opts.get("exclude_null_agregates", False),
        )

        # driver-side result guard (parity: json_record_limit,
        # /root/reference/cubes/server/blueprint.py:107): caps an
        # unpaginated aggregate() collect
        self.safe_record_limit = opts.get("safe_record_limit")

        # relative-time cut expansion for role:"time" dimensions
        # (parity: query/browser.py:130-144)
        from cubes_spark.calendar import Calendar

        calendar = opts.get("calendar")
        if isinstance(calendar, dict):
            calendar = Calendar(**calendar)
        self.calendar = calendar or Calendar()

        naming = naming or Naming()
        if opts.get("use_denormalization"):
            mapper_cls = DenormalizedMapper
        else:
            mapper_cls = StarSchemaMapper
        self.fact_name, self.mappings = map_base_attributes(
            cube, mapper_cls, naming, locale
        )

        self.star_schema = StarSchema(
            cube.name,
            self.fact_name,
            tables(self.fact_name),
            mappings=self.mappings,
            joins=cube.joins,
            table=tables,
            persisted=persisted,
        )
        self.hierarchies = cube.distilled_hierarchies()
        self._cuboids: List[Any] = []

    # ------------------------------------------------------------------
    # pre-aggregated cuboids (see operators/preagg.py)
    # ------------------------------------------------------------------

    def add_cuboid(self, cuboid: Any) -> None:
        """Register a materialized cuboid for transparent rewriting."""
        self._cuboids.append(cuboid)

    def materialize_cuboid(self, path: str, drilldown: Any,
                           aggregates: Optional[Iterable] = None) -> Any:
        """Materialize + register a cuboid
        (supersedes reference create_cube_aggregate,
        sql/store.py:549-628)."""
        from cubes_spark.operators.preagg import Cuboid

        cuboid = Cuboid.materialize(self, path, drilldown,
                                    list(aggregates) if aggregates else None)
        self.add_cuboid(cuboid)
        return cuboid

    def register_stream_cuboid(self, path: str, aggs: dict,
                               column_map: dict):
        """Register a stream-maintained partial-aggregate log
        (streaming/stream.py ``maintain_aggregate``) as a transparent
        cuboid: covered aggregations are served by merge-on-read of
        the log instead of scanning the fact star
        (operators/preagg.py ``StreamAggregateCuboid``)."""
        from cubes_spark.operators.preagg import StreamAggregateCuboid

        cuboid = StreamAggregateCuboid.from_log(
            self, path, aggs, column_map)
        self.add_cuboid(cuboid)
        return cuboid

    def _fact_only(self) -> "SparkBrowser":
        """This browser with no cuboid registered: its plans always read
        the fact star."""
        view = copy.copy(self)
        view._cuboids = []
        return view

    def _try_cuboid_plan(self, cell: Cell, aggregates: Sequence,
                         drilldown: Drilldown,
                         split: Optional[Cell]) -> Optional[DataFrame]:
        """Rewrite the aggregation against a covering cuboid, if any
        (operators/preagg.py ``Cuboid.plan``): its DataFrame, or
        None."""
        if not self._cuboids or split is not None:
            return None
        # smallest covering cuboid first (recorded row counts; unknown
        # sizes sort last, ties keep registration order) — a year-grain
        # rollup beats re-aggregating the month-grain one when both
        # cover
        for cuboid in sorted(self._cuboids,
                             key=lambda c: (c.rows is None, c.rows or 0)):
            plan = cuboid.plan(self, cell, aggregates, drilldown)
            if plan is not None:
                return plan
        return None

    # ------------------------------------------------------------------
    # features / metadata
    # ------------------------------------------------------------------

    def features(self) -> dict:
        """Parity: sql/browser.py:192-203."""
        return {
            "actions": ["aggregate", "fact", "members", "facts", "cell",
                        "report"],
            "aggregate_functions": available_aggregate_functions(),
            "post_aggregate_functions": available_calculators(),
        }

    def test(self, aggregate: bool = False) -> None:
        """Smoke-check that the star is constructible
        (parity: sql/browser.py:267-286)."""
        attrs = [a.ref for a in self.cube.all_fact_attributes if a.is_base]
        star = self.star_schema.get_star(attrs)
        star.limit(1).collect()
        if aggregate:
            self.aggregate()

    # ------------------------------------------------------------------
    # preparation (parity: query/browser.py:79-309)
    # ------------------------------------------------------------------

    def _role_converters(self) -> dict:
        from cubes_spark.calendar import CalendarMemberConverter

        return {"time": CalendarMemberConverter(self.calendar)}

    def prepare_cell(self, cell: Any = None) -> Cell:
        if cell is None:
            return Cell(self.cube)
        if isinstance(cell, str):
            cuts = cuts_from_string(
                self.cube, cell,
                role_member_converters=self._role_converters(),
            )
            return Cell(self.cube, cuts)
        if isinstance(cell, Cell):
            if cell.cube is None:
                cell.cube = self.cube
            return cell
        if isinstance(cell, (list, tuple)):
            # list of cut dicts (the /report payload shape,
            # parity: server/blueprint.py:518-523) or Cut objects
            from cubes_spark.query.cells import Cut, cut_from_dict

            cuts = []
            for item in cell:
                if isinstance(item, Cut):
                    cuts.append(item)
                elif isinstance(item, dict):
                    cuts.append(cut_from_dict(item, self.cube))
                else:
                    raise ArgumentError(
                        f"Unknown cut representation: {item!r}"
                    )
            return Cell(self.cube, cuts)
        raise ArgumentError(f"Unknown cell representation: {cell!r}")

    def prepare_aggregates(self, aggregates: Optional[Iterable] = None,
                           measures: Optional[Iterable] = None) -> list:
        """Resolve aggregate names and pull in dependencies of post-calc
        aggregates (parity: query/browser.py:194-254)."""
        if aggregates and measures:
            raise ArgumentError(
                "Only one of aggregates or measures can be specified"
            )
        if measures:
            aggregates = []
            for measure in measures:
                aggregates += [
                    a for a in self.cube.aggregates
                    if a.measure == str(measure)
                ]
            if not aggregates:
                raise ArgumentError("No aggregates for measures found")

        if aggregates:
            prepared = self.cube.get_aggregates(
                [str(a) for a in aggregates]
            )
        else:
            prepared = list(self.cube.aggregates)

        # dependencies of post-calculated aggregates
        seen = {a.name for a in prepared}
        dependencies = []
        for agg in prepared:
            if agg.measure and agg.function in CALCULATED_AGGREGATIONS \
                    and agg.measure not in seen:
                dependencies.append(self.cube.aggregate(agg.measure))
                seen.add(agg.measure)
        return prepared + dependencies

    def prepare_order(self, order: Optional[Iterable],
                      aggregates: Sequence,
                      is_aggregate: bool = True) -> list:
        """Normalize order spec; ordering by a post-calculated aggregate
        redirects to its source measure aggregate
        (parity: query/browser.py:256-295)."""
        result = []
        for item in order or []:
            if isinstance(item, str):
                split = item.split(":")
                attribute_ref, direction = (
                    (split[0], split[1]) if len(split) > 1 else (split[0], None)
                )
            else:
                attribute_ref, direction = item[0], item[1] if len(item) > 1 else None
            attribute_ref = str(attribute_ref)

            if is_aggregate:
                function = None
                try:
                    aggregate = self.cube.aggregate(attribute_ref)
                    function = aggregate.function
                except Exception:
                    aggregate = None
                if function in CALCULATED_AGGREGATIONS and aggregate is not None:
                    # order by source aggregate instead
                    attribute_ref = aggregate.measure or attribute_ref
            result.append((attribute_ref, direction))
        return result

    # ------------------------------------------------------------------
    # aggregation (the reason for our whole existence)
    # ------------------------------------------------------------------

    def _prepare_request(self, cell: Any, aggregates: Optional[Iterable],
                         drilldown: Any, split: Any,
                         measures: Optional[Iterable] = None) -> tuple:
        """``(cell, aggregates, drilldown, split)`` of an ``aggregate`` or
        ``aggregation_dataframe`` request, normalized; ``split`` stays
        None when not given."""
        cell = self.prepare_cell(cell)
        aggregates = self.prepare_aggregates(aggregates, measures)
        if not isinstance(drilldown, Drilldown):
            drilldown = Drilldown(drilldown, cell)
        if split is not None:
            split = self.prepare_cell(split)
        return cell, aggregates, drilldown, split

    def aggregation_context(self, attributes: Iterable) -> QueryContext:
        closure = self.cube.collect_dependencies(
            [str(a) for a in attributes]
        )
        return QueryContext(
            self.star_schema,
            closure,
            hierarchies=self.hierarchies,
        )

    def aggregation_dataframe(
        self,
        cell: Any = None,
        aggregates: Optional[Iterable] = None,
        drilldown: Any = None,
        split: Any = None,
        order: Optional[Iterable] = None,
        page: Optional[int] = None,
        page_size: Optional[int] = None,
        include_keys_only: bool = False,
    ) -> DataFrame:
        """The Spark-native surface: build and return the drilldown
        aggregation as a DataFrame without collecting.

        Columns: drilldown level attribute refs (+ split), then
        aggregate names.  Parity of the plan shape:
        sql/browser.py:504-589 (aggregation_statement).
        """
        cell, aggregates, drilldown, split = self._prepare_request(
            cell, aggregates, drilldown, split)
        df = self._aggregation_plan(
            cell, aggregates, drilldown, split,
            include_keys_only=include_keys_only,
        )

        order = self.prepare_order(order, aggregates)
        return self._finalize_drilldown(
            df, order, drilldown, bool(split), _computed_names(aggregates),
            aggregates, page, page_size,
        )

    def _finalize_drilldown(self, df, order_spec, drilldown, has_split,
                            names, aggregates, page, page_size):
        """The shared tail of every drilldown request: order →
        paginate → null-aggregate drop → window calculators.  ONE
        implementation for both aggregation_dataframe and
        aggregate() — a semantic fix here must not need making twice.
        ``names`` are the aggregate columns of ``df``."""
        cols = self._order_columns(df.columns, order_spec, drilldown,
                                   has_split)
        if cols:
            df = df.orderBy(*cols)
        df = self._paginate_df(df, page, page_size)
        if self.exclude_null_agregates and names:
            # parity: sql/browser.py:454-459,616-618 — the reference drops
            # NULL-aggregate rows client-side while iterating the final
            # (already paginated) drilldown result, never the summary.
            df = df.na.drop(subset=[f"`{n}`" for n in names])

        # post-calculated aggregates as native window functions
        specs = calculators_for_aggregates(self.cube, aggregates)
        if specs:
            # Window order = the result order `cols`: explicit order
            # columns first, then natural order (parity: the reference
            # streams calculators over rows in final result order,
            # query/browser.py:160-174).
            partition = self._calculator_partition(drilldown, has_split)
            df = apply_window_calculators(df, specs, cols, partition)
        return df

    def _aggregation_plan(
        self,
        cell: Cell,
        aggregates: Sequence,
        drilldown: Drilldown,
        split: Optional[Cell],
        include_keys_only: bool = False,
    ) -> DataFrame:
        """Filtered star → groupBy(drilldown) → agg(aggregates): the
        drilldown refs (+ split), then the aggregates that are not
        post-calculated.

        When a registered cuboid covers the request, the plan reads the
        materialized aggregate instead (operators/preagg.py)."""
        if not include_keys_only:
            cuboid_plan = self._try_cuboid_plan(
                cell, aggregates, drilldown, split
            )
            if cuboid_plan is not None:
                return cuboid_plan

        # 1. collect every attribute the query touches
        if include_keys_only:
            dd_attributes = list(drilldown.key_attributes)
        else:
            dd_attributes = list(drilldown.all_attributes)
        attributes = set(a.ref for a in dd_attributes)
        attributes.update(a.ref for a in cell.all_attributes)
        if split:
            attributes.update(a.ref for a in split.all_attributes)
        fact_refs = {a.ref for a in self.cube.all_fact_attributes}
        measure_refs = set()
        for agg in aggregates:
            if agg.function in CALCULATED_AGGREGATIONS:
                continue
            if agg.measure:
                measure_refs.add(agg.measure)
            if agg.expression:
                measure_refs.update(
                    d for d in agg.dependencies if d in fact_refs)
            if not agg.function and not agg.expression:
                # pre-aggregated (base) aggregate: the physical column of
                # the same name must be projected so F.sum over it
                # resolves (reference maps it like any base attribute)
                measure_refs.add(agg.name)
        attributes.update(measure_refs)

        context = self.aggregation_context(attributes)

        # 2. filter the star by the cell BEFORE aggregation (pushdown)
        star = context.filtered_star(cell)

        # 3. projection: every ref the aggregation consumes, aliased to
        #    its logical name (Catalyst prunes the parquet scan to these)
        group_refs = [a.ref for a in dd_attributes]
        projected_refs = list(dict.fromkeys(group_refs))  # preserve order
        if self.options.get("coalesce_measures") and self.cube.key \
                and self.cube.key in context.attributes:
            measure_refs.add(self.cube.key)
        for ref in sorted(measure_refs):
            if ref in context.attributes and ref not in projected_refs:
                projected_refs.append(ref)

        select_cols = [context.column(ref).alias(ref) for ref in projected_refs]
        if split:
            select_cols.append(context.column_for_split(split))
            group_refs = group_refs + [SPLIT_DIMENSION_NAME]

        projected = star.select(*select_cols) if select_cols else star

        # 4. aggregate expressions over the projected (logical) columns
        agg_cols = self._aggregate_columns(aggregates, projected_refs,
                                           dict(projected.dtypes))

        if group_refs:
            grouped = projected.groupBy(*[ref_col(r) for r in group_refs])
            return grouped.agg(*agg_cols) if agg_cols \
                else grouped.count().drop("count")
        return projected.agg(*agg_cols)

    def _aggregate_columns(self, aggregates: Sequence,
                           projected_refs: Sequence[str],
                           dtypes: Optional[Dict[str, str]] = None,
                           ) -> List[Column]:
        """Aggregate model objects → Columns aliased to their names over
        the *projected* logical columns, skipping post-calculated ones
        (parity: sql/expressions.py:123-150 for expression aggregates;
        functions registry for the rest)."""
        columns: List[Column] = []
        coalesce = bool(self.options.get("coalesce_measures"))
        agg_context: Dict[str, Column] = {
            ref: ref_col(ref) for ref in projected_refs
        }
        for agg in aggregates:
            if agg.function in CALCULATED_AGGREGATIONS:
                continue
            if agg.expression:
                compiler = SparkExpressionCompiler(
                    agg_context, functions=_AGG_EXPR_FUNCTIONS
                )
                column = compiler.compile(agg.expression)
            elif agg.function:
                function = get_aggregate_function(agg.function)
                if function.generative:
                    fact_key = None
                    if coalesce and self.cube.key \
                            and self.cube.key in agg_context:
                        fact_key = agg_context[self.cube.key]
                    column = function.apply(
                        None,
                        context={"__fact_key__": fact_key}
                        if fact_key is not None else None,
                        coalesce=coalesce,
                    )
                else:
                    context = None
                    if function.dtype_aware and dtypes:
                        context = {"dtype": dtypes.get(agg.measure)}
                    column = function.apply(ref_col(agg.measure),
                                            context=context,
                                            coalesce=coalesce)
            else:
                # direct (pre-aggregated) measure column
                column = F.sum(ref_col(agg.name))
            columns.append(column.alias(agg.name))
        return columns

    def _calculator_partition(self, drilldown: Drilldown,
                              has_split: bool) -> Optional[List[Column]]:
        """Window partition for post-calculators: split + key columns
        of every drilldown item except the last — the reference's legacy
        ``aggregation_units`` behavior (statutils.py:128-139), so the
        window sort runs per partition instead of moving the whole
        result to one task."""
        cols: List[Column] = []
        if has_split:
            cols.append(ref_col(SPLIT_DIMENSION_NAME))
        for item in list(drilldown)[:-1]:
            cols += [ref_col(level.key.ref) for level in item.levels]
        return cols or None

    def _order_columns(self, available_columns: Sequence[str],
                       order: Sequence, drilldown: Drilldown,
                       has_split: bool) -> List[Column]:
        """Effective result order: explicit order first, then split,
        then natural order for remaining keys
        (parity: sql/utils.py:92-162)."""
        cols: List[Column] = []
        used = set()
        available = set(available_columns)
        for ref, direction in order or []:
            if ref not in available:
                continue
            cols.append(_sort_column(ref, direction))
            used.add(ref)
        if has_split and SPLIT_DIMENSION_NAME not in used:
            cols.append(ref_col(SPLIT_DIMENSION_NAME).desc())
        for attribute, direction in drilldown.natural_order:
            if attribute.ref in used or attribute.ref not in available:
                continue
            cols.append(_sort_column(attribute.ref, direction))
            used.add(attribute.ref)
        return cols

    @staticmethod
    def _paginate_df(df: DataFrame, page: Optional[int],
                     page_size: Optional[int]) -> DataFrame:
        """OFFSET page*page_size LIMIT page_size
        (parity: sql/utils.py:82-89)."""
        if page_size is None:
            return df
        page = page or 0
        if page > 0:
            df = df.offset(page * page_size)
        return df.limit(page_size)

    def aggregate(
        self,
        cell: Any = None,
        aggregates: Optional[Iterable] = None,
        measures: Optional[Iterable] = None,
        drilldown: Any = None,
        split: Any = None,
        order: Optional[Iterable] = None,
        page: Optional[int] = None,
        page_size: Optional[int] = None,
        include_summary: Optional[bool] = None,
        include_cell_count: Optional[bool] = None,
    ) -> AggregationResult:
        """Full aggregation request → AggregationResult
        (parity: query/browser.py:79-174 + sql/browser.py:351-461).

        One Spark action per request, with no exception: a single
        ``collect`` returns the cells, the total cell count and the
        summary (see the module docstring for how), for a page past the
        last cell too.  Nothing is persisted."""
        cell, aggregates, drilldown, split = self._prepare_request(
            cell, aggregates, drilldown, split, measures)
        names = _computed_names(aggregates)

        include_summary = self.include_summary if include_summary is None \
            else include_summary
        include_cell_count = self.include_cell_count if include_cell_count is None \
            else include_cell_count

        # high-cardinality guard (parity: query/browser.py:297-309)
        if drilldown:
            hc_levels = drilldown.high_cardinality_levels(cell)
            if hc_levels and page_size is None:
                names = ", ".join(str(l) for l in hc_levels)
                raise ArgumentError(
                    f"Cannot drilldown on high-cardinality levels ({names}) "
                    "without pagination or further cut"
                )

        result = AggregationResult(
            cell=cell, aggregates=aggregates, drilldown=drilldown,
            has_split=split is not None,
        )

        # summary (parity: sql/browser.py:399-414; gate mirrors the
        # reference's `not (drilldown or split)` at sql/browser.py:420)
        summary = None
        if drilldown or split:
            groups = self._aggregation_plan(
                cell, aggregates, drilldown, split,
            )
            df = groups
            if page_size is None:
                # every cell is collected anyway (and the guard above
                # keeps such results browse-sized): order them in one
                # partition, which spares a global sort's range
                # sampling job and shuffle
                df = df.repartition(1)
            order_spec = self.prepare_order(order, aggregates)
            final = self._finalize_drilldown(
                df, order_spec, drilldown, bool(split), names,
                aggregates, page, page_size,
            )
            if page_size is None and self.safe_record_limit:
                # guard a driver-side OOM on unpaginated large grains
                final = final.limit(self.safe_record_limit)
            result.labels = final.columns

            # the collected rows are all the cells: no page, no record
            # limit, no null-aggregate drop
            complete = page_size is None and not self.safe_record_limit \
                and not self.exclude_null_agregates
            if include_cell_count and not complete:
                final = final.unionByName(
                    groups.agg(F.count(F.lit(1)).alias(_CELL_COUNT)),
                    allowMissingColumns=True)
            if include_summary:
                final = final.unionByName(
                    self._summary_plan(cell, aggregates)
                    .withColumn(_SUMMARY_ROW, F.lit(True)),
                    allowMissingColumns=True)
            cells, total = [], None
            for row in final.collect():
                values = row.asDict()
                count = values.pop(_CELL_COUNT, None)
                is_summary = values.pop(_SUMMARY_ROW, None)
                if count is not None:
                    total = count
                elif is_summary:
                    summary = {n: values[n] for n in names}
                else:
                    cells.append(values)
            result.cells = cells
            if include_cell_count:
                result.total_cell_count = len(cells) if complete else total
        else:
            rows = self._summary_plan(cell, aggregates).collect()
            summary = rows[0].asDict() if rows else {}

        if summary is not None:
            # post-calcs apply to summary as single-value windows
            # (parity: query/browser.py:169-173)
            for aggregate, source_ref, fname, _size in \
                    calculators_for_aggregates(self.cube, aggregates):
                if source_ref in summary:
                    summary[aggregate.name] = calculate_scalar(
                        fname, [summary[source_ref]]
                    )
            result.summary = summary
        return result

    def _summary_plan(self, cell: Cell, aggregates: Sequence) -> DataFrame:
        """The drilldown-free aggregation: one row, the summary."""
        return self._aggregation_plan(
            cell, aggregates, Drilldown(None, cell), None)

    # ------------------------------------------------------------------
    # detail surface
    # ------------------------------------------------------------------

    def denormalized_dataframe(
        self,
        cell: Any = None,
        attributes: Optional[Iterable] = None,
        include_fact_key: bool = False,
    ) -> DataFrame:
        """SELECT chosen attributes from the joined star
        (parity: sql/browser.py:474-502)."""
        cell = self.prepare_cell(cell)
        if attributes:
            attributes = self.cube.get_attributes([str(a) for a in attributes])
        else:
            attributes = self.cube.all_fact_attributes

        refs = [a.ref for a in attributes]
        if include_fact_key and self.cube.key and self.cube.key not in refs:
            refs = [self.cube.key] + refs
        return self._select_in_cell(cell, refs)

    def _select_in_cell(self, cell: Cell, refs: Sequence[str]) -> DataFrame:
        """The star filtered by ``cell`` with ``refs`` selected under
        their logical names."""
        context = self.aggregation_context(
            set(refs) | {a.ref for a in cell.all_attributes})
        return context.filtered_star(cell).select(
            *[context.column(r).alias(r) for r in refs])

    def facts(
        self,
        cell: Any = None,
        fields: Optional[Iterable] = None,
        order: Optional[Iterable] = None,
        page: Optional[int] = None,
        page_size: Optional[int] = None,
        fact_list: Optional[list] = None,
    ) -> DataFrame:
        """Detail fact rows within the cell (parity:
        sql/browser.py:234-265).  Returns a DataFrame; call
        ``.collect()``/``.toLocalIterator()`` to stream rows."""
        cell = self.prepare_cell(cell)
        if fact_list is not None and not self.cube.key:
            raise ArgumentError("Cannot filter fact list: cube has no key")
        include_key = fact_list is not None
        df = self.denormalized_dataframe(cell, fields,
                                         include_fact_key=include_key)
        if fact_list is not None:
            # key filter on the statement, before any projection that may
            # drop the key (parity: sql/browser.py:251-253)
            df = df.filter(ref_col(self.cube.key).isin(fact_list))
            if fields and self.cube.key not in [str(f) for f in fields]:
                df = df.drop(self.cube.key)
        cols = self._explicit_order(df, order)
        if cols:
            df = df.orderBy(*cols)
        return self._paginate_df(df, page, page_size)

    def _explicit_order(self, df: DataFrame,
                        order: Optional[Iterable]) -> List[Column]:
        """Sort columns of ``order`` over the columns ``df`` has
        (``facts`` and ``members``)."""
        cols = []
        for ref, direction in self.prepare_order(order, [],
                                                 is_aggregate=False):
            if ref in df.columns:
                cols.append(_sort_column(ref, direction))
        return cols

    def fact(self, key_value: Any, fields: Optional[Iterable] = None,
             cell: Any = None) -> Optional[dict]:
        """Single fact by key (parity: sql/browser.py:211-232).

        ``cell`` restricts the lookup — the server passes the
        identity's restriction cell so key enumeration cannot read
        rows outside it."""
        if not self.cube.key:
            raise ArgumentError(f"Cube '{self.cube.name}' has no fact key")
        df = self.denormalized_dataframe(cell, fields,
                                         include_fact_key=True)
        rows = df.filter(ref_col(self.cube.key) == key_value) \
            .limit(1).collect()
        return rows[0].asDict() if rows else None

    def members_dataframe(
        self,
        cell: Any = None,
        dimension: Any = None,
        depth: Optional[int] = None,
        level: Any = None,
        hierarchy: Any = None,
        attributes: Optional[Iterable] = None,
    ) -> DataFrame:
        """Distinct dimension members (parity: sql/browser.py:288-312)."""
        cell = self.prepare_cell(cell)
        dimension = self.cube.dimension(dimension)
        hierarchy = dimension.hierarchy(hierarchy)

        if depth is not None and level is not None:
            raise ArgumentError("Both depth and level provided, use only one")
        if level is not None:
            depth = hierarchy.level_index(level) + 1
        if depth is None:
            levels = hierarchy.levels
        else:
            levels = hierarchy.levels_for_depth(depth)

        if attributes:
            attributes = self.cube.get_attributes([str(a) for a in attributes])
        else:
            attributes = [a for lvl in levels for a in lvl.attributes]

        return self._select_in_cell(
            cell, [a.ref for a in attributes]).distinct()

    def members(
        self,
        cell: Any = None,
        dimension: Any = None,
        depth: Optional[int] = None,
        level: Any = None,
        hierarchy: Any = None,
        attributes: Optional[Iterable] = None,
        order: Optional[Iterable] = None,
        page: Optional[int] = None,
        page_size: Optional[int] = None,
    ) -> list:
        """Collected distinct members (parity: query/browser.py:338-375)."""
        df = self.members_dataframe(
            cell, dimension, depth, level, hierarchy, attributes
        )
        cols = self._explicit_order(df, order) \
            or [ref_col(c).asc() for c in df.columns]
        df = df.orderBy(*cols)
        df = self._paginate_df(df, page, page_size)
        return [row.asDict() for row in df.collect()]

    def path_details(self, dimension: Any, path: list,
                     hierarchy: Any = None) -> Optional[dict]:
        """Attribute values for a single dimension path
        (parity: sql/browser.py:314-343)."""
        dimension = self.cube.dimension(dimension)
        hierarchy = dimension.hierarchy(hierarchy)
        cut = PointCut(dimension, path, hierarchy=hierarchy.name)
        cell = Cell(self.cube, [cut])
        attributes = [
            a for lvl in hierarchy.levels_for_path(path) for a in lvl.attributes
        ]
        df = self.members_dataframe(cell, dimension,
                                    depth=len(path), hierarchy=hierarchy.name,
                                    attributes=attributes)
        rows = df.limit(1).collect()
        return rows[0].asDict() if rows else None

    def cell_details(self, cell: Any = None,
                     dimension: Any = None) -> list:
        """Details for all cuts of the cell
        (parity: query/browser.py:525-639)."""
        cell = self.prepare_cell(cell)
        cuts = (
            cell.dimension_cuts(dimension) if dimension is not None
            else cell.cuts
        )
        return [self.cut_details(cut) for cut in cuts]

    def cut_details(self, cut: Any) -> Any:
        from cubes_spark.query.cells import PointCut as _P, RangeCut as _R, SetCut as _S

        dimension = self.cube.dimension(cut.dimension)
        if isinstance(cut, _P):
            return self._path_details_expanded(dimension, cut.path, cut.hierarchy)
        if isinstance(cut, _S):
            return [
                self._path_details_expanded(dimension, path, cut.hierarchy)
                for path in cut.paths
            ]
        if isinstance(cut, _R):
            return {
                "from": self._path_details_expanded(
                    dimension, cut.from_path, cut.hierarchy
                ) if cut.from_path else None,
                "to": self._path_details_expanded(
                    dimension, cut.to_path, cut.hierarchy
                ) if cut.to_path else None,
            }
        raise ArgumentError(f"Unknown cut type {type(cut)}")

    def _path_details_expanded(self, dimension, path, hierarchy):
        details = self.path_details(dimension, path, hierarchy)
        if not details:
            return None
        hierarchy = dimension.hierarchy(hierarchy)
        result = []
        for level in hierarchy.levels_for_path(path):
            item = {a.ref: details.get(a.ref) for a in level.attributes}
            item["_key"] = details.get(level.key.ref)
            item["_label"] = details.get(level.label_attribute.ref)
            result.append(item)
        return result

    # ------------------------------------------------------------------
    # report (parity: query/browser.py:387-523)
    # ------------------------------------------------------------------

    def report(self, cell: Any, report: Dict[str, dict]) -> dict:
        """Batch multiple queries in one call; each query may roll up the
        cell (parity: query/browser.py:387-523)."""
        cell = self.prepare_cell(cell)
        report_result = {}
        for result_name, query in report.items():
            query = dict(query)
            query_type = query.pop("query", None)
            if not query_type:
                raise ArgumentError(
                    f"No query type specified for report query '{result_name}'"
                )

            rollup = query.pop("rollup", None)
            query_cell = cell.rollup(rollup) if rollup else cell

            if query_type == "aggregate":
                result = self.aggregate(query_cell, **query).to_dict()
            elif query_type in ("facts", "fact_list"):
                if query_type == "fact_list":
                    keys = query.pop("fact_list", query.pop("keys", None))
                    query["fact_list"] = keys
                df = self.facts(query_cell, **query)
                result = [row.asDict() for row in df.collect()]
            elif query_type == "fact_detail" or query_type == "fact":
                result = self.fact(query.pop("key"), **query)
            elif query_type in ("members", "values"):
                result = self.members(query_cell, **query)
            elif query_type == "details":
                result = self.cell_details(query_cell, **query)
            elif query_type == "cell":
                details = self.cell_details(query_cell)
                cell_dict = query_cell.to_dict()
                for cut, detail in zip(cell_dict["cuts"], details):
                    cut["details"] = detail
                result = cell_dict
            else:
                raise ArgumentError(
                    f"Unknown report query '{query_type}' "
                    f"for '{result_name}'"
                )
            report_result[result_name] = result
        return report_result
