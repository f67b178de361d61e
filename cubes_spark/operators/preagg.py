"""Pre-aggregated cuboids: the one module that writes, merges and
reads a batch cuboid.  The reference can only *materialize* the
full-grain cuboid (``create_cube_aggregate``, cubes/sql/store.py:
549-628); here a :class:`Cuboid` has one lifecycle:

* **materialize** — :meth:`Cuboid.materialize` writes the aggregate at
  a drilldown's grain (optionally a cell's slice of it) and returns
  the descriptor (``olap.materialize_aggregate`` is its parity entry).
  Every write of this module overwrites what was at its path, so a
  descriptor always describes exactly the files it names;
* **register** — ``browser.add_cuboid``: an aggregation whose grain,
  cell and aggregates a cuboid covers is rewritten by
  :meth:`Cuboid.plan` to scan the smallest such cuboid, not the star.
  A cuboid materialized over a cell's slice records the cell's cuts
  and serves only requests with a cut ``within`` each of them
  (:meth:`~cubes_spark.query.cells.Cut.within`);
* **refresh** — :meth:`Cuboid.refresh` merges the aggregate of a
  delta slice of new facts (``olap.refresh_aggregate`` is its entry);
* **read** — every read of a cuboid table (:meth:`Cuboid.load`, a
  companion table, the refresh's merge input, the row count) takes the
  DataFrame this module built over the files it last wrote at that
  path in that Spark session, with the schema it wrote: no file
  listing and no schema-inference job.  A path this process has not
  written, another session, or a write that raised, lists the files
  and infers the schema again (:func:`_read`).

Format: one parquet with a column per grain attribute ref (dots stored
as ``__``, :func:`safe_columns`), per stored aggregate and per hidden
partial; one ``{path}__distinct__{name}`` parquet of distinct
``(grain..., __key__)`` per exact ``count_distinct``.  A day-grain
cuboid of a 100 TB fact is typically 4-6 orders of magnitude smaller.

Rewrite rules (correctness first — anything not provably equivalent
falls back to the fact star):

* requested drilldown attributes and cell attributes must all exist in
  the cuboid grain;
* if the requested grain EQUALS the cuboid grain, any stored aggregate
  is served as-is (cell filters only remove whole groups);
* if the requested grain is COARSER, distributive aggregates
  re-aggregate: sum→sum, count→sum, count_nonempty→sum, min→min,
  max→max;
* ALGEBRAIC ``avg``/``variance``/``stddev`` re-aggregate exactly only
  where the direct path computes them from exact decimal sums — the
  one rule :func:`~cubes_spark.functions.aggregates.exact_from_sums`
  (avg of a decimal; variance/stddev of a decimal with scale ≤ 6).
  Elsewhere the direct computation is itself order-dependent floating
  point, no partial set can reproduce it, and the request falls back
  to the fact star.
* ``avg`` re-aggregates from stored partials when the cuboid also
  stores a ``sum`` and a ``count_nonempty`` of the SAME measure:
  ``sum(sums)/sum(counts)`` is then bit-identical to the engine's
  decimal-exact direct avg (functions/aggregates.py ``_exact_avg``).
* ``variance``/``stddev`` (and ``avg``) re-aggregate from partials
  RECORDED AT MATERIALIZATION: for each such aggregate the rule
  passes, :meth:`Cuboid.materialize` additionally stores hidden
  (sum, count[, sum-of-squares]) partial columns in the same single
  aggregation pass and records them on the descriptor.  Variance is
  then served at ANY coarser grain as
  ``(Σs2 − (Σs1)²/Σn)/(Σn − 1)`` — the same formula over the same
  exact decimal sums as the direct path
  (functions/aggregates.py ``variance_from_sums``), hence
  bit-identical.
* EXACT ``count_distinct`` at coarser grains is served from a
  COMPANION DISTINCT-KEY TABLE written at materialization (the
  distinct ``(grain..., key)`` set — the only state from which a
  distinct count re-aggregates exactly, by set union).  The companion
  is ≤ the deduplicated key volume, far below the fact table; the
  rewrite joins its coarser-grain count into the main cuboid result.
  At the cuboid's own grain a stored column wins; a ``count_distinct``
  that only its companion holds is counted from the companion there
  too.
  Approximate alternatives live in :class:`HLLCuboid` and are
  deliberately NOT part of this transparent (exactness-preserving)
  rewrite.
"""

from __future__ import annotations

from typing import Any, List, Optional, Sequence

from pyspark.sql import functions as F

from cubes_spark.functions.aggregates import exact_from_sums
from cubes_spark.plans.mapper import ref_col, safe_name

__all__ = ["Cuboid", "StreamAggregateCuboid", "HLLCuboid",
           "REAGGREGABLE", "safe_columns",
           "cuboid_sizes",
           "greedy_cuboid_selection", "advise_cuboids",
           "auto_materialize", "auto_maintain"]

#: aggregate function → re-aggregation over partial states
REAGGREGABLE = {
    "sum": F.sum,
    "count": F.sum,
    "count_nonempty": F.sum,
    "min": F.min,
    "max": F.max,
}


def safe_columns(df: Any) -> Any:
    """``df`` with every column renamed to its safe name
    (:func:`~cubes_spark.plans.mapper.safe_name`)."""
    return df.select(*[ref_col(c).alias(safe_name(c)) for c in df.columns])


#: path → DataFrame over the files this module last wrote there, read
#: with the schema it wrote (building it lists the files, runs no job)
_written: dict = {}


def _write(df: Any, path: str) -> None:
    """Write ``df`` as the parquet at ``path``, replacing what was there,
    and hold a DataFrame over the written files for :func:`_read`.  A
    write that raises holds nothing."""
    _written.pop(path, None)
    df.write.mode("overwrite").parquet(path)
    _written[path] = df.sparkSession.read.schema(df.schema).parquet(path)


def _read(spark: Any, path: str) -> Any:
    """The parquet at ``path``: the DataFrame :func:`_write` holds when
    ``spark`` wrote it, else a fresh read (a listing and a
    schema-inference job)."""
    df = _written.get(path)
    if df is not None and df.sparkSession is spark:
        return df
    return spark.read.parquet(path)


def _extended(cut: Any, delta: Any, levels: dict, dtypes: dict) -> Any:
    """``cut`` grown by ``delta`` when ``delta`` starts one member after
    ``cut``'s upper end, on a level stored as an integer column (no
    member lies between the two); else ``cut``."""
    from cubes_spark.query.cells import RangeCut

    outer, inner = cut.bounds(), delta.bounds()
    if not (outer and inner) or cut.hierarchy_key != delta.hierarchy_key \
            or not outer[1] or not inner[0]:
        return cut
    (lower, upper), start = outer, inner[0]
    level = levels.get(cut.hierarchy_key, [])[len(start) - 1:len(start)]
    try:
        adjacent = len(start) == len(upper) \
            and list(map(str, start[:-1])) == list(map(str, upper[:-1])) \
            and int(start[-1]) == int(upper[-1]) + 1
    except (TypeError, ValueError):
        adjacent = False
    if not adjacent or not level or dtypes.get(safe_name(level[0])) \
            not in ("tinyint", "smallint", "int", "bigint"):
        return cut
    return RangeCut(cut.dimension, lower, inner[1], cut.hierarchy)


class _Ref:
    """A grain attribute of a cuboid as a base attribute: what a
    ``QueryContext`` reads of an attribute and a plan reads of a
    drilldown attribute."""

    is_base = True
    expression = None
    function = None

    def __init__(self, ref: str) -> None:
        self.ref = ref


class Cuboid:
    """Descriptor of a materialized aggregate at a fixed grain.

    ``column_dtypes`` (stored column name → Spark dtype string, as
    recorded at materialization) gates the avg derived from stored
    model sums (:meth:`partials_for`): it fires only when the stored
    sum passes :func:`~cubes_spark.functions.aggregates.exact_from_sums`,
    the condition under which re-aggregated partials are bit-identical
    to the direct computation.  Without it (hand-built descriptors) avg
    conservatively falls back to the fact star.

    ``cuts`` are the cuts of the cell a sliced cuboid was materialized
    over: its files hold only that slice's facts, so :meth:`plan`
    serves only requests with a cut ``within`` each of them."""

    def __init__(self, path: str, attribute_refs: Sequence[str],
                 aggregates: Sequence[Any],
                 column_dtypes: Optional[dict] = None,
                 rows: Optional[int] = None,
                 partials: Optional[dict] = None,
                 distinct_tables: Optional[dict] = None,
                 cuts: Optional[Sequence[Any]] = None) -> None:
        self.path = path
        self.attribute_refs = list(attribute_refs)
        self.aggregates = {a.name: a for a in aggregates}
        self.column_dtypes = dict(column_dtypes or {})
        #: row count recorded at materialization (parquet metadata
        #: count — no data scan); lets the browser prefer the SMALLEST
        #: covering cuboid when several match
        self.rows = rows
        #: aggregate name → ("avg", sum, count) |
        #: ("variance"|"stddev", sum, count, sumsq) partial column
        #: names recorded (and exactness-gated) at materialization
        self.partials = dict(partials or {})
        #: count_distinct aggregate name → companion parquet path of
        #: the DISTINCT (grain..., __key__) table written at
        #: materialization — serves the aggregate EXACTLY at any
        #: coarser grain (distinct-set union), where per-grain exact
        #: counts cannot re-aggregate
        self.distinct_tables = dict(distinct_tables or {})
        self.cuts = list(cuts or [])

    def partials_for(self, aggregate: Any) -> Optional[tuple]:
        """Stored-partial recipe serving ``aggregate`` exactly at ANY
        coarser grain: ``("avg", sum_name, count_name)`` or
        ``("variance"|"stddev", sum_name, count_name, sumsq_name)``,
        else None.  Materialization-recorded partials (already
        exactness-gated at build time) win; an avg can also be derived
        from model-stored sum + count_nonempty aggregates of the same
        measure when their stored sum passes ``exact_from_sums`` (a
        decimal sum keeps its measure's scale)."""
        recorded = self.partials.get(getattr(aggregate, "name", None))
        if recorded is not None:
            return tuple(recorded)
        if getattr(aggregate, "function", None) != "avg" \
                or not getattr(aggregate, "measure", None):
            return None
        sum_name = count_name = None
        for stored in self.aggregates.values():
            if stored.measure != aggregate.measure:
                continue
            if stored.function == "sum":
                sum_name = stored.name
            elif stored.function == "count_nonempty":
                count_name = stored.name
        if not sum_name or not count_name or not exact_from_sums(
                "avg", self.column_dtypes.get(sum_name)):
            return None
        return "avg", sum_name, count_name

    @classmethod
    def materialize(cls, browser: Any, path: str, drilldown: Any,
                    aggregates: Optional[Sequence[str]] = None,
                    cell: Any = None) -> "Cuboid":
        """Write the cuboid parquet (logical refs stored with ``__`` for
        dots), replacing any files at ``path``, and return its
        descriptor.  ``cell`` restricts the materialized slice — the
        starting point of incremental maintenance (:meth:`refresh`) —
        and is recorded on the descriptor (``cuts``).  Post-aggregate
        calculators are not stored: no grain change can re-aggregate
        them.

        An avg/variance/stddev that
        :func:`~cubes_spark.functions.aggregates.exact_from_sums` passes
        for its measure's dtype gets hidden ``(sum, count[,
        sum-of-squares])`` partial columns, computed IN THE SAME
        aggregation pass and recorded on the descriptor
        (``self.partials``) — that is what lets the rewriter serve those
        algebraic aggregates at coarser grains.  The others get none:
        their direct computation is order-dependent floating point, so
        no coarse-grain reconstruction could match it bit-for-bit."""
        from cubes_spark.functions.calculators import (
            CALCULATED_AGGREGATIONS,
        )
        from cubes_spark.metadata.attributes import MeasureAggregate
        from cubes_spark.query.drilldown import Drilldown

        cell = browser.prepare_cell(cell)
        dd = Drilldown(drilldown, cell)
        prepared = [
            a for a in browser.prepare_aggregates(aggregates)
            if a.function not in CALCULATED_AGGREGATIONS
        ]

        # -- partials: one (sum, count[, sumsq]) set per measure with an
        # exact algebraic aggregate, reusing model-stored sum/count
        # aggregates of the same measure when already in the list
        algebraic = [a for a in prepared
                     if a.function in ("avg", "variance", "stddev")
                     and a.measure]
        measures = sorted({a.measure for a in algebraic})
        context = browser.aggregation_context(measures)
        measure_dtypes = dict(context.star.select(
            *[context.column(m).alias(m) for m in measures]).dtypes)
        sums = {a.measure: a.name for a in prepared
                if a.function == "sum" and a.measure}
        counts = {a.measure: a.name for a in prepared
                  if a.function == "count_nonempty" and a.measure}
        sumsqs: dict = {}
        synthetic: List[Any] = []

        def partial(known: dict, m: str, name: str, **spec: Any) -> str:
            if m not in known:
                synthetic.append(MeasureAggregate(name=name, **spec))
                known[m] = name
            return known[m]

        partials: dict = {}
        for a in algebraic:
            m = a.measure
            if not exact_from_sums(a.function, measure_dtypes[m]):
                continue
            s = partial(sums, m, f"__psum__{m}", function="sum", measure=m)
            c = partial(counts, m, f"__pcount__{m}",
                        function="count_nonempty", measure=m)
            if a.function == "avg":
                partials[a.name] = ("avg", s, c)
            else:
                # squared at native decimal precision — the exact
                # expression the direct path sums (_exact_var)
                q = partial(sumsqs, m, f"__psumsq__{m}",
                            expression=f"sum({m} * {m})")
                partials[a.name] = (a.function, s, c, q)

        df = browser._aggregation_plan(
            cell, prepared + synthetic, dd, None)
        safe = safe_columns(df)
        _write(safe, path)
        refs = [a.ref for a in dd.all_attributes]
        spark = df.sparkSession

        # -- companion DISTINCT tables for count_distinct aggregates:
        # the distinct (grain, key) set is the only state from which a
        # count_distinct re-aggregates EXACTLY at coarser grains
        # (distinct-set union); one extra star pass per measure, the
        # table is <= the deduplicated key volume — far below facts
        distinct_tables: dict = {}
        cell_refs = {a.ref for a in cell.all_attributes}
        for a in prepared:
            if a.function != "count_distinct" or not a.measure:
                continue
            sub = f"{path}__distinct__{a.name}"
            context = browser.aggregation_context(
                set(refs) | {a.measure} | cell_refs)
            proj = context.filtered_star(cell).select(
                *[context.column(r).alias(safe_name(r)) for r in refs],
                context.column(a.measure).alias("__key__"))
            _write(proj.distinct(), sub)
            distinct_tables[a.name] = sub

        # metadata-only count over the written files (row-group stats)
        rows = _read(spark, path).count()
        written = dict(safe.dtypes)
        return cls(path, refs, prepared,
                   column_dtypes={a.name: written[safe_name(a.name)]
                                  for a in prepared + synthetic
                                  if safe_name(a.name) in written},
                   rows=rows, partials=partials,
                   distinct_tables=distinct_tables, cuts=cell.cuts)

    def refresh(self, browser: Any, delta_cell: Any = None) -> None:
        """INCREMENTAL maintenance: aggregate only the ``delta_cell``
        slice of the facts and merge it into the stored partials — the
        nightly refresh touches one partition, never the history.

        Merge = union + one groupBy, so only distributive aggregates
        (:data:`REAGGREGABLE`) merge; anything else raises.  The merge
        is checkpointed off the source files before it overwrites
        ``self.path``.  The delta must be DISJOINT from what the cuboid
        covers (overlapping rows double-count); ``rows`` keeps its
        materialization-time value.  A delta that starts one member
        after a one-cut slice's upper end extends the slice
        (:func:`_extended`); any other delta leaves it as it was, which
        serves less than the cuboid holds but never more."""
        from types import SimpleNamespace

        from cubes_spark.errors import ArgumentError

        merge_fns = {}
        for name, agg in self.aggregates.items():
            # a function-LESS aggregate (expression / pre-computed) must
            # raise too: silently skipping it would leave its value
            # column in the merge grain, so existing and delta rows with
            # the same logical grain never merge — duplicate-grain rows
            # that double-count downstream
            if agg.function not in REAGGREGABLE:
                raise ArgumentError(
                    f"Aggregate '{name}' ({agg.function or 'no function'}) "
                    "is not distributive — cannot be incrementally "
                    "merged; materialize sum/count partials instead"
                )
            merge_fns[name] = REAGGREGABLE[agg.function]

        # the delta is aggregated from the fact star (a registered
        # cuboid — this one, say — has no rows for the new slice yet)
        # by the writer's plan at the stored grain, which is all a plan
        # reads of its drilldown
        grain = SimpleNamespace(
            all_attributes=[_Ref(r) for r in self.attribute_refs])
        cell = browser.prepare_cell(delta_cell)
        delta = browser._fact_only()._aggregation_plan(
            cell, list(self.aggregates.values()), grain, None)
        existing = _read(delta.sparkSession, self.path)
        keys = [c for c in existing.columns if c not in merge_fns]
        merged = (
            existing.unionByName(
                safe_columns(delta).select(*existing.columns))
            .groupBy(*[ref_col(c) for c in keys])
            .agg(*[fn(ref_col(name)).alias(name)
                   for name, fn in merge_fns.items()])
            .select(*existing.columns)
            .localCheckpoint(eager=True)
        )
        _write(merged, self.path)
        if len(self.cuts) == len(cell.cuts) == 1:
            self.cuts = [_extended(self.cuts[0], cell.cuts[0],
                                   browser.hierarchies, dict(merged.dtypes))]

    def plan(self, browser: Any, cell: Any, aggregates: Sequence[Any],
             drilldown: Any) -> Optional[Any]:
        """The browser's aggregation rewritten against this cuboid: a
        DataFrame of the drilldown refs and the aggregates that are not
        post-calculated, or None when the cuboid does not cover the
        request — also when it holds a slice (``cuts``) that does not
        hold the request's cell."""
        from cubes_spark.functions.aggregates import variance_from_sums
        from cubes_spark.functions.calculators import (
            CALCULATED_AGGREGATIONS,
        )

        # a sliced cuboid holds only its slice's facts: each cut of the
        # slice must hold a cut of the request
        if not all(any(c.within(s) for c in cell.cuts) for s in self.cuts):
            return None
        storable = [
            a for a in aggregates
            if a.function not in CALCULATED_AGGREGATIONS
        ]
        dd_refs = [a.ref for a in drilldown.all_attributes]
        touched = set(dd_refs) | {a.ref for a in cell.all_attributes}

        # coalesce_measures changes avg semantics (NULL measures count
        # after coalescing to 0), so sum/count_nonempty partials no
        # longer reconstruct it — disable that rewrite path
        recipes = self._recipes(
            touched, storable, dd_refs,
            allow_partials=not browser.options.get("coalesce_measures"))
        if recipes is None:
            return None

        raw = self.load(browser.star_schema.fact_df.sparkSession)
        context, df = self._filtered(browser, raw, cell)

        companions = {n: r[1] for n, r in recipes.items()
                      if r[0] == "distinct"}
        main = {n: r for n, r in recipes.items() if n not in companions}
        needed = [n for n, r in main.items() if r[0] == "stored"]
        for kind, *names in main.values():
            if kind != "stored":
                needed += [n for n in names if n not in needed]
        projected = df.select(
            *[context.column(ref).alias(ref) for ref in dd_refs],
            *[ref_col(n) for n in needed])
        main_cols = []
        for name, (kind, *args) in main.items():
            if kind == "stored":
                expr = args[0](ref_col(name))
            elif kind == "avg":
                s_name, c_name = args
                expr = (F.sum(ref_col(s_name)).cast("double")
                        / F.sum(ref_col(c_name)).cast("double"))
            else:
                # variance/stddev from merged (sum, count, sum²)
                # partials — same formula over the same exact decimal
                # sums as the direct path, hence bit-identical
                # (functions/aggregates.py)
                s_name, c_name, q_name = args
                var = variance_from_sums(
                    F.sum(ref_col(c_name)),
                    F.sum(ref_col(s_name)).cast("double"),
                    F.sum(ref_col(q_name)).cast("double"),
                )
                expr = var if kind == "variance" else F.sqrt(var)
            main_cols.append(expr.alias(name))
        if dd_refs:
            grouped = projected.groupBy(*[ref_col(r) for r in dd_refs])
            out = grouped.agg(*main_cols) if main_cols \
                else grouped.count().drop("count")
        else:
            # dummy aggregate keeps the frame well-formed when every
            # requested aggregate is companion-served; dropped after
            # the joins below
            out = projected.agg(*main_cols) if main_cols \
                else projected.agg(F.lit(1).alias("__base__"))
        for name, sub in companions.items():
            d_ctx, d_df = self._filtered(
                browser, _read(raw.sparkSession, sub), cell)
            d_proj = d_df.select(
                *[d_ctx.column(ref).alias(ref) for ref in dd_refs],
                ref_col("__key__"))
            d_expr = F.count_distinct(ref_col("__key__")).alias(name)
            if dd_refs:
                d_out = d_proj.groupBy(
                    *[ref_col(r) for r in dd_refs]).agg(d_expr)
                out = out.join(d_out, list(dd_refs), "left")
            else:
                out = out.crossJoin(d_proj.agg(d_expr))
            # a group whose companion slice is empty has zero distinct
            # keys — count_distinct semantics, not NULL
            out = out.withColumn(
                name, F.coalesce(ref_col(name), F.lit(0).cast("long")))
        if companions:
            out = out.select(*[ref_col(r) for r in dd_refs],
                             *[ref_col(n) for n in recipes])
        return out

    def _filtered(self, browser: Any, raw: Any, cell: Any) -> tuple:
        """``(context, df)``: a query context over ``raw`` — a table at
        this cuboid's grain with safe column names — and ``raw``
        filtered by ``cell``."""
        from cubes_spark.plans.star import (
            ColumnRef, QueryContext, StarSchema,
        )

        mappings = {
            ref: ColumnRef(None, "cuboid", safe_name(ref), None, None, None)
            for ref in self.attribute_refs
        }
        star = StarSchema("cuboid", "cuboid", raw, mappings=mappings)
        context = QueryContext(
            star, [_Ref(r) for r in self.attribute_refs],
            hierarchies=browser.hierarchies)
        return context, context.filtered_star(cell)

    def _recipes(self, attribute_refs: Sequence[str],
                 aggregates: Sequence[Any],
                 requested_grain_refs: Sequence[str],
                 allow_partials: bool) -> Optional[dict]:
        """Aggregate name → how this cuboid serves it (the one serving
        decision, taken by :meth:`plan`), or None when some touched ref
        is not in the grain or some aggregate has no recipe.

        ``allow_partials=False`` serves stored columns only, neither
        partials nor companion tables (:meth:`plan` passes it under
        ``coalesce_measures``, where avg ≠ sum/count_nonempty).

        A recipe is ``("stored", fn)`` — the stored column through
        ``F.first`` at the cuboid's own grain, through its
        :data:`REAGGREGABLE` function above it; ``("distinct", path)``
        — the companion distinct-key table, at any grain; or a
        :meth:`partials_for` recipe."""
        if not set(attribute_refs) <= set(self.attribute_refs):
            return None
        exact = set(requested_grain_refs) == set(self.attribute_refs)
        recipes: dict = {}
        for agg in aggregates:
            stored = agg.name in self.aggregates
            if stored and exact:
                # one cuboid row per output group — any stored
                # aggregate passes through
                recipe = ("stored", F.first)
            elif stored and agg.function in REAGGREGABLE:
                recipe = ("stored", REAGGREGABLE[agg.function])
            elif not allow_partials:
                return None
            elif agg.function == "count_distinct" \
                    and agg.name in self.distinct_tables:
                recipe = ("distinct", self.distinct_tables[agg.name])
            else:
                recipe = self.partials_for(agg)
                if recipe is None:
                    return None
            recipes[agg.name] = recipe
        return recipes

    def load(self, spark: Any):
        """The cuboid table with SAFE column names (no dots)."""
        return _read(spark, self.path)


class StreamAggregateCuboid(Cuboid):
    """A browser-servable cuboid over a STREAM-MAINTAINED partial log
    (streaming/stream.py ``maintain_aggregate``): the r13 seam closed —
    the same rewriter that serves batch-materialized parquet cuboids
    now serves a cuboid a stream keeps fresh, transparently.

    ``load()`` is the merge-on-read of ``read_aggregate``: one scan of
    the (tiny) per-batch partial log, re-aggregated to the cuboid
    grain and renamed to the browser's safe column names — after which
    every inherited rewrite rule applies unchanged (coarser-grain
    distributive rollup, smallest-covering pick, and the algebraic
    avg-from-partials path, since ``maintain_aggregate`` partials are
    distributive by construction and decimal sums stay decimal through
    the merge).  Each ``load()`` re-lists the log, so batches appended
    AFTER registration are visible to the next query; ``rows`` (the
    smallest-cuboid preference key) is the registration-time grain
    count.

    Scale: the browser-facing cost is O(partial log) = O(batches ×
    grain), never O(stream); ``compact_aggregate`` folds the log back
    to O(grain) as batches accumulate.
    """

    def __init__(self, path: str, attribute_refs: Sequence[str],
                 grain_cols: Sequence[str], aggregates: Sequence[Any],
                 aggs: dict, column_dtypes: Optional[dict] = None,
                 rows: Optional[int] = None) -> None:
        super().__init__(path, attribute_refs, aggregates,
                         column_dtypes=column_dtypes, rows=rows)
        self.grain_cols = list(grain_cols)
        self.aggs = dict(aggs)

    @classmethod
    def from_log(cls, browser: Any, path: str, aggs: dict,
                 column_map: dict) -> "StreamAggregateCuboid":
        """Descriptor over an existing ``maintain_aggregate`` log.

        ``aggs`` is the maintenance spec (output name → ``(function,
        column)``); each name must be a cube aggregate whose model
        function matches the maintained one — that is what guarantees
        the stored partial means what the browser will serve.
        ``column_map`` maps each logical attribute ref of the cuboid
        grain to its column name in the log.
        """
        from cubes_spark.errors import ArgumentError
        from cubes_spark.streaming.stream import read_aggregate

        refs = list(column_map)
        grain_cols = [column_map[r] for r in refs]
        prepared = browser.prepare_aggregates(list(aggs))
        by_name = {a.name: a for a in prepared}
        for name, (fn, _col) in aggs.items():
            model_fn = getattr(by_name.get(name), "function", None)
            if model_fn != fn:
                raise ArgumentError(
                    f"Maintained aggregate '{name}' is '{fn}' but the "
                    f"cube model declares '{model_fn}' — the stored "
                    "partial would not mean what the browser serves")
        spark = browser.star_schema.fact_df.sparkSession
        merged = read_aggregate(spark, path, aggs)
        missing = [c for c in grain_cols if c not in merged.columns]
        if missing:
            raise ArgumentError(
                f"Grain column(s) {missing} not in the partial log at "
                f"{path} (log grain: "
                f"{[c for c in merged.columns if c not in aggs]})")
        dtypes = dict(merged.dtypes)
        return cls(path, refs, grain_cols,
                   [by_name[n] for n in aggs],
                   aggs,
                   column_dtypes={n: dtypes[n] for n in aggs
                                  if n in dtypes},
                   rows=merged.count())

    def load(self, spark: Any):
        """Merge-on-read of the partial log, renamed to safe columns."""
        from cubes_spark.streaming.stream import read_aggregate

        df = read_aggregate(spark, self.path, self.aggs)
        cols = [ref_col(c).alias(safe_name(ref))
                for ref, c in zip(self.attribute_refs, self.grain_cols)]
        cols += [ref_col(n) for n in self.aggs]
        return df.select(*cols)


class HLLCuboid:
    """Materialized DISTINCT-COUNT sketch cuboid: HyperLogLog
    registers stored at a fixed grain, servable at ANY coarser grain
    without rescanning the fact star — the classic Druid/BigQuery
    materialized-sketch capability the exact cuboids cannot provide
    (count_distinct is not re-aggregable from per-grain exact counts).

    Registers are LOSSLESSLY max-mergeable: max-merging the stored
    per-grain registers to a coarser grain yields register-for-
    register the same state as sketching the raw rows at that grain,
    so the served estimate is BIT-IDENTICAL to a direct
    ``hll_registers``+``hll_estimate`` over the facts (both are pure
    integer arithmetic — functions/sketches.py).  This is an APPROX
    estimate by contract; it is deliberately NOT wired into the
    browser's transparent rewrite, which must never change the
    semantics of an exact ``count_distinct``.

    Storage: ``(grain..., bucket, register)`` long-format parquet —
    grain × m rows (a 100 TB fact's day-grain sketch cuboid is a few
    MB).  Rollup cost is one map-side-combinable max-groupBy over
    that table; the fact is never touched.
    """

    def __init__(self, path: str, attribute_refs: Sequence[str],
                 measure: str, m: int = 256, rank_bits: int = 40,
                 salt: str = "hll") -> None:
        self.path = path
        self.attribute_refs = list(attribute_refs)
        self.measure = measure
        self.m = m
        self.rank_bits = rank_bits
        self.salt = salt

    @classmethod
    def materialize(cls, browser: Any, path: str, drilldown: Any,
                    measure: str, m: int = 256, rank_bits: int = 40,
                    salt: str = "hll") -> "HLLCuboid":
        """ONE sketch pass over the fact star: project the grain
        attributes + measure, build per-(grain, bucket) max-rank
        registers (map-side combinable), write the register table."""
        from cubes_spark.functions.sketches import hll_registers
        from cubes_spark.query.drilldown import Drilldown

        dd = Drilldown(drilldown, browser.prepare_cell(None))
        refs = [a.ref for a in dd.all_attributes]
        context = browser.aggregation_context(set(refs) | {measure})
        projected = context.star.select(
            *[context.column(r).alias(safe_name(r)) for r in refs],
            context.column(measure).alias("__m__"))
        regs = hll_registers(projected, "__m__",
                             group_cols=[safe_name(r) for r in refs],
                             m=m, rank_bits=rank_bits, salt=salt)
        _write(regs, path)
        return cls(path, refs, measure, m=m, rank_bits=rank_bits,
                   salt=salt)

    def registers(self, spark: Any,
                  keep_refs: Sequence[str]):
        """Registers max-merged to the coarser ``keep_refs`` grain —
        identical to sketching the raw facts at that grain."""
        from cubes_spark.errors import ArgumentError

        if not set(keep_refs) <= set(self.attribute_refs):
            raise ArgumentError(
                f"HLL cuboid at grain {self.attribute_refs} cannot "
                f"serve {list(keep_refs)}")
        keep = [safe_name(r) for r in keep_refs]
        df = _read(spark, self.path)
        return (df.groupBy(*keep, "bucket")
                .agg(F.max("register").cast("int").alias("register")))

    def rollup(self, spark: Any, keep_refs: Sequence[str]):
        """Distinct-count estimate at any coarser grain:
        ``(keep_refs..., hll_est)`` — one scan of the register table,
        integer-exact estimate (oracle-replayable)."""
        from cubes_spark.functions.sketches import hll_estimate

        return hll_estimate(
            self.registers(spark, keep_refs),
            group_cols=[safe_name(r) for r in keep_refs],
            m=self.m, rank_bits=self.rank_bits)


def cuboid_sizes(df: Any, dims: Sequence[str]) -> Any:
    """Exact row counts of ALL ``2^d`` cuboids of ``dims`` in ONE
    aggregation pass: ``(grouping_id, n_dims, size)`` where
    ``grouping_id`` bit ``i`` (from the LEFT, Spark/ANSI convention)
    is 1 when ``dims[i]`` is rolled away.

    The trick: ``cube(dims).count()`` emits each cuboid's groups as
    rows tagged by GROUPING_ID, so the size of every cuboid is a
    second tiny count over the cube result — one shuffle, map-side
    combinable, no per-cuboid jobs.  Map-side the cube multiplies
    each input row ×2^d, so keep ``d`` small (≤ ~8) or pre-aggregate
    to the base grain first; at very high d, estimate with
    :func:`~cubes_spark.functions.sketches.hll_registers` per cuboid
    instead.
    """
    dims = list(dims)
    cube = (
        df.cube(*dims)
        .agg(F.grouping_id(*dims).alias("grouping_id"))
        .select("grouping_id")
    )
    return (
        cube.groupBy("grouping_id")
        .agg(F.count(F.lit(1)).cast("long").alias("size"))
        .select(
            "grouping_id",
            (F.lit(len(dims))
             - F.bit_count(F.col("grouping_id")).cast("int"))
            .alias("n_dims"),
            "size")
    )


def greedy_cuboid_selection(sizes: dict, n_picks: int,
                            n_dims: int) -> list:
    """Greedy materialized-view selection (Harinarayan, Rajaraman &
    Ullman, SIGMOD 1996): given exact (or estimated) cuboid sizes —
    ``{grouping_id: rows}`` over the ``2^n_dims`` lattice — pick the
    ``n_picks`` cuboids (beyond the base) whose materialization
    maximizes the total row-scan saving, assuming every cuboid is
    queried equally often.

    Benefit of candidate ``c`` given the selected set ``S``: for each
    cuboid ``d`` answerable from ``c`` (``d``'s kept-dims ⊆ ``c``'s),
    the saving is ``cost_S(d) − size(c)`` when positive, where
    ``cost_S(d)`` is the smallest selected ancestor's size.  The HRU
    theorem guarantees ≥ (1−1/e) of the optimal saving.  Pure driver
    arithmetic over ``2^d`` numbers — the expensive part is
    :func:`cuboid_sizes`, one distributed pass.

    Returns the picked grouping_ids in pick order.  Deterministic
    tie-break: (benefit desc, size asc, grouping_id asc).
    """
    base = 0  # all dims kept
    selected = {base}
    picks = []
    ids = sorted(sizes)

    def answerable(d: int, c: int) -> bool:
        # d's kept-dims subset of c's kept-dims: c's rolled-away bits
        # must all be rolled away in d too
        return (d & c) == c

    def cost(d: int) -> int:
        return min(sizes[a] for a in selected if answerable(d, a))

    for _ in range(n_picks):
        best = None
        for c in ids:
            if c in selected:
                continue
            benefit = sum(
                max(cost(d) - sizes[c], 0)
                for d in ids if answerable(d, c))
            key = (-benefit, sizes[c], c)
            if best is None or key < best[0]:
                best = (key, c)
        if best is None or -best[0][0] <= 0:
            break
        selected.add(best[1])
        picks.append(best[1])
    return picks


def advise_cuboids(browser: Any, drilldowns: Sequence[str],
                   aggregates: Optional[Sequence[str]] = None,
                   n_picks: int = 2) -> list:
    """The ADVISOR half of :func:`auto_materialize`: size the full
    cuboid lattice over ``drilldowns`` in ONE pass
    (:func:`cuboid_sizes`) and greedy-pick the ``n_picks`` most
    valuable cuboids under the HRU benefit model
    (:func:`greedy_cuboid_selection`).

    Returns ``[(grouping_id, kept_drilldowns), ...]`` in pick order,
    grand-total pick excluded — ready for batch materialization
    (:func:`auto_materialize`) or streaming maintenance
    (:func:`auto_maintain`).
    """
    from cubes_spark.query.drilldown import Drilldown

    dims = list(drilldowns)
    dd = Drilldown(dims, browser.prepare_cell(None))
    refs = [a.ref for a in dd.all_attributes]
    if len(refs) != len(dims):
        from cubes_spark.errors import ArgumentError
        raise ArgumentError(
            "advise_cuboids needs single-attribute drilldowns (one "
            "lattice dimension per ref); a hierarchical drilldown "
            f"expanded to {len(refs)} attributes for {len(dims)} "
            "dimensions — drill each level separately instead")
    grain = browser.aggregation_dataframe(
        drilldown=dims, aggregates=aggregates)
    # logical refs contain dots — alias to SAFE names before the cube
    # pass (a dotted identifier parses as a struct field there)
    safe_refs = [safe_name(ref) for ref in refs]
    sizes = {
        r["grouping_id"]: r["size"]
        for r in cuboid_sizes(
            safe_columns(grain).select(*safe_refs), safe_refs).collect()
    }
    picks = greedy_cuboid_selection(sizes, n_picks, len(refs))
    out = []
    for gid in picks:
        kept = [dims[i] for i in range(len(dims))
                if not (gid >> (len(dims) - 1 - i)) & 1]
        if not kept:
            continue  # the grand total is not a useful cuboid
        out.append((gid, kept))
    return out


def auto_materialize(browser: Any, base_path: str,
                     drilldowns: Sequence[str],
                     aggregates: Optional[Sequence[str]] = None,
                     n_picks: int = 2) -> list:
    """END-TO-END materialized-view advisor: size the full cuboid
    lattice over ``drilldowns`` in ONE pass (:func:`cuboid_sizes`),
    greedy-pick the ``n_picks`` most valuable cuboids under the HRU
    benefit model (:func:`greedy_cuboid_selection`), materialize each
    at its grain and REGISTER it with the browser — after which the
    rewriter serves covered aggregations from the picks transparently
    (smallest first).

    ``drilldowns`` are single-attribute drilldown refs (one lattice
    dimension each); a pick with grouping_id bit ``i`` set ROLLS AWAY
    ``drilldowns[i]``.  The all-rolled-away pick (grand total) is
    excluded — the summary is one row off any cuboid.  Returns the
    registered :class:`Cuboid` descriptors in pick order.

    Scale: sizing is one ``cube()`` pass over the projected grain
    columns (keep the dimension count small, ≤ ~8 — map-side the cube
    multiplies rows by 2^d); each materialization is one aggregation
    write; everything else is driver arithmetic over 2^d numbers.
    """
    built = []
    for gid, kept in advise_cuboids(browser, drilldowns, aggregates,
                                    n_picks):
        cuboid = browser.materialize_cuboid(
            f"{base_path}/cuboid_{gid}", drilldown=kept,
            aggregates=aggregates)
        built.append(cuboid)
    return built


def auto_maintain(browser: Any, stream_df: Any, base_path: str,
                  drilldowns: Sequence[str], aggs: dict,
                  column_map: dict,
                  aggregates: Optional[Sequence[str]] = None,
                  n_picks: int = 2,
                  checkpoint_root: Optional[str] = None) -> list:
    """The full advisor → maintain → rewrite loop (r14 capstone):
    HRU-pick the most valuable cuboids from BATCH history
    (:func:`advise_cuboids` — one ``cube()`` sizing pass over the
    fact star), then keep each pick fresh FROM THE STREAM
    (streaming/stream.py :func:`maintain_aggregate`, one partial log
    per pick) and register it with the browser
    (:class:`StreamAggregateCuboid`) — covered aggregations are served
    from the maintained logs transparently from that point on.

    ``aggs`` is the maintenance spec shared by every pick (model
    aggregate name → ``(function, stream column)``, distributive
    only); ``column_map`` maps each drilldown's logical attribute ref
    to its stream-side column.  Each pick gets its own checkpoint
    under ``checkpoint_root`` (temp dirs when None) — pass a
    persistent root in production so later runs RESUME instead of
    replaying (see ``maintain_aggregate``'s idempotency contract).

    Returns the registered descriptors in pick order.  Scale: one
    sizing pass + one map-side-combinable groupBy per (pick × batch);
    query cost is O(smallest covering log), never O(stream).
    """
    import os

    from cubes_spark.query.drilldown import Drilldown
    from cubes_spark.streaming.stream import maintain_aggregate

    built = []
    for gid, kept in advise_cuboids(browser, drilldowns, aggregates,
                                    n_picks):
        dd = Drilldown(kept, browser.prepare_cell(None))
        refs = [a.ref for a in dd.all_attributes]
        sub_map = {ref: column_map[ref] for ref in refs}
        log = f"{base_path}/stream_cuboid_{gid}"
        ckpt = None if checkpoint_root is None else os.path.join(
            checkpoint_root, f"ckpt_{gid}")
        maintain_aggregate(stream_df, log,
                           [sub_map[ref] for ref in refs], aggs,
                           query_name=f"auto_maintain_{gid}",
                           checkpoint=ckpt)
        built.append(browser.register_stream_cuboid(
            log, aggs, sub_map))
    return built
