"""Native OLAP extensions: rollup / cube / grouping sets, crosstab
pivot, and materialization sinks.

The reference has *no* native GROUPING SETS — one cuboid per query;
`create_cube_aggregate` materializes only the full-grain cuboid
(/root/reference/cubes/sql/store.py:549-628) and `combined_cuboids`
only enumerates combinations (/root/reference/cubes/query/
computation.py:15-70).  Spark computes all cuboids in ONE pass with
partial aggregation — a designed-in upgrade (SURVEY.md §2.4).

The crosstab pivot re-expresses the reference's CrossTableFormatter
(/root/reference/cubes/formatters.py, ≈200-340) as ``df.pivot`` —
executed distributed instead of driver-side.

Scale notes: rollup/cube add only a small constant factor over the
base groupBy (map-side partial aggregation covers every grouping set
in one shuffle).  For pivot, pass explicit `values` so the planner
avoids the extra distinct-values job and keeps the plan static.
"""

from __future__ import annotations

from typing import Any, Dict, Iterable, List, Optional, Sequence

from pyspark.sql import Column, DataFrame

from cubes_spark.operators.preagg import _safe
from pyspark.sql import functions as F

__all__ = [
    "period_over_period",
    "percent_of_parent",
    "skyline_2d",
    "forecast_mase",
    "stickiness_ratio",
    "lorenz_curve",
    "drill_across",
    "top_n_per_group",
    "fill_time_gaps",
    "flatten_parent_child",
    "scd2_collapse",
    "funnel_counts",
    "cohort_retention",
    "basket_pairs",
    "rollup_aggregate",
    "cube_aggregate",
    "grouping_sets_aggregate",
    "crosstab",
    "materialize_denormalized",
    "materialize_aggregate",
    "refresh_aggregate",
    "combined_cuboids",
    "combined_levels",
    "peak_trailing_rate",
    "bridge_weighted_aggregate",
    "scd2_lookup",
    "melt",
    "weighted_quantiles",
    "coverage_gaps",
    "scd1_upsert",
]


def drill_across(queries: Sequence[tuple], drilldown: Sequence[str],
                 cell: Any = None, how: str = "full_outer") -> DataFrame:
    """Drill across cubes sharing conformed dimensions: aggregate each
    cube to the SAME drilldown grain, then join the cuboids on the
    drilldown attribute refs (Kimball's multi-fact pattern; no
    counterpart in the reference, whose browser is strictly
    one-cube-per-query — /root/reference/cubes/query/browser.py).

    ``queries``: ``(browser, aggregates)`` pairs — each browser's
    cube must link dimensions resolving every ``drilldown`` item;
    aggregate columns keep their names prefixed with the cube name
    (``<cube>_<aggregate>``) so same-named measures stay distinct.
    ``cell`` (a cut string) applies to every cube.

    Scale: each cuboid is its own already-small aggregation (grain
    rows, not fact rows); the join is a drilldown-cardinality join of
    aggregated sides — broadcast-sized in practice, never a
    fact-to-fact join.  Default ``full_outer`` keeps grain values
    present in only one cube (with nulls on the other side), the
    drill-across semantics."""
    if len(queries) < 2:
        raise ValueError("drill_across needs at least two cubes")
    refs: Optional[List[str]] = None
    out: Optional[DataFrame] = None
    for browser, aggregates in queries:
        cuboid = browser.aggregation_dataframe(
            cell=cell, aggregates=aggregates, drilldown=list(drilldown))
        agg_names = [str(a) for a in
                     browser.prepare_aggregates(aggregates)]
        key_refs = [c for c in cuboid.columns if c not in agg_names]
        if refs is None:
            refs = key_refs
        elif key_refs != refs:
            raise ValueError(
                f"cube '{browser.cube.name}' resolves drilldown to "
                f"{key_refs}, expected {refs} — dimensions are not "
                "conformed")
        prefixed = cuboid.select(
            *[F.col(f"`{r}`") for r in refs],
            *[F.col(f"`{a}`").alias(f"{browser.cube.name}_{a}")
              for a in agg_names])
        out = prefixed if out is None else \
            out.join(prefixed, on=refs, how=how)
    return out


def top_n_per_group(df: DataFrame, group_cols: Sequence[str],
                    order_by: Sequence, n: int,
                    rank_col: str = "rank") -> DataFrame:
    """Top-``n`` rows per group — the per-group companion of the
    browser's global top-k pagination (reference has only global
    ORDER+LIMIT, sql/browser.py paginated statements).

    ``order_by``: column names (descending by name, or pass Column
    expressions for full control).  One shuffle keyed by the group
    columns; per-partition state is the group's rows, so skew follows
    group fan-out — for heavy-hitter groups aggregate to the ranked
    grain FIRST (rank aggregated rows, not facts), which is also the
    correct semantics for "top customers by revenue"."""
    from pyspark.sql.window import Window

    cols = [
        c if isinstance(c, Column) else F.col(f"`{c}`").desc()
        for c in order_by
    ]
    w = Window.partitionBy(
        *[F.col(f"`{g}`") for g in group_cols]).orderBy(*cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w).cast("long"))
        .filter(F.col(rank_col) <= n)
    )


def fill_time_gaps(df: DataFrame, time_col: str,
                   step: str = "1 hour",
                   group_cols: Sequence[str] = (),
                   fill: Optional[Dict[str, Any]] = None) -> DataFrame:
    """Dense time spine: every ``step`` tick between the frame's min
    and max ``time_col`` appears for every group combination, missing
    rows filled with ``fill`` values (default 0 for every non-key
    column) — gap-filling for time-series dashboards, which a plain
    GROUP BY cannot produce (absent input rows yield absent output
    rows).

    Scale shape: min/max collapse to one 2-value row, the spine is a
    ``sequence()`` explode of that row (ticks, not data, bound its
    size), group combinations come from a DISTINCT of the already
    AGGREGATED frame, and the fill is one left join keyed by
    (group, tick) against grain-sized data — fact rows are never
    rescanned."""
    bounds = df.agg(
        F.min(time_col).alias("lo"), F.max(time_col).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence(
            F.col("lo"), F.col("hi"),
            F.expr(f"INTERVAL {step}"))).alias(time_col))
    if group_cols:
        combos = df.select(*[F.col(f"`{g}`") for g in group_cols]) \
            .distinct()
        spine = spine.crossJoin(combos)
    value_cols = [c for c in df.columns
                  if c != time_col and c not in group_cols]
    # marker distinguishes spine-only rows from genuine input rows so
    # the fill never rewrites a pre-existing NULL measure to 0
    marker = "__gap_present__"
    out = spine.join(df.withColumn(marker, F.lit(1)),
                     [time_col, *group_cols], "left")
    fill = fill or {}
    numeric = {
        f.name for f in df.schema.fields
        if f.dataType.typeName() in
        ("byte", "short", "integer", "long", "float", "double",
         "decimal")
    }
    for c in value_cols:
        if c in fill:
            default = F.lit(fill[c])
        elif c in numeric:
            default = F.lit(0)
        else:
            # a non-numeric value column without an explicit fill
            # stays NULL on spine rows — coalescing a string with 0
            # would be a type error, and inventing a sentinel would
            # be silently wrong data
            continue
        out = out.withColumn(
            c, F.when(F.col(marker).isNull(), default)
               .otherwise(F.col(f"`{c}`")))
    return out.drop(marker)


def flatten_parent_child(df: DataFrame, id_col: str,
                         parent_col: str,
                         max_depth: int = 1024) -> DataFrame:
    """Flatten a parent-child (ragged) hierarchy to ``(id, root,
    depth)`` — the recursive-hierarchy operation the reference's
    strictly level-based dimensions cannot model
    (/root/reference/cubes/metadata/dimension.py hierarchies are
    fixed level lists) and SQL needs ``WITH RECURSIVE`` for.

    Uses POINTER JUMPING (path doubling): each round joins the state
    table with itself so every node's known-ancestor pointer jumps
    twice as far — ``ceil(log2(max_depth))`` rounds and shuffles
    total, vs ``depth`` rounds for naive parent-at-a-time walking.  A
    million-deep chain costs 20 self-joins of the (id, anc, depth)
    state, each a plain equi-join; ``localCheckpoint`` per round
    keeps the plan O(1) like connected_components.  Rows whose
    parent chain is longer than ``max_depth`` (or cyclic) surface
    with ``depth = -1`` rather than looping forever."""
    import math

    nodes = df.select(
        F.col(id_col).alias("__id__"),
        F.col(parent_col).alias("__par__"))
    # anc: farthest known ancestor; done: anc is a root
    state = nodes.select(
        "__id__",
        F.coalesce(F.col("__par__"), F.col("__id__")).alias("__anc__"),
        F.when(F.col("__par__").isNull(), F.lit(0))
        .otherwise(F.lit(1)).cast("long").alias("__d__"),
        F.col("__par__").isNull().alias("__done__"),
    ).localCheckpoint(eager=True)
    rounds = max(1, math.ceil(math.log2(max(max_depth, 2))))
    for _ in range(rounds):
        if state.filter(~F.col("__done__")).isEmpty():
            break
        hop = state.select(
            F.col("__id__").alias("__hid__"),
            F.col("__anc__").alias("__hanc__"),
            F.col("__d__").alias("__hd__"),
            F.col("__done__").alias("__hdone__"))
        state = (
            state.join(hop, state["__anc__"] == hop["__hid__"],
                       "left")
            .select(
                "__id__",
                F.when(F.col("__done__"), F.col("__anc__"))
                .otherwise(F.coalesce(F.col("__hanc__"),
                                      F.col("__anc__")))
                .alias("__anc__"),
                F.when(F.col("__done__"), F.col("__d__"))
                .otherwise(F.col("__d__")
                           + F.coalesce(F.col("__hd__"), F.lit(0)))
                .alias("__d__"),
                (F.col("__done__")
                 | F.coalesce(F.col("__hdone__"), F.lit(False)))
                .alias("__done__"),
            )
            .localCheckpoint(eager=True)
        )
    return state.select(
        F.col("__id__").alias(id_col),
        F.when(F.col("__done__"), F.col("__anc__")).alias("root"),
        F.when(F.col("__done__"), F.col("__d__"))
        .otherwise(F.lit(-1)).cast("long").alias("depth"),
    )


def scd2_collapse(df: DataFrame, key_cols: Sequence[str],
                  attr_cols: Sequence[str], ts_col: str,
                  order_extra: Sequence[str] = ()) -> DataFrame:
    """Collapse a change log into slowly-changing-dimension Type 2
    rows: per key, consecutive records with identical tracked
    attributes merge into one versioned row with
    ``valid_from``/``valid_to``/``is_current`` — the dimension-history
    operator of a Kimball warehouse, which the reference (static
    dimension tables only) has no counterpart for.

    Shape: one shuffle keyed by the dimension key; change detection is
    a lag() comparison, version numbering a running sum, and the
    validity interval a lead() over the collapsed runs — all
    grain-bounded window work, no self-joins.  ``order_extra`` breaks
    timestamp ties deterministically (pass the change-log sequence
    id)."""
    from pyspark.sql.window import Window

    keys = [F.col(f"`{k}`") for k in key_cols]
    order = [F.col(f"`{ts_col}`").asc()] + \
        [F.col(f"`{c}`").asc() for c in order_extra]
    w = Window.partitionBy(*keys).orderBy(*order)

    changed = F.lit(False)
    for a in attr_cols:
        col, prev = F.col(f"`{a}`"), F.lag(f"`{a}`").over(w)
        # null-safe inequality: a null→value or value→null transition
        # IS a change; eqNullSafe treats null==null as equal
        changed = changed | ~col.eqNullSafe(prev)
    first = F.row_number().over(w) == 1
    versioned = df.withColumn(
        "__ver__",
        F.sum((first | changed).cast("long")).over(w))
    runs = versioned.groupBy(*key_cols, "__ver__").agg(
        F.min(f"`{ts_col}`").alias("valid_from"),
        *[F.first(f"`{a}`").alias(a) for a in attr_cols])
    wv = Window.partitionBy(*keys).orderBy(F.col("__ver__").asc())
    out = runs.withColumn(
        "valid_to", F.lead("valid_from").over(wv))
    return out.select(
        *key_cols, *attr_cols, "valid_from", "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
        (F.col("__ver__")).cast("long").alias("version"))


def _grouping_id_column(keys: Sequence[str]) -> Column:
    """Explicit per-key grouping id: sum of grouping(k) * 2^position,
    most-significant first — portable across engines (DuckDB's
    GROUPING() composes identically)."""
    gid: Optional[Column] = None
    n = len(keys)
    for i, key in enumerate(keys):
        bit = F.grouping(F.col(f"`{key}`")).cast("long") * F.lit(2 ** (n - 1 - i))
        gid = bit if gid is None else gid + bit
    return gid.alias("grouping_id")


def rollup_aggregate(df: DataFrame, keys: Sequence[str],
                     aggregates: Sequence[Column],
                     include_grouping_id: bool = True) -> DataFrame:
    """Hierarchical rollup: one row per prefix of `keys` plus the grand
    total, in one pass (supersedes per-cuboid queries of the
    reference)."""
    grouped = df.rollup(*[F.col(f"`{k}`") for k in keys])
    cols = list(aggregates)
    if include_grouping_id:
        cols = [_grouping_id_column(keys)] + cols
    return grouped.agg(*cols)


def cube_aggregate(df: DataFrame, keys: Sequence[str],
                   aggregates: Sequence[Column],
                   include_grouping_id: bool = True) -> DataFrame:
    """All 2^n cuboids in one pass."""
    grouped = df.cube(*[F.col(f"`{k}`") for k in keys])
    cols = list(aggregates)
    if include_grouping_id:
        cols = [_grouping_id_column(keys)] + cols
    return grouped.agg(*cols)


def grouping_sets_aggregate(
    df: DataFrame,
    grouping_sets: Sequence[Sequence[str]],
    aggregates: Sequence[str],
    table_alias: str = "t",
) -> DataFrame:
    """GROUP BY GROUPING SETS via Spark SQL on a temp view.

    `aggregates` are SQL aggregate expressions with aliases, e.g.
    ``["round(sum(price), 2) AS price_sum"]``.
    """
    spark = df.sparkSession
    keys = []
    for gset in grouping_sets:
        for key in gset:
            if key not in keys:
                keys.append(key)
    view = f"__gs_{abs(hash(tuple(map(tuple, grouping_sets)))) % 10**8}"
    df.createOrReplaceTempView(view)
    sets_sql = ", ".join(
        "(" + ", ".join(f"`{k}`" for k in gset) + ")" for gset in grouping_sets
    )
    key_list = ", ".join(f"`{k}`" for k in keys)
    agg_list = ", ".join(aggregates)
    return spark.sql(
        f"SELECT {key_list}, {agg_list} FROM {view} "
        f"GROUP BY GROUPING SETS ({sets_sql})"
    )


def crosstab(
    df: DataFrame,
    rows: Sequence[str],
    column: str,
    value: Column,
    values: Optional[Sequence[Any]] = None,
) -> DataFrame:
    """Pivot `column`'s values into columns, aggregating `value`
    (parity: CrossTableFormatter — distributed instead of client-side).

    Pass explicit `values` at scale: skips the distinct-scan job and
    keeps column set stable.
    """
    # pivot() takes a bare column NAME — a dotted logical ref would be
    # parsed as nested-field access; pre-alias it to a safe name
    # (row columns get the same treatment via backticks)
    safe_pivot = "__pivot__" if "." in column else column
    if safe_pivot != column:
        df = df.withColumn(safe_pivot, F.col(f"`{column}`"))
    grouped = df.groupBy(*[F.col(f"`{r}`") for r in rows])
    pivoted = grouped.pivot(safe_pivot,
                            list(values) if values else None)
    return pivoted.agg(value)


# ---------------------------------------------------------------------------
# Materialization sinks (parity: sql/store.py:294-370, 549-628)
# ---------------------------------------------------------------------------


def materialize_denormalized(browser: Any, path: str,
                             mode: str = "overwrite",
                             partition_by: Optional[Sequence[str]] = None) -> None:
    """Write the denormalized star to parquet
    (parity: create_denormalized_view, sql/store.py:294-370).

    `partition_by` should be a low-cardinality dimension ref (e.g. the
    time dimension's year) so downstream queries get partition pruning.
    """
    df = browser.denormalized_dataframe()
    # logical refs contain dots — parquet field names cannot; translate
    safe = df.select(
        *[F.col(f"`{c}`").alias(_safe(c)) for c in df.columns]
    )
    # parquet ENCODE parallelism: a small star arrives with the scan's
    # partition count (a single-file fact table = 1-3 tasks pinning
    # the whole columnar encode to as many cores — measured 3-task
    # write at sf0.1, guide §6/§2.6); spread() lifts it to
    # defaultParallelism and is a NO-OP at scale, where the input
    # already has more partitions than cores, so production file
    # sizing is unaffected
    from cubes_spark.llm.util import spread

    safe = spread(safe)
    writer = safe.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*[_safe(p) for p in partition_by])
    writer.parquet(path)


def materialize_aggregate(browser: Any, path: str,
                          drilldown: Sequence[str],
                          aggregates: Optional[Sequence[str]] = None,
                          mode: str = "overwrite",
                          cell: Any = None) -> None:
    """Materialize the aggregated cuboid at full drilldown grain
    (parity: create_cube_aggregate, sql/store.py:549-628).  ``cell``
    restricts the materialized slice — the building block for
    incremental maintenance (see :func:`refresh_aggregate`)."""
    df = browser.aggregation_dataframe(cell=cell, drilldown=drilldown,
                                       aggregates=aggregates)
    safe = df.select(
        *[F.col(f"`{c}`").alias(_safe(c)) for c in df.columns]
    )
    safe.write.mode(mode).parquet(path)


def refresh_aggregate(browser: Any, path: str,
                      drilldown: Sequence[str],
                      aggregates: Optional[Sequence[str]] = None,
                      delta_cell: Any = None) -> None:
    """INCREMENTAL cuboid maintenance: aggregate only the
    ``delta_cell`` slice of new facts and merge it into the cuboid at
    ``path`` — at 100 TB the nightly refresh touches one partition's
    facts, never the historical table.

    Merge = union + one groupBy over partial states, so it only
    applies to distributive aggregates (sum→sum, count→sum,
    count_nonempty→sum, min→min, max→max); anything else raises —
    store sum+count and derive avg downstream instead.  The merged
    result is checkpointed off the source files before overwriting
    ``path`` (read-then-overwrite cycle break).

    The delta slice must be DISJOINT from what the cuboid already
    covers (the natural case: a new date partition); overlapping rows
    would double-count, exactly like any partial-aggregate store.
    """
    from cubes_spark.errors import ArgumentError
    from cubes_spark.operators.preagg import REAGGREGABLE

    resolved = browser.prepare_aggregates(aggregates)
    for agg in resolved:
        fname = agg.function
        # a function-LESS aggregate (expression / pre-computed) must
        # raise too: silently skipping it would leave its value column
        # in the merge grain, so existing and delta rows with the same
        # logical grain never merge — duplicate-grain rows that
        # double-count downstream
        if not fname or fname not in REAGGREGABLE:
            raise ArgumentError(
                f"Aggregate '{agg.name}' ({fname or 'no function'}) "
                "is not distributive — cannot be incrementally "
                "merged; materialize sum/count partials instead"
            )
    merge_fns = {
        agg.name: REAGGREGABLE[agg.function] for agg in resolved
    }

    # the delta is aggregated from the fact star: a registered cuboid
    # (the one refreshed here, say) has no rows for the new slice yet
    delta = browser._fact_only().aggregation_dataframe(
        cell=delta_cell, drilldown=drilldown, aggregates=aggregates
    )
    spark = delta.sparkSession
    safe_delta = delta.select(
        *[F.col(f"`{c}`").alias(_safe(c)) for c in delta.columns]
    )
    existing = spark.read.parquet(path)
    grain = [c for c in existing.columns if c not in merge_fns]
    merged = (
        existing.unionByName(safe_delta.select(*existing.columns))
        .groupBy(*[F.col(f"`{c}`") for c in grain])
        .agg(*[fn(F.col(f"`{name}`")).alias(name)
               for name, fn in merge_fns.items()])
        .select(*existing.columns)
        .localCheckpoint(eager=True)
    )
    merged.write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------------------
# Cuboid enumeration (parity: query/computation.py:15-70)
# ---------------------------------------------------------------------------


def combined_cuboids(dimensions: Sequence, required: Optional[Sequence] = None) -> list:
    """All dimension combinations for pre-aggregation planning
    (parity: computation.py:15-40)."""
    from itertools import combinations

    required = tuple(required or ())
    optional = [d for d in dimensions if d not in required]
    cuboids = []
    for n in range(len(optional), -1, -1):
        for combo in combinations(optional, n):
            cuboids.append(required + combo)
    return cuboids


def combined_levels(dimensions: Sequence, default_only: bool = False) -> list:
    """Cartesian product of hierarchy level prefixes per dimension
    (parity: computation.py:43-70)."""
    from itertools import product

    groups = []
    for dim in dimensions:
        hierarchy = dim.hierarchy()
        prefixes = [
            tuple(level.name for level in hierarchy.levels[: i + 1])
            for i in range(len(hierarchy.levels))
        ]
        groups.append(prefixes)
    return [tuple(combo) for combo in product(*groups)]


# -- event analytics (funnels, cohorts) -------------------------------------


def funnel_counts(events: DataFrame, steps: Sequence[str],
                  user_col: str = "user_id",
                  type_col: str = "event_type",
                  ts_col: str = "ts") -> DataFrame:
    """Ordered-funnel conversion counts: how many users performed the
    steps IN ORDER (each step strictly after their first occurrence of
    the previous one; the first-touch funnel convention).

    Construction: per user, min timestamp of step 1; then per
    subsequent step a semi-filtered min over events strictly after the
    user's previous-step time — one aggregate + one hash equi-join per
    step, all keyed by the user (skew-free for real user id spaces),
    with the reacher set shrinking monotonically.  Returns ``(step,
    step_name, n_users)`` with step 1-based.
    """
    if not steps:
        raise ValueError("funnel_counts requires at least one step")
    reached = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("__t__"))
    )
    tiers = [reached]
    for step in steps[1:]:
        nxt = (
            events.filter(F.col(type_col) == step)
            .join(tiers[-1], user_col)
            .filter(F.col(ts_col) > F.col("__t__"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("__t__"))
        )
        tiers.append(nxt)
    counts = None
    for i, (step, tier) in enumerate(zip(steps, tiers)):
        row = tier.agg(
            F.lit(i + 1).cast("long").alias("step"),
            F.lit(step).alias("step_name"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        )
        counts = row if counts is None else counts.unionByName(row)
    return counts


def cohort_retention(events: DataFrame, user_col: str = "user_id",
                     ts_col: str = "ts",
                     period: str = "week") -> DataFrame:
    """Cohort retention table: users bucketed by their FIRST-activity
    period (the cohort), counted distinct in every subsequent period
    they return.  Returns ``(cohort, period_offset, n_users)`` where
    both are integer period indexes (epoch-based, timezone-pinned).

    Two shuffles: the per-user first-activity aggregate and the final
    distinct count keyed by (cohort, offset) — the standard retention
    triangle at any scale.
    """
    divisors = {"day": 86400, "week": 604800}
    if period not in divisors:
        raise ValueError(f"unsupported period {period!r}")
    div = divisors[period]
    pcol = F.floor(F.unix_timestamp(F.col(ts_col)) / div).cast("long")
    tagged = events.select(F.col(user_col), pcol.alias("__p__"))
    first = tagged.groupBy(user_col).agg(F.min("__p__").alias("__c__"))
    joined = tagged.join(first, user_col)
    return (
        joined.groupBy(
            F.col("__c__").alias("cohort"),
            (F.col("__p__") - F.col("__c__")).alias("period_offset"))
        .agg(F.count_distinct(F.col(user_col)).cast("long")
             .alias("n_users"))
    )


def basket_pairs(df: DataFrame, basket_col: str, item_col: str,
                 min_count: int = 1,
                 max_basket_size: Optional[int] = None) -> DataFrame:
    """Market-basket co-occurrence mining (the support/lift core of
    association rules, Agrawal & Srikant 1994): for every unordered
    item pair, the number of baskets containing BOTH, each item's own
    basket support, and the lift in integer basis points.  The
    reference has no affinity operator (its aggregation surface is
    the star drilldown, SURVEY §2.4) — this is the "frequently bought
    together" query a retail cube always grows.

    Returns ``(item_a, item_b, n_ab, n_a, n_b, lift_bp)`` with
    ``item_a < item_b`` and ``n_ab >= min_count``.

    Scale shape: dedupe to (basket, item), then ONE equi-self-join on
    the basket key — work is Σ size(basket)², bounded by the basket
    width, never |items|².  ``max_basket_size`` drops pathological
    mega-baskets (a crawler cart, a bot session) BEFORE the join, the
    standard skew guard in affinity mining.  Lift is computed with
    pure integer arithmetic (``10000·n_ab·N div (n_a·n_b)``) so a SQL
    oracle matches bit-for-bit; the int64 product bounds it to
    ~3·10⁹ baskets × 10⁹ pair count — beyond that switch the final
    projection to doubles (counts stay exact regardless).
    """
    baskets = df.select(F.col(basket_col).alias("__b__"),
                        F.col(item_col).alias("__i__")).distinct()
    # Cache CO-PARTITIONED BY BASKET: one repartition up front, and
    # then the size guard's groupBy, the distinct-basket count AND
    # both sides of the pair self-join all consume the cached
    # partitioning with zero further exchanges on the basket key —
    # the partitioning-reuse pattern that matters at 100 TB, where
    # the (basket, item) frame is the fact-sized intermediate.
    baskets = baskets.repartition("__b__")
    if max_basket_size is not None:
        sizes = baskets.groupBy("__b__").agg(
            F.count(F.lit(1)).alias("__sz__"))
        baskets = baskets.join(
            sizes.filter(F.col("__sz__") <= max_basket_size)
            .select("__b__"), "__b__")
    baskets = baskets.persist()
    n_total = baskets.select("__b__").distinct().count()
    support = baskets.groupBy("__i__").agg(
        F.count(F.lit(1)).cast("long").alias("__n__"))
    left = baskets.select("__b__", F.col("__i__").alias("item_a"))
    right = baskets.select("__b__", F.col("__i__").alias("item_b"))
    pairs = (
        left.join(right, "__b__")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    out = (
        pairs
        .join(support.select(F.col("__i__").alias("item_a"),
                             F.col("__n__").alias("n_a")), "item_a")
        .join(support.select(F.col("__i__").alias("item_b"),
                             F.col("__n__").alias("n_b")), "item_b")
        .withColumn(
            "lift_bp",
            F.expr(f"(10000 * n_ab * CAST({n_total} AS BIGINT)) "
                   "div (n_a * n_b)"))
    )
    return out.select("item_a", "item_b", "n_ab", "n_a", "n_b",
                      "lift_bp")


def sequence_match(events: DataFrame, key_col: str, ts_col: str,
                   type_col: str, pattern: str,
                   codes: Dict[str, str],
                   tiebreak_col: Optional[str] = None,
                   max_seq_len: Optional[int] = None) -> DataFrame:
    """Event-sequence pattern detection (the ClickHouse
    ``sequenceMatch``/``sequenceCount`` family; the reference's query
    surface has no ordered-sequence operator at all — SURVEY §2.4).

    Per key, events are encoded to single characters via ``codes``
    (unmapped types are dropped), laid out in strict ``(ts,
    tiebreak)`` order, and the concatenated string is scanned with
    ``pattern`` (a regular expression over the code alphabet, e.g.
    ``"vc*p"`` = view, any clicks, purchase).  Returns ``(key,
    seq_len, n_matches, first_match_pos)`` — ``n_matches`` counts
    non-overlapping matches left-to-right (identical in Java regex and
    RE2 for anchor-free patterns), ``first_match_pos`` is 1-based, 0
    when no match.

    Scale shape: ONE shuffle to the key grain; the sort happens
    per-key inside ``array_sort`` (never a global window), and the
    regex runs JVM-side on the concatenated code string.  Per-key
    state is the key's event count — ``max_seq_len`` drops
    pathological whales (bots, crawlers) whose sequences exceed it,
    the same guard basket_pairs applies.  Avoid ``^``/``$`` anchors
    and lookbehind in ``pattern``: first_match_pos relies on
    leftmost-match semantics shared by regex engines.
    """
    code = F.lit(None).cast("string")
    for k, v in sorted(codes.items()):
        code = F.when(F.col(type_col) == F.lit(k), F.lit(v)) \
            .otherwise(code)
    tiebreak = F.col(tiebreak_col) if tiebreak_col else F.lit(0)
    item = F.struct(F.col(ts_col).alias("__t__"),
                    tiebreak.alias("__k__"),
                    code.alias("__c__"))
    seq = (
        events.filter(code.isNotNull())
        .groupBy(F.col(key_col))
        .agg(F.array_sort(F.collect_list(item)).alias("__a__"))
    )
    if max_seq_len is not None:
        seq = seq.filter(F.size("__a__") <= max_seq_len)
    s = F.concat_ws("", F.transform(F.col("__a__"),
                                    lambda x: x["__c__"]))
    return seq.select(
        F.col(key_col),
        F.length(s).cast("long").alias("seq_len"),
        F.regexp_count(s, F.lit(pattern)).cast("long")
        .alias("n_matches"),
        F.regexp_instr(s, F.lit(pattern)).cast("long")
        .alias("first_match_pos"),
    )


def _cum_value_histogram(df: DataFrame, col: str,
                         num_buckets: int = 256,
                         weighted: bool = False
                         ) -> Optional[DataFrame]:
    """Distinct-value histogram of an integer column with EXACT
    cumulative counts ``__cum__ = #(x <= v)``, fully distributed:
    one groupBy to |distinct| rows, then the two-phase prefix sum over
    deterministic VALUE buckets (the pack_sequences pattern — never a
    one-partition window).  Per-bucket totals are a bounded collect
    (one row per bucket); cumulative counts finish bucket-locally.
    With ``weighted`` an additional ``__wcum__ = Σ_(x<=v) x·count(x)``
    runs alongside in decimal(38,0) (same bucket offsets, exact).
    Returns ``(__v__, __cnt__, __cum__[, __wcum__])`` or None when
    empty."""
    from pyspark.sql.window import Window as W

    dec = "decimal(38,0)"
    # NOT persisted (r14 opt round, measured): see
    # stats._grouped_rank_frame — caching the histogram for the three
    # consuming jobs cost more than recomputing it
    hist = (df.filter(F.col(col).isNotNull())
            .groupBy(F.col(col).cast("long").alias("__v__"))
            .agg(F.count(F.lit(1)).alias("__cnt__")))
    if weighted:
        hist = hist.withColumn(
            "__w__", F.col("__v__").cast(dec) * F.col("__cnt__"))
    bounds = hist.agg(F.min("__v__").alias("lo"),
                      F.max("__v__").alias("hi")).first()
    if bounds["lo"] is None:
        return None
    lo, hi = bounds["lo"], bounds["hi"]
    width = max(1, -(-(hi - lo + 1) // num_buckets))
    hist = hist.withColumn(
        "__pid__",
        F.floor((F.col("__v__") - F.lit(lo)) / F.lit(width)).cast("int"))
    aggs = [F.sum("__cnt__").alias("__tot__")]
    if weighted:
        aggs.append(F.sum("__w__").alias("__wtot__"))
    totals = hist.groupBy("__pid__").agg(*aggs).collect()
    offsets, acc, wacc = [], 0, 0
    for row in sorted(totals, key=lambda r: r["__pid__"]):
        offsets.append((row["__pid__"], acc,
                        str(wacc) if weighted else "0"))
        acc += row["__tot__"] or 0
        if weighted:
            wacc += int(row["__wtot__"] or 0)
    spark = df.sparkSession
    off_df = F.broadcast(spark.createDataFrame(
        offsets or [(0, 0, "0")],
        "__pid__ int, __poff__ long, __wpoff__ string"))
    local = (W.partitionBy("__pid__").orderBy("__v__")
             .rowsBetween(W.unboundedPreceding, 0))
    out = (hist.join(off_df, "__pid__")
           .withColumn("__cum__", F.col("__poff__")
                       + F.sum("__cnt__").over(local)))
    cols = ["__v__", "__cnt__", "__cum__"]
    if weighted:
        out = out.withColumn(
            "__wcum__",
            F.col("__wpoff__").cast(dec)
            + F.sum("__w__").over(local))
        cols.append("__wcum__")
    return out.select(*cols)


def exact_disc_quantiles(df: DataFrame, col: str,
                         ranks: Sequence[int],
                         num_buckets: int = 256) -> list:
    """Exact discrete quantiles (order statistics) of an integer
    column, fully distributed: boundary for rank r is the smallest
    value v with ``#(x <= v) >= r`` (1-based ranks over non-null
    values) — the ``percentile_disc`` definition a SQL oracle can
    replay verbatim.  Built on :func:`_cum_value_histogram`; every
    requested boundary falls out of a single-row conditional
    aggregate, so nothing driver-side ever holds more than the bucket
    count + len(ranks) values.
    """
    cum = _cum_value_histogram(df, col, num_buckets)
    if cum is None:
        return [None for _ in ranks]
    row = cum.agg(*[
        F.min(F.when(F.col("__cum__") >= F.lit(int(r)), F.col("__v__")))
        .alias(f"b{i}")
        for i, r in enumerate(ranks)
    ]).first()
    return [row[f"b{i}"] for i in range(len(ranks))]


def exact_disc_quantiles_multi(df: DataFrame, cols: Sequence[str],
                               ranks: Sequence[int],
                               num_buckets: int = 256,
                               count_col: Optional[str] = None):
    """Exact discrete quantiles (:func:`exact_disc_quantiles`
    semantics, same boundaries value-for-value) for SEVERAL integer
    columns of one bounded frame in THREE driver actions total
    instead of three per column (r15 opt round, guide §5: the rfm
    boundary computation ran 9 histogram jobs + a count): the columns
    are melted to a ``(metric, value)`` grain with one posexplode, so
    bounds, bucket totals and the rank boundaries each come from one
    job covering every metric.

    Returns ``(boundaries, n)``: ``boundaries[col]`` is the
    per-rank list for that column; ``n`` is the row count of ``df``
    (folded into the bounds job via ``count_col``, a column that is
    never null — pass one to get n without a separate count()).
    ``ranks`` may be a callable ``n -> list`` so rank positions can
    derive from the row count without an extra action (rfm's
    ``ceil(i·n/n_bins)`` pattern).
    """
    from pyspark.sql.window import Window as W

    spark = df.sparkSession
    ncols = len(cols)
    melted = (df.select(F.posexplode(F.array(
        *[F.col(c).cast("long") for c in cols])).alias("__m__", "__v__"))
        .filter(F.col("__v__").isNotNull()))
    hist = (melted.groupBy("__m__", "__v__")
            .agg(F.count(F.lit(1)).alias("__cnt__")))
    # action 1: per-metric bounds (+ the frame row count, free)
    bounds = {r["__m__"]: r for r in
              hist.groupBy("__m__").agg(
                  F.min("__v__").alias("lo"),
                  F.max("__v__").alias("hi"),
                  F.sum("__cnt__").alias("cnt")).collect()}
    n = None
    if count_col is not None and count_col in cols:
        b = bounds.get(list(cols).index(count_col))
        n = int(b["cnt"]) if b is not None else 0
    if callable(ranks):
        ranks = list(ranks(n))
    widths = {}
    for m in range(ncols):
        if m in bounds:
            lo, hi = bounds[m]["lo"], bounds[m]["hi"]
            widths[m] = max(1, -(-(hi - lo + 1) // num_buckets))
    if not widths:
        return {c: [None for _ in ranks] for c in cols}, n
    pid = F.lit(None).cast("int")
    for m, w in widths.items():
        pid = F.when(
            F.col("__m__") == m,
            F.floor((F.col("__v__") - F.lit(bounds[m]["lo"]))
                    / F.lit(w)).cast("int")).otherwise(pid)
    hist = hist.withColumn("__pid__", pid)
    # action 2: per-(metric, bucket) totals → driver prefix offsets
    totals = hist.groupBy("__m__", "__pid__").agg(
        F.sum("__cnt__").alias("__tot__")).collect()
    offsets, acc = [], {}
    for row in sorted(totals, key=lambda r: (r["__m__"], r["__pid__"])):
        m = row["__m__"]
        offsets.append((m, row["__pid__"], acc.get(m, 0)))
        acc[m] = acc.get(m, 0) + (row["__tot__"] or 0)
    off_df = F.broadcast(spark.createDataFrame(
        offsets or [(0, 0, 0)], "__m__ int, __pid__ int, __poff__ long"))
    local = (W.partitionBy("__m__", "__pid__").orderBy("__v__")
             .rowsBetween(W.unboundedPreceding, 0))
    cum = (hist.join(off_df, ["__m__", "__pid__"])
           .withColumn("__cum__", F.col("__poff__")
                       + F.sum("__cnt__").over(local)))
    # action 3: every (metric, rank) boundary from one grouped agg
    rows = {r["__m__"]: r for r in cum.groupBy("__m__").agg(*[
        F.min(F.when(F.col("__cum__") >= F.lit(int(r)), F.col("__v__")))
        .alias(f"b{i}")
        for i, r in enumerate(ranks)
    ]).collect()}
    out = {}
    for m, c in enumerate(cols):
        row = rows.get(m)
        out[c] = ([None for _ in ranks] if row is None
                  else [row[f"b{i}"] for i in range(len(ranks))])
    return out, n


def grouped_iqr_outliers(df: DataFrame, group_cols: Sequence[str],
                         value_col: str) -> DataFrame:
    """Per-group Tukey-fence outlier counts on exact integer quartiles:
    for every group, Q1/Q3 as percentile_disc order statistics of the
    value in cents, and the number of rows outside ``[Q1 − 1.5·IQR,
    Q3 + 1.5·IQR]`` — the boxplot outlier rule, all-integer (the
    halves are cleared by comparing ``2·v`` against ``2·Q − 3·IQR``).

    Scale shape: ranks come from a window PARTITIONED BY THE GROUP
    (never global); quartiles fall out of one conditional aggregate
    per group, rejoined on the group key for the fence count.  Skewed
    groups cost what their row count costs — same bound as any
    per-group sort.
    """
    from pyspark.sql.window import Window as W

    cents = F.round(F.col(value_col) * 100).cast("long")
    base = df.select(*[F.col(c) for c in group_cols],
                     cents.alias("__v__"))
    w_ord = W.partitionBy(*group_cols).orderBy("__v__")
    w_all = W.partitionBy(*group_cols)
    ranked = (base.withColumn("__rn__", F.row_number().over(w_ord))
              .withColumn("__n__", F.count(F.lit(1)).over(w_all)))
    q = ranked.groupBy(*group_cols).agg(
        F.max("__n__").cast("long").alias("n_rows"),
        F.min(F.when(
            F.col("__rn__") >= F.expr("(__n__ + 3) div 4"),
            F.col("__v__"))).alias("q1_cents"),
        F.min(F.when(
            F.col("__rn__") >= F.expr("(3 * __n__ + 3) div 4"),
            F.col("__v__"))).alias("q3_cents"),
    )
    fenced = base.join(q, list(group_cols))
    iqr = F.col("q3_cents") - F.col("q1_cents")
    is_out = ((2 * F.col("__v__") < 2 * F.col("q1_cents") - 3 * iqr)
              | (2 * F.col("__v__") > 2 * F.col("q3_cents") + 3 * iqr))
    return (fenced.groupBy(*group_cols)
            .agg(F.max("n_rows").alias("n_rows"),
                 F.max("q1_cents").alias("q1_cents"),
                 F.max("q3_cents").alias("q3_cents"),
                 F.sum(is_out.cast("long")).cast("long")
                 .alias("n_outliers")))


def window_funnel(events: DataFrame, key_col: str, ts_col: str,
                  type_col: str, steps: Sequence[str],
                  window_seconds: int) -> DataFrame:
    """Time-constrained funnel (the ClickHouse ``windowFunnel`` shape)
    with EARLIEST-CHAIN semantics: per key, t₁ is the first step-1
    event, t₂ the first step-2 event strictly after t₁, and so on;
    ``steps_reached`` is the deepest chain link with ``tₖ − t₁ <=
    window`` (microsecond-exact).  Earliest-chain is deterministic and
    SQL-replayable — unlike sliding-origin variants whose result
    depends on scan order — and is the standard conversion-window
    question ("signed up, then purchased within 24h?").

    Scale shape: one conditional aggregation per step over the SAME
    key-grain shuffle (min-if columns computed iteratively, each
    referencing the previous step's time — a single groupBy with
    chained aggregates is impossible since step k's filter needs step
    k−1's result, so each step is one more agg + broadcast-joinable
    key-grain frame); k steps = k key-grain passes, never a per-event
    window.  Returns ``(key, t1, steps_reached)`` for keys that
    reached step 1.
    """
    code = None
    for i, s in enumerate(steps):
        c = F.when(F.col(type_col) == F.lit(s), F.lit(i))
        code = c if code is None else c.otherwise(code)
    ev = (events.select(F.col(key_col).alias("__k__"),
                        F.col(ts_col).alias("__t__"),
                        code.alias("__s__"))
          .filter(F.col("__s__").isNotNull()).persist())
    cur = (ev.filter(F.col("__s__") == 0)
           .groupBy("__k__").agg(F.min("__t__").alias("t_0")))
    for i in range(1, len(steps)):
        nxt = (ev.filter(F.col("__s__") == i)
               .join(cur.select("__k__", F.col(f"t_{i-1}")), "__k__")
               .filter(F.col("__t__") > F.col(f"t_{i-1}"))
               .groupBy("__k__").agg(F.min("__t__").alias(f"t_{i}")))
        cur = cur.join(nxt.select("__k__", f"t_{i}"), "__k__", "left")
    lim = F.lit(int(window_seconds) * 1_000_000)
    # depth stops at the FIRST failing link (missing step or window
    # blown) — later links cannot revive it even if their mins exist
    depth = F.lit(1)
    stopped = F.lit(False)
    for i in range(1, len(steps)):
        ok = (F.col(f"t_{i}").isNotNull()
              & ((F.unix_micros(F.col(f"t_{i}"))
                  - F.unix_micros(F.col("t_0"))) <= lim))
        depth = F.when(~stopped & ok, depth + 1).otherwise(depth)
        stopped = stopped | ~ok
    return cur.select(
        F.col("__k__").alias(key_col),
        F.col("t_0").alias("t1"),
        depth.cast("long").alias("steps_reached"))


def seasonality_profile(df: DataFrame, group_cols: Sequence[str],
                        ts_col: str, value_col: str,
                        slot: str = "hour_of_day") -> DataFrame:
    """Seasonal index per time slot (hour-of-day / day-of-week) in
    exact parts-per-million: each slot's mean relative to its group's
    overall mean, computed by integer cross-multiplication —
    ``index_ppm = (10^6 · slot_sum · n_total) div (total_sum ·
    slot_n)`` — so no mean is ever divided out in doubles.  The
    classic load-curve / traffic-shape profile (index 10^6 = an
    average slot).

    Returns ``(group..., slot, n_rows, sum_cents, index_ppm)``.

    Scale shape: one shuffle to the (group, slot) grain (24 or 7 rows
    per group); group totals come from a window over THAT grain.
    Products in decimal(38,0).
    """
    slots = {"hour_of_day": F.hour, "day_of_week": F.dayofweek}
    if slot not in slots:
        raise ValueError(f"unsupported slot {slot!r}")
    from pyspark.sql.window import Window as W

    gcols = [F.col(c) for c in group_cols]
    b = (
        df.groupBy(*gcols,
                   slots[slot](F.col(ts_col)).cast("long")
                   .alias("slot"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
             F.sum(F.round(F.col(value_col) * 100).cast("long"))
             .cast("long").alias("sum_cents"))
    )
    whole = W.partitionBy(*group_cols)
    dec = "decimal(38,0)"
    scored = (
        b.withColumn("__tn__", F.sum("n_rows").over(whole))
        .withColumn("__ts__", F.sum("sum_cents").over(whole))
        .withColumn(
            "index_ppm",
            F.expr(f"CAST((1000000 * CAST(sum_cents AS {dec})"
                   f" * __tn__) div (CAST(__ts__ AS {dec})"
                   f" * n_rows) AS BIGINT)"))
    )
    return scored.select(*group_cols, "slot", "n_rows", "sum_cents",
                         "index_ppm")


def cusum_changepoint(df: DataFrame, group_cols: Sequence[str],
                      ts_col: str, value_col: str,
                      bucket: str = "hour") -> DataFrame:
    """Offline CUSUM changepoint estimation per group (Page 1954 /
    the at-most-one-change estimator): where did this metric's level
    shift?

    The series is first bucketed (``date_trunc(bucket)``, value sums
    in exact cents).  With prefix sums P_i over n buckets totaling T,
    the SCALED cusum is ``s_i = n·P_i − i·T`` — the textbook
    ``Σ(x_j − mean)`` multiplied by n so no mean division ever
    happens: all integer, partition-invariant, SQL-replayable.  The
    changepoint estimate is the bucket maximizing |s_i| (earliest on
    ties), its sign giving the shift direction (negative = level rose
    after the point).

    Returns ``(group..., cp_ts, cp_stat, n_buckets)``.

    Scale shape: one keyed shuffle to the (group, bucket) grain, then
    windows PARTITIONED BY GROUP over that grain (buckets per group,
    not facts — hours in a year is ~9k rows) and a final per-group
    argmin.  Products run in decimal(38,0).
    """
    from pyspark.sql.window import Window as W

    gcols = [F.col(c) for c in group_cols]
    b = (
        df.groupBy(*gcols,
                   F.date_trunc(bucket, F.col(ts_col)).alias("__bt__"))
        .agg(F.sum(F.round(F.col(value_col) * 100).cast("long"))
             .cast("long").alias("__x__"))
    )
    ordered = W.partitionBy(*group_cols).orderBy("__bt__") \
        .rowsBetween(W.unboundedPreceding, 0)
    whole = W.partitionBy(*group_cols)
    dec = "decimal(38,0)"
    scored = (
        b.withColumn("__p__", F.sum("__x__").over(ordered))
        .withColumn("__i__", F.count(F.lit(1)).over(ordered))
        .withColumn("__n__", F.count(F.lit(1)).over(whole))
        .withColumn("__t__", F.sum("__x__").over(whole))
        .withColumn(
            "__s__",
            (F.col("__n__").cast(dec) * F.col("__p__").cast(dec)
             - F.col("__i__").cast(dec) * F.col("__t__").cast(dec)))
    )
    best = (
        scored.groupBy(*group_cols)
        .agg(F.min(F.struct(
            (-F.abs(F.col("__s__"))).alias("negabs"),
            F.col("__bt__").alias("bt"),
            F.col("__s__").alias("s"),
            F.col("__n__").alias("n"))).alias("__b__"))
    )
    return best.select(
        *group_cols,
        F.col("__b__.bt").alias("cp_ts"),
        F.col("__b__.s").cast("long").alias("cp_stat"),
        F.col("__b__.n").cast("long").alias("n_buckets"),
    )


def gini_concentration(df: DataFrame, key_col: str,
                       amount_col: str,
                       num_buckets: int = 256) -> DataFrame:
    """Gini coefficient of per-key totals (revenue concentration /
    inequality — "what share of spend sits in the top customers"), in
    exact integer basis points.

    For per-key totals x_1 <= ... <= x_n (cents), ``G = (2·Σ i·x_i −
    (n+1)·Σx) / (n·Σx)``.  The rank sum is computed WITHOUT a global
    sort-rank: items sharing a distinct value v occupy the contiguous
    rank run ``cum−c+1 .. cum`` of the cumulative histogram, whose
    rank total is ``c·(2·cum−c+1)/2`` (always an exact integer — one
    factor is even).  So the whole statistic folds out of
    :func:`_cum_value_histogram` with one single-row aggregate.  Ties
    contribute identically in any order, making the result
    partition-invariant and SQL-replayable.

    Returns one row ``(n_keys, total_cents, gini_bp)`` with
    ``gini_bp = floor(10000·G)``.  Scale shape: fact→key shuffle,
    |distinct-value| histogram, two bounded collects; sums run in
    decimal(38,0), good past 10^9 keys × 10^9-cent values.
    """
    grain = (
        df.groupBy(F.col(key_col))
        .agg(F.sum(F.round(F.col(amount_col) * 100).cast("long"))
             .cast("long").alias("__x__"))
    )
    cum = _cum_value_histogram(grain, "__x__", num_buckets)
    if cum is None:
        raise ValueError("gini_concentration: empty input")
    dec = "decimal(38,0)"
    c = F.col("__cnt__")
    # integer div — a double quotient would lose bits above 2^53;
    # the long product is safe to ~2·10^9 keys (ANSI mode throws,
    # never corrupts, beyond)
    ranksum = F.expr(
        "(__cnt__ * (2 * __cum__ - __cnt__ + 1)) div 2")
    agg = cum.agg(
        F.sum(c).cast(dec).alias("__n__"),
        F.sum(F.col("__v__").cast(dec) * c.cast(dec)).alias("__s__"),
        F.sum(F.col("__v__").cast(dec) * ranksum.cast(dec))
        .alias("__sr__"),
    )
    return agg.select(
        F.col("__n__").cast("long").alias("n_keys"),
        F.col("__s__").cast("long").alias("total_cents"),
        F.expr("CAST((10000 * (2 * __sr__ - (__n__ + 1) * __s__))"
               " div (__n__ * __s__) AS BIGINT)").alias("gini_bp"),
    )


def abc_classification(df: DataFrame, key_col: str, amount_col: str,
                       thresholds_bp: Sequence[int] = (8000, 9500),
                       num_buckets: int = 256) -> DataFrame:
    """ABC / Pareto classification ("which 20% of customers carry 80%
    of revenue"): keys ranked by total DESCENDING; a key's class comes
    from the cumulative revenue share down to and INCLUDING its whole
    value tie-group — share ≤ 80% → A, ≤ 95% → B, else C (thresholds
    in basis points).  Computing at the value grain makes ties share a
    class by construction and keeps everything exact integers.

    For value v with tie count c, cumulative ascending revenue wcum
    and grand total S: ``revenue_from_top(v) = S − wcum + v·c`` and
    ``share_bp = (10000·revenue_from_top) div S``.

    Returns ``(key, total_cents, share_from_top_bp, abc_class)``.

    Scale shape: one fact→key shuffle, then the weighted two-phase
    cumulative histogram (:func:`_cum_value_histogram` — bounded
    collects only, no global sort-rank) and one value-grain equi-join
    back to the keys.
    """
    grain = (
        df.groupBy(F.col(key_col))
        .agg(F.sum(F.round(F.col(amount_col) * 100).cast("long"))
             .cast("long").alias("__x__"))
        .persist()
    )
    cum = _cum_value_histogram(grain, "__x__", num_buckets,
                               weighted=True)
    if cum is None:
        raise ValueError("abc_classification: empty input")
    dec = "decimal(38,0)"
    total = cum.agg(F.max("__wcum__").alias("s")).first()["s"]
    shares = cum.select(
        F.col("__v__"),
        F.expr(
            f"CAST((10000 * (CAST('{total}' AS {dec}) - __wcum__"
            f" + CAST(__v__ AS {dec}) * __cnt__))"
            f" div CAST('{total}' AS {dec}) AS BIGINT)")
        .alias("share_from_top_bp"))
    t1, t2 = thresholds_bp
    out = grain.join(shares,
                     grain["__x__"] == shares["__v__"])
    return out.select(
        F.col(key_col),
        F.col("__x__").alias("total_cents"),
        F.col("share_from_top_bp"),
        F.when(F.col("share_from_top_bp") <= t1, "A")
        .when(F.col("share_from_top_bp") <= t2, "B")
        .otherwise("C").alias("abc_class"),
    )


def rfm_segments(df: DataFrame, key_col: str, ts_col: str,
                 amount_col: str, as_of: str,
                 n_bins: int = 4) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation — the classic
    customer-value scoring the reference's star drilldown cannot
    express (it has no rank/quantile surface; SURVEY §2.4).

    Per key: ``recency_days`` (days from last activity to the explicit
    ``as_of`` date — a parameter, so runs are reproducible),
    ``frequency`` (activity count) and ``monetary_cents`` (exact
    integer cents).  Each metric is binned by its percentile_disc
    boundaries at ranks ceil(i·n/n_bins): bin = 1 + #(boundaries <
    value), recency REVERSED (most recent = highest score), the RFM
    convention.  ``segment`` packs the three digits (rfm = r·100 +
    f·10 + m).

    Scale shape: one fact→key-grain shuffle; boundaries come from
    :func:`exact_disc_quantiles` (distributed histogram + two-phase
    prefix sum, bounded collects only) and are applied as broadcast
    literals — scoring is pure column arithmetic, no window over the
    key grain.  Ties score identically in any engine because the
    boundaries are exact order statistics, not interpolations.
    """
    grain = (
        df.groupBy(F.col(key_col))
        .agg(
            F.datediff(F.lit(as_of).cast("date"),
                       F.max(F.col(ts_col).cast("date")))
            .cast("long").alias("recency_days"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.round(F.col(amount_col) * 100).cast("long"))
            .cast("long").alias("monetary_cents"),
        )
        .persist()
    )
    # r15: one batched three-metric histogram pass — 3 driver actions
    # total (bounds+count, bucket totals, boundaries) instead of the
    # former 1 count + 3×3 per-metric jobs, same boundaries
    # value-for-value (exact_disc_quantiles_multi)
    metrics = ["recency_days", "frequency", "monetary_cents"]
    boundaries, _n = exact_disc_quantiles_multi(
        grain, metrics,
        lambda n: [-(-i * n // n_bins) for i in range(1, n_bins)],
        count_col="frequency")
    scored = grain
    for metric, out_col, reverse in (
            ("recency_days", "r_score", True),
            ("frequency", "f_score", False),
            ("monetary_cents", "m_score", False)):
        bs = boundaries[metric]
        raw = F.lit(1)
        for b in bs:
            if b is not None:
                raw = raw + F.when(F.col(metric) > F.lit(int(b)), 1) \
                    .otherwise(0)
        binned = (F.lit(n_bins + 1) - raw) if reverse else raw
        scored = scored.withColumn(out_col, binned.cast("long"))
    return scored.withColumn(
        "segment",
        (F.col("r_score") * 100 + F.col("f_score") * 10
         + F.col("m_score")).cast("long"))


def markov_transitions(events: DataFrame, key_col: str, ts_col: str,
                       type_col: str,
                       tiebreak_col: Optional[str] = None) -> DataFrame:
    """First-order Markov transition matrix over per-key event
    sequences (the "what happens after X" behavioural model the
    reference's drilldown browser cannot express — it has no
    sequential window surface; SURVEY §2.4).  Per key, events are
    ordered by ``(ts, tiebreak)`` and every adjacent pair ``(state,
    next_state)`` is counted; ``prob_ppm`` is the exact
    parts-per-million transition probability ``10^6 · n(a→b) div
    n(a→*)`` — integer division, no double ratios, so any SQL engine
    replays it bit-for-bit.

    Returns ``(from_type, to_type, n_transitions, prob_ppm)``.

    Scale shape: one shuffle to the key grain for the lead() window
    (partitioned per key — never a global sort), then one aggregation
    to the (from, to) grain, which has at most |states|² rows; the
    per-state totals come from a window over THAT tiny grain.
    """
    from pyspark.sql.window import Window as W

    order = [F.col(ts_col)]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col))
    w = W.partitionBy(F.col(key_col)).orderBy(*order)
    pairs = (events
             .withColumn("__next__", F.lead(F.col(type_col)).over(w))
             .filter(F.col("__next__").isNotNull())
             .groupBy(F.col(type_col).alias("from_type"),
                      F.col("__next__").alias("to_type"))
             .agg(F.count(F.lit(1)).cast("long")
                  .alias("n_transitions")))
    w_from = W.partitionBy("from_type")
    return (pairs
            .withColumn("__tot__",
                        F.sum("n_transitions").over(w_from))
            .withColumn(
                "prob_ppm",
                F.expr("CAST((1000000 * CAST(n_transitions AS "
                       "decimal(38,0))) div __tot__ AS BIGINT)"))
            .drop("__tot__"))


def longest_streak(df: DataFrame, key_col: str, ts_col: str) -> DataFrame:
    """Gaps-and-islands: per key, the longest run of CONSECUTIVE
    calendar months with at least one row (the classic engagement /
    retention-streak question).  A month is indexed ``year·12 +
    month − 1``; within a key, islands fall out of the standard
    ``index − row_number()`` grouping constant — no iteration, no
    self-join.  Ties on run length break to the EARLIEST run.

    Returns ``(key, n_active_months, longest_streak,
    streak_start_year, streak_start_month)``.

    Scale shape: distinct to the (key, month) grain (one shuffle),
    a row_number window partitioned per key over that tiny grain
    (≤ a few hundred months per key), then two key-grain
    aggregations.  Nothing is ever globally ordered.
    """
    from pyspark.sql.window import Window as W

    midx = (F.year(F.col(ts_col)) * 12
            + F.month(F.col(ts_col)) - 1).cast("long")
    months = (df.select(F.col(key_col).alias("__k__"),
                        midx.alias("__m__"))
              .distinct())
    w = W.partitionBy("__k__").orderBy("__m__")
    runs = (months
            .withColumn("__isl__",
                        F.col("__m__")
                        - F.row_number().over(w).cast("long"))
            .groupBy("__k__", "__isl__")
            .agg(F.count(F.lit(1)).cast("long").alias("__len__"),
                 F.min("__m__").alias("__start__")))
    best = (runs.groupBy("__k__")
            .agg(F.sum("__len__").cast("long")
                 .alias("n_active_months"),
                 F.max(F.struct(F.col("__len__"),
                                (-F.col("__start__"))
                                .alias("__negs__")))
                 .alias("__b__")))
    return best.select(
        F.col("__k__").alias(key_col),
        F.col("n_active_months"),
        F.col("__b__.__len__").alias("longest_streak"),
        (-F.col("__b__.__negs__")).cast("long").alias("__si__"),
    ).select(
        key_col, "n_active_months", "longest_streak",
        F.expr("__si__ div 12").cast("long")
        .alias("streak_start_year"),
        (F.col("__si__") % 12 + 1).cast("long")
        .alias("streak_start_month"),
    )


def grouped_mad(df: DataFrame, group_cols: Sequence[str],
                value_col: str) -> DataFrame:
    """Per-group median absolute deviation on exact integer cents —
    the robust dispersion measure (Hampel 1974): ``median(|x −
    median(x)|)`` with both medians as percentile_disc order
    statistics (smallest value whose 1-based rank reaches
    ``(n+1) div 2``), so every engine agrees on ties and nothing is
    interpolated in doubles.

    Returns ``(group..., n_rows, median_cents, mad_cents)``.

    Scale shape: two window-rank passes, both PARTITIONED BY THE
    GROUP (never global), each followed by a one-row-per-group
    conditional aggregate; the medians travel back via a key-grain
    (broadcastable) join.  Same cost bound as two per-group sorts.
    """
    from pyspark.sql.window import Window as W

    cents = F.round(F.col(value_col) * 100).cast("long")
    base = df.select(*[F.col(c) for c in group_cols],
                     cents.alias("__v__"))

    def disc_median(frame, col, out):
        w_ord = W.partitionBy(*group_cols).orderBy(col)
        w_all = W.partitionBy(*group_cols)
        ranked = (frame
                  .withColumn("__rn__", F.row_number().over(w_ord))
                  .withColumn("__n__", F.count(F.lit(1)).over(w_all)))
        return ranked.groupBy(*group_cols).agg(
            F.max("__n__").cast("long").alias(f"{out}_n"),
            F.min(F.when(
                F.col("__rn__") >= F.expr("(__n__ + 1) div 2"),
                F.col(col))).alias(out))

    med = disc_median(base, "__v__", "median_cents")
    dev = (base.join(med, list(group_cols))
           .withColumn("__d__",
                       F.abs(F.col("__v__") - F.col("median_cents"))))
    mad = disc_median(dev.select(*group_cols, "__d__"),
                      "__d__", "mad_cents")
    return (med.join(mad.select(*group_cols, "mad_cents"),
                     list(group_cols))
            .select(*group_cols,
                    F.col("median_cents_n").alias("n_rows"),
                    "median_cents", "mad_cents"))


def last_touch_attribution(events: DataFrame, key_col: str,
                           ts_col: str, type_col: str,
                           conversion: str,
                           channels: Sequence[str],
                           window_seconds: int,
                           tiebreak_col: Optional[str] = None) -> DataFrame:
    """Last-touch marketing attribution: each conversion event is
    credited to the MOST RECENT strictly-preceding channel event by
    the same key within ``window_seconds`` (microsecond-exact gap);
    conversions with no in-window channel touch land in the
    ``(none)`` bucket.  Strictly-preceding means the window frame
    ends 1 row before the conversion under the deterministic
    ``(ts, tiebreak)`` order, so a channel event sharing the
    conversion's timestamp attributes only by tiebreak order — the
    same rule any SQL replay applies.

    Returns ``(channel, n_conversions)``.

    Scale shape: one shuffle to the key grain for the
    last-ignore-nulls window (running state, no self-join, no
    per-conversion scan-back), then a |channels|+1-row aggregation.
    """
    from pyspark.sql.window import Window as W

    order = [F.col(ts_col)]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col))
    w = (W.partitionBy(F.col(key_col)).orderBy(*order)
         .rowsBetween(W.unboundedPreceding, -1))
    is_ch = F.col(type_col).isin(list(channels))
    touched = (events
               .withColumn("__lt__",
                           F.last(F.when(is_ch, F.col(type_col)),
                                  ignorenulls=True).over(w))
               .withColumn("__lts__",
                           F.last(F.when(is_ch, F.col(ts_col)),
                                  ignorenulls=True).over(w)))
    lim = F.lit(int(window_seconds) * 1_000_000)
    gap_ok = (F.col("__lts__").isNotNull()
              & ((F.unix_micros(F.col(ts_col))
                  - F.unix_micros(F.col("__lts__"))) <= lim))
    return (touched
            .filter(F.col(type_col) == F.lit(conversion))
            .select(F.when(gap_ok, F.col("__lt__"))
                    .otherwise(F.lit("(none)")).alias("channel"))
            .groupBy("channel")
            .agg(F.count(F.lit(1)).cast("long")
                 .alias("n_conversions")))


def clamped_running_sum(df: DataFrame, key_col: str, ts_col: str,
                        delta_col: str,
                        tiebreak_col: Optional[str] = None) -> DataFrame:
    """Running balance clamped at a zero floor — inventory that
    cannot go negative, wallets that cannot overdraw: ``B_i =
    max(B_{i-1} + x_i, 0)``.  The recurrence LOOKS inherently
    sequential, but the zero-floor case has a closed form over
    prefix sums: ``B_i = S_i − min(0, min_{j<=i} S_j)`` (subtracting
    the deepest sub-zero excursion so far restores every clamp at
    once), so the whole operator is two running windows — no
    per-group iteration, no stateful UDF, no driver loop.

    Adds ``balance`` (the clamped running sum) and ``clamped``
    (true on rows where the floor actually bit, i.e. the prefix sum
    set a new strict minimum below zero).

    Scale shape: one shuffle to the key grain; both windows are
    running frames over the same (ts, tiebreak) order — a single
    sort per partition serves all of them.
    """
    from pyspark.sql.window import Window as W

    order = [F.col(ts_col)]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col))
    w_run = (W.partitionBy(F.col(key_col)).orderBy(*order)
             .rowsBetween(W.unboundedPreceding, 0))
    w_prev = (W.partitionBy(F.col(key_col)).orderBy(*order)
              .rowsBetween(W.unboundedPreceding, -1))
    staged = df.withColumn("__s__",
                           F.sum(F.col(delta_col)).over(w_run))
    runmin = F.min(F.col("__s__")).over(w_run)
    prevmin = F.min(F.col("__s__")).over(w_prev)
    out = (staged
           .withColumn("balance",
                       (F.col("__s__")
                        - F.least(F.lit(0).cast("long"),
                                  runmin)).cast("long"))
           .withColumn(
               "clamped",
               F.col("__s__") < F.least(
                   F.lit(0).cast("long"),
                   F.coalesce(prevmin, F.lit(0).cast("long")))))
    return out.drop("__s__")


def holt_trend(df: DataFrame, group_cols: Sequence[str],
               ts_col: str, value_col: str, bucket: str = "day",
               horizon: int = 1) -> DataFrame:
    """Holt linear-trend smoothing (Holt 1957, alpha = beta = 1/2)
    over per-group bucketed sums, in deterministic FIXED-POINT
    integer cents: with both constants 1/2 the recurrences are

        L_t = (Y_t + L_{t-1} + B_{t-1}) >> 1
        B_t = ((L_t - L_{t-1}) + B_{t-1}) >> 1

    where ``>>`` is the arithmetic right shift — floor division that
    Spark and every SQL engine agree on for NEGATIVE trends too
    (truncating `div` would disagree with Python/DuckDB floor
    semantics).  Init: L_1 = Y_1, B_1 = Y_2 − Y_1 (the classic
    two-point start).  Truncation loses < 1 cent per step — the
    price of a recurrence that is bit-identical at any parallelism
    and SQL-replayable (link_pagerank's fixed-point argument).

    The recurrence looks sequential, but each group's bucket series
    is bounded by the CALENDAR, not the data (30 rows for a month of
    days — at 100 TB the fact rows grow, the series does not), so it
    folds JVM-side over a sorted per-group array with
    ``F.aggregate`` — no UDF, no driver loop, one shuffle to the
    (group, bucket) grain and one to the group grain.

    Returns ``(group..., n_buckets, level_cents, trend_cents,
    forecast_cents)`` with ``forecast = L_T + horizon·B_T``; groups
    with fewer than 2 buckets are dropped (no trend is defined).
    """
    gcols = [F.col(c) for c in group_cols]
    b = (df.groupBy(*gcols,
                    F.date_trunc(bucket, F.col(ts_col)).alias("__b__"))
         .agg(F.sum(F.round(F.col(value_col) * 100).cast("long"))
              .cast("long").alias("__y__")))
    series = (b.groupBy(*group_cols)
              .agg(F.array_sort(
                  F.collect_list(F.struct(F.col("__b__").alias("b"),
                                          F.col("__y__").alias("y"))))
                  .alias("__s__"))
              .filter(F.size("__s__") >= 2))
    ys = F.expr("transform(__s__, p -> p.y)")

    def _step(acc, y):
        lp, bp = acc.getField("l"), acc.getField("b")
        lt = F.shiftright(y + lp + bp, 1)
        bt = F.shiftright((lt - lp) + bp, 1)
        return F.struct(lt.alias("l"), bt.alias("b"))

    folded = series.withColumn(
        "__st__",
        F.aggregate(
            F.slice(ys, 3, F.greatest(F.size(ys) - 2, F.lit(0))),
            F.expr("named_struct("
                   "'l', CAST(__s__[0].y AS BIGINT), "
                   "'b', CAST(__s__[1].y - __s__[0].y AS BIGINT))"),
            _step,
        ))
    return folded.select(
        *group_cols,
        F.size("__s__").cast("long").alias("n_buckets"),
        F.col("__st__.l").alias("level_cents"),
        F.col("__st__.b").alias("trend_cents"),
        (F.col("__st__.l")
         + F.lit(int(horizon)) * F.col("__st__.b")).cast("long")
        .alias("forecast_cents"))


def semiadditive_last(df: DataFrame, group_cols: Sequence[str],
                      entity_col: str, ts_col: str, value_col: str,
                      bucket: str = "month",
                      tiebreak_cols: Sequence[str] = ()) -> DataFrame:
    """Semi-additive aggregation with LastNonEmpty semantics (the
    SSAS/Essbase pattern for balance-style measures): within each
    time bucket, every entity contributes its LAST observed value —
    never the sum along time — and values add only ACROSS entities.
    This executes what the reference merely annotates: cubes models
    carry ``nonadditive="time"`` on measures
    (/root/reference/cubes/metadata/attributes.py:298-338) but its
    SQL backend still emits plain SUM — the semantics are documented,
    not enforced.  Here they are enforced.

    The last-per-entity pick is ``max(struct(ts, tiebreak...,
    value))`` — an ALGEBRAIC aggregate, so both shuffles (to the
    (group, bucket, entity) grain, then to (group, bucket)) get
    map-side partial aggregation; no row_number window over the fact
    table ever exists in the plan.  ``tiebreak_cols`` make the pick
    deterministic when one entity has several rows on the same
    timestamp (pass a unique id).

    Returns ``(group..., bucket, n_entities, last_sum_cents)`` in
    exact integer cents.
    """
    gcols = [F.col(c) for c in group_cols]
    tb = [F.col(c) for c in tiebreak_cols]
    picked = (df.groupBy(*gcols, F.col(entity_col).alias("__e__"),
                         F.date_trunc(bucket, F.col(ts_col))
                         .alias("bucket"))
              .agg(F.max(F.struct(
                  F.col(ts_col).alias("__t__"), *tb,
                  F.round(F.col(value_col) * 100).cast("long")
                  .alias("__v__"))).alias("__last__")))
    return (picked.groupBy(*group_cols, "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_entities"),
                 F.sum("__last__.__v__").cast("long")
                 .alias("last_sum_cents")))


def autocorrelation(df: DataFrame, group_cols: Sequence[str],
                    ts_col: str, value_col: str, bucket: str = "day",
                    max_lag: int = 7) -> DataFrame:
    """Autocorrelation function of per-group bucketed sums at lags
    1..max_lag, in EXACT integer ppm: with n-scaled deviations
    ``d_i = n·y_i − S`` (integers — no mean division), the lag-k
    coefficient is

        r_k = sign · (10^6 · |Σ d_i·d_{i−k}|) div (Σ d_i²)

    over the bucket series in time order (lag counts SERIES steps;
    calendar gaps are adjacency, document accordingly).  Products run
    in decimal(38,0) — d_i ~ n·y stays exact far past 10^12 cents.
    Truncating-div on the |·| keeps Spark's ``div`` and the oracle's
    ``//`` identical for NEGATIVE correlations too (they disagree on
    flooring otherwise).

    Scale shape: one shuffle to the (group, bucket) grain — the only
    fact-sized step — then windows partitioned per GROUP over the
    calendar-bounded series (holt_trend's argument: at 100 TB the
    fact rows grow, the series does not).  Group count × max_lag
    output rows.

    Returns ``(group..., lag, n_buckets, acf_ppm)``; groups need
    n ≥ lag+2 buckets and a non-constant series (zero variance rows
    are dropped — r is undefined).
    """
    from pyspark.sql.window import Window as W

    dec = "decimal(38,0)"
    gcols = list(group_cols)
    b = (df.groupBy(*[F.col(c) for c in gcols],
                    F.date_trunc(bucket, F.col(ts_col)).alias("__b__"))
         .agg(F.sum(F.round(F.col(value_col) * 100).cast("long"))
              .cast("long").alias("__y__")))
    stats = (b.groupBy(*gcols)
             .agg(F.count(F.lit(1)).cast("long").alias("__n__"),
                  F.sum("__y__").cast("long").alias("__S__")))
    j = b.join(F.broadcast(stats), gcols)
    d = (F.col("__n__").cast(dec) * F.col("__y__").cast(dec)
         - F.col("__S__").cast(dec))
    w = W.partitionBy(*gcols).orderBy("__b__")
    withd = j.withColumn("__d__", d)
    for k in range(1, max_lag + 1):
        withd = withd.withColumn(f"__dl_{k}__",
                                 F.lag("__d__", k).over(w))
    aggs = [F.sum(F.col("__d__") * F.col("__d__")).alias("__den__"),
            F.max("__n__").alias("n_buckets")]
    for k in range(1, max_lag + 1):
        aggs.append(F.sum(F.col("__d__") * F.col(f"__dl_{k}__"))
                    .alias(f"__num_{k}__"))
    per_group = withd.groupBy(*gcols).agg(*aggs)
    lag_col = F.explode(F.array(*[
        F.struct(F.lit(k).cast("long").alias("lag"),
                 F.col(f"__num_{k}__").alias("num"))
        for k in range(1, max_lag + 1)])).alias("__l__")
    out = (per_group.filter(F.col("__den__") > 0)
           .select(*gcols, "n_buckets", "__den__", lag_col)
           .select(*gcols, F.col("__l__.lag").alias("lag"),
                   "n_buckets",
                   (F.when(F.col("__l__.num") < 0, -1).otherwise(1)
                    * F.expr("CAST((CAST(1000000 AS decimal(38,0))"
                             " * abs(__l__.num)) div __den__"
                             " AS BIGINT)")).cast("long")
                   .alias("acf_ppm"))
           .filter(F.col("n_buckets") >= F.col("lag") + 2))
    return out


def burstiness(df: DataFrame, group_cols: Sequence[str],
               ts_col: str, min_gaps: int = 2) -> DataFrame:
    """Inter-arrival burstiness per group — the Fano factor
    (variance-to-mean ratio) of consecutive event gaps, in EXACT
    integer ppm: with gaps g_i in microseconds, n = #gaps,
    S = Σg, Q = Σg²,

        fano_ppm = (10^6 · (n·Q − S²)) div (n·S)

    — population variance over mean without ever dividing early
    (n·Q − S² = n²·var ≥ 0 by Cauchy–Schwarz, so truncating div is
    floor on both engines).  fano ≈ mean for a Poisson process in
    the same units; ≫ mean flags bursty clients (bot traffic,
    retry storms), ≪ mean flags metronomic schedulers.

    The gap multiset of a sorted timestamp multiset is
    order-invariant under ties, so no tiebreak column is needed.
    One fact-grain window partitioned by group (the sessionize
    shape), then one map-side-combinable aggregation; Q runs in
    decimal(38,0) — exact past 10^19 µs².

    Returns ``(group..., n_gaps, mean_gap_us, fano_ppm)``; groups
    with fewer than ``min_gaps`` gaps or an all-zero gap sum are
    dropped (the ratio is undefined).
    """
    from pyspark.sql.window import Window as W

    dec = "decimal(38,0)"
    gcols = list(group_cols)
    w = W.partitionBy(*gcols).orderBy(F.col("__t__"))
    g = (df.select(*gcols, F.unix_micros(F.col(ts_col)).alias("__t__"))
         .withColumn("__g__", F.col("__t__")
                     - F.lag("__t__", 1).over(w))
         .filter(F.col("__g__").isNotNull()))
    agg = (g.groupBy(*gcols)
           .agg(F.count(F.lit(1)).cast("long").alias("n_gaps"),
                F.sum("__g__").cast("long").alias("__S__"),
                F.sum(F.col("__g__").cast(dec)
                      * F.col("__g__").cast(dec)).alias("__Q__")))
    return (agg.filter((F.col("n_gaps") >= min_gaps)
                       & (F.col("__S__") > 0))
            .select(*gcols, "n_gaps",
                    F.expr("__S__ div n_gaps").alias("mean_gap_us"),
                    F.expr(f"CAST((CAST(1000000 AS {dec})"
                           f" * (n_gaps * __Q__"
                           f"    - CAST(__S__ AS {dec})"
                           f"      * CAST(__S__ AS {dec})))"
                           f" div (CAST(n_gaps AS {dec})"
                           f"      * CAST(__S__ AS {dec}))"
                           f" AS BIGINT)").alias("fano_ppm")))


def json_field_stats(df: DataFrame, group_cols: Sequence[str],
                     json_col: str, field: str,
                     field_type: str = "long") -> DataFrame:
    """Typed extraction of one field from a JSON string column +
    grouped exact stats — the semi-structured ingestion pattern
    (event properties, API payloads, tool-call logs): ``from_json``
    with an explicit one-field schema parses JVM-side (no Python,
    no regex), malformed or missing values become NULLs that are
    COUNTED rather than dropped, and the stats aggregation is
    map-side combinable.

    At 100 TB the win is schema-on-read pushed into the scan stage:
    only ``json_col`` is read (column pruning still applies to the
    other columns), each row is parsed exactly once, and everything
    after the parse is a plain integer aggregation.

    Returns ``(group..., n, n_parsed, sum_v, min_v, max_v)`` where
    ``n - n_parsed`` counts rows whose JSON lacked the field or
    failed to parse.
    """
    parsed = F.from_json(F.col(json_col),
                         f"`{field}` {field_type}")[field]
    base = df.select(*group_cols, parsed.alias("__v__"))
    return (base.groupBy(*group_cols)
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.count("__v__").cast("long").alias("n_parsed"),
                 F.sum("__v__").cast("long").alias("sum_v"),
                 F.min("__v__").cast("long").alias("min_v"),
                 F.max("__v__").cast("long").alias("max_v")))


def group_ols_trend(df: DataFrame, group_cols: Sequence[str],
                    ts_col: str, value_col: str,
                    bucket: str = "day") -> DataFrame:
    """Per-group least-squares trend of bucketed sums, in EXACT
    rational arithmetic: with x = bucket day index and y = bucket
    sum in cents, OLS needs only the five raw sums (n, Σx, Σy,
    Σxy, Σx², Σy²) — all integers — and

        slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        r²        = num² / (den_x · den_y)

    emitted as ``slope_upd = sign·(10^6·|num|) div den_x``
    (micro-cents per day; truncating div on the magnitude keeps
    Spark and SQL identical for falling trends) and ``r2_ppm =
    ((10^6·|num|) div den_x · |num|) div den_y`` — the STAGED
    division keeps every intermediate ≤ 10^6·|num| (a single
    ``10^6·num²`` already overflows decimal(38,0) at ~15k orders/
    day-grain; measured 1.8e38 at sf0.1), costs < 2 ppm vs the real
    r², and the SQL oracle replays the same staging.  num is
    shift-invariant, so raw epoch-day x never inflates it; every
    product runs in decimal(38,0).

    Scale shape: one shuffle to the (group, bucket) grain, then ONE
    map-side-combinable aggregation per group — no window, no sort,
    no second pass (contrast holt_trend, which is inherently
    sequential and folds; OLS is a plain moment sketch).

    Returns ``(group..., n_buckets, slope_upd, r2_ppm)``; groups
    need ≥ 2 distinct buckets and a non-constant y (den_y = 0 has
    an undefined r²) — others are dropped.
    """
    dec = "decimal(38,0)"
    gcols = list(group_cols)
    b = (df.groupBy(*[F.col(c) for c in gcols],
                    F.datediff(F.to_date(F.date_trunc(
                        bucket, F.col(ts_col))),
                        F.lit("1970-01-01").cast("date"))
                    .cast("long").alias("__x__"))
         .agg(F.sum(F.round(F.col(value_col) * 100).cast("long"))
              .cast("long").alias("__y__")))
    x = F.col("__x__").cast(dec)
    y = F.col("__y__").cast(dec)
    m = (b.groupBy(*gcols)
         .agg(F.count(F.lit(1)).cast(dec).alias("__n__"),
              F.sum(x).alias("__sx__"), F.sum(y).alias("__sy__"),
              F.sum(x * y).alias("__sxy__"),
              F.sum(x * x).alias("__sxx__"),
              F.sum(y * y).alias("__syy__")))
    num = F.col("__n__") * F.col("__sxy__") \
        - F.col("__sx__") * F.col("__sy__")
    denx = F.col("__n__") * F.col("__sxx__") \
        - F.col("__sx__") * F.col("__sx__")
    deny = F.col("__n__") * F.col("__syy__") \
        - F.col("__sy__") * F.col("__sy__")
    withd = (m.withColumn("__num__", num)
             .withColumn("__dx__", denx)
             .withColumn("__dy__", deny)
             .filter((F.col("__dx__") > 0) & (F.col("__dy__") > 0)))
    return withd.select(
        *gcols,
        F.col("__n__").cast("long").alias("n_buckets"),
        (F.when(F.col("__num__") < 0, -1).otherwise(1)
         * F.expr(f"CAST((CAST(1000000 AS {dec}) * abs(__num__))"
                  f" div __dx__ AS BIGINT)")).cast("long")
        .alias("slope_upd"),
        F.expr(f"CAST(((CAST(1000000 AS {dec}) * abs(__num__))"
               f" div __dx__ * abs(__num__)) div __dy__"
               f" AS BIGINT)").alias("r2_ppm"))


def skyline_2d(df: DataFrame, x_col: str, y_col: str,
               num_buckets: int = 256) -> DataFrame:
    """2-D skyline (Pareto frontier, maximize both axes): a point
    survives iff NO other point is ≥ on both coordinates and > on
    one — the classic "best price/recency tradeoff" operator
    relational engines lack (Börzsönyi, Kossmann & Stocker, ICDE
    2001).

    In 2-D the frontier is a suffix-max scan: collapse to the
    distinct-x grain with my = max(y at x) (anything below my at the
    same x is dominated by it), then x survives iff
    ``my > max(my' over x' > x)`` — STRICT, since an equal y at a
    strictly larger x dominates.  The suffix max distributes exactly
    like the EDF prefix sums: deterministic x buckets, one bounded
    driver collect of per-bucket maxima (suffix offsets computed
    driver-side), bucket-local running max — never a global sort.

    Both columns are read as cents.  Returns the frontier as
    ``(x_cents, y_cents, n_points)`` with n_points the number of
    fact rows sitting exactly on that vertex.
    """
    from pyspark.sql.window import Window as W

    xc = F.round(F.col(x_col) * 100).cast("long")
    yc = F.round(F.col(y_col) * 100).cast("long")
    base = df.select(xc.alias("__x__"), yc.alias("__y__"))
    grain = (base.groupBy("__x__")
             .agg(F.max("__y__").alias("__my__")))
    bounds = grain.agg(F.min("__x__").alias("lo"),
                       F.max("__x__").alias("hi")).first()
    spark = df.sparkSession
    if bounds["lo"] is None:
        return spark.createDataFrame(
            [], "x_cents long, y_cents long, n_points long")
    lo, hi = bounds["lo"], bounds["hi"]
    width = max(1, -(-(hi - lo + 1) // num_buckets))
    grain = grain.withColumn(
        "__pid__",
        F.floor((F.col("__x__") - F.lit(lo)) / F.lit(width))
        .cast("int"))
    totals = (grain.groupBy("__pid__")
              .agg(F.max("__my__").alias("m")).collect())
    ordered = sorted(totals, key=lambda r: -r["__pid__"])
    offsets, run = [], None
    for row in ordered:          # suffix max over DESCENDING pid
        offsets.append((row["__pid__"],
                        run if run is not None else None))
        m = row["m"]
        if m is not None and (run is None or m > run):
            run = m
    off = F.broadcast(spark.createDataFrame(
        offsets, "__pid__ int, __soff__ long"))
    w_desc = (W.partitionBy("__pid__")
              .orderBy(F.col("__x__").desc())
              .rowsBetween(W.unboundedPreceding, -1))
    cum = (grain.join(off, "__pid__")
           .withColumn(
               "__thr__",
               F.greatest(
                   F.coalesce(F.max("__my__").over(w_desc),
                              F.lit(-(1 << 62))),
                   F.coalesce(F.col("__soff__"),
                              F.lit(-(1 << 62))))))
    frontier = (cum.filter(F.col("__my__") > F.col("__thr__"))
                .select(F.col("__x__").alias("__fx__"),
                        F.col("__my__").alias("__fy__")))
    return (base.join(frontier,
                      (F.col("__x__") == F.col("__fx__"))
                      & (F.col("__y__") == F.col("__fy__")))
            .groupBy(F.col("__fx__").alias("x_cents"),
                     F.col("__fy__").alias("y_cents"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_points")))


def forecast_mase(df: DataFrame, group_cols: Sequence[str],
                  ts_col: str, value_col: str, bucket: str = "day",
                  season: int = 7) -> DataFrame:
    """Seasonal-naive forecast skill per group (Hyndman & Koehler
    2006 MASE shape), integer-exact: on the bucketed value-sum
    series, the seasonal-naive forecast error |y_t − y_{t−season}|
    is compared against the one-step naive error |y_t − y_{t−1}|
    over the aligned tail (t > season), and the ratio is one
    truncating div: ``mase_ppm = (10^6·Σ|e_season|) div Σ|e_naive|``
    — below 10^6 means the seasonal pattern beats a random walk.

    Scale shape: one shuffle to the (group, bucket) grain, two lags
    over a window partitioned by group ON THAT GRAIN (bounded by the
    calendar, not the fact count), one algebraic aggregation.
    """
    from pyspark.sql.window import Window as W

    gcols = list(group_cols)
    b = (df.groupBy(*[F.col(c) for c in gcols],
                    F.date_trunc(bucket, F.col(ts_col))
                    .alias("__b__"))
         .agg(F.sum(F.round(F.col(value_col) * 100).cast("long"))
              .cast("long").alias("__y__")))
    w = W.partitionBy(*gcols).orderBy("__b__")
    lagged = (b.withColumn("__l1__", F.lag("__y__", 1).over(w))
              .withColumn("__ls__", F.lag("__y__", int(season))
                          .over(w))
              .filter(F.col("__l1__").isNotNull()
                      & F.col("__ls__").isNotNull()))
    agg = lagged.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum(F.abs(F.col("__y__") - F.col("__ls__")))
        .cast("long").alias("sum_err_season_cents"),
        F.sum(F.abs(F.col("__y__") - F.col("__l1__")))
        .cast("long").alias("sum_err_naive_cents"))
    return (agg.filter(F.col("sum_err_naive_cents") > 0)
            .withColumn(
                "mase_ppm",
                F.expr("CAST((CAST(1000000 AS decimal(38,0))"
                       " * sum_err_season_cents)"
                       " div sum_err_naive_cents AS BIGINT)")))


def stickiness_ratio(df: DataFrame, key_col: str, ts_col: str
                     ) -> DataFrame:
    """DAU/MAU stickiness per calendar month: the mean daily active
    count over the month's ACTIVE DAYS divided by the monthly active
    count, in exact ppm — ``(10^6 · Σ_day DAU) div (n_days · MAU)``
    (the engagement ratio product teams track; 10^6 = everyone active
    every day).

    Scale shape: one distinct-reduction to the (day, key) grain
    (map-side combinable), a day-grain count, a month-grain distinct
    count, one broadcast-sized join of two month-grain frames.
    """
    day_key = (df.select(
        F.date_trunc("month", F.col(ts_col)).alias("month"),
        F.to_date(F.col(ts_col)).alias("__d__"),
        F.col(key_col).alias("__k__")).distinct())
    dau = (day_key.groupBy("month", "__d__")
           .agg(F.count(F.lit(1)).alias("__dau__"))
           .groupBy("month")
           .agg(F.sum("__dau__").cast("long").alias("dau_sum"),
                F.count(F.lit(1)).cast("long").alias("n_days")))
    mau = (day_key.select("month", "__k__").distinct()
           .groupBy("month")
           .agg(F.count(F.lit(1)).cast("long").alias("mau")))
    return (dau.join(mau, "month")
            .withColumn(
                "stickiness_ppm",
                F.expr("CAST((CAST(1000000 AS decimal(38,0))"
                       " * dau_sum) div (CAST(n_days AS"
                       " decimal(38,0)) * mau) AS BIGINT)")))


def lorenz_curve(df: DataFrame, key_col: str, amount_col: str,
                 deciles: int = 10) -> DataFrame:
    """Lorenz-curve points (the data behind a Gini plot): entities
    ranked ascending by their amount; at each decile boundary d/10
    of entities, the cumulative share of the total amount in exact
    ppm — 'the bottom 50% of customers produce X% of revenue'.

    Built on the WEIGHTED two-phase cumulative histogram
    (``_cum_value_histogram(weighted=True)``): per distinct amount,
    exact cumulative entity counts AND cumulative amount sums, both
    distributed — the decile read-off is a conditional aggregate on
    the value grain, never a global entity sort.  Boundary rank is
    percentile_disc's ceil(d·N/10); the share divides cumulative
    cents by total cents (truncating, replayable).  Ties merge: the
    boundary is the smallest AMOUNT whose cumulative count reaches
    the rank, and the reported cumulatives include that amount's
    whole tie run (an all-equal population reports 100% at every
    decile — the value grain cannot split identical spenders, and no
    deterministic entity order exists that could).
    """
    # round per ROW before the sum — a double sum's rounding is
    # partition-order dependent; a long sum is exact
    per_key = (df.groupBy(F.col(key_col))
               .agg(F.sum(F.round(F.col(amount_col) * 100)
                          .cast("long")).cast("long")
                    .alias("__amt__")))
    cum = _cum_value_histogram(per_key, "__amt__", weighted=True)
    if cum is None:
        return df.sparkSession.createDataFrame(
            [], "decile long, rank long, cum_entities long, "
                "cum_share_ppm long")
    # Total = cumulative sum AT THE LAST VALUE, not max(__wcum__):
    # the running amount sum is only monotone when every per-entity
    # amount is non-negative, so with refunds max() overstates the
    # denominator.  max_by over __v__ is the true total regardless.
    tot = cum.agg(F.max("__cum__").alias("n"),
                  F.max_by("__wcum__", "__v__").alias("w")).first()
    n, w = int(tot["n"]), int(tot["w"])
    spark = df.sparkSession
    spine = spark.createDataFrame(
        [(d, (d * n + deciles - 1) // deciles)
         for d in range(1, deciles + 1)], "decile long, rank long")
    hit = (cum.crossJoin(F.broadcast(spine))
           .filter(F.col("__cum__") >= F.col("rank")))
    # Shares are well-defined only for a positive total; a zero or
    # negative total (all refunds) yields NULL shares rather than a
    # div-by-zero or a sign-flipped curve.
    share = (F.expr(f"CAST((CAST(1000000 AS decimal(38,0))"
                    f" * min_by(__wcum__, __v__))"
                    f" div {w} AS BIGINT)")
             if w > 0 else F.lit(None).cast("long"))
    return (hit.groupBy("decile", "rank")
            .agg(F.min_by("__cum__", "__v__").cast("long")
                 .alias("cum_entities"),
                 share.alias("cum_share_ppm")))


def period_over_period(df: DataFrame, time_col: str, value_col: str,
                       bucket: str = "month",
                       lag_periods: int = 12) -> DataFrame:
    """Period-over-period comparison (YoY with the defaults): per
    calendar ``bucket``, the exact cent sum of ``value_col``, the
    value of the SAME bucket ``lag_periods`` earlier, and the delta
    in ppm — the time-intelligence staple ("revenue vs the same
    month last year").

    Gap-correct by construction: the prior period attaches by an
    EQUI-JOIN on the shifted calendar key (``add_months``), never a
    row-offset ``lag()`` — a missing month in the data misaligns a
    row-lag but cannot misalign a calendar join.  Scale shape: one
    map-side-combinable aggregation to the bucket grain, then a
    grain×grain self-join (bounded by the calendar, broadcast-sized
    at any fact scale).  A period with no prior reports NULLs; a
    zero/negative prior reports a NULL delta (share of a non-positive
    base is undefined).
    """
    if bucket not in ("month", "quarter", "year"):
        raise ValueError(f"unsupported bucket {bucket!r}")
    months = {"month": 1, "quarter": 3, "year": 12}[bucket]
    per = (df.groupBy(F.date_trunc(bucket, F.col(time_col))
                      .alias("period"))
           .agg(F.sum(F.round(F.col(value_col) * 100).cast("long"))
                .cast("long").alias("value_cents")))
    prior = per.select(
        F.add_months(F.col("period"),
                     lag_periods * months).cast("timestamp")
        .alias("period"),
        F.col("value_cents").alias("prior_cents"))
    out = per.join(prior, "period", "left")
    delta = F.when(
        F.col("prior_cents") > 0,
        F.expr("CAST((CAST(1000000 AS decimal(38,0)) * "
               "(value_cents - prior_cents)) div prior_cents "
               "AS BIGINT)"))
    return out.select("period", "value_cents", "prior_cents",
                      delta.alias("delta_ppm"))


def percent_of_parent(df: DataFrame, parent_cols: Sequence[str],
                      child_cols: Sequence[str],
                      value_col: str) -> DataFrame:
    """Percent-of-parent contribution: exact cent sums at the child
    grain plus each child's share of its parent's total in ppm —
    "each nation's share of its region's revenue", the hierarchy
    counterpart of a global share.

    Scale shape: ONE map-side-combinable aggregation to the
    (parent, child) grain, then a window SUM partitioned by the
    parent over that grain — the window runs on grain-sized data
    (|parents|×|children| rows), never on facts, and partitioning by
    the parent keys keeps it fully parallel.  Truncating integer div
    keeps the share oracle-replayable; a non-positive parent total
    yields NULL shares.
    """
    from pyspark.sql.window import Window as W

    pl, cl = list(parent_cols), list(child_cols)
    grain = (df.groupBy(*[F.col(c) for c in pl + cl])
             .agg(F.sum(F.round(F.col(value_col) * 100).cast("long"))
                  .cast("long").alias("value_cents")))
    total = F.sum("value_cents").over(W.partitionBy(*pl))
    return (grain
            .withColumn("parent_cents", total.cast("long"))
            .withColumn(
                "share_ppm",
                F.when(F.col("parent_cents") > 0,
                       F.expr("CAST((CAST(1000000 AS decimal(38,0))"
                              " * value_cents) div parent_cents"
                              " AS BIGINT)"))))


def peak_trailing_rate(df: DataFrame, ts_col: str, value_col: str,
                       group_cols: Sequence[str],
                       window_seconds: int = 3600) -> DataFrame:
    """Peak trailing-window intensity per group: the maximum, over
    event time, of the calendar-aware RANGE frame sum of the last
    ``window_seconds`` — "what was the hottest hour" — plus the
    moment it first peaked.  A RANGE window (value-based frame) is
    genuinely different surface from the ROWS frames the calculators
    use: gaps in event time shrink the frame instead of reaching
    back further rows.

    Scale shape: facts collapse to the (group, second) grain FIRST —
    one map-side-combinable aggregation — so the RANGE window runs
    over the bounded time grain, never the facts; the final max is a
    plain grouped aggregate.  Exact integer cents throughout (the
    frame sum is order-free), so the oracle replays it verbatim.
    """
    from pyspark.sql.window import Window as W

    gcols = list(group_cols)
    sec = (df.filter(F.col(value_col).isNotNull())
           .groupBy(*gcols,
                    F.col(ts_col).cast("long").alias("__sec__"))
           .agg(F.sum(F.round(F.col(value_col) * 100).cast("long"))
                .cast("long").alias("__v__")))
    w = (W.partitionBy(*gcols).orderBy("__sec__")
         .rangeBetween(-(window_seconds - 1), 0))
    wall = W.partitionBy(*gcols)
    rated = (sec.withColumn("__rate__", F.sum("__v__").over(w))
             .withColumn("__mx__", F.max("__rate__").over(wall)))
    return (rated.groupBy(*gcols)
            .agg(F.max("__rate__").cast("long")
                 .alias("peak_window_cents"),
                 F.min(F.when(F.col("__rate__") == F.col("__mx__"),
                              F.col("__sec__"))).cast("long")
                 .alias("peak_at_epoch")))


def bridge_weighted_aggregate(fact: DataFrame, bridge: DataFrame,
                              fact_key: str, group_col: str,
                              weight_col: str, measure_col: str,
                              weight_denom: int = 10000,
                              extra_group_cols: Sequence[str] = (),
                              ) -> DataFrame:
    """Kimball many-to-many bridge-table aggregation: a fact row that
    belongs to several dimension members (an order in N campaigns, a
    patient with M diagnoses) is allocated across them by a bridge
    table carrying integer allocation weights (basis points summing
    to ``weight_denom`` per fact), so totals stay additive — the
    classic "multivalued dimension" pattern (Kimball, The Data
    Warehouse Toolkit ch. 8).  The reference can only join a fact to
    single-valued dimensions (/root/reference/cubes/mapping.py joins
    are 1:1 per fact row), so this is a designed-in upgrade.

    Weights are INTEGER basis points and the measure is exact cents,
    so every per-group sum is an exact integer — order-free at any
    parallelism.  Output per group: ``alloc_cents`` (the weighted
    allocation, floor-divided once at the end, never per row),
    ``raw_cents`` (unweighted, double-counts multi-homed facts) and
    ``fact_cnt``.

    Scale shape: one equi-join fact↔bridge on the fact key (both
    sides fact-grain — AQE picks shuffle vs broadcast), then one
    map-side-combinable groupBy on the bridge's group key.  No
    explode of the fact side, no window, two shuffles total.
    """
    cents = F.round(F.col(measure_col) * 100).cast("long")
    joined = (fact
              .select(fact_key, *extra_group_cols,
                      cents.alias("__cents__"))
              .join(bridge.select(fact_key, group_col, weight_col),
                    on=fact_key, how="inner"))
    gcols = [group_col, *extra_group_cols]
    return (joined.groupBy(*gcols)
            .agg(F.floor(F.sum(F.col("__cents__")
                               * F.col(weight_col))
                         / F.lit(weight_denom)).cast("long")
                 .alias("alloc_cents"),
                 F.sum("__cents__").cast("long").alias("raw_cents"),
                 F.count(F.lit(1)).cast("long").alias("fact_cnt")))


def scd2_lookup(fact: DataFrame, dim_versions: DataFrame,
                key_col: str, fact_ts_col: str,
                effective_col: str,
                attr_cols: Sequence[str]) -> DataFrame:
    """Point-in-time (SCD Type-2) dimension lookup: attach to each
    fact row the dimension attributes from the version that was
    EFFECTIVE at the fact's timestamp — facts before a key's first
    version keep NULL attributes.  The inverse of
    :func:`scd2_collapse` (which builds the version intervals); this
    consumes them.

    Scale shape: the naive formulation is a non-equi range join
    (``fact.ts BETWEEN eff_from AND eff_to``) which Spark executes as
    a broadcast-nested-loop or a sort-merge with per-row interval
    scan.  Instead this delegates to the as-of join
    (operators/asof.py): union facts and versions, ONE per-key
    windowed shuffle carries the latest at-or-before version forward
    — no row multiplication, no interval containment predicate, no
    second join.  Ties (a version effective exactly at the fact
    timestamp) take the version — "at or before" — matching the
    closed-open ``[eff_from, next_eff)`` interval convention of
    scd2_collapse.

    Versions apply ATOMICALLY: the as-of join carries each matched
    version as one struct, so a version whose attribute is
    legitimately NULL delivers that NULL — attributes are never
    blended across versions (operators/asof.py).
    """
    from cubes_spark.operators.asof import asof_join

    versions = dim_versions.select(
        F.col(key_col),
        F.col(effective_col).alias(fact_ts_col),
        *[F.col(c) for c in attr_cols])
    out = asof_join(fact, versions, on=fact_ts_col, by=key_col,
                    right_values=list(attr_cols),
                    direction="backward")
    renames = {f"{c}_right": c for c in attr_cols}
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return out.drop(f"{fact_ts_col}_right")


def melt(df: DataFrame, id_cols: Sequence[str],
         value_cols: Sequence[str], var_name: str = "variable",
         value_name: str = "value",
         drop_nulls: bool = False) -> DataFrame:
    """Unpivot — the inverse of :func:`crosstab`: wide measure
    columns become (variable, value) rows, the long grain every
    drilldown/calculator operator in the engine consumes.  The
    reference's CrossTableFormatter only ever widens
    (/root/reference/cubes/formatters.py); round-tripping back is a
    designed-in upgrade.

    Delegates to the native ``DataFrame.unpivot`` (Spark's
    ``Expand`` node: one projection emitting len(value_cols) rows per
    input row inside whole-stage codegen — no shuffle, no explode of
    a built array).  ``drop_nulls`` mirrors SQL UNPIVOT's default of
    omitting NULL measures; off by default because OLAP consumers
    usually want the explicit NULL cell.
    """
    out = df.unpivot([F.col(c) for c in id_cols],
                     [F.col(c) for c in value_cols],
                     var_name, value_name)
    if drop_nulls:
        out = out.filter(F.col(value_name).isNotNull())
    return out


def weighted_quantiles(df: DataFrame, value_col: str, weight_col: str,
                       group_cols: Sequence[str] = (),
                       qs_bp: Sequence[int] = (2500, 5000, 7500),
                       ) -> DataFrame:
    """Exact WEIGHTED discrete quantiles: the smallest value whose
    cumulative weight reaches q of the total — percentile_disc where
    every row counts ``weight_col`` times (unit-weighted quantiles
    are :func:`exact_disc_quantiles`).  The estimator behind weighted
    medians of order sizes, token-weighted length percentiles, and
    revenue-weighted price points.

    Quantiles are INTEGER basis points and the threshold test is a
    cross-multiplication (``cum_w * 10000 >= q_bp * total_w``) over
    integer weight sums — exact at any parallelism, replayable by an
    ANSI oracle.

    Scale shape: facts collapse to the (group, value) grain FIRST
    (one map-side-combinable aggregation); the cumulative window runs
    over that bounded grain, never the facts; the per-quantile pick
    is a grain-sized filter + min-groupBy.  Like
    ``exact_disc_quantiles``, intended for bounded value grains
    (discounts, sizes, bucketed amounts) — bucket first for
    continuous measures.
    """
    from pyspark.sql.window import Window as W

    gcols = list(group_cols)
    grain = (df.groupBy(*gcols, F.col(value_col).alias("__v__"))
             .agg(F.sum(F.col(weight_col).cast("long"))
                  .alias("__w__")))
    w = (W.partitionBy(*gcols).orderBy("__v__")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    wall = W.partitionBy(*gcols)
    cum = (grain.withColumn("__cw__", F.sum("__w__").over(w))
           .withColumn("__tw__", F.sum("__w__").over(wall)))
    qarr = F.array(*[F.lit(int(q)) for q in qs_bp])
    return (cum.select(*gcols, "__v__", "__cw__", "__tw__",
                       F.explode(qarr).alias("q_bp"))
            .filter(F.col("__cw__") * 10000
                    >= F.col("q_bp") * F.col("__tw__"))
            .groupBy(*gcols, "q_bp")
            .agg(F.min("__v__").alias("value")))


def coverage_gaps(fact: DataFrame, grid: DataFrame,
                  keys: Sequence[str]) -> DataFrame:
    """Factless coverage analysis (Kimball's coverage/factless-fact
    question): which dimension-grain combinations have NO facts —
    products never sold in a region, months a customer went dark.
    Answered as ``expected grid LEFT ANTI observed combinations``;
    the classic formulation needs a factless coverage table, this
    derives it from the grid the caller declares.

    Scale shape: ``observed`` collapses the fact table to the
    distinct key grain FIRST (map-side combinable); the anti-join
    then runs at grid-vs-grain size — both dimension-grain, so AQE
    broadcasts the smaller side.  Build the grid without a cartesian
    node (explode a generated sequence per dimension row, as the
    ``orders_coverage`` entry does) to keep the fully
    cartesian-free plan property.
    """
    observed = fact.select(*[F.col(k) for k in keys]).distinct()
    return grid.join(observed, list(keys), "left_anti")


def scd1_upsert(snapshot: DataFrame, changes: DataFrame,
                key_cols: Sequence[str], ts_col: str) -> DataFrame:
    """SCD Type-1 upsert merge: apply a change batch to a dimension
    snapshot, latest record per key wins (ties by source — the change
    side beats the snapshot at equal timestamps, matching warehouse
    MERGE semantics where the incoming batch is authoritative).  New
    keys insert, existing keys overwrite, untouched keys pass
    through — the nightly dimension-maintenance job, expressed
    engine-side instead of as a storage-layer MERGE.

    Scale shape: union + ONE per-key max-struct aggregation
    (map-side combinable — no window, no join); the snapshot never
    re-sorts.  Deterministic at any parallelism: the winner is
    picked by ``max(struct(ts, is_change, payload...))`` so equal
    timestamps resolve by the source flag, never partition order.
    """
    kcols = list(key_cols)
    payload = [c for c in snapshot.columns if c not in kcols]
    if set(snapshot.columns) != set(changes.columns):
        raise ValueError("snapshot and changes must share a schema")
    tagged = (snapshot.withColumn("__src__", F.lit(0))
              .unionByName(changes.withColumn("__src__", F.lit(1))))
    pick = F.max(F.struct(F.col(ts_col), F.col("__src__"),
                          *[F.col(c) for c in payload
                            if c != ts_col])).alias("__w__")
    out = tagged.groupBy(*kcols).agg(pick)
    cols = [F.col(k) for k in kcols]
    for c in payload:
        cols.append(F.col(f"__w__.{c}").alias(c))
    return out.select(*cols)
