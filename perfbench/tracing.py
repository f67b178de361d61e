"""Span tracing of the engine's layers, installed at run time.

:class:`Tracer` wraps public functions of ``cubes_spark`` (class or
module attributes) so that each call records a span
``[name, start, end, parent, request id]``.  Spans stay in memory and
are written out at the end of the run.  Nothing in the package is
edited: :meth:`Tracer.install` patches attributes, :meth:`Tracer.uninstall`
restores them.  Untraced runs never install anything.

Spark work per request is counted through job groups: every timed
operation runs under its own ``setJobGroup`` and the status tracker
reports the jobs, stages and tasks it ran.
"""

from __future__ import annotations

import functools
import gzip
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

#: (module path, attribute owner, attribute, span name) wrapped in traced runs
TRACE_POINTS = (
    ("cubes_spark.sources.workspace", "Workspace", "browser",
     "sources.browser"),
    ("cubes_spark.plans.star", "StarSchema", "get_star", "plans.star"),
    ("cubes_spark.operators.browser", "SparkBrowser", "prepare_cell",
     "query.cell"),
    ("cubes_spark.operators.browser", "SparkBrowser", "aggregate",
     "browser.aggregate"),
    ("cubes_spark.operators.browser", "SparkBrowser", "members",
     "browser.members"),
    ("cubes_spark.operators.browser", "SparkBrowser", "facts",
     "browser.facts"),
    ("cubes_spark.query.result", "AggregationResult", "to_dict",
     "server.encode"),
    ("cubes_spark.formatters", "SlicerJSONEncoder", "encode",
     "server.encode"),
    ("cubes_spark.operators.preagg", "Cuboid", "load", "preagg.load"),
    ("cubes_spark.operators.olap", None, "refresh_aggregate",
     "preagg.refresh"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "collect", "spark.action"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "count", "spark.action"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "localCheckpoint",
     "spark.action"),
    ("pyspark.sql.readwriter", "DataFrameWriter", "parquet",
     "spark.action"),
    ("pyspark.sql.readwriter", "DataFrameWriter", "save", "spark.action"),
)

Span = List  # [name, start, end, parent index or None, request id]


def self_times(spans: Sequence[Span]) -> List[float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (overlapping children count once)."""
    children: Dict[int, List[Tuple[float, float]]] = defaultdict(list)
    for name, start, end, parent, rid in spans:
        if parent is not None:
            children[parent].append((start, end))
    result = []
    for index, (name, start, end, parent, rid) in enumerate(spans):
        covered, cursor = 0.0, start
        for c_start, c_end in sorted(children.get(index, ())):
            c_start, c_end = max(c_start, cursor), min(c_end, end)
            if c_end > c_start:
                covered += c_end - c_start
                cursor = c_end
        result.append((end - start) - covered)
    return result


class Tracer:
    """In-memory span recorder; see the module docstring."""

    def __init__(self, spark_context=None) -> None:
        self.spans: List[Span] = []
        #: request id -> (jobs, stages, tasks)
        self.spark_work: Dict[str, Tuple[int, int, int]] = {}
        self._sc = spark_context
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: List[Tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------

    def _stack(self) -> List[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, rid: Optional[str] = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if rid is None and parent is not None:
            rid = self.spans[parent][4]
        with self._lock:
            index = len(self.spans)
            self.spans.append([name, time.perf_counter(), None, parent, rid])
        stack.append(index)
        try:
            yield index
        finally:
            stack.pop()
            self.spans[index][2] = time.perf_counter()

    @contextmanager
    def op(self, name: str, rid: str):
        """Root span of one timed operation, run under its own Spark job
        group; the group's jobs, stages and tasks are looked up after
        the operation ends."""
        if self._sc is not None:
            self._sc.setJobGroup(rid, name)
        with self.span(name, rid):
            yield
        if self._sc is not None:
            self.spark_work[rid] = self._spark_counts(rid)

    def _spark_counts(self, group: str) -> Tuple[int, int, int]:
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage_id in (info.stageIds if info else ()):
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        return len(jobs), stages, tasks

    # -- patching -----------------------------------------------------------

    def _wrap(self, function, name: str):
        tracer = self

        @functools.wraps(function)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return function(*args, **kwargs)

        return traced

    def install(self, points: Iterable[tuple] = TRACE_POINTS) -> None:
        import importlib

        for module_name, owner_name, attr, name in points:
            module = importlib.import_module(module_name)
            owner = getattr(module, owner_name) if owner_name else module
            # None when the class inherits the attribute: uninstall then
            # deletes the wrapper instead of restoring an own attribute
            self._patches.append((owner, attr, owner.__dict__.get(attr)))
            setattr(owner, attr, self._wrap(getattr(owner, attr), name))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            if original is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)
        self._patches.clear()

    def write(self, path: str) -> None:
        """Spans as gzipped JSON lines ``[name, start, end, parent, rid]``."""
        with gzip.open(path, "wt") as f:
            for span in self.spans:
                f.write(json.dumps(span) + "\n")


class NullTracer:
    """Stand-in for untraced runs: operations record nothing."""

    def op(self, name: str, rid: str):
        return nullcontext()


# -- per-layer metrics ------------------------------------------------------

BROWSER_SPANS = ("browser.aggregate", "browser.members", "browser.facts")

#: unit of each per-layer metric; names without an entry are counts
UNITS = {
    "spark.action_ms": "ms", "sources.browser_build_ms": "ms",
    "plans.star_ms": "ms", "query.cell_parse_ms": "ms",
    "browser.aggregate_ms": "ms", "browser.members_ms": "ms",
    "browser.facts_ms": "ms", "browser.plan_ms": "ms",
    "server.request_ms": "ms", "server.self_ms": "ms",
    "server.encode_ms": "ms", "server.cache_hit_ratio": "ratio",
    "server.not_modified_ratio": "ratio", "server.response_bytes": "bytes",
    "preagg.rewrite_ratio": "ratio", "preagg.refresh_ms": "ms",
    "preagg.bytes_written": "bytes", "trace.latency_p50_ms": "ms",
    "trace.throughput_rps": "1/s",
}


def layer_metrics(tracer: Tracer, ops: Sequence[dict]) -> Dict[str, float]:
    """Per-layer numbers over the timed operations ``ops``.

    Counts and ``*_ms`` totals are means per operation, except the
    ``browser.<method>_ms`` metrics, which are means per call of that
    method, and ``server.request_ms``/``server.self_ms``, means per
    HTTP request."""
    spans = tracer.spans
    rids = {op["rid"] for op in ops}
    n = max(len(ops), 1)
    selfs = self_times(spans)
    count: Dict[str, int] = defaultdict(int)
    total: Dict[str, float] = defaultdict(float)
    own: Dict[str, float] = defaultdict(float)
    loaded = set()
    for index, (name, start, end, parent, rid) in enumerate(spans):
        if rid not in rids:
            continue
        if name == "spark.action" and parent is not None \
                and spans[parent][0] == "spark.action":
            continue                      # an action inside an action
        count[name] += 1
        total[name] += end - start
        own[name] += selfs[index]
        if name == "preagg.load":
            loaded.add(rid)

    def per_call(name: str) -> float:
        return 1000.0 * total[name] / count[name] if count[name] else 0.0

    work = [tracer.spark_work.get(op["rid"], (0, 0, 0)) for op in ops]
    http = [op for op in ops if "status" in op]
    cacheable = [op for op in http if op.get("cache")]
    conditional = [op for op in http if op.get("conditional")]
    reads = [op for op in ops if op["kind"] == "read"]
    refreshes = [op for op in ops if op["kind"] == "refresh"]
    refresh_rids = {op["rid"] for op in refreshes}
    refresh_jobs = [tracer.spark_work.get(r, (0, 0, 0))[0]
                    for r in refresh_rids]

    def mean(values: Sequence[float]) -> float:
        return sum(values) / len(values) if values else 0.0

    return {
        "spark.jobs": sum(w[0] for w in work) / n,
        "spark.stages": sum(w[1] for w in work) / n,
        "spark.tasks": sum(w[2] for w in work) / n,
        "spark.actions": count["spark.action"] / n,
        "spark.action_ms": 1000.0 * total["spark.action"] / n,
        "sources.browser_builds": count["sources.browser"] / n,
        "sources.browser_build_ms": 1000.0 * total["sources.browser"] / n,
        "plans.star_builds": count["plans.star"] / n,
        "plans.star_ms": 1000.0 * total["plans.star"] / n,
        "query.cell_parse_ms": 1000.0 * total["query.cell"] / n,
        "browser.aggregate_ms": per_call("browser.aggregate"),
        "browser.members_ms": per_call("browser.members"),
        "browser.facts_ms": per_call("browser.facts"),
        "browser.plan_ms": 1000.0 * sum(own[s] for s in BROWSER_SPANS) / n,
        "server.request_ms": per_call("server.request"),
        "server.self_ms": (1000.0 * own["server.request"]
                           / count["server.request"]
                           if count["server.request"] else 0.0),
        "server.encode_ms": (1000.0 * total["server.encode"]
                             / count["server.request"]
                             if count["server.request"] else 0.0),
        "server.cache_hit_ratio": (sum(op["cache"] == "HIT"
                                       for op in cacheable)
                                   / len(cacheable) if cacheable else 0.0),
        "server.not_modified_ratio": (sum(op["status"] == 304
                                          for op in conditional)
                                      / len(conditional)
                                      if conditional else 0.0),
        "server.response_bytes": mean([op["bytes"] for op in http]),
        "preagg.rewrite_ratio": (sum(op["rid"] in loaded for op in reads)
                                 / len(reads) if reads else 0.0),
        "preagg.refresh_ms": per_call("preagg.refresh"),
        "preagg.refresh_jobs": mean(refresh_jobs),
        "preagg.bytes_written": mean([op["bytes_written"]
                                      for op in refreshes]),
        "preagg.cuboid_files": mean([op["files"] for op in refreshes]),
    }
