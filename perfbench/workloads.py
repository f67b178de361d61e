"""The three workloads.  Each drives the engine through its public
entry points, times only the operations it issues, and checks every
answer after the timed loop.

Every workload returns a :class:`Outcome`: the timed operations (one
dict each, with ``rid``, ``kind``, ``ms`` and, for HTTP requests,
``status``/``cache``/``bytes``/``conditional``), the wrong answers, the
moment the first timed operation started, the measured seconds and the
peak memory when the timed loop ended.

``slicer_adhoc`` and ``cuboid_refresh`` time a fixed number of whole
rounds (a cycle of request shapes; a refresh and its reads), set by
``--seconds`` through a nominal round time, so every run does the same
work in the same order.  ``dashboard_hot`` is not registered in
``BENCHMARK.json`` and is run by hand (see ``README.md``).
"""

from __future__ import annotations

import itertools
import json
import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable, List, Optional

from oracle import Oracle
from streams import (ADHOC_SHAPES, CUBOID_AGGREGATES, CUBOID_BASE_CELL,
                     CUBOID_GRAIN, Request, adhoc_stream,
                     cuboid_read, dashboard_pool, refresh_months,
                     zipf_cum_weights)

# The first request of a shape costs about twice the later ones (Spark
# compiles its plan), so the untimed warm-up runs every shape once
ADHOC_WARMUP = len(ADHOC_SHAPES)
# Nominal seconds of one timed round on a 4-vCPU machine (measured:
# ad-hoc cycles 7-14 s, cuboid rounds 3-4 s).  Rounds keep getting
# faster for several rounds after the warm-up (the JVM is still
# compiling), so runs that stopped by the clock timed different states:
# 3 ad-hoc cycles in a quiet stretch, 2 in a busy one, with p50 600 and
# 900 ms.  The clock therefore sets only the number of rounds
ADHOC_CYCLE_S = 10.0
CUBOID_ROUND_S = 3.5
DASHBOARD_CONDITIONAL = 0.1
# A hit takes about 0.3 ms of one core.  Load from other processes on
# a shared machine moves that by half for fractions of a second at a
# time, so the run reports the best 0.1-s block (bench.py takes the
# best of 3 for the same reason)
DASHBOARD_BLOCK_S = 0.1
WARMUP_THREADS = 4
CUBOID_READS = 4          # reads after each refresh
# the first timed refresh after a single warm-up round took 1.1-1.4 s,
# the later ones 0.8-1.0 s (JIT compilation in the JVM), so set-up runs
# two whole rounds
CUBOID_WARMUP_ROUNDS = 2


@dataclass
class Context:
    workspace: Any
    oracle: Oracle
    tracer: Any
    work_dir: str
    seed: int
    seconds: float
    #: peak memory of the driver and the JVM so far, in MiB
    peak_rss_mb: Callable[[], float]


@dataclass
class Outcome:
    ops: List[dict] = field(default_factory=list)
    wrong: List[str] = field(default_factory=list)
    first_op: float = 0.0
    measured_s: float = 0.0
    #: > 1: report the best of this many equal time blocks (see run.py)
    blocks: int = 1
    #: operations per round of a loop of whole rounds: report each
    #: slot of the round at its best over the rounds (see run.py)
    round_size: int = 0
    #: peak memory in MiB, read when the timed loop ended (before the
    #: answers are checked, which loads the oracle's tables)
    rss_mb: float = 0.0


def rounds(seconds: float, nominal_round_s: float) -> int:
    """Whole rounds that last about ``seconds`` at ``nominal_round_s``
    each; at least one."""
    return max(1, int(seconds / nominal_round_s + 0.5))


def _server(ctx: Context):
    from cubes_spark.server import create_server

    # a TTL far beyond any run: entries expire only by LRU eviction
    return create_server(ctx.workspace, http_cache=True,
                         http_cache_ttl=3600.0)


def _warm(app, requests: List[Request]) -> List[tuple]:
    """Untimed GETs of ``requests`` from a few client threads; returns
    (status, body, ETag) of each, in order."""
    local = threading.local()

    def get(request: Request):
        if not hasattr(local, "client"):
            local.client = app.test_client()
        response = local.client.get(request.url)
        return response.status_code, response.get_data(), \
            response.headers.get("ETag")

    with ThreadPoolExecutor(WARMUP_THREADS) as executor:
        return list(executor.map(get, requests))


def _get(ctx: Context, client, rid: str, url: str,
         headers: Optional[dict] = None):
    """One timed HTTP GET; returns (op record, response)."""
    with ctx.tracer.op("server.request", rid):
        start = time.perf_counter()
        response = client.get(url, headers=headers)
        body = response.get_data()
        ms = 1000.0 * (time.perf_counter() - start)
    return {"rid": rid, "kind": "http", "ms": ms, "at": start,
            "status": response.status_code,
            "cache": response.headers.get("X-Cache"),
            "bytes": len(body), "conditional": bool(headers)}, response


# -- slicer_adhoc -----------------------------------------------------------

def slicer_adhoc(ctx: Context) -> Outcome:
    """Closed loop, one client: a seeded stream of distinct aggregate /
    members / facts URLs through the HTTP API with the cache on, timed
    in whole cycles of :data:`ADHOC_SHAPES`."""
    app = _server(ctx)
    stream = adhoc_stream(ctx.seed)
    _warm(app, list(itertools.islice(stream, ADHOC_WARMUP)))
    client = app.test_client()

    out = Outcome(first_op=time.perf_counter(),
                  round_size=len(ADHOC_SHAPES))
    answers = []
    timed = rounds(ctx.seconds, ADHOC_CYCLE_S) * len(ADHOC_SHAPES)
    for n, request in enumerate(itertools.islice(stream, timed)):
        op, response = _get(ctx, client, f"a{n}", request.url)
        out.ops.append(op)
        out.measured_s += op["ms"] / 1000.0
        answers.append((request, op, response.get_data()))
    out.rss_mb = ctx.peak_rss_mb()

    for request, op, body in answers:
        problem = _http_problem(op, 200) or ctx.oracle.check(
            request, json.loads(body))
        if problem:
            out.wrong.append(f"{request.url}: {problem}")
    return out


def _http_problem(op: dict, status: int) -> Optional[str]:
    if op["status"] != status:
        return f"status {op['status']}, expected {status}"
    return None


# -- dashboard_hot ----------------------------------------------------------

def dashboard_hot(ctx: Context) -> Outcome:
    """Closed loop, one client: Zipf-skewed picks from a fixed pool of
    dashboard panels, all cached in the untimed warm-up; one request in
    ten revalidates with If-None-Match."""
    app = _server(ctx)
    pool = dashboard_pool(ctx.seed)
    warmed = _warm(app, pool)

    cum_weights = zipf_cum_weights(len(pool))
    ranks = range(len(pool))
    rng = random.Random(f"dashboard-client-{ctx.seed}")
    client = app.test_client()
    out = Outcome(first_op=time.perf_counter(),
                  blocks=max(1, round(ctx.seconds / DASHBOARD_BLOCK_S)))
    deadline = out.first_op + ctx.seconds
    for n in itertools.count():
        if time.perf_counter() >= deadline:
            break
        panel = rng.choices(ranks, cum_weights=cum_weights)[0]
        status, body, etag = warmed[panel]
        conditional = rng.random() < DASHBOARD_CONDITIONAL
        op, response = _get(ctx, client, f"d{n}", pool[panel].url,
                            {"If-None-Match": etag} if conditional else None)
        op["panel"] = panel
        out.ops.append(op)
        problem = _http_problem(op, 304 if conditional else 200)
        if not problem and op["cache"] != "HIT":
            problem = f"X-Cache {op['cache']}"
        if not problem and not conditional and response.get_data() != body:
            problem = "body differs from the warm-up response"
        if problem:
            out.wrong.append(f"{pool[panel].url}: {problem}")
    out.measured_s = time.perf_counter() - out.first_op
    out.rss_mb = ctx.peak_rss_mb()

    # the warm-up responses are the bodies every HIT must equal: check
    # them against the oracle, and count each op served a wrong one
    bad_panels = {}
    for panel, (request, (status, body, _)) in enumerate(zip(pool,
                                                              warmed)):
        problem = f"warm-up status {status}" if status != 200 else \
            ctx.oracle.check(request, json.loads(body))
        if problem:
            bad_panels[panel] = f"{request.url}: {problem}"
    out.wrong.extend(bad_panels[op["panel"]] for op in out.ops
                     if op["panel"] in bad_panels)
    return out


# -- cuboid_refresh ---------------------------------------------------------

def _dir_stats(path: str):
    files = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    return files, size


def cuboid_refresh(ctx: Context) -> Outcome:
    """Single-thread library loop: refresh the month x region x
    returnflag cuboid with the next month, then read it K times."""
    from cubes_spark.operators import olap
    from cubes_spark.operators.preagg import Cuboid
    from cubes_spark.query.drilldown import Drilldown

    grain, aggregates = list(CUBOID_GRAIN), list(CUBOID_AGGREGATES)
    path = os.path.join(ctx.work_dir, "cuboid")
    # deltas come from a browser WITHOUT the cuboid: through the serving
    # browser, refresh_aggregate would aggregate the delta cell from
    # the cuboid itself (which has no rows for the new month)
    free = ctx.workspace.browser("sales")
    serving = ctx.workspace.browser("sales")
    olap.materialize_aggregate(free, path, grain, aggregates,
                               cell=CUBOID_BASE_CELL)
    refs = [a.ref for a in Drilldown(grain, serving.prepare_cell(None))
            .all_attributes]
    serving.add_cuboid(Cuboid(path, refs,
                              serving.prepare_aggregates(aggregates)))

    months = refresh_months((1995, 12))
    rng = random.Random(f"cuboid-{ctx.seed}")
    served = []      # (merged through (y, m), cuboid-served summary)
    reads = []       # (request, summary)
    out = Outcome(round_size=1 + CUBOID_READS)

    def timed(kind: str, rid: str, call: Callable[[], Any]):
        with ctx.tracer.op(f"op.{kind}", rid):
            start = time.perf_counter()
            result = call()
            ms = 1000.0 * (time.perf_counter() - start)
        op = {"rid": rid, "kind": kind, "ms": ms}
        if kind == "refresh":
            op["files"], op["bytes_written"] = _dir_stats(path)
        return op, result

    def refresh(year: int, month: int):
        return lambda: olap.refresh_aggregate(
            free, path, grain, aggregates, delta_cell=f"date:{year},{month}")

    def read(request: Request):
        return lambda: serving.aggregate(
            cell=request.cell, drilldown=list(request.drilldown) or None,
            aggregates=list(request.aggregates))

    # warm-up: whole rounds, untimed
    for _ in range(CUBOID_WARMUP_ROUNDS):
        through = next(months)
        refresh(*through)()
        for k in range(CUBOID_READS):
            read(cuboid_read(rng, through, k))()

    out.first_op = time.perf_counter()
    for n, through in enumerate(itertools.islice(
            months, rounds(ctx.seconds, CUBOID_ROUND_S))):
        op, _ = timed("refresh", f"r{n}", refresh(*through))
        out.ops.append(op)
        out.measured_s += op["ms"] / 1000.0
        served.append((through, serving.aggregate(
            cell=f"date:1995,1-{through[0]},{through[1]}",
            aggregates=aggregates).summary))
        for k in range(CUBOID_READS):
            request = cuboid_read(rng, through, k)
            op, result = timed("read", f"q{n}-{k}", read(request))
            out.ops.append(op)
            out.measured_s += op["ms"] / 1000.0
            reads.append((request, result.summary))
    out.rss_mb = ctx.peak_rss_mb()

    # every merged range must sum to what a cuboid-free browser reports
    # month by month over the fact table
    by_month = free.aggregate(
        cell=f"date:1995,1-{through[0]},{through[1]}",
        drilldown=["date@ym:month"], aggregates=aggregates).cells
    totals = {name: 0 for name in aggregates}
    expected = {}
    for cell in sorted(by_month, key=lambda c: (c["date.year"],
                                                 c["date.month"])):
        for name in aggregates:
            totals[name] += cell[name] or 0
        expected[(cell["date.year"], cell["date.month"])] = dict(totals)
    for month, summary in served:
        want = expected.get(month)
        got = {name: summary.get(name) for name in aggregates}
        if got != want:
            out.wrong.append(f"cuboid through {month}: {got} != {want}")
    for request, summary in reads:
        problem = ctx.oracle.check(request, summary)
        if problem:
            out.wrong.append(f"read {request.cell}: {problem}")
    return out


WORKLOADS = {
    "slicer_adhoc": slicer_adhoc,
    "dashboard_hot": dashboard_hot,
    "cuboid_refresh": cuboid_refresh,
}
