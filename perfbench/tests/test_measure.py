"""Percentile rule and span self time."""

import pytest

from measure import percentile, samples_beyond, supported_percentile
from tracing import self_times


def test_percentile_interpolates():
    values = [float(v) for v in range(1, 101)]
    assert percentile(values, 50) == pytest.approx(50.5)
    assert percentile(values, 90) == pytest.approx(90.1)
    assert percentile([3.0], 90) == 3.0


@pytest.mark.parametrize("n, expected", [
    (100, 90), (1000, 99), (200, 95), (99, 89), (50, 80), (20, 50),
    (11, 9), (10, None), (0, None),
])
def test_supported_percentile_is_highest_with_ten_beyond(n, expected):
    assert supported_percentile(n) == expected
    if expected is not None:
        assert samples_beyond(n, expected) >= 10
        if expected < 99:
            assert samples_beyond(n, expected + 1) < 10


def test_self_time_of_nested_spans():
    spans = [
        ["server.request", 0.0, 10.0, None, "a"],
        ["browser.aggregate", 1.0, 8.0, 0, "a"],
        ["spark.action", 2.0, 4.0, 1, "a"],
        ["spark.action", 3.5, 6.0, 1, "a"],     # overlaps its sibling
        ["server.encode", 8.5, 9.0, 0, "a"],
        ["spark.action", 7.5, 9.0, 1, "a"],     # spills past its parent
    ]
    assert self_times(spans) == pytest.approx(
        [10.0 - 7.0 - 0.5, 7.0 - 4.0 - 0.5, 2.0, 2.5, 0.5, 1.5])


def test_layer_metrics_match_the_registered_names():
    import json
    import os

    from tracing import Tracer, layer_metrics

    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        registered = {m["name"] for m in json.load(f)["per_layer"]}
    tracer = Tracer()
    with tracer.op("server.request", "a0"):
        with tracer.span("browser.aggregate"):
            with tracer.span("spark.action"):
                pass
    ops = [{"rid": "a0", "kind": "http", "ms": 1.0, "status": 200,
            "cache": "MISS", "bytes": 10, "conditional": False}]
    layers = layer_metrics(tracer, ops)
    assert set(layers) | {"trace.latency_p50_ms",
                          "trace.throughput_rps"} == registered
    assert layers["spark.actions"] == 1
    assert layers["server.cache_hit_ratio"] == 0


def test_best_block_statistics():
    from run import end_to_end
    from workloads import Outcome

    # block 0: 4 ops of 2 ms; block 1: 2 ops of 5 ms (a slow second)
    ops = [{"ms": 2.0, "at": 0.1 * i} for i in range(4)] + \
        [{"ms": 5.0, "at": 1.0 + 0.3 * i} for i in range(2)]
    best = end_to_end(Outcome(ops=ops, measured_s=2.0, blocks=2), 1.0)
    assert best["throughput_rps"] == 4.0
    assert best["latency_p50_ms"] == best["latency_p90_ms"] == 2.0
    pooled = end_to_end(Outcome(ops=ops, measured_s=2.0), 1.0)
    assert pooled["throughput_rps"] == 3.0
    assert pooled["latency_p90_ms"] == 5.0


def test_round_statistics_take_each_slot_at_its_best():
    from run import end_to_end
    from workloads import Outcome

    # rounds of 3 slots; round 1 is slow except in its last slot
    ms = [100.0, 10.0, 20.0, 300.0, 30.0, 15.0]
    stats = end_to_end(Outcome(ops=[{"ms": v} for v in ms],
                               round_size=3), 1.0)
    assert stats["latency_p50_ms"] == 15.0             # of 10, 15, 100
    assert stats["latency_p90_ms"] == pytest.approx(83.0)
    assert stats["throughput_rps"] == pytest.approx(3 / 0.125)


def test_rounds_follow_the_run_length():
    from workloads import rounds

    assert rounds(18.0, 10.0) == 2
    assert rounds(18.0, 3.5) == 5
    assert rounds(25.0, 10.0) == 3           # halves round up
    assert rounds(1.0, 10.0) == 1            # always at least one
