"""Self-tests of the benchmark: generator determinism, oracles on hand-built
cases, and metric names against BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pytest

BENCH_DIR = Path(__file__).resolve().parents[1]
REPO = BENCH_DIR.parent
sys.path[:0] = [str(BENCH_DIR), str(REPO)]

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import status  # noqa: E402
import workloads  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.mark.parametrize("name", workloads.NAMES)
def test_generator_is_deterministic(name):
    a, b, c = workloads.make(name, 11), workloads.make(name, 11), workloads.make(name, 12)
    assert a.dataset.equals(b.dataset)
    assert a.input.equals(b.input)
    assert a.props() == b.props()
    assert not a.dataset.equals(c.dataset)


def test_star_wkt_matches_rings():
    rng = np.random.default_rng(0)
    xs, ys = gen.star_rings(rng, np.array([10.0]), np.array([20.0]), 0.5)
    assert xs.shape == (1, gen.STAR_VERTICES + 1)
    assert xs[0, 0] == xs[0, -1] and ys[0, 0] == ys[0, -1]
    coords = re.findall(r"(-?[\d.]+) (-?[\d.]+)", gen.ring_wkt(xs[0], ys[0]))
    assert np.array_equal(np.array(coords, dtype=float), np.c_[xs[0], ys[0]])


def test_near_antipodal_share():
    lon, lat = np.array([0.0, 0.0]), np.array([0.0, 10.0])
    assert gen.near_antipodal_share(lon, lat, np.array([179.5]), np.array([0.0])) == 0.5
    a_lon, a_lat = gen.antipodes(np.random.default_rng(0), np.array([170.0, -20.0]),
                                 np.array([30.0, -50.0]), 0.05)
    assert (gen.angular_sep_deg(np.array([170.0, -20.0]), np.array([30.0, -50.0]),
                                a_lon, a_lat) > 179.9).all()
    assert (np.abs(a_lon) <= 180.0).all()


def test_ray_cast_concave_polygon():
    # a "U": the notch between x=1..2 above y=1 is outside
    ring_x = np.array([[0.0, 3.0, 3.0, 2.0, 2.0, 1.0, 1.0, 0.0, 0.0]])
    ring_y = np.array([[0.0, 0.0, 3.0, 3.0, 1.0, 1.0, 3.0, 3.0, 0.0]])
    px = np.array([0.5, 1.5, 1.5, 2.5, 4.0, -1.0])
    py = np.array([2.0, 2.0, 0.5, 2.5, 1.0, 1.0])
    i, j, candidates = oracle.within_pairs(px, py, ring_x, ring_y)
    assert list(i) == [0, 2, 3] and list(j) == [0, 0, 0]
    assert candidates == 4  # the notch point passes the bbox, not the ray cast


def test_pairs_exact_check():
    assert oracle.check_pairs_exact([0, 1], [2, 2], [1, 0], [2, 2], 3) == []
    assert oracle.check_pairs_exact([0, 1], [2, 2], [0], [2], 3)
    assert oracle.check_pairs_exact([0], [2], [0, 0], [2, 2], 3)
    assert oracle.check_pairs_exact([0], [2], [0, 1], [2, 2], 3)


def test_nearest_brute_force():
    ds_lon, ds_lat = np.array([1.0, 5.0, 1.0]), np.array([1.0, 5.0, 1.0])  # rows 0 and 2 tie
    idx, dist = oracle.nearest(np.array([0.0, 5.1]), np.array([0.0, 5.0]), ds_lon, ds_lat)
    assert list(idx) == [0, 1]
    assert abs(dist[0] - 157249.4) < 1.0  # (0,0)-(1,1) on the mean sphere


def test_nearest_tolerant_allows_ellipsoid_error_only():
    ds_lon, ds_lat = np.array([0.0, 0.0]), np.array([1.0, 1.004])
    in_lon, in_lat = np.array([0.0]), np.array([0.0])
    _, min_dist = oracle.nearest(in_lon, in_lat, ds_lon, ds_lat)
    # row 1 is 0.4 % farther: within the geodesic tolerance, so accepted
    for poi in (0, 1):
        d = oracle.haversine(0.0, 0.0, 0.0, ds_lat[poi])
        assert oracle.check_nearest_tolerant(min_dist, in_lon, in_lat, ds_lon, ds_lat,
                                             [0], [poi], [d * 1.005]) == []
    far = oracle.check_nearest_tolerant(min_dist, in_lon, in_lat, np.array([0.0, 0.0]),
                                        np.array([1.0, 1.1]), [0], [1], [122000])
    assert far
    missing = oracle.check_nearest_tolerant(min_dist, in_lon, in_lat, ds_lon, ds_lat, [], [], [])
    assert missing and "one row per input" in missing[0]


def test_parse_metric_formats():
    assert status.parse_metric("72,482") == 72482
    assert status.parse_metric("1.5 KiB") == 1536
    assert status.parse_metric("340 ms") == pytest.approx(0.34)
    assert status.parse_metric(
        "total (min, med, max (stageId: taskId))\n11.1 s (2.6 s, 2.8 s, 2.9 s (stage 7.0: task 23))"
    ) == pytest.approx(11.1)


def test_tracer_self_time():
    tracer = run.Tracer(True)
    with tracer.span("op", rep=1):
        with tracer.span("transform"):
            pass
    assert [s["rep"] for s in tracer.spans] == [1, 1]
    assert tracer.spans[1]["parent"] == 0
    assert set(tracer.self_seconds()) == {"op", "transform"}
    off = run.Tracer(False)
    with off.span("op"):
        pass
    assert off.spans == []


def _declared():
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]}, spec)


def test_declared_metrics_match_the_runner():
    e2e, per_layer, spec = _declared()
    assert e2e == run.END_TO_END
    assert per_layer == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.NAMES)
    for name in list(e2e) + list(per_layer):
        assert NAME_RE.fullmatch(name) and len(name) <= 64


def test_emitted_per_layer_names_are_declared():
    _, per_layer, _ = _declared()
    totals = status.StageTotals(jobs=2, job_ids=[1, 2], task_run_s=1.0)
    reader = SimpleNamespace(
        stage_totals=lambda groups: totals,
        sql_nodes=lambda job_ids: [
            ("BroadcastNestedLoopJoin", {"number of output rows": 10.0}),
            ("ArrowEvalPython", {"time to run Python workers": 1.0,
                                 "data sent to Python workers": 5.0}),
            ("BroadcastExchange", {"data size": 7.0}),
        ],
    )
    op = run.Op(join_s=1.0, build_s=0.2, action_s=0.8, columns={"id": np.arange(4)})
    layers = run.layer_values(op, reader, ("b", "a"), cores=4)
    assert layers["join.refine_precision"] == 0.4
    assert layers["arrow.bytes_to_python"] == 5.0
    case = workloads.make("zones_within", 1)
    kernels = run.kernel_values(case, run.Tracer(False))
    fake_spark = SimpleNamespace(sparkContext=SimpleNamespace(
        _gateway=SimpleNamespace(proc=SimpleNamespace(pid=os.getpid()))))
    memory = run.memory_values(fake_spark)
    trace = {"trace.join_s_p50", "trace.untraced_join_s_p50", "trace.overhead_ratio"}
    emitted = set(layers) | set(kernels) | set(memory) | trace
    assert emitted == set(per_layer)
    assert all(v > 0 for v in kernels.values())
