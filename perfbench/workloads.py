"""The two benchmark workloads: seeded inputs, transformer parameters, the
oracle check, and the kernel samples of the traced run.

``make(name, seed)`` returns a :class:`Case`.  The join only ever sees the
generated frames, registered as catalog views by the runner.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cache
from typing import Callable

import numpy as np
import pandas as pd

import gen
import oracle


@dataclass
class Case:
    name: str
    params: dict                       # BroadcastSpatialJoin keyword params
    dataset: pd.DataFrame              # registered as view ``params["dataset"]``
    input: pd.DataFrame                # the transformer input
    check: Callable[[dict], list]      # result columns -> problems
    props: Callable[[], dict]          # sizes and input properties, for the record
    kernel_sample: Callable[[], "KernelSample"]
    info: dict = field(default_factory=dict)


@dataclass
class KernelSample:
    pairs: tuple                       # (lon1, lat1, lon2, lat2) kernel-timing sample
    zone_wkt: list                     # WKT parsed by the geometry timing
    pip: tuple                         # (px, py, zone index) candidate pairs


#: why each workload exists and which layers it exercises or bypasses
ABOUT = {
    "nearest_global": {
        "why": "Headline predicate with the default WGS84 kernel on global data: time goes to "
               "functions.geodesic inside the broadcast-kNN mapInPandas kernel.",
        "exercises": ["operators.spatial_join broadcast kNN (mapInPandas)",
                      "functions.geodesic.vincenty_np (near-antipodal pairs iterate to the cap)",
                      "Arrow/Python-worker boundary"],
        "bypasses": ["WKT parsing", "bbox nested-loop join", "operators.knn rounds"],
    },
    "zones_within": {
        "why": "Point-in-polygon over WKT zones: the JVM bbox BroadcastNestedLoopJoin plus the "
               "Arrow refine UDF over functions.geometry.",
        "exercises": ["bbox BroadcastNestedLoopJoin", "Arrow refine UDF",
                      "functions.geometry.parse_wkt / point_in_polygon_np"],
        "bypasses": ["functions.geodesic", "broadcast kNN kernel", "operators.knn rounds"],
    },
}


def _points_frame(key: str, lon, lat) -> pd.DataFrame:
    return pd.DataFrame({key: np.arange(len(lon), dtype=np.int64), "lon": lon, "lat": lat})


def _row_pairs(in_lon, in_lat, ds_lon, ds_lat, target: int = 125_000):
    """The first input rows against every dataset row: one chunk of the
    broadcast-kNN kernel, which bounds its geodesic chunks at 125,000 pairs.
    One non-converging (near-antipodal) pair keeps the whole chunk iterating,
    so only a whole chunk times the kernel as the join runs it."""
    rows = max(1, min(len(in_lon), target // len(ds_lon)))
    a = np.repeat(np.arange(rows), len(ds_lon))
    b = np.tile(np.arange(len(ds_lon)), rows)
    return in_lon[a], in_lat[a], ds_lon[b], ds_lat[b]


def _kernel_sample(seed, in_lon, in_lat, ds_lon, ds_lat, rings=None, limit: int = 65536):
    """Pairs of the workload's own points for the geodesic timings, and
    bbox candidates for the geometry timings.  Workloads without polygons
    get 1-degree star zones around their first 256 dataset points, tested
    against both sides' points."""
    px, py = in_lon, in_lat
    if rings is None:
        rings = gen.star_rings(np.random.default_rng([seed, 0]), ds_lon[:256], ds_lat[:256], 1.0)
        px, py = np.concatenate([in_lon, ds_lon]), np.concatenate([in_lat, ds_lat])
    xs, ys = rings
    i, j = oracle.bbox_candidates(px, py, xs, ys)
    return KernelSample(
        pairs=_row_pairs(in_lon, in_lat, ds_lon, ds_lat),
        zone_wkt=[gen.ring_wkt(x, y) for x, y in zip(xs, ys)],
        pip=(px[i[:limit]], py[i[:limit]], j[:limit]),
    )


def _nearest_global(seed: int) -> Case:
    n_in, n_ds, n_clusters = 240, 1000, 64
    rng = np.random.default_rng([seed, 1])
    centers = gen.cluster_centers(rng, n_clusters)
    ds_lon, ds_lat = gen.clustered_points(rng, centers, n_ds, 1.5)
    in_lon, in_lat = gen.clustered_points(rng, centers, n_in, 3.0)
    # every tenth input row gets a POI within 0.05 degrees of its antipode:
    # pairs Vincenty cannot converge on, as global POI tables hold, so every
    # kernel chunk iterates to the cap whatever the seed
    anti = np.arange(0, n_in, 10)
    ds_lon[-len(anti):], ds_lat[-len(anti):] = gen.antipodes(rng, in_lon[anti], in_lat[anti], 0.05)
    inp = _points_frame("id", in_lon, in_lat)

    @cache
    def min_dist():
        return oracle.nearest(in_lon, in_lat, ds_lon, ds_lat)[1]

    def check(res):
        return oracle.check_nearest_tolerant(min_dist(), in_lon, in_lat, ds_lon, ds_lat,
                                             res["id"], res["poi_id"], res["dist_m"])

    return Case(
        name="nearest_global",
        params=dict(dataset="poi_global", dataColumns="poi_id", datasetPoint="lon, lat",
                    inputPoint="lon, lat", broadcast="dataset", predicate="nearest",
                    distanceColumnAlias="dist_m", tieBreak="poi_id"),
        dataset=_points_frame("poi_id", ds_lon, ds_lat),
        input=inp, check=check,
        props=lambda: {
            "input_rows": n_in, "dataset_rows": n_ds, "clusters": n_clusters,
            "pairs_per_join": n_in * n_ds,
            "near_antipodal_share": gen.near_antipodal_share(in_lon, in_lat, ds_lon, ds_lat)},
        kernel_sample=lambda: _kernel_sample(seed, in_lon, in_lat, ds_lon, ds_lat),
    )


def _zones_within(seed: int) -> Case:
    n_in, n_zones, n_clusters = 40000, 500, 128
    rng = np.random.default_rng([seed, 2])
    # many clusters: the candidate pairs (which set the refine cost) vary
    # little from seed to seed
    centers = gen.cluster_centers(rng, n_clusters, lat_max=60.0)
    z_lon, z_lat = gen.clustered_points(rng, centers, n_zones, 0.6)
    xs, ys = gen.star_rings(rng, z_lon, z_lat, 0.55)
    in_lon, in_lat = gen.clustered_points(rng, centers, n_in, 0.6)
    wkt = [gen.ring_wkt(x, y) for x, y in zip(xs, ys)]
    inp = _points_frame("id", in_lon, in_lat)

    @cache
    def expected():
        return oracle.within_pairs(in_lon, in_lat, xs, ys)

    def check(res):
        exp_i, exp_j, _ = expected()
        return oracle.check_pairs_exact(exp_i, exp_j, res["id"], res["zone_id"], n_zones)

    return Case(
        name="zones_within",
        params=dict(dataset="zones", dataColumns="zone_id", datasetWKT="wkt",
                    inputPoint="lon, lat", broadcast="dataset", predicate="within"),
        dataset=pd.DataFrame({"zone_id": np.arange(n_zones, dtype=np.int64), "wkt": wkt}),
        input=inp, check=check,
        props=lambda: {
            "input_rows": n_in, "dataset_rows": n_zones, "clusters": n_clusters,
            "vertices_per_polygon": gen.STAR_VERTICES,
            "bbox_candidate_pairs": expected()[2], "expected_pairs": len(expected()[0])},
        kernel_sample=lambda: _kernel_sample(seed, in_lon, in_lat, z_lon, z_lat, (xs, ys)),
    )


_MAKERS = {
    "nearest_global": _nearest_global,
    "zones_within": _zones_within,
}
NAMES = tuple(_MAKERS)


def make(name: str, seed: int) -> Case:
    case = _MAKERS[name](seed)
    case.info = ABOUT[name]
    return case
