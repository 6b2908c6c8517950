"""Plain-numpy oracles for the benchmark workloads.

Nothing here imports the package under test: each oracle recomputes the
expected answer from the generated arrays by brute force and compares it
with the rows the join returned.  ``check_*`` functions return a list of
problems; an empty list means the output is correct.
"""

from __future__ import annotations

import numpy as np

#: IUGG mean earth radius (m), the sphere of the spherical checks
EARTH_RADIUS_M = 6371008.8
#: the WGS84 geodesic differs from the spherical distance by less than
#: 0.56 %; checks of geodesic output allow this share (plus rounding)
GEODESIC_REL_TOL = 0.0065
_CHUNK = 256


def haversine(lon1, lat1, lon2, lat2):
    """Spherical distance in meters (clamped like the JVM kernel)."""
    rlat1, rlat2 = np.radians(lat1), np.radians(lat2)
    sdlat = np.sin((rlat2 - rlat1) / 2.0)
    sdlon = np.sin((np.radians(lon2) - np.radians(lon1)) / 2.0)
    h = np.clip(sdlat * sdlat + np.cos(rlat1) * np.cos(rlat2) * sdlon * sdlon, 0.0, 1.0)
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(h))


def nearest(in_lon, in_lat, ds_lon, ds_lat):
    """Index and spherical distance of the nearest dataset point for every
    input point (the first of equal distances)."""
    idx = np.empty(len(in_lon), dtype=np.int64)
    dist = np.empty(len(in_lon), dtype=np.float64)
    for s in range(0, len(in_lon), _CHUNK):
        d = haversine(in_lon[s:s + _CHUNK, None], in_lat[s:s + _CHUNK, None],
                      ds_lon[None, :], ds_lat[None, :])
        idx[s:s + _CHUNK] = np.argmin(d, axis=1)
        dist[s:s + _CHUNK] = d[np.arange(len(d)), idx[s:s + _CHUNK]]
    return idx, dist


def check_nearest_tolerant(min_dist, in_lon, in_lat, ds_lon, ds_lat,
                           res_id, res_poi, res_dist,
                           rel_tol: float = GEODESIC_REL_TOL) -> list[str]:
    """Geodesic nearest, checked on the sphere: the returned row must be
    within the ellipsoid/sphere tolerance of the spherical minimum (twice,
    once per kernel), and its distance within tolerance of the spherical
    distance to that row."""
    res_id, n_in = np.asarray(res_id), len(in_lon)
    if len(res_id) != n_in or not np.array_equal(np.sort(res_id), np.arange(n_in)):
        return [f"expected one row per input id 0..{n_in - 1}, got {len(res_id)} rows"]
    problems = []
    order = np.argsort(res_id)
    poi, dist = np.asarray(res_poi)[order], np.asarray(res_dist)[order]
    d_got = haversine(in_lon, in_lat, ds_lon[poi], ds_lat[poi])
    far = d_got > min_dist * (1.0 + rel_tol) ** 2 + 2.0
    if far.any():
        problems.append(f"{int(far.sum())} rows name a dataset row beyond tolerance of the nearest")
    off = np.abs(dist - d_got) > rel_tol * d_got + 1.0
    if off.any():
        problems.append(f"{int(off.sum())} distances are beyond tolerance of the spherical one")
    return problems


def bbox_candidates(px, py, ring_x, ring_y):
    """(point index, ring index) of every point inside a ring's bounding box."""
    x0, x1 = ring_x.min(axis=1), ring_x.max(axis=1)
    y0, y1 = ring_y.min(axis=1), ring_y.max(axis=1)
    ii, jj = [], []
    for s in range(0, len(px), _CHUNK):
        x, y = px[s:s + _CHUNK, None], py[s:s + _CHUNK, None]
        i, j = np.nonzero((x >= x0) & (x <= x1) & (y >= y0) & (y <= y1))
        ii.append(i + s)
        jj.append(j)
    return np.concatenate(ii), np.concatenate(jj)


def ray_cast(px, py, xs, ys):
    """Even-odd ray cast of point k against closed ring k (rows of xs, ys)."""
    x1, y1, x2, y2 = xs[:, :-1], ys[:, :-1], xs[:, 1:], ys[:, 1:]
    px, py = px[:, None], py[:, None]
    spans = (y1 > py) != (y2 > py)
    dy = np.where(spans, y2 - y1, 1.0)
    x_cross = x1 + (py - y1) * (x2 - x1) / dy
    return (np.count_nonzero(spans & (px < x_cross), axis=1) % 2) == 1


def within_pairs(px, py, ring_x, ring_y):
    """(point index, ring index) of every point strictly inside a ring, and
    the number of bounding-box candidates the refine step saw."""
    i, j = bbox_candidates(px, py, ring_x, ring_y)
    inside = ray_cast(px[i], py[i], ring_x[j], ring_y[j])
    return i[inside], j[inside], len(i)


def check_pairs_exact(exp_i, exp_j, res_i, res_j, n_j: int) -> list[str]:
    exp = np.asarray(exp_i, np.int64) * n_j + np.asarray(exp_j, np.int64)
    got = np.asarray(res_i, np.int64) * n_j + np.asarray(res_j, np.int64)
    problems = []
    if len(np.unique(got)) != len(got):
        problems.append("result repeats a pair")
    missing, extra = np.setdiff1d(exp, got), np.setdiff1d(got, exp)
    if len(missing):
        problems.append(f"{len(missing)} expected pairs are missing")
    if len(extra):
        problems.append(f"{len(extra)} returned pairs are not in the expected set")
    return problems
