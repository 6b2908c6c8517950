"""Seeded input generators for the spatial-join benchmark.

Everything here is plain numpy and depends only on the seed it is given:
the same seed gives the same arrays, bit for bit.  Coordinates are rounded
to 6 decimals so that the WKT text the program parses and the arrays the
oracle reads hold exactly the same numbers.
"""

from __future__ import annotations

import numpy as np

#: vertices of every generated star polygon (12 outer + 12 inner points)
STAR_VERTICES = 24


def cluster_centers(rng: np.random.Generator, n: int, lat_max: float = 70.0):
    """``n`` city centres uniform over the sphere between +-``lat_max``."""
    lon = rng.uniform(-180.0, 180.0, n)
    s = np.sin(np.radians(lat_max))
    lat = np.degrees(np.arcsin(rng.uniform(-s, s, n)))
    return lon, lat


def clustered_points(rng: np.random.Generator, centers, n: int, sigma_deg: float):
    """``n`` points in Gaussian clusters of std ``sigma_deg`` around ``centers``
    (longitude wrapped to [-180, 180), latitude clipped to +-89)."""
    c_lon, c_lat = centers
    pick = rng.integers(0, len(c_lon), n)
    lat = np.clip(c_lat[pick] + rng.normal(0.0, sigma_deg, n), -89.0, 89.0)
    lon = c_lon[pick] + rng.normal(0.0, sigma_deg, n)
    lon = (lon + 180.0) % 360.0 - 180.0
    return np.round(lon, 6), np.round(lat, 6)


def antipodes(rng: np.random.Generator, lon, lat, jitter_deg: float):
    """Points within ``jitter_deg`` of the antipode of each (lon, lat)."""
    jitter = rng.uniform(-jitter_deg, jitter_deg, (2, len(lon)))
    a_lon = (np.asarray(lon) + 360.0) % 360.0 - 180.0 + jitter[0]
    a_lat = -np.asarray(lat) + jitter[1]
    return np.round((a_lon + 180.0) % 360.0 - 180.0, 6), np.round(a_lat, 6)


def star_rings(rng: np.random.Generator, c_lon, c_lat, r_outer_deg: float):
    """One closed star ring per centre: ``STAR_VERTICES`` vertices alternating
    between a jittered outer radius and 40-60 % of it, with a random
    rotation.  Returns (xs, ys), each of shape (n, STAR_VERTICES + 1)."""
    n = len(c_lon)
    k = STAR_VERTICES
    theta = (np.arange(k) * (2.0 * np.pi / k))[None, :] + rng.uniform(0, 2 * np.pi, (n, 1))
    outer = r_outer_deg * rng.uniform(0.7, 1.3, (n, 1))
    radius = np.where(np.arange(k)[None, :] % 2 == 0, outer,
                      outer * rng.uniform(0.4, 0.6, (n, 1)))
    xs = np.round(c_lon[:, None] + radius * np.cos(theta), 6)
    ys = np.round(c_lat[:, None] + radius * np.sin(theta), 6)
    return np.hstack([xs, xs[:, :1]]), np.hstack([ys, ys[:, :1]])


def ring_wkt(xs, ys) -> str:
    body = ", ".join(f"{x:.6f} {y:.6f}" for x, y in zip(xs, ys))
    return f"POLYGON (({body}))"


def angular_sep_deg(lon1, lat1, lon2, lat2):
    """Great-circle separation in degrees (numerically safe near 0 and 180)."""
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dl = np.radians(lon2 - lon1)
    y = np.hypot(np.cos(p2) * np.sin(dl),
                 np.cos(p1) * np.sin(p2) - np.sin(p1) * np.cos(p2) * np.cos(dl))
    x = np.sin(p1) * np.sin(p2) + np.cos(p1) * np.cos(p2) * np.cos(dl)
    return np.degrees(np.arctan2(y, x))


def near_antipodal_share(lon1, lat1, lon2, lat2, within_deg: float = 1.0) -> float:
    """Share of all (1 x 2) pairs whose separation is within ``within_deg`` of
    180 degrees — the pairs that drive Vincenty to its iteration cap."""
    hits = 0
    for s in range(0, len(lon1), 256):
        sep = angular_sep_deg(lon1[s:s + 256, None], lat1[s:s + 256, None],
                              lon2[None, :], lat2[None, :])
        hits += int(np.count_nonzero(sep > 180.0 - within_deg))
    return hits / float(len(lon1) * len(lon2))
