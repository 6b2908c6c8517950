"""WGS84 distance kernels.

Two kernels:

- ``vincenty_np`` — vectorized numpy Vincenty inverse on the WGS84
  ellipsoid.  This reproduces the reference's GeographicLib
  ``Geodesic.WGS84.Inverse(...).s12`` distances (SpatialJoin.scala:32-40) to
  sub-millimeter at the scales covered by the reference's pinned goldens
  (15689 m / 15685 m, BroadcastSpatialJoinTest.scala:115-119 — verified in
  tests/test_units.py::TestGeodesic).  Runs executor-side, inside the
  broadcast-kNN ``mapInPandas`` kernel (a rows × R distance matrix per
  chunk) and inside the Arrow pandas_udf of :func:`geodesic_distance_udf`.
  Each pair iterates only until it converges itself, so one near-antipodal
  pair costs its own iterations, not its whole chunk's.
- ``haversine_expr`` — great-circle distance as a pure Spark Column
  expression (mean-earth radius).  Stays entirely inside whole-stage
  codegen; used for the engine's own large-scale queries where ~0.3%
  spherical error is acceptable and JVM-side throughput matters.

The distance is always between geometry *centroids*, rounded to Int meters
(SpatialJoin.scala:36-39).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# WGS84
_A = 6378137.0
_F = 1.0 / 298.257223563
_B = (1.0 - _F) * _A

#: IUGG mean earth radius, used by the haversine kernel
EARTH_RADIUS_M = 6371008.8


#: pairs per block in the first iterations.  Each temporary is then 64 KB,
#: which the allocator reuses from its free lists; the 1 MB temporaries of
#: a whole 125k-pair kNN chunk are mapped and page-faulted afresh on every
#: call (10,880 minor faults per call with whole-chunk arrays, ~1,800 in
#: blocks, on a clean chunk of 125 × 1,000 regional points)
_BLOCK = 8192
#: iterations each block runs before its still-open pairs are pooled with
#: the other blocks'; of 200,000 random global pairs, 118 were still open
#: after 10 iterations and 2 at the cap of 200
_BLOCK_ITERATIONS = 10


def vincenty_np(lon1, lat1, lon2, lat2, iterations: int = 200, tol: float = 1e-13):
    """Vectorized Vincenty inverse: geodesic distance in meters (float64).

    Inputs are array-like degrees that broadcast together; the result has
    their broadcast shape (a 0-d array for scalar inputs).  Each pair stops
    iterating at its own first ``|Δλ| < tol``, so a pair's distance does not
    depend on the other pairs in the call, and a pair that never converges
    costs its own ``iterations`` steps, not everyone's.  Pairs still open
    at the cap (near-antipodal ones, which cannot occur in the reference's
    test envelope) fall back to the spherical haversine value.  A pair with
    a non-finite input never enters the loop and returns NaN.  Coincident
    points return 0.
    """
    lon1, lat1, lon2, lat2 = (
        np.asarray(a, dtype=np.float64) for a in (lon1, lat1, lon2, lat2)
    )
    shape = np.broadcast_shapes(lon1.shape, lat1.shape, lon2.shape, lat2.shape)
    dist = np.full(shape, np.nan).ravel()

    # prologue on the operands' own shapes: the kNN kernel passes (rows, 1)
    # against (1, R), so this trig runs on rows + R values, not rows × R
    with np.errstate(invalid="ignore"):  # non-finite inputs: NaN, below
        U1 = np.arctan((1.0 - _F) * np.tan(np.radians(lat1)))
        U2 = np.arctan((1.0 - _F) * np.tan(np.radians(lat2)))
        L = np.radians(lon2) - np.radians(lon1)
    ops = [
        np.broadcast_to(a, shape).ravel()
        for a in (L, np.sin(U1), np.cos(U1), np.sin(U2), np.cos(U2))
    ]
    finite = np.isfinite(lon1) & np.isfinite(lat1) & np.isfinite(lon2) & np.isfinite(lat2)
    pos = np.flatnonzero(np.broadcast_to(finite, shape))

    # the first iterations block by block, then the pairs still open in all
    # blocks together; every pair gets the same iterations either way
    first = min(iterations, _BLOCK_ITERATIONS)
    parts = []
    for s in range(0, pos.size, _BLOCK):
        block = pos[s : s + _BLOCK]
        block_ops = [a[block] for a in ops]
        parts.append(_converge(dist, block, block_ops[0], block_ops, first, tol))
    if parts:
        pos, lam, *ops = (np.concatenate(c) for c in zip(*parts))
        pos, lam, *ops = _converge(dist, pos, lam, ops, iterations - first, tol)

    if pos.size:
        dist[pos] = haversine_np(
            *(np.broadcast_to(a, shape).ravel()[pos] for a in (lon1, lat1, lon2, lat2))
        )
    return dist.reshape(shape)


def _converge(dist, pos, lam, ops, iterations, tol):
    """Iterate the working set (flat positions ``pos``, current λ and the
    per-pair operands ``ops``) for up to ``iterations`` steps.  Each pair's
    distance goes to ``dist`` from the iteration it first converges in;
    once at least half the set has converged, the rest are gathered into
    a smaller set, so the fully open first iterations pay no gather.
    Returns ``(pos, lam, *ops)`` of the pairs still open."""
    live = np.ones(pos.size, dtype=bool)
    n_live = pos.size
    for _ in range(iterations):
        if n_live == 0:
            break
        lam_new, *terms = _vincenty_step(lam, *ops)
        done = np.abs(lam_new - lam) < tol
        done &= live
        lam = lam_new
        n_done = np.count_nonzero(done)
        if n_done == 0:
            continue
        dist[pos[done]] = _vincenty_distance(*(t[done] for t in terms))
        live &= ~done
        n_live -= n_done
        if n_live <= live.size // 2:
            pos, lam, ops = pos[live], lam[live], [a[live] for a in ops]
            live = np.ones(n_live, dtype=bool)
    return (pos[live], lam[live], *(a[live] for a in ops))


def _vincenty_step(lam, L, sinU1, cosU1, sinU2, cosU2):
    """One iteration of Vincenty's λ recurrence: the new λ and the
    auxiliary-sphere terms of the distance series."""
    sinlam, coslam = np.sin(lam), np.cos(lam)
    sins = np.sqrt(
        (cosU2 * sinlam) ** 2 + (cosU1 * sinU2 - sinU1 * cosU2 * coslam) ** 2
    )
    coss = sinU1 * sinU2 + cosU1 * cosU2 * coslam
    sig = np.arctan2(sins, coss)
    coincident = sins == 0.0
    sina = np.where(
        coincident, 0.0, cosU1 * cosU2 * sinlam / np.where(coincident, 1.0, sins)
    )
    cos2a = 1.0 - sina**2
    equatorial = cos2a == 0.0
    cos2sm = np.where(
        equatorial, 0.0, coss - 2.0 * sinU1 * sinU2 / np.where(equatorial, 1.0, cos2a)
    )
    C = _F / 16.0 * cos2a * (4.0 + _F * (4.0 - 3.0 * cos2a))
    lam_new = L + (1.0 - C) * _F * sina * (
        sig + C * sins * (cos2sm + C * coss * (-1.0 + 2.0 * cos2sm**2))
    )
    return lam_new, sins, coss, sig, cos2a, cos2sm


def _vincenty_distance(sins, coss, sig, cos2a, cos2sm):
    """Vincenty's closing series: the geodesic length from a converged
    iteration's auxiliary-sphere terms."""
    u2 = cos2a * (_A**2 - _B**2) / _B**2
    A = 1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2)))
    B = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))
    dsig = B * sins * (
        cos2sm
        + B
        / 4.0
        * (
            coss * (-1.0 + 2.0 * cos2sm**2)
            - B / 6.0 * cos2sm * (-3.0 + 4.0 * sins**2) * (-3.0 + 4.0 * cos2sm**2)
        )
    )
    # coincident points: sins == 0 → sig == 0 → 0
    return _B * A * (sig - dsig)


def haversine_np(lon1, lat1, lon2, lat2):
    """Vectorized spherical haversine distance, meters (float64)."""
    rlon1, rlat1, rlon2, rlat2 = map(
        np.radians, map(lambda a: np.asarray(a, dtype=np.float64), (lon1, lat1, lon2, lat2))
    )
    dlat = rlat2 - rlat1
    dlon = rlon2 - rlon1
    h = np.sin(dlat / 2.0) ** 2 + np.cos(rlat1) * np.cos(rlat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


def geodesic_distance_udf():
    """Arrow pandas_udf: (lon1, lat1, lon2, lat2) → meters (double, unrounded).

    Built lazily so importing this module does not require an active Spark
    session.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.DoubleType())
    def _geodesic(
        lon1: pd.Series, lat1: pd.Series, lon2: pd.Series, lat2: pd.Series
    ) -> pd.Series:
        out = vincenty_np(
            lon1.to_numpy(np.float64, na_value=np.nan),
            lat1.to_numpy(np.float64, na_value=np.nan),
            lon2.to_numpy(np.float64, na_value=np.nan),
            lat2.to_numpy(np.float64, na_value=np.nan),
        )
        return pd.Series(out)

    return _geodesic


def haversine_expr(lon1, lat1, lon2, lat2):
    """Haversine distance as a pure Spark Column (meters, double).

    All trig stays JVM-side (whole-stage codegen); use for engine-native
    queries where the spherical model is acceptable.  The same formula is
    emitted as ANSI SQL by :func:`haversine_sql` so DuckDB oracles match.
    """
    from pyspark.sql import functions as F

    rlat1 = F.radians(lat1)
    rlat2 = F.radians(lat2)
    sdlat = F.sin((F.radians(lat2) - F.radians(lat1)) / 2)
    sdlon = F.sin((F.radians(lon2) - F.radians(lon1)) / 2)
    h = sdlat * sdlat + F.cos(rlat1) * F.cos(rlat2) * sdlon * sdlon
    # clamp to [0, 1]: near-antipodal pairs can round h a hair above 1 and
    # asin(sqrt(h)) would go NaN (ANSI mode then errors the downstream
    # round().cast); haversine_np clips the same way, and haversine_sql
    # mirrors the clamp so both engines keep identical formula trees
    h = F.least(F.lit(1.0), F.greatest(F.lit(0.0), h))
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(h))


def haversine_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """The exact same haversine formula as ANSI SQL text (for DuckDB oracles).

    Arithmetic is kept structurally identical to :func:`haversine_expr` so
    both engines evaluate the same double-precision expression tree.
    """
    rlat1 = f"radians({lat1})"
    rlat2 = f"radians({lat2})"
    sdlat = f"sin((radians({lat2}) - radians({lat1})) / 2)"
    sdlon = f"sin((radians({lon2}) - radians({lon1})) / 2)"
    h = f"({sdlat} * {sdlat} + cos({rlat1}) * cos({rlat2}) * {sdlon} * {sdlon})"
    h = f"least(1.0, greatest(0.0, {h}))"  # same clamp as haversine_expr
    return f"({2.0 * EARTH_RADIUS_M!r} * asin(sqrt({h})))"
