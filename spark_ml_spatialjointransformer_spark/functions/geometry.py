"""Pure-Python/numpy geometry kernels: WKT parsing, centroids, spatial
predicates.

The container has neither shapely nor JTS, so the engine carries its own
minimal 2-D geometry core covering exactly the surface the reference
exercises (points, linestrings, polygons — WGS84 lon/lat; reference:
DatasetGeometry.scala:82-120, README.md:150-153):

- WKT reader for POINT / LINESTRING / POLYGON (+ MULTI* variants), FLOATING
  precision (plain Python floats), null/empty → None
  (parity: DatasetGeometry.scala:40-42,54-58);
- centroid identical in definition to JTS ``Geometry.getCentroid`` (area
  centroid for polygons incl. holes, length-weighted for lines, mean for
  points) — feeds the geodesic distance kernel (SpatialJoin.scala:32-40);
- DE-9IM-style predicates ``within / contains / intersects / overlaps``
  sufficient for the reference's fixture envelope (simple convex-ish rings,
  proper crossings).  Not a full robust-geometry library: collinear
  overlapping edge cases follow simple conventions documented per-function.

Everything here executes inside Arrow pandas_udf batches.  The refine UDF
(see ``operators.spatial_join``) factorizes each batch by WKT and parses
every distinct WKT once, so the broadcast side's parse cost is
O(distinct geometries) per batch; ``points_in_polygons_np`` then ray-casts
all the batch's point/polygon pairs together.
"""

from __future__ import annotations

import re
from itertools import chain
from typing import Optional

Coords = list[tuple[float, float]]

_NUM = re.compile(r"[-+]?(?:\d+\.?\d*|\.\d+)(?:[eEdD][-+]?\d+)?")
_PAREN = re.compile(r"[()]")
_HEAD = re.compile(r"^\s*([A-Za-z]+)\s*(Z|M|ZM)?\s*(\(|EMPTY)", re.IGNORECASE)


class Geometry:
    """Parsed geometry: ``kind`` in {point, linestring, polygon} with
    multiplicity via ``parts``.

    - point: parts = [[(x, y)]]            (multipoint → several singletons)
    - linestring: parts = [coords, ...]    (one per line)
    - polygon: parts = [rings, ...] where rings = [shell, hole, ...]
    """

    # _edge_tab/_vert_tab: lazily-built numpy edge/vertex tables for the
    # vectorized polygon×polygon kernels (see _edges_np/_vertices_np)
    __slots__ = ("kind", "parts", "_edge_tab", "_vert_tab")

    def __init__(self, kind: str, parts):
        self.kind = kind
        self.parts = parts
        self._edge_tab = None
        self._vert_tab = None

    @property
    def dimension(self) -> int:
        return {"point": 0, "linestring": 1, "polygon": 2}[self.kind]

    def coords_flat(self) -> Coords:
        out: Coords = []
        if self.kind == "polygon":
            for rings in self.parts:
                for ring in rings:
                    out.extend(ring)
        else:
            for part in self.parts:
                out.extend(part)
        return out

    def __repr__(self):  # pragma: no cover - debug aid
        return f"Geometry({self.kind}, {self.parts!r})"


def _coords_of(text: str) -> Coords:
    if "d" in text or "D" in text:
        # Fortran-style exponents: ``_NUM`` treats d/D exactly like e/E,
        # so rewriting the whole text leaves every token's span unchanged
        text = text.replace("d", "e").replace("D", "e")
    nums = list(map(float, _NUM.findall(text)))
    return list(zip(nums[0::2], nums[1::2]))


def _split_groups(body: str) -> list[str]:
    """Split a parenthesized WKT body into top-level ``( ... )`` groups
    (visits only the parenthesis characters)."""
    groups, depth, start = [], 0, -1
    for m in _PAREN.finditer(body):
        if m.group() == "(":
            if depth == 0:
                start = m.start()
            depth += 1
        else:
            depth -= 1
            if depth == 0:
                groups.append(body[start + 1 : m.start()])
    return groups


def parse_wkt(wkt: Optional[str]) -> Optional[Geometry]:
    """Parse a 2-D WKT string; None/empty/unparseable → None (the reference
    maps null/empty WKT to null geometry and the inner join drops the row —
    DatasetGeometry.scala:40-42,64)."""
    if wkt is None:
        return None
    m = _HEAD.match(wkt)
    if not m:
        return None
    tag = m.group(1).upper()
    if m.group(2):
        # 3-/4-D WKT (Z/M/ZM): the flat coordinate pairing below would
        # silently corrupt coordinates — reject as out of the documented
        # 2-D scope (→ null geometry, row dropped by inner-join semantics)
        return None
    if m.group(3).upper() == "EMPTY":
        return None
    body = wkt[m.end(3) - 1 :]
    outer_groups = _split_groups(body)
    if not outer_groups:
        return None
    outer = outer_groups[0]  # content inside the outermost parens

    if tag == "POINT":
        c = _coords_of(outer)
        return Geometry("point", [[c[0]]]) if c else None
    if tag == "MULTIPOINT":
        c = _coords_of(outer)  # handles both "1 1, 2 2" and "(1 1),(2 2)"
        return Geometry("point", [[p] for p in c]) if c else None
    if tag == "LINESTRING":
        c = _coords_of(outer)
        return Geometry("linestring", [c]) if len(c) >= 2 else None
    if tag == "MULTILINESTRING":
        parts = [_coords_of(grp) for grp in _split_groups(outer)]
        parts = [p for p in parts if len(p) >= 2]
        return Geometry("linestring", parts) if parts else None
    if tag == "POLYGON":
        rings = [_coords_of(grp) for grp in _split_groups(outer)]
        rings = [_close_ring(r) for r in rings if len(r) >= 3]
        return Geometry("polygon", [rings]) if rings else None
    if tag == "MULTIPOLYGON":
        polys = []
        for poly_grp in _split_groups(outer):
            rings = [_coords_of(grp) for grp in _split_groups(poly_grp)]
            rings = [_close_ring(r) for r in rings if len(r) >= 3]
            if rings:
                polys.append(rings)
        return Geometry("polygon", polys) if polys else None
    if tag == "GEOMETRYCOLLECTION":
        # the reference's JTS WKTReader parses collections
        # (DatasetGeometry.scala:54-58).  A HOMOGENEOUS collection is
        # exactly a multi-geometry, so collapse it (JTS predicates then
        # behave identically); a MIXED collection is rejected loudly —
        # the parity point is JTS itself: relate()-based predicates throw
        # "This method does not support GeometryCollection arguments", so
        # accepting the parse would only defer the error to join time.
        members = [parse_wkt(m) for m in _split_members(outer)]
        members = [g for g in members if g is not None]
        if not members:
            return None
        kinds = {g.kind for g in members}
        if len(kinds) > 1:
            raise ValueError(
                "parse_wkt: mixed GEOMETRYCOLLECTION is not supported "
                "(JTS relate()-based predicates reject it too) — split "
                "the collection into its member geometries (one row "
                "each) before the join"
            )
        return Geometry(kinds.pop(), [p for g in members for p in g.parts])
    return None


def _split_members(body: str) -> list[str]:
    """Split a GEOMETRYCOLLECTION body into member WKT strings: members
    are separated by commas at parenthesis depth 0 (commas inside a
    member's own coordinate lists are deeper), which also handles
    paren-less members like ``POINT EMPTY``."""
    members, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            members.append(body[start:i])
            start = i + 1
    members.append(body[start:])
    return [m for m in (s.strip() for s in members) if m]


def _close_ring(ring: Coords) -> Coords:
    if ring and ring[0] != ring[-1]:
        return ring + [ring[0]]
    return ring


def point_geom(x: float, y: float) -> Geometry:
    return Geometry("point", [[(x, y)]])


# ---------------------------------------------------------------------------
# centroid (JTS-compatible definitions)
# ---------------------------------------------------------------------------

def centroid(g: Geometry) -> tuple[float, float]:
    """Centroid per JTS semantics: polygons → area centroid (holes negative),
    linestrings → length-weighted, points → mean of points.  Degenerate
    (zero-area polygon / zero-length line) falls back down the dimension
    ladder, as JTS does."""
    if g.kind == "polygon":
        a_sum = cx = cy = 0.0
        for rings in g.parts:
            for k, ring in enumerate(rings):
                sign = -1.0 if k > 0 else 1.0
                for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
                    cross = x1 * y2 - x2 * y1
                    a_sum += sign * cross
                    cx += sign * (x1 + x2) * cross
                    cy += sign * (y1 + y2) * cross
        if a_sum != 0.0:
            return cx / (3.0 * a_sum), cy / (3.0 * a_sum)
        g = Geometry("linestring", [r for rings in g.parts for r in rings])
    if g.kind == "linestring":
        w_sum = cx = cy = 0.0
        for part in g.parts:
            for (x1, y1), (x2, y2) in zip(part, part[1:]):
                w = ((x2 - x1) ** 2 + (y2 - y1) ** 2) ** 0.5
                w_sum += w
                cx += w * (x1 + x2) / 2.0
                cy += w * (y1 + y2) / 2.0
        if w_sum != 0.0:
            return cx / w_sum, cy / w_sum
        g = Geometry("point", [[p] for p in g.coords_flat()])
    pts = g.coords_flat()
    n = len(pts)
    return sum(p[0] for p in pts) / n, sum(p[1] for p in pts) / n


def bbox(g: Geometry) -> tuple[float, float, float, float]:
    pts = g.coords_flat()
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    return min(xs), min(ys), max(xs), max(ys)


# ---------------------------------------------------------------------------
# predicate primitives
# ---------------------------------------------------------------------------

def _orient(ax, ay, bx, by, cx, cy) -> float:
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def _on_segment(px, py, ax, ay, bx, by) -> bool:
    if _orient(ax, ay, bx, by, px, py) != 0.0:
        return False
    return min(ax, bx) <= px <= max(ax, bx) and min(ay, by) <= py <= max(ay, by)


def _segments_intersect(a1, a2, b1, b2) -> bool:
    """Closed-segment intersection (touching counts)."""
    d1 = _orient(*b1, *b2, *a1)
    d2 = _orient(*b1, *b2, *a2)
    d3 = _orient(*a1, *a2, *b1)
    d4 = _orient(*a1, *a2, *b2)
    if ((d1 > 0) != (d2 > 0)) and d1 != 0 and d2 != 0 and ((d3 > 0) != (d4 > 0)) and d3 != 0 and d4 != 0:
        return True
    return (
        _on_segment(*a1, *b1, *b2)
        or _on_segment(*a2, *b1, *b2)
        or _on_segment(*b1, *a1, *a2)
        or _on_segment(*b2, *a1, *a2)
    )


def _segments_cross_properly(a1, a2, b1, b2) -> bool:
    """Proper crossing: interiors intersect at a single point."""
    d1 = _orient(*b1, *b2, *a1)
    d2 = _orient(*b1, *b2, *a2)
    d3 = _orient(*a1, *a2, *b1)
    d4 = _orient(*a1, *a2, *b2)
    return ((d1 > 0) != (d2 > 0)) and d1 != 0 and d2 != 0 and ((d3 > 0) != (d4 > 0)) and d3 != 0 and d4 != 0


def _point_in_ring(px, py, ring: Coords) -> int:
    """Ray casting with boundary detection: 1 inside, 0 boundary, -1 outside."""
    inside = False
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        if _on_segment(px, py, x1, y1, x2, y2):
            return 0
        if (y1 > py) != (y2 > py):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            if xint > px:
                inside = not inside
    return 1 if inside else -1


def point_in_polygon(px, py, g: Geometry) -> int:
    """1 strictly inside, 0 on boundary, -1 outside (holes respected)."""
    best = -1
    for rings in g.parts:
        r = _point_in_ring(px, py, rings[0])
        if r == 0:
            return 0
        if r == 1:
            inside = True
            for hole in rings[1:]:
                h = _point_in_ring(px, py, hole)
                if h == 0:
                    return 0
                if h == 1:
                    inside = False
                    break
            if inside:
                return 1
    return best


def _edges(g: Geometry):
    if g.kind == "polygon":
        for rings in g.parts:
            for ring in rings:
                yield from zip(ring, ring[1:])
    elif g.kind == "linestring":
        for part in g.parts:
            yield from zip(part, part[1:])


def _any_edge_intersection(a: Geometry, b: Geometry, proper_only=False) -> bool:
    eb = list(_edges(b))
    test = _segments_cross_properly if proper_only else _segments_intersect
    for s1, s2 in _edges(a):
        for t1, t2 in eb:
            if test(s1, s2, t1, t2):
                return True
    return False


def _interior_sample(g: Geometry) -> tuple[float, float]:
    """A point in (or near) the interior of g: centroid if it lands inside,
    else midpoint probes of a triangulation fan.  Adequate for the simple
    fixture shapes; documented limitation for pathological concave rings."""
    c = centroid(g)
    if g.kind != "polygon" or point_in_polygon(c[0], c[1], g) == 1:
        return c
    shell = g.parts[0][0]
    x0, y0 = shell[0]
    for (x1, y1), (x2, y2) in zip(shell[1:], shell[2:]):
        mx = (x0 + x1 + x2) / 3.0
        my = (y0 + y1 + y2) / 3.0
        if point_in_polygon(mx, my, g) == 1:
            return (mx, my)
    return c


# ---------------------------------------------------------------------------
# predicates: a.op(b)
# ---------------------------------------------------------------------------

def within(a: Geometry, b: Geometry) -> bool:
    """DE-9IM within: a ⊆ b with interior contact.

    Coverage: point-in-polygon (strict interior — a point on the boundary is
    NOT within, matching JTS); point-on-line; line/polygon-in-polygon via
    all-vertices-contained + no proper boundary crossing + interior sample.
    """
    if b.kind == "polygon":
        verts = a.coords_flat()
        sides = [point_in_polygon(x, y, b) for x, y in verts]
        if any(s == -1 for s in sides):
            return False
        if a.kind == "point":
            return all(s == 1 for s in sides)
        if _any_edge_intersection(a, b, proper_only=True):
            return False
        sx, sy = _interior_sample(a)
        return point_in_polygon(sx, sy, b) >= 0 and (
            any(s == 1 for s in sides) or point_in_polygon(sx, sy, b) == 1
        )
    if b.kind == "linestring":
        if a.kind == "point":
            ends = {part[0] for part in b.parts} | {part[-1] for part in b.parts}
            return all(
                any(_on_segment(x, y, *s1, *s2) for s1, s2 in _edges(b)) and (x, y) not in ends
                for x, y in a.coords_flat()
            )
        if a.kind == "linestring":
            # all vertices of a on b and all midpoints of a's edges on b
            def on_b(x, y):
                return any(_on_segment(x, y, *s1, *s2) for s1, s2 in _edges(b))

            return all(on_b(x, y) for x, y in a.coords_flat()) and all(
                on_b((s1[0] + s2[0]) / 2, (s1[1] + s2[1]) / 2) for s1, s2 in _edges(a)
            )
        return False
    # b is point
    if a.kind == "point":
        bpts = set(b.coords_flat())
        return all(p in bpts for p in a.coords_flat())
    return False


def contains(a: Geometry, b: Geometry) -> bool:
    return within(b, a)


def intersects(a: Geometry, b: Geometry) -> bool:
    """Any contact (boundary or interior)."""
    if a.kind == "point":
        if b.kind == "point":
            return bool(set(a.coords_flat()) & set(b.coords_flat()))
        if b.kind == "polygon":
            return any(point_in_polygon(x, y, b) >= 0 for x, y in a.coords_flat())
        return any(
            _on_segment(x, y, *s1, *s2) for x, y in a.coords_flat() for s1, s2 in _edges(b)
        )
    if b.kind == "point":
        return intersects(b, a)
    if _any_edge_intersection(a, b):
        return True
    # containment without boundary contact
    if a.kind == "polygon":
        x, y = b.coords_flat()[0]
        if point_in_polygon(x, y, a) == 1:
            return True
    if b.kind == "polygon":
        x, y = a.coords_flat()[0]
        if point_in_polygon(x, y, b) == 1:
            return True
    return False


def overlaps(a: Geometry, b: Geometry) -> bool:
    """DE-9IM overlaps: same dimension, interiors intersect, and each
    geometry has points the other lacks.

    Axis-rect×axis-rect is EXACT via interval arithmetic (strict interior
    overlap + mutual non-containment).  Irregular polygon×polygon remains
    exact for the fixture envelope (proper edge crossing or mutual vertex
    containment ⇒ interior intersection) — e.g. two rects sharing an
    edge-aligned strip have intersecting interiors with no proper crossing
    and no interior vertex, which only the rect path detects.  Line×line
    uses collinear-subsegment sharing.  Point×point is proper multipoint
    overlap.
    """
    if a.dimension != b.dimension:
        return False
    if a.kind == "point":
        sa, sb = set(a.coords_flat()), set(b.coords_flat())
        return bool(sa & sb) and bool(sa - sb) and bool(sb - sa)
    if a.kind == "polygon":
        ra, rb = axis_rect(a), axis_rect(b)
        if ra is not None and rb is not None:
            strict = (
                ra[0] < rb[2] and rb[0] < ra[2] and ra[1] < rb[3] and rb[1] < ra[3]
            )
            a_in_b = (
                ra[0] >= rb[0] and ra[2] <= rb[2] and ra[1] >= rb[1] and ra[3] <= rb[3]
            )
            b_in_a = (
                rb[0] >= ra[0] and rb[2] <= ra[2] and rb[1] >= ra[1] and rb[3] <= ra[3]
            )
            return strict and not a_in_b and not b_in_a
        if within(a, b) or within(b, a):
            return False
        interiors = (
            _any_edge_intersection(a, b, proper_only=True)
            or any(point_in_polygon(x, y, b) == 1 for x, y in a.coords_flat())
            or any(point_in_polygon(x, y, a) == 1 for x, y in b.coords_flat())
        )
        if not interiors:
            return False
        a_out = any(point_in_polygon(x, y, b) == -1 for x, y in a.coords_flat())
        b_out = any(point_in_polygon(x, y, a) == -1 for x, y in b.coords_flat())
        return a_out and b_out
    # linestrings: share a collinear subsegment but neither contains the other
    if within(a, b) or within(b, a):
        return False
    for s1, s2 in _edges(a):
        for t1, t2 in _edges(b):
            if _orient(*s1, *s2, *t1) == 0 and _orient(*s1, *s2, *t2) == 0:
                # collinear; check 1-D interval overlap with positive length
                if abs(s2[0] - s1[0]) >= abs(s2[1] - s1[1]):
                    lo1, hi1 = sorted((s1[0], s2[0]))
                    lo2, hi2 = sorted((t1[0], t2[0]))
                else:
                    lo1, hi1 = sorted((s1[1], s2[1]))
                    lo2, hi2 = sorted((t1[1], t2[1]))
                if min(hi1, hi2) > max(lo1, lo2):
                    return True
    return False


def _ring_masks_np(px, py, ring: Coords):
    """Vectorized twin of ``_point_in_ring``'s two outcomes for many points:
    (crossing-parity inside, on-boundary).  Edge loop is O(ring) with O(N)
    vector work per edge; arithmetic mirrors the scalar version exactly
    (same formulas, same operand order) so results are bit-identical."""
    import numpy as np

    n = len(px)
    inside = np.zeros(n, dtype=bool)
    onb = np.zeros(n, dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        orient = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
        onb |= (
            (orient == 0.0)
            & (px >= min(x1, x2))
            & (px <= max(x1, x2))
            & (py >= min(y1, y2))
            & (py <= max(y1, y2))
        )
        cond = (y1 > py) != (y2 > py)
        if y2 != y1:
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            inside ^= cond & (xint > px)
    return inside, onb


def point_in_polygon_np(px, py, g: Geometry):
    """Vectorized ``point_in_polygon``: int8 array of 1 (inside), 0
    (boundary), -1 (outside) for numpy point arrays, same part/hole
    precedence as the scalar version."""
    import numpy as np

    n = len(px)
    res = np.full(n, 2, dtype=np.int8)  # 2 = undecided
    for rings in g.parts:
        und = res == 2
        if not und.any():
            break
        sh_in, sh_onb = _ring_masks_np(px, py, rings[0])
        res[und & sh_onb] = 0
        now = und & ~sh_onb & sh_in
        for hole in rings[1:]:
            if not now.any():
                break
            h_in, h_onb = _ring_masks_np(px, py, hole)
            res[now & h_onb] = 0
            now &= ~h_onb & ~h_in
        res[now & (res == 2)] = 1
    res[res == 2] = -1
    return res


#: Groups of at least this many pairs run ``point_in_polygon_np`` on their
#: own slice; smaller groups share one ring-major sweep.  A per-polygon call
#: pays ~14 numpy calls per edge whatever its size, the sweep a gather and
#: ~15 vector ops per pair-edge; adding a group to a 10,000-pair sweep beat
#: its own call up to 2,048 pairs and lost at 4,096, on 24- and 200-edge
#: rings alike (4-vCPU Xeon VM, numpy 1.26).
PIP_GROUP_MIN_PAIRS = 2048


def points_in_polygons_np(px, py, codes, geoms):
    """Whole-batch ``point_in_polygon_np``: int8 1 / 0 / -1 for each pair
    ``(px[i], py[i])`` against polygon ``geoms[codes[i]]``; code -1 gives
    -1.  Only the polygons some code names are read.

    Groups of ``PIP_GROUP_MIN_PAIRS`` pairs or more are cut out as
    contiguous slices by one stable argsort and run the per-polygon kernel;
    all other pairs go through ``_pip_ring_sweep`` together.  Both use the
    same arithmetic in the same operand order as ``_point_in_ring``, so every
    outcome equals the scalar ``point_in_polygon``."""
    import numpy as np

    res = np.full(len(px), -1, dtype=np.int8)
    ok = codes >= 0
    if not ok.any():  # also covers an empty ``geoms``
        return res
    sizes = np.bincount(codes[ok], minlength=len(geoms))
    big = (sizes > 0) & (sizes >= PIP_GROUP_MIN_PAIRS)
    in_big = ok & big[codes]
    idx = np.flatnonzero(in_big)
    idx = idx[np.argsort(codes[idx], kind="stable")]
    sx, sy = px[idx], py[idx]
    start = 0
    for c in np.flatnonzero(big).tolist():
        end = start + int(sizes[c])
        res[idx[start:end]] = point_in_polygon_np(sx[start:end], sy[start:end], geoms[c])
        start = end
    rest = ok & ~in_big
    if rest.any():
        res[rest] = _pip_ring_sweep(px[rest], py[rest], codes[rest], geoms)
    return res


def _pip_ring_sweep(px, py, codes, geoms):
    """``point_in_polygon_np`` for pairs over many polygons at once.

    Every ring of every polygon named in ``codes`` goes into one flat
    vertex table (edge e runs from vertex e to e + 1).  Ring slot j is the
    j-th ring in a polygon's part/ring order; for each slot, and for each
    edge k of that ring, one vector step covers every pair whose ring has
    that edge.  Pairs are sorted by slot count, and within a slot by edge
    count, so the active pairs are always a prefix.  The shell / hole /
    part precedence of ``point_in_polygon_np`` is then applied once per
    slot, from per-ring flags."""
    import numpy as np

    used = np.unique(codes).tolist()
    # (ring, is shell, is the last ring of its part) per ring slot
    slots = [
        (ring, k == 0, k == len(rings) - 1)
        for c in used
        for rings in geoms[c].parts
        for k, ring in enumerate(rings)
    ]
    nslot = np.zeros(len(geoms), dtype=np.intp)
    nslot[used] = [sum(map(len, geoms[c].parts)) for c in used]
    slot0 = np.cumsum(nslot) - nslot
    r_len = np.fromiter((len(r) for r, _, _ in slots), np.intp, len(slots))
    r_start = np.cumsum(r_len) - r_len
    r_edges = r_len - 1
    r_shell = np.fromiter((sh for _, sh, _ in slots), bool, len(slots))
    r_last = np.fromiter((last for _, _, last in slots), bool, len(slots))
    v = np.fromiter(
        chain.from_iterable(chain.from_iterable(r for r, _, _ in slots)),
        np.float64,
        2 * int(r_len.sum()),
    ).reshape(-1, 2)
    # flat edge table, one column per edge: x1, y1, x2, y2 (edge e runs
    # from vertex e to e + 1; the edge across two rings is never read)
    tab = np.concatenate([v[:-1], v[1:]], axis=1).T.copy()

    order = np.argsort(-nslot[codes], kind="stable")
    qx, qy, codes = px[order], py[order], codes[order]
    p_slot0, p_nslot = slot0[codes], nslot[codes]
    n = len(qx)
    res = np.full(n, 2, dtype=np.int8)  # 2 = undecided
    now = np.zeros(n, dtype=bool)
    for j in range(int(p_nslot[0])):
        a = int(np.count_nonzero(p_nslot > j))
        slot = p_slot0[:a] + j
        ins, onb = _ring_sweep_masks(qx[:a], qy[:a], r_start[slot], r_edges[slot], tab)
        sh = r_shell[slot]
        r, nw = res[:a], now[:a]
        und = r == 2
        r[np.where(sh, und, nw) & onb] = 0
        nw[:] = np.where(sh, und & ~onb & ins, nw & ~onb & ~ins)
        r[r_last[slot] & nw & (r == 2)] = 1
    res[res == 2] = -1
    out = np.empty(n, dtype=np.int8)
    out[order] = res
    return out


def _ring_sweep_masks(px, py, starts, n_edges, tab):
    """``_ring_masks_np`` with one ring per point: edge k of point i's ring
    is column ``starts[i] + k`` of the edge table.  Same formulas and
    operand order."""
    import numpy as np

    n = len(px)
    inside = np.zeros(n, dtype=bool)
    onb = np.zeros(n, dtype=bool)
    order = None
    if n_edges.min() != n_edges.max():
        order = np.argsort(-n_edges, kind="stable")
        px, py, starts, n_edges = px[order], py[order], starts[order], n_edges[order]
    # width[k] = pairs whose ring has an edge k (a prefix: edge counts descend)
    width = np.searchsorted(-n_edges, -np.arange(int(n_edges[0])), side="left")
    with np.errstate(divide="ignore", invalid="ignore"):
        for k, b in enumerate(width.tolist()):
            x1, y1, x2, y2 = tab.take(starts[:b] + k, axis=1)
            x, y = px[:b], py[:b]
            dy = y - y1
            # (x2 - x1) * (py - y1), reused by the crossing abscissa below
            prod = (x2 - x1) * dy
            orient = prod - (y2 - y1) * (x - x1)
            zero = orient == 0.0
            if zero.any():
                onb[:b] |= (
                    zero
                    & (x >= np.minimum(x1, x2))
                    & (x <= np.maximum(x1, x2))
                    & (y >= np.minimum(y1, y2))
                    & (y <= np.maximum(y1, y2))
                )
            # a crossing needs y1 != y2, so the masked-out division by zero
            # of horizontal edges never reaches the result
            cond = (y1 > y) != (y2 > y)
            inside[:b] ^= cond & (x1 + prod / (y2 - y1) > x)
    if order is not None:  # back to the caller's pair order
        inside[order], onb[order] = inside.copy(), onb.copy()
    return inside, onb


def _edges_np(g: Geometry):
    """(x1, y1, x2, y2) float64 edge-table arrays over every ring of a
    polygon (or every part of a linestring), cached on the Geometry —
    the refine layer re-evaluates the same distinct WKT across batches."""
    import numpy as np

    tab = getattr(g, "_edge_tab", None)
    if tab is None:
        pts = list(_edges(g))
        if pts:
            a = np.array([p[0] for p in pts], dtype=np.float64)
            b = np.array([p[1] for p in pts], dtype=np.float64)
            tab = (a[:, 0], a[:, 1], b[:, 0], b[:, 1])
        else:
            z = np.empty(0, dtype=np.float64)
            tab = (z, z, z, z)
        g._edge_tab = tab
    return tab


def _any_edge_intersection_np(a: Geometry, b: Geometry, proper_only=False) -> bool:
    """Vectorized twin of ``_any_edge_intersection``: all Ea×Eb segment
    tests as one broadcast orient computation (chunked over a's edges to
    bound the Ea×Eb temporaries).  Formulas and operand order mirror the
    scalar ``_orient``/``_on_segment`` exactly, so the outcome is
    bit-identical to the scalar loop."""
    import numpy as np

    ax1, ay1, ax2, ay2 = _edges_np(a)
    bx1, by1, bx2, by2 = _edges_np(b)
    na, nb = len(ax1), len(bx1)
    if na == 0 or nb == 0:
        return False
    # keep each Ea-chunk × Eb temporary under ~1M cells
    chunk = max(1, 1_000_000 // max(nb, 1))
    bminx, bmaxx = np.minimum(bx1, bx2), np.maximum(bx1, bx2)
    bminy, bmaxy = np.minimum(by1, by2), np.maximum(by1, by2)
    for s in range(0, na, chunk):
        e = min(s + chunk, na)
        p1x, p1y = ax1[s:e, None], ay1[s:e, None]
        p2x, p2y = ax2[s:e, None], ay2[s:e, None]
        # d1 = orient(b1, b2, a1); d2 = orient(b1, b2, a2)
        d1 = (bx2 - bx1) * (p1y - by1) - (by2 - by1) * (p1x - bx1)
        d2 = (bx2 - bx1) * (p2y - by1) - (by2 - by1) * (p2x - bx1)
        # d3 = orient(a1, a2, b1); d4 = orient(a1, a2, b2)
        d3 = (p2x - p1x) * (by1 - p1y) - (p2y - p1y) * (bx1 - p1x)
        d4 = (p2x - p1x) * (by2 - p1y) - (p2y - p1y) * (bx2 - p1x)
        proper = (
            ((d1 > 0) != (d2 > 0)) & (d1 != 0) & (d2 != 0)
            & ((d3 > 0) != (d4 > 0)) & (d3 != 0) & (d4 != 0)
        )
        if proper.any():
            return True
        if proper_only:
            continue
        aminx, amaxx = np.minimum(p1x, p2x), np.maximum(p1x, p2x)
        aminy, amaxy = np.minimum(p1y, p2y), np.maximum(p1y, p2y)
        touch = (
            # a1 / a2 on segment b
            ((d1 == 0) & (p1x >= bminx) & (p1x <= bmaxx)
             & (p1y >= bminy) & (p1y <= bmaxy))
            | ((d2 == 0) & (p2x >= bminx) & (p2x <= bmaxx)
               & (p2y >= bminy) & (p2y <= bmaxy))
            # b1 / b2 on segment a
            | ((d3 == 0) & (bx1 >= aminx) & (bx1 <= amaxx)
               & (by1 >= aminy) & (by1 <= amaxy))
            | ((d4 == 0) & (bx2 >= aminx) & (bx2 <= amaxx)
               & (by2 >= aminy) & (by2 <= amaxy))
        )
        if touch.any():
            return True
    return False


def _vertices_np(g: Geometry):
    """(px, py) float64 arrays of every vertex, cached on the Geometry."""
    import numpy as np

    v = getattr(g, "_vert_tab", None)
    if v is None:
        pts = g.coords_flat()
        v = (
            np.array([p[0] for p in pts], dtype=np.float64),
            np.array([p[1] for p in pts], dtype=np.float64),
        )
        g._vert_tab = v
    return v


def _within_poly_np(a: Geometry, b: Geometry) -> bool:
    """Vectorized twin of ``within`` for the polygon×polygon case only
    (other kind combinations stay on the scalar path)."""
    px, py = _vertices_np(a)
    sides = point_in_polygon_np(px, py, b)
    if (sides == -1).any():
        return False
    if _any_edge_intersection_np(a, b, proper_only=True):
        return False
    sx, sy = _interior_sample(a)
    s = point_in_polygon(sx, sy, b)
    return s >= 0 and (bool((sides == 1).any()) or s == 1)


def polygon_predicate_np(op: str, a: Geometry, b: Geometry) -> bool:
    """Vectorized DE-9IM predicate for an irregular polygon×polygon pair:
    the edge-cross tests run as one Ea×Eb numpy broadcast and the vertex
    containment tests as one ray-cast batch per polygon, replacing the
    O(Ea·Eb) scalar Python loops.  Arithmetic mirrors the scalar kernels
    operation-for-operation, so every outcome is identical — asserted
    pairwise by the property suite (tests/test_properties.py).

    Tiny pairs (edge product < ~4k cells) stay on the scalar kernels:
    below that, numpy call overhead exceeds the loop cost (measured
    crossover ~60×60 vertices — see SCALE.md)."""
    if a.kind != "polygon" or b.kind != "polygon":
        return bool(PREDICATE_FUNCS[op](a, b))
    ea, eb = len(_edges_np(a)[0]), len(_edges_np(b)[0])
    if ea * eb < 4000:
        return bool(PREDICATE_FUNCS[op](a, b))
    if op == "within":
        return _within_poly_np(a, b)
    if op == "contains":
        return _within_poly_np(b, a)
    if op == "intersects":
        if _any_edge_intersection_np(a, b):
            return True
        x, y = b.coords_flat()[0]
        if point_in_polygon(x, y, a) == 1:
            return True
        x, y = a.coords_flat()[0]
        return point_in_polygon(x, y, b) == 1
    if op == "overlaps":
        ra, rb = axis_rect(a), axis_rect(b)
        if ra is not None and rb is not None:
            strict = (
                ra[0] < rb[2] and rb[0] < ra[2] and ra[1] < rb[3] and rb[1] < ra[3]
            )
            a_in_b = (
                ra[0] >= rb[0] and ra[2] <= rb[2] and ra[1] >= rb[1] and ra[3] <= rb[3]
            )
            b_in_a = (
                rb[0] >= ra[0] and rb[2] <= ra[2] and rb[1] >= ra[1] and rb[3] <= ra[3]
            )
            return strict and not a_in_b and not b_in_a
        if _within_poly_np(a, b) or _within_poly_np(b, a):
            return False
        apx, apy = _vertices_np(a)
        bpx, bpy = _vertices_np(b)
        a_in = point_in_polygon_np(apx, apy, b)
        b_in = point_in_polygon_np(bpx, bpy, a)
        interiors = (
            _any_edge_intersection_np(a, b, proper_only=True)
            or bool((a_in == 1).any())
            or bool((b_in == 1).any())
        )
        if not interiors:
            return False
        return bool((a_in == -1).any()) and bool((b_in == -1).any())
    raise ValueError(f"polygon_predicate_np: unsupported op {op!r}")


PREDICATE_FUNCS = {
    "within": within,
    "contains": contains,
    "intersects": intersects,
    "overlaps": overlaps,
}


def axis_rect(g: Optional[Geometry]):
    """``(x0, y0, x1, y1)`` iff ``g`` is a single-ring hole-free
    axis-aligned rectangle with positive extent (4 distinct corners,
    closed, every edge axis-parallel), else None.

    Rectangles dominate real WKT workloads (bboxes, tiles, viewport
    filters) and every DE-9IM predicate on closed axis rects reduces to
    interval arithmetic — see ``rect_predicate_np`` — so the refine layer
    detects them once per distinct WKT and vectorizes."""
    if g is None or g.kind != "polygon" or len(g.parts) != 1:
        return None
    rings = g.parts[0]
    if len(rings) != 1:
        return None
    ring = rings[0]
    if len(ring) != 5 or ring[0] != ring[4]:
        return None
    if len(set(ring[:4])) != 4:
        return None
    xs = {p[0] for p in ring}
    ys = {p[1] for p in ring}
    if len(xs) != 2 or len(ys) != 2:
        return None
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        if x1 != x2 and y1 != y2:
            return None
    x0, x1_ = min(xs), max(xs)
    y0, y1_ = min(ys), max(ys)
    if not (x1_ > x0 and y1_ > y0):
        return None
    return (x0, y0, x1_, y1_)


def rect_predicate_np(op: str, A, B):
    """Vectorized DE-9IM predicate over paired axis-rect arrays (n×4 each).

    Exact for closed axis-aligned rectangles with positive extent:

    - ``within(A,B)`` ⟺ A ⊆ B — positive extent makes int(A) ⊆ int(B)
      automatic under coordinate-wise containment;
    - ``intersects``: closed-interval overlap (boundary touch counts);
    - ``overlaps``: interiors intersect (STRICT interval overlap), and
      neither rect contains the other (each then necessarily has points
      the other lacks).
    """
    ax0, ay0, ax1, ay1 = A[:, 0], A[:, 1], A[:, 2], A[:, 3]
    bx0, by0, bx1, by1 = B[:, 0], B[:, 1], B[:, 2], B[:, 3]
    a_in_b = (ax0 >= bx0) & (ax1 <= bx1) & (ay0 >= by0) & (ay1 <= by1)
    b_in_a = (bx0 >= ax0) & (bx1 <= ax1) & (by0 >= ay0) & (by1 <= ay1)
    if op == "within":
        return a_in_b
    if op == "contains":
        return b_in_a
    if op == "intersects":
        return (ax0 <= bx1) & (bx0 <= ax1) & (ay0 <= by1) & (by0 <= ay1)
    if op == "overlaps":
        strict = (ax0 < bx1) & (bx0 < ax1) & (ay0 < by1) & (by0 < ay1)
        return strict & ~a_in_b & ~b_in_a
    raise ValueError(f"rect_predicate_np: unsupported op {op!r}")
