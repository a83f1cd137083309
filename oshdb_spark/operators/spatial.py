"""Polygonal area-of-interest filtering, cell covers, PIP and clipping —
the spatial-join core.

Reference semantics re-expressed Spark-first:

* **3-way cell cover** — the reference short-circuits whole cells that
  are fully inside (no per-entity geometry tests) or fully outside
  (skipped entirely) of the query polygon and only runs exact
  point-in-polygon for boundary cells
  (``CellIterator.java:183-215``, ``FastBboxInPolygon.java:23-72``,
  ``FastBboxOutsidePolygon``). Here the cover is computed once
  driver-side at a chosen zoom, broadcast as literal cell-id sets, and
  drives a ``when/otherwise`` split: inside-cell rows are accepted by
  cell id, outside-cell rows are pruned first, and only boundary-cell
  rows evaluate the exact PIP. At 100 TB the outside-prune is a
  partition-pruning predicate on the cell-id partition column.
* **PIP** — ray casting (crossing number), the same algorithmic family
  as the reference's banded ``FastInPolygon.java:107-150``. On the
  engine side it is a Catalyst expression (``pip_col``: one term per
  edge of the small, literal polygon, whole-stage codegen, no Python
  boundary); ``pip_mask`` is the bit-identical numpy form that the
  cell cover and the tests use.
* **clipping** — Liang–Barsky segment clip against bboxes and
  Sutherland–Hodgman ring clip against convex windows (the reference
  delegates to JTS ``intersection``, ``Geo.java:185-191``; we only
  need bbox/convex windows, which these classic kernels cover
  exactly), used by aggregate-by-geometry and the additivity tests.

Points exactly on a polygon edge follow the ray-casting half-open
rule (lower-inclusive in y, strict in x); fixtures avoid on-edge
lattice points, as documented in FIXTURES.md §3.7.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from oshdb_spark.grid import bbox_cell_ranges, cell_bounds, cell_id_col

INSIDE, BOUNDARY, OUTSIDE = "inside", "boundary", "outside"


# ---------------------------------------------------------------------------
# numpy kernels
# ---------------------------------------------------------------------------

def pip_mask(
    lon: np.ndarray, lat: np.ndarray, poly_lon: np.ndarray, poly_lat: np.ndarray
) -> np.ndarray:
    """Crossing-number point-in-polygon over a whole batch.

    ``poly_*`` is a closed or open ring (closure is implied). Complexity
    O(points x segments) fully vectorized; the polygon side is small
    and broadcast, the points side is one Arrow batch.
    """
    px = np.asarray(poly_lon, dtype=np.float64)
    py = np.asarray(poly_lat, dtype=np.float64)
    if px[0] == px[-1] and py[0] == py[-1]:
        px, py = px[:-1], py[:-1]
    x1, y1 = px, py
    x2, y2 = np.roll(px, -1), np.roll(py, -1)
    x = np.asarray(lon, dtype=np.float64)[:, None]
    y = np.asarray(lat, dtype=np.float64)[:, None]
    straddles = (y1[None, :] <= y) != (y2[None, :] <= y)
    # x coordinate where the edge crosses the horizontal line through y
    with np.errstate(divide="ignore", invalid="ignore"):
        xs = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
    crossing = straddles & (x < xs)
    return (crossing.sum(axis=1) % 2).astype(bool)


def pip_col(
    lon: Column, lat: Column, poly_lon: list[float], poly_lat: list[float]
) -> Column:
    """``pip_mask`` as a Catalyst expression: one 0/1 crossing term per
    non-horizontal edge, summed and tested for parity — whole-stage
    codegen, no Python boundary (the reference's in-engine
    ``FastInPolygon.java:107-150``).

    Bit-identical to ``pip_mask``: each edge's straddle test
    ``(y1 <= y) != (y2 <= y)`` is rewritten as the equivalent half-open
    ``lo <= y < hi``, and the crossing abscissa keeps the kernel's
    float64 op order ``x1 + (y - y1) * (x2 - x1) / (y2 - y1)`` with the
    edge deltas folded into literals. Horizontal edges never straddle,
    so they are dropped here (no division by zero under ANSI). A null
    coordinate fails every straddle test: the result is False, never
    null."""
    px = [float(v) for v in poly_lon]
    py = [float(v) for v in poly_lat]
    if px[0] == px[-1] and py[0] == py[-1]:
        px, py = px[:-1], py[:-1]
    x = lon.cast("double")
    y = lat.cast("double")
    terms = []
    for i in range(len(px)):
        x1, y1 = px[i], py[i]
        x2, y2 = px[(i + 1) % len(px)], py[(i + 1) % len(px)]
        if y1 == y2:
            continue
        xs = F.lit(x1) + (y - F.lit(y1)) * F.lit(x2 - x1) / F.lit(y2 - y1)
        straddles = (y >= F.lit(min(y1, y2))) & (y < F.lit(max(y1, y2)))
        terms.append(F.when(straddles & (x < xs), 1).otherwise(0))
    if not terms:
        return F.lit(False)
    return sum(terms[1:], terms[0]) % 2 == 1


def seg_rect_intersects(
    x1: float, y1: float, x2: float, y2: float, rect: tuple[float, float, float, float]
) -> bool:
    """Does segment (x1,y1)-(x2,y2) intersect an axis-aligned rect?"""
    rx0, ry0, rx1, ry1 = rect
    if max(x1, x2) < rx0 or min(x1, x2) > rx1 or max(y1, y2) < ry0 or min(y1, y2) > ry1:
        return False
    if rx0 <= x1 <= rx1 and ry0 <= y1 <= ry1:
        return True
    if rx0 <= x2 <= rx1 and ry0 <= y2 <= ry1:
        return True
    # separating-line test against the segment's supporting line
    dx, dy = x2 - x1, y2 - y1
    corners = [(rx0, ry0), (rx0, ry1), (rx1, ry0), (rx1, ry1)]
    sides = [np.sign(dx * (cy - y1) - dy * (cx - x1)) for cx, cy in corners]
    return not (all(s > 0 for s in sides) or all(s < 0 for s in sides))


def clip_segment_bbox(
    x1: float, y1: float, x2: float, y2: float, rect: tuple[float, float, float, float]
) -> tuple[float, float, float, float] | None:
    """Liang–Barsky segment/bbox clip; returns the clipped segment or None."""
    rx0, ry0, rx1, ry1 = rect
    dx, dy = x2 - x1, y2 - y1
    t0, t1 = 0.0, 1.0
    for p, q in (
        (-dx, x1 - rx0),
        (dx, rx1 - x1),
        (-dy, y1 - ry0),
        (dy, ry1 - y1),
    ):
        if p == 0:
            if q < 0:
                return None
            continue
        r = q / p
        if p < 0:
            if r > t1:
                return None
            t0 = max(t0, r)
        else:
            if r < t0:
                return None
            t1 = min(t1, r)
    return (x1 + t0 * dx, y1 + t0 * dy, x1 + t1 * dx, y1 + t1 * dy)


def clip_ring_convex(
    subj_x: np.ndarray, subj_y: np.ndarray, clip_x: np.ndarray, clip_y: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Sutherland–Hodgman: clip a ring against a convex CCW window.
    Returns the clipped ring (possibly empty). Open rings implied."""
    sx = list(np.asarray(subj_x, dtype=np.float64))
    sy = list(np.asarray(subj_y, dtype=np.float64))
    cx = np.asarray(clip_x, dtype=np.float64)
    cy = np.asarray(clip_y, dtype=np.float64)
    if len(cx) > 1 and cx[0] == cx[-1] and cy[0] == cy[-1]:
        cx, cy = cx[:-1], cy[:-1]
    n = len(cx)
    for i in range(n):
        ex1, ey1 = cx[i], cy[i]
        ex2, ey2 = cx[(i + 1) % n], cy[(i + 1) % n]

        def side(px: float, py: float) -> float:
            return (ex2 - ex1) * (py - ey1) - (ey2 - ey1) * (px - ex1)

        out_x: list[float] = []
        out_y: list[float] = []
        m = len(sx)
        for j in range(m):
            px, py = sx[j], sy[j]
            qx, qy = sx[(j + 1) % m], sy[(j + 1) % m]
            ps, qs = side(px, py), side(qx, qy)
            if ps >= 0:
                out_x.append(px)
                out_y.append(py)
            if (ps >= 0) != (qs >= 0):
                t = ps / (ps - qs)
                out_x.append(px + t * (qx - px))
                out_y.append(py + t * (qy - py))
        sx, sy = out_x, out_y
        if not sx:
            break
    return np.array(sx), np.array(sy)


def np_clip_segments(
    x1: np.ndarray,
    y1: np.ndarray,
    x2: np.ndarray,
    y2: np.ndarray,
    rx0: np.ndarray,
    ry0: np.ndarray,
    rx1: np.ndarray,
    ry1: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized Liang–Barsky over segment batches: returns
    (cx1, cy1, cx2, cy2, valid). Invalid rows (no intersection) have
    undefined coords under a False mask. Per-boundary parameters are
    computed exactly like the scalar ``clip_segment_bbox``; axis-parallel
    segments (p == 0) contribute neutral bounds unless fully outside."""
    x1 = np.asarray(x1, dtype=np.float64)
    y1 = np.asarray(y1, dtype=np.float64)
    x2 = np.asarray(x2, dtype=np.float64)
    y2 = np.asarray(y2, dtype=np.float64)
    dx, dy = x2 - x1, y2 - y1
    t0 = np.zeros_like(x1)
    t1 = np.ones_like(x1)
    reject = np.zeros(x1.shape, dtype=bool)
    for p, q in (
        (-dx, x1 - rx0),
        (dx, rx1 - x1),
        (-dy, y1 - ry0),
        (dy, ry1 - y1),
    ):
        zero = p == 0
        reject |= zero & (q < 0)
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            r = np.where(zero, 0.0, q / np.where(zero, 1.0, p))
        t0 = np.where(~zero & (p < 0), np.maximum(t0, r), t0)
        t1 = np.where(~zero & (p > 0), np.minimum(t1, r), t1)
    valid = ~reject & (t0 <= t1)
    # rejected rows may carry inf parameters; their coords are unused
    # (masked by valid) but would warn without the errstate guard
    with np.errstate(invalid="ignore", over="ignore"):
        return x1 + t0 * dx, y1 + t0 * dy, x1 + t1 * dx, y1 + t1 * dy, valid


def np_clip_segments_convex(
    x1: np.ndarray,
    y1: np.ndarray,
    x2: np.ndarray,
    y2: np.ndarray,
    poly_x: np.ndarray,
    poly_y: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Cyrus–Beck parametric clip of a segment batch against ONE convex
    polygon (CCW ring, closure implied): returns (t0, t1, valid) — the
    clipped piece is p1 + t*(p2-p1), t in [t0, t1]. The line-feature
    half of the reference's ``Geo.clip(geom, poly)`` (JTS intersection,
    ``Geo.java:185-191``), vectorized over Arrow batches.

    Per CCW edge (e1 -> e2) the outward normal is (dy, -dx); a point is
    inside the half-plane when n . (p - e1) <= 0. Edge-parallel
    segments outside their half-plane are rejected.
    """
    px = np.asarray(poly_x, dtype=np.float64)
    py = np.asarray(poly_y, dtype=np.float64)
    if px[0] == px[-1] and py[0] == py[-1]:
        px, py = px[:-1], py[:-1]
    x1 = np.asarray(x1, dtype=np.float64)
    y1 = np.asarray(y1, dtype=np.float64)
    dx = np.asarray(x2, dtype=np.float64) - x1
    dy = np.asarray(y2, dtype=np.float64) - y1
    t0 = np.zeros_like(x1)
    t1 = np.ones_like(x1)
    reject = np.zeros(x1.shape, dtype=bool)
    n = len(px)
    for i in range(n):
        ex, ey = px[i], py[i]
        nx = py[(i + 1) % n] - ey  # outward normal of a CCW edge
        ny = -(px[(i + 1) % n] - ex)
        num = nx * (x1 - ex) + ny * (y1 - ey)  # >0 = outside
        den = nx * dx + ny * dy
        zero = den == 0
        reject |= zero & (num > 0)
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            t = np.where(zero, 0.0, -num / np.where(zero, 1.0, den))
        t0 = np.where(~zero & (den < 0), np.maximum(t0, t), t0)
        t1 = np.where(~zero & (den > 0), np.minimum(t1, t), t1)
    valid = ~reject & (t0 <= t1)
    return t0, t1, valid


def ear_clip_triangles(
    poly_x: np.ndarray, poly_y: np.ndarray
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Deterministic ear-clipping triangulation of a simple polygon
    (no holes): the driver-side decomposition that turns ARBITRARY
    (concave) clip windows into a fixed list of convex pieces for the
    batched Cyrus–Beck kernel — the reference reaches arbitrary
    polygons through JTS intersection (``Geo.java:185-191``); here the
    decomposition happens once per AOI, the per-row work stays a convex
    parametric clip. Returns CCW (x, y) vertex triples in a
    deterministic order (same inputs -> same triangles, which the SQL
    oracles rely on)."""
    px = np.asarray(poly_x, dtype=np.float64)
    py = np.asarray(poly_y, dtype=np.float64)
    if px[0] == px[-1] and py[0] == py[-1]:
        px, py = px[:-1], py[:-1]
    n = len(px)
    # normalize to CCW (positive shoelace area)
    area2 = float(np.sum(px * np.roll(py, -1) - np.roll(px, -1) * py))
    idx = list(range(n)) if area2 > 0 else list(range(n))[::-1]

    def cross(i0, i1, i2):
        return (px[i1] - px[i0]) * (py[i2] - py[i0]) - (py[i1] - py[i0]) * (
            px[i2] - px[i0]
        )

    def in_tri(p, i0, i1, i2):
        d0 = (px[i1] - px[i0]) * (py[p] - py[i0]) - (py[i1] - py[i0]) * (px[p] - px[i0])
        d1 = (px[i2] - px[i1]) * (py[p] - py[i1]) - (py[i2] - py[i1]) * (px[p] - px[i1])
        d2 = (px[i0] - px[i2]) * (py[p] - py[i2]) - (py[i0] - py[i2]) * (px[p] - px[i2])
        return d0 >= 0 and d1 >= 0 and d2 >= 0

    tris: list[tuple[int, int, int]] = []
    guard = 4 * n * n
    while len(idx) > 3 and guard > 0:
        guard -= 1
        for k in range(len(idx)):
            i0, i1, i2 = idx[k - 1], idx[k], idx[(k + 1) % len(idx)]
            if cross(i0, i1, i2) <= 0:
                continue  # reflex corner: not an ear
            if any(
                in_tri(p, i0, i1, i2)
                for p in idx
                if p not in (i0, i1, i2)
            ):
                continue  # another vertex inside: not an ear
            tris.append((i0, i1, i2))
            del idx[k]
            break
        else:
            # No ear found: the polygon is degenerate (self-intersecting,
            # collinear run, or duplicate vertices). A partial fan would
            # under-cover the AOI — and because the SQL oracle re-derives
            # the SAME triangles, engine and oracle would agree on a
            # wrong clipped length. Fail loudly instead.
            raise ValueError(
                f"ear_clip_triangles: no ear found with {len(idx)} of {n} "
                "vertices left — degenerate polygon (self-intersection, "
                "collinear run, or duplicate vertices?)"
            )
    if len(idx) == 3:
        tris.append((idx[0], idx[1], idx[2]))
    if len(tris) != n - 2:
        raise ValueError(
            f"ear_clip_triangles: produced {len(tris)} triangles for an "
            f"{n}-gon (expected {n - 2}) — partial triangulation would "
            "silently under-cover the AOI"
        )
    return [
        (np.array([px[a], px[b], px[c]]), np.array([py[a], py[b], py[c]]))
        for a, b, c in tris
    ]


def np_cliplen_concave(
    x1: np.ndarray,
    y1: np.ndarray,
    x2: np.ndarray,
    y2: np.ndarray,
    triangles: list[tuple[np.ndarray, np.ndarray]],
    earth_radius: float,
) -> np.ndarray:
    """Equirectangular length of each segment's pieces inside a
    triangulated (possibly concave) polygon: per triangle a Cyrus–Beck
    clip, piece lengths accumulated in triangle order (fixed float op
    order — the SQL oracle mirrors the same per-piece terms). Pieces
    partition each segment along triangulation diagonals; the equirect
    measure is evaluated per piece on BOTH sides, so the partition is
    parity-identical even though geodesic length is not split-additive.
    A segment exactly collinear with an interior diagonal would be
    counted by both adjacent triangles — identically on both sides."""
    total = np.zeros(np.shape(x1), dtype=np.float64)
    dx = np.asarray(x2, dtype=np.float64) - x1
    dy = np.asarray(y2, dtype=np.float64) - y1
    for tx, ty in triangles:
        t0, t1, valid = np_clip_segments_convex(x1, y1, x2, y2, tx, ty)
        cx1, cy1 = x1 + t0 * dx, y1 + t0 * dy
        cx2, cy2 = x1 + t1 * dx, y1 + t1 * dy
        dlng = np.radians((cx2 - cx1) * 1e-7) * np.cos(
            np.radians(((cy1 + cy2) * 1e-7) / 2.0)
        )
        dlat = np.radians((cy2 - cy1) * 1e-7)
        piece = earth_radius * np.sqrt(dlng * dlng + dlat * dlat)
        total += np.where(valid, piece, 0.0)
    return total


class GriddedTriangleClip:
    """Per-cell pre-gridded clipping for PATHOLOGICAL (many-vertex)
    triangulated AOIs — the ``FastPolygonOperations.java:26-160`` analog:
    the reference pre-clips the query polygon into per-cell pieces so
    per-entity work is bounded by the local piece, not the AOI size.

    Here the AOI's ear-clip triangles are bucketed once driver-side into
    an equal-angle cell grid by their bounding boxes (a SUPERSET of true
    overlap — a non-overlapping candidate clips to an exactly-empty
    piece, so over-registration can never change the result, only cost).
    ``cliplen`` then clips each segment only against triangles
    registered in the cells its own bbox touches, accumulating pieces in
    ascending triangle order — the same order as the full
    ``np_cliplen_concave`` scan, and skipped triangles contribute an
    exact +0.0 there, so the gridded sum is BIT-IDENTICAL to the full
    scan (asserted in tests/test_spatial.py). Per-segment cost drops
    from O(T) to O(local triangles).

    At cluster scale the instance rides the Arrow kernel's closure
    (Spark broadcasts it to executors once per stage) — the per-cell
    piece table is the broadcast small side of the spatial join, never
    a per-row rebuild."""

    def __init__(self, triangles: list[tuple[np.ndarray, np.ndarray]],
                 cell_deg: float = 1.0):
        self.triangles = triangles
        self.cell_e7 = max(1, int(round(cell_deg * 1e7)))
        cellmap: dict[tuple[int, int], list[int]] = {}
        tri_cells: list[list[tuple[int, int]]] = []
        for t, (tx, ty) in enumerate(triangles):
            cells = self._bbox_cells(
                float(np.min(tx)), float(np.min(ty)),
                float(np.max(tx)), float(np.max(ty)),
            )
            tri_cells.append(cells)
            for c in cells:
                cellmap.setdefault(c, []).append(t)
        self._cellmap = {k: np.asarray(v, dtype=np.int64) for k, v in cellmap.items()}
        self._tri_cells = tri_cells

    def _bbox_cells(self, x0, y0, x1, y1) -> list[tuple[int, int]]:
        s = self.cell_e7
        cx0, cx1 = int(np.floor(x0 / s)), int(np.floor(x1 / s))
        cy0, cy1 = int(np.floor(y0 / s)), int(np.floor(y1 / s))
        return [(cx, cy) for cx in range(cx0, cx1 + 1) for cy in range(cy0, cy1 + 1)]

    def cliplen(self, x1, y1, x2, y2, earth_radius: float) -> np.ndarray:
        x1 = np.asarray(x1, dtype=np.float64)
        y1 = np.asarray(y1, dtype=np.float64)
        x2 = np.asarray(x2, dtype=np.float64)
        y2 = np.asarray(y2, dtype=np.float64)
        n = x1.shape[0]
        total = np.zeros(n, dtype=np.float64)
        if n == 0 or not self.triangles:
            return total
        # segment -> cells of its own bbox; cell -> segment ids
        seg_cells: dict[tuple[int, int], list[int]] = {}
        bx0, bx1 = np.minimum(x1, x2), np.maximum(x1, x2)
        by0, by1 = np.minimum(y1, y2), np.maximum(y1, y2)
        for i in range(n):
            for c in self._bbox_cells(bx0[i], by0[i], bx1[i], by1[i]):
                seg_cells.setdefault(c, []).append(i)
        seg_arr = {k: np.asarray(v, dtype=np.int64) for k, v in seg_cells.items()}
        dx, dy = x2 - x1, y2 - y1
        for t, (tx, ty) in enumerate(self.triangles):
            cand: list[np.ndarray] = [
                seg_arr[c] for c in self._tri_cells[t] if c in seg_arr
            ]
            if not cand:
                continue
            sids = np.unique(np.concatenate(cand))
            t0, t1, valid = np_clip_segments_convex(
                x1[sids], y1[sids], x2[sids], y2[sids], tx, ty
            )
            sdx, sdy = dx[sids], dy[sids]
            cx1, cy1 = x1[sids] + t0 * sdx, y1[sids] + t0 * sdy
            cx2, cy2 = x1[sids] + t1 * sdx, y1[sids] + t1 * sdy
            dlng = np.radians((cx2 - cx1) * 1e-7) * np.cos(
                np.radians(((cy1 + cy2) * 1e-7) / 2.0)
            )
            dlat = np.radians((cy2 - cy1) * 1e-7)
            piece = earth_radius * np.sqrt(dlng * dlng + dlat * dlat)
            total[sids] += np.where(valid, piece, 0.0)
        return total


# ---------------------------------------------------------------------------
# cell cover (3-way classification, driver-side)
# ---------------------------------------------------------------------------

def polygon_cover(
    poly_lon_e7: np.ndarray, poly_lat_e7: np.ndarray, zoom: int
) -> dict[str, set[int]]:
    """Classify every candidate cell of the polygon's bbox at ``zoom``
    into inside / boundary sets (outside cells are simply absent).

    Mirrors the fully-inside / fully-outside shortcut logic of
    ``CellIterator.java:183-215`` at cell granularity.
    """
    px = np.asarray(poly_lon_e7, dtype=np.float64)
    py = np.asarray(poly_lat_e7, dtype=np.float64)
    if px[0] == px[-1] and py[0] == py[-1]:
        px, py = px[:-1], py[:-1]
    bbox = (int(px.min()), int(py.min()), int(px.max()), int(py.max()))
    inside: set[int] = set()
    boundary: set[int] = set()
    for start, end in bbox_cell_ranges(zoom, bbox, enlarge=False):
        if start < 0:
            continue
        for cid in range(start, end + 1):
            lo, la, hi, ha = cell_bounds(zoom, cid)
            rect = (float(lo), float(la), float(hi + 1), float(ha + 1))
            crossed = any(
                seg_rect_intersects(
                    px[i], py[i], px[(i + 1) % len(px)], py[(i + 1) % len(px)], rect
                )
                for i in range(len(px))
            )
            if crossed:
                boundary.add(cid)
                continue
            corners_in = pip_mask(
                np.array([rect[0], rect[0], rect[2], rect[2]]),
                np.array([rect[1], rect[3], rect[1], rect[3]]),
                px,
                py,
            )
            if corners_in.all():
                inside.add(cid)
            # else: fully outside (no edge crossing, corners out) -> drop
    return {INSIDE: inside, BOUNDARY: boundary}


# ---------------------------------------------------------------------------
# Spark operator: polygonal areaOfInterest
# ---------------------------------------------------------------------------

def polygon_contains_col(
    df: DataFrame,
    poly_lon_e7: list[int],
    poly_lat_e7: list[int],
    zoom: int = 6,
    lon: str = "lon_e7",
    lat: str = "lat_e7",
) -> DataFrame:
    """Append ``_in_aoi`` boolean: 3-way cover split + exact PIP for
    boundary cells only (areaOfInterest(Polygon) analog,
    ``MapReducer.java:267-276``). Never null: a null coordinate (or
    cell) reads False."""
    cover = polygon_cover(np.array(poly_lon_e7), np.array(poly_lat_e7), zoom)
    inside_cells = sorted(cover[INSIDE])
    boundary_cells = sorted(cover[BOUNDARY])

    df = df.withColumn("_cell", cell_id_col(zoom, F.col(lon), F.col(lat)))
    return df.withColumn(
        "_in_aoi",
        F.when(F.col("_cell").isin(inside_cells), F.lit(True)).when(
            F.col("_cell").isin(boundary_cells),
            pip_col(F.col(lon), F.col(lat), poly_lon_e7, poly_lat_e7),
        ).otherwise(F.lit(False)),
    ).drop("_cell")


def filter_polygon(
    df: DataFrame,
    poly_lon_e7: list[int],
    poly_lat_e7: list[int],
    zoom: int = 6,
) -> DataFrame:
    """Keep rows inside the polygon. Outside-cell rows are pruned by
    cell id first (the partition-pruning analog — the optimization that
    matters at 100 TB); inside-cell rows are accepted by cell id, and
    the CASE short-circuits in codegen, so only boundary-cell rows
    evaluate the ``pip_col`` edge terms."""
    cover = polygon_cover(np.array(poly_lon_e7), np.array(poly_lat_e7), zoom)
    inside_cells = sorted(cover[INSIDE])
    boundary_cells = sorted(cover[BOUNDARY])

    base = df.withColumn(
        "_cell", cell_id_col(zoom, F.col("lon_e7"), F.col("lat_e7"))
    )
    pruned = base.filter(F.col("_cell").isin(inside_cells + boundary_cells))
    keep = F.when(F.col("_cell").isin(inside_cells), F.lit(True)).otherwise(
        pip_col(F.col("lon_e7"), F.col("lat_e7"), poly_lon_e7, poly_lat_e7)
    )
    return pruned.filter(keep).drop("_cell")


def bbox_filter_col(bbox: tuple[int, int, int, int], lon="lon_e7", lat="lat_e7") -> Column:
    """areaOfInterest(bbox) predicate (MapReducer.java:248-257)."""
    return (
        (F.col(lon) >= bbox[0])
        & (F.col(lon) <= bbox[2])
        & (F.col(lat) >= bbox[1])
        & (F.col(lat) <= bbox[3])
    )


# ---------------------------------------------------------------------------
# aggregateByGeometry: 1->N sub-region overlay
# ---------------------------------------------------------------------------

def aggregate_by_polygon_regions(
    df: DataFrame,
    regions: dict[str, tuple[list[int], list[int]]],
    zoom: int = 6,
    lon: str = "lon_e7",
    lat: str = "lat_e7",
) -> DataFrame:
    """aggregateByGeometry over ARBITRARY polygon sub-regions
    (``GeometrySplitter.java:80-203`` for point features): each row is
    replicated into every polygon region containing it, tagged with
    ``region_key``.

    Scale shape — the FastPolygonOperations pre-grid analog
    (``FastPolygonOperations.java:26-160``): every region's 3-way cell
    cover is computed once driver-side and broadcast as a literal
    (cell, region, is_boundary) candidates relation. Containment then
    costs one broadcast equi-join on the cell id (rows in no region's
    cover are dropped by the join, the partition-prune analog). One
    filter then keeps inside-cell candidates by their flag and
    ray-casts only boundary-cell candidates against their own region's
    polygon: ``~_bnd | CASE _ridx WHEN i THEN pip_col(region i)``, all
    in codegen."""
    names = list(regions)
    cand_rows: list[tuple[int, int, bool]] = []
    for i, n in enumerate(names):
        cover = polygon_cover(np.array(regions[n][0]), np.array(regions[n][1]), zoom)
        cand_rows += [(c, i, False) for c in sorted(cover[INSIDE])]
        cand_rows += [(c, i, True) for c in sorted(cover[BOUNDARY])]

    spark = df.sparkSession
    # The candidates relation is shipped as ONE packed array<long>
    # literal — a single Catalyst node whose size is data, not
    # expression-tree depth. The earlier per-row F.struct-literal array
    # grew the analysis tree ~4x per zoom level (slow analysis, 64KB
    # codegen risk on large AOIs / high zooms — round-2 ADVICE.md).
    k = len(names)
    assert (1 << (2 * zoom)) * k * 2 < (1 << 62), "packed cell id overflow"
    packed = [int((c * k + i) * 2 + int(b)) for c, i, b in cand_rows]
    if packed:
        cand = (
            spark.range(1)
            .select(F.explode(F.lit(packed)).alias("_p"))
            .select(
                F.expr(f"(_p div 2) div {k}").alias("_cell"),
                F.expr(f"pmod(_p div 2, {k})").cast("int").alias("_ridx"),
                (F.col("_p") % 2 == 1).alias("_bnd"),
            )
        )
    else:  # no region covers any cell: empty candidates, empty result
        cand = spark.range(0).select(
            F.col("id").alias("_cell"),
            F.lit(0).alias("_ridx"),
            F.lit(False).alias("_bnd"),
        )
    base = df.withColumn("_cell", cell_id_col(zoom, F.col(lon), F.col(lat)))
    joined = base.join(F.broadcast(cand), "_cell")
    region_pip = F.lit(False)
    for i in reversed(range(k)):
        region_pip = F.when(
            F.col("_ridx") == i, pip_col(F.col(lon), F.col(lat), *regions[names[i]])
        ).otherwise(region_pip)
    name_arr = F.array(*[F.lit(n) for n in names])
    return (
        joined.filter(~F.col("_bnd") | region_pip)
        .withColumn("region_key", F.element_at(name_arr, F.col("_ridx") + 1))
        .drop("_cell", "_ridx", "_bnd")
    )


def aggregate_by_rect_regions(
    df: DataFrame, regions: dict[str, tuple[int, int, int, int]]
) -> DataFrame:
    """Split rows across (possibly overlapping) rectangular sub-regions
    and tag each copy with its region key (``GeometrySplitter.java:80-203``
    semantics for point features: containment, no clipping needed).
    Implemented as explode over a literal region table — a broadcast
    spatial join with the region cover inlined into the plan."""
    entries = [
        F.struct(
            F.lit(name).alias("region_key"),
            F.lit(b[0]).alias("min_lon"),
            F.lit(b[1]).alias("min_lat"),
            F.lit(b[2]).alias("max_lon"),
            F.lit(b[3]).alias("max_lat"),
        )
        for name, b in regions.items()
    ]
    exploded = df.withColumn("_r", F.explode(F.array(*entries)))
    return exploded.filter(
        (F.col("lon_e7") >= F.col("_r.min_lon"))
        & (F.col("lon_e7") <= F.col("_r.max_lon"))
        & (F.col("lat_e7") >= F.col("_r.min_lat"))
        & (F.col("lat_e7") <= F.col("_r.max_lat"))
    ).withColumn("region_key", F.col("_r.region_key")).drop("_r")


def clipped_bbox_region_areas(
    boxes: DataFrame, regions: dict[str, tuple[int, int, int, int]]
) -> DataFrame:
    """GeometrySplitter semantics for AREA features
    (``GeometrySplitter.java:80-203`` applied to polygons): every
    (entity bbox ring, rect sub-region) pair with positive overlap gets
    the CLIPPED ring's Chamberlain-Duquette area. The clip deliberately
    runs through ``clip_ring_convex`` (Sutherland-Hodgman, the general
    convex polygon-clip kernel) rather than a rect-intersection
    shortcut — the catalog oracle computes the intersection rect
    symbolically, so the kernel's output is what gets gated. Clipped
    ring areas batch through the ragged reduceat kernel
    (operators/relations._batch_ring_areas); only the tiny 4-vertex
    S-H loop is per-row Python (same acceptance as ring chaining).

    ``boxes``: (entity_id, min_lon, min_lat, max_lon, max_lat) in e7.
    Returns (entity_id, region_key, area_m2) for positive overlaps.
    """
    from oshdb_spark.operators.relations import _batch_ring_areas

    entries = [
        F.struct(
            F.lit(name).alias("region_key"),
            F.lit(b[0]).cast("long").alias("rx0"),
            F.lit(b[1]).cast("long").alias("ry0"),
            F.lit(b[2]).cast("long").alias("rx1"),
            F.lit(b[3]).cast("long").alias("ry1"),
        )
        for name, b in regions.items()
    ]
    exploded = boxes.withColumn("_r", F.explode(F.array(*entries))).select(
        "*", "_r.*"
    )
    pos = exploded.filter(
        (F.least(F.col("max_lon"), F.col("rx1")) > F.greatest(F.col("min_lon"), F.col("rx0")))
        & (F.least(F.col("max_lat"), F.col("ry1")) > F.greatest(F.col("min_lat"), F.col("ry0")))
    )

    @pandas_udf("double")
    def _clip_area(
        minx: pd.Series, miny: pd.Series, maxx: pd.Series, maxy: pd.Series,
        rx0: pd.Series, ry0: pd.Series, rx1: pd.Series, ry1: pd.Series,
    ) -> pd.Series:
        n = len(minx)
        mnx, mny = minx.to_numpy(), miny.to_numpy()
        mxx, mxy = maxx.to_numpy(), maxy.to_numpy()
        cx0, cy0 = rx0.to_numpy(), ry0.to_numpy()
        cx1, cy1 = rx1.to_numpy(), ry1.to_numpy()
        flat_lon: list[np.ndarray] = []
        flat_lat: list[np.ndarray] = []
        rows: list[int] = []
        for i in range(n):
            sx = np.array([mnx[i], mxx[i], mxx[i], mnx[i]], dtype=np.float64)
            sy = np.array([mny[i], mny[i], mxy[i], mxy[i]], dtype=np.float64)
            kx = np.array([cx0[i], cx1[i], cx1[i], cx0[i]], dtype=np.float64)
            ky = np.array([cy0[i], cy0[i], cy1[i], cy1[i]], dtype=np.float64)
            ox, oy = clip_ring_convex(sx, sy, kx, ky)
            if len(ox) >= 3:
                flat_lon.append(np.append(ox, ox[0]))  # close the ring
                flat_lat.append(np.append(oy, oy[0]))
                rows.append(i)
        out = np.zeros(n, dtype=np.float64)
        if rows:
            lens = np.array([len(v) for v in flat_lon], dtype=np.int64)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            areas = _batch_ring_areas(
                np.concatenate(flat_lon), np.concatenate(flat_lat), starts, lens
            )
            out[np.array(rows)] = areas
        return pd.Series(out)

    return pos.select(
        "entity_id",
        "region_key",
        _clip_area(
            F.col("min_lon").cast("double"), F.col("min_lat").cast("double"),
            F.col("max_lon").cast("double"), F.col("max_lat").cast("double"),
            F.col("rx0").cast("double"), F.col("ry0").cast("double"),
            F.col("rx1").cast("double"), F.col("ry1").cast("double"),
        ).alias("area_m2"),
    )
