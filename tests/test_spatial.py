"""Spatial kernel tests: PIP vs independent oracles, cell-cover
classification, clipping additivity (the reference's
TestMapAggregateByGeometry invariant), geodesic formula sanity."""

from __future__ import annotations

import math

import numpy as np
import pytest

from oshdb_spark.functions import geo
from oshdb_spark.operators import spatial
from oshdb_spark.queries import DIAMOND_CX, DIAMOND_CY, DIAMOND_LAT, DIAMOND_LON, DIAMOND_R

E7 = 10_000_000


# ---------------------------------------------------------------------------
# PIP kernel
# ---------------------------------------------------------------------------

def _convex_contains(px, py, x, y) -> bool:
    """Independent oracle: half-plane test for a CCW convex polygon."""
    n = len(px)
    for i in range(n):
        x1, y1 = px[i], py[i]
        x2, y2 = px[(i + 1) % n], py[(i + 1) % n]
        if (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1) < 0:
            return False
    return True


def test_pip_matches_halfplane_oracle_on_random_convex_polygon():
    rng = np.random.default_rng(7)
    # random CCW convex polygon via angle-sorted points on a noisy circle
    ang = np.sort(rng.uniform(0, 2 * math.pi, 9))
    px, py = 8.0 * np.cos(ang), 8.0 * np.sin(ang)  # inscribed -> convex, CCW
    x = rng.uniform(-12, 12, 4000)
    y = rng.uniform(-12, 12, 4000)
    got = spatial.pip_mask(x, y, px, py)
    want = np.array([_convex_contains(px, py, xi, yi) for xi, yi in zip(x, y)])
    assert (got == want).all()


def test_pip_diamond_matches_l1_inequality():
    rng = np.random.default_rng(13)
    x = rng.integers(-18 * E7, 18 * E7, 5000).astype(np.float64)
    y = rng.integers(-8 * E7, 8 * E7, 5000).astype(np.float64)
    got = spatial.pip_mask(x, y, np.array(DIAMOND_LON, float), np.array(DIAMOND_LAT, float))
    want = (np.abs(x - DIAMOND_CX) + np.abs(y - DIAMOND_CY)) < DIAMOND_R
    on_edge = (np.abs(x - DIAMOND_CX) + np.abs(y - DIAMOND_CY)) == DIAMOND_R
    assert (got[~on_edge] == want[~on_edge]).all()


def test_pip_handles_horizontal_edges_and_concavity():
    # concave "L" shape with horizontal edges
    px = np.array([0.0, 4.0, 4.0, 2.0, 2.0, 0.0])
    py = np.array([0.0, 0.0, 2.0, 2.0, 4.0, 4.0])
    def l_shape(x, y):
        return (0 < x < 4 and 0 < y < 2) or (0 < x < 2 and 0 < y < 4)

    rng = np.random.default_rng(5)
    xs = rng.uniform(-1, 5, 2000)
    ys = rng.uniform(-1, 5, 2000)
    got = spatial.pip_mask(xs, ys, px, py)
    want = np.array([l_shape(x, y) for x, y in zip(xs, ys)])
    assert (got == want).all()


def test_no_fixture_point_on_diamond_edge():
    """Guards the pip_diamond_counts oracle: no synthetic coordinate may
    fall exactly on the diamond boundary at any test scale."""
    import duckdb

    from oshdb_spark.sources.versions import versions_sql

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '/root/testdata/{sf}/events.parquet'"
        )
        n = con.execute(
            f"SELECT count(*) FROM ({versions_sql('')}) "
            f"WHERE abs(lon_e7 - {DIAMOND_CX}) + abs(lat_e7 - {DIAMOND_CY}) = {DIAMOND_R}"
        ).fetchone()[0]
        assert n == 0, sf


# ---------------------------------------------------------------------------
# cell cover
# ---------------------------------------------------------------------------

def test_polygon_cover_three_way_classification():
    cover = spatial.polygon_cover(
        np.array(DIAMOND_LON, float), np.array(DIAMOND_LAT, float), zoom=6
    )
    inside, boundary = cover[spatial.INSIDE], cover[spatial.BOUNDARY]
    assert inside and boundary and not (inside & boundary)
    # every inside cell: all sampled points inside the polygon
    rng = np.random.default_rng(3)
    for cid in list(inside)[:10]:
        lo, la, hi, ha = spatial.cell_bounds(6, cid)
        xs = rng.uniform(lo, hi, 50)
        ys = rng.uniform(la, ha, 50)
        assert spatial.pip_mask(
            xs, ys, np.array(DIAMOND_LON, float), np.array(DIAMOND_LAT, float)
        ).all(), cid
    # cells absent from the cover: no sampled point inside
    all_cells = set()
    for s, e in spatial.bbox_cell_ranges(
        6,
        (
            DIAMOND_CX - DIAMOND_R - 5 * E7,
            DIAMOND_CY - DIAMOND_R - 5 * E7,
            DIAMOND_CX + DIAMOND_R + 5 * E7,
            DIAMOND_CY + DIAMOND_R + 5 * E7,
        ),
    ):
        all_cells.update(range(s, e + 1))
    outside = all_cells - inside - boundary
    for cid in list(outside)[:10]:
        lo, la, hi, ha = spatial.cell_bounds(6, cid)
        xs = rng.uniform(lo, hi, 50)
        ys = rng.uniform(la, ha, 50)
        assert not spatial.pip_mask(
            xs, ys, np.array(DIAMOND_LON, float), np.array(DIAMOND_LAT, float)
        ).any(), cid


# ---------------------------------------------------------------------------
# clipping
# ---------------------------------------------------------------------------

def test_liang_barsky_length_additivity():
    """Clip a random polyline against two abutting bbox halves: the
    clipped lengths must sum to the length inside the union bbox —
    the len(total)==len(left)+len(right) invariant
    (TestMapAggregateByGeometry.java:91-95)."""
    rng = np.random.default_rng(21)
    total = (-10.0, -10.0, 10.0, 10.0)
    left = (-10.0, -10.0, 0.0, 10.0)
    right = (0.0, -10.0, 10.0, 10.0)

    def clipped_len(rect, xs, ys):
        s = 0.0
        for i in range(len(xs) - 1):
            seg = spatial.clip_segment_bbox(xs[i], ys[i], xs[i + 1], ys[i + 1], rect)
            if seg:
                s += math.hypot(seg[2] - seg[0], seg[3] - seg[1])
        return s

    for _ in range(20):
        xs = rng.uniform(-15, 15, 8)
        ys = rng.uniform(-15, 15, 8)
        lt = clipped_len(total, xs, ys)
        ll = clipped_len(left, xs, ys)
        lr = clipped_len(right, xs, ys)
        assert lt == pytest.approx(ll + lr, rel=1e-9)


def test_sutherland_hodgman_intersection_area():
    # unit square clipped by half-overlapping square -> area 0.25
    sx = np.array([0.0, 1.0, 1.0, 0.0])
    sy = np.array([0.0, 0.0, 1.0, 1.0])
    cx = np.array([0.5, 1.5, 1.5, 0.5])
    cy = np.array([0.5, 0.5, 1.5, 1.5])
    rx, ry = spatial.clip_ring_convex(sx, sy, cx, cy)
    area = 0.5 * abs(
        np.sum(rx * np.roll(ry, -1)) - np.sum(ry * np.roll(rx, -1))
    )
    assert area == pytest.approx(0.25)
    # disjoint clip -> empty
    rx2, _ = spatial.clip_ring_convex(sx, sy, cx + 10, cy + 10)
    assert len(rx2) == 0


# ---------------------------------------------------------------------------
# geodesic measures
# ---------------------------------------------------------------------------

def test_equirectangular_degree_at_equator():
    # 1 degree of longitude at the equator: R * pi/180
    d = geo.line_length(np.array([0.0, 1.0]), np.array([0.0, 0.0]))
    assert d == pytest.approx(6_371_000 * math.pi / 180, rel=1e-12)


def test_ring_area_small_square_matches_planar():
    # 0.01-degree square at the equator ~ (0.01 * 111.19 km)^2
    s = 0.01
    lon = np.array([0.0, s, s, 0.0, 0.0])
    lat = np.array([0.0, 0.0, s, s, 0.0])
    a = abs(geo.ring_area(lon, lat))
    side = 6_371_000 * math.radians(s)
    assert a == pytest.approx(side * side, rel=1e-3)


def test_polygon_area_subtracts_holes():
    outer = (np.array([0.0, 1, 1, 0, 0]), np.array([0.0, 0, 1, 1, 0]))
    inner = (np.array([0.25, 0.75, 0.75, 0.25, 0.25]), np.array([0.25, 0.25, 0.75, 0.75, 0.25]))
    full = geo.polygon_area(outer)
    holed = geo.polygon_area(outer, [inner])
    assert holed == pytest.approx(full - abs(geo.ring_area(*inner)), rel=1e-12)


# ---------------------------------------------------------------------------
# Spark-side invariants
# ---------------------------------------------------------------------------

def test_region_additivity_and_zerofill(spark, sf_dir):
    from oshdb_spark.queries import q_agg_by_region

    rows = {r["region_key"]: r["cnt"] for r in q_agg_by_region(spark, sf_dir).collect()}
    assert set(rows) == {"left", "right", "total", "null_island"}
    assert rows["total"] == rows["left"] + rows["right"]
    assert rows["null_island"] == 0


def test_polygon_region_additivity(spark, sf_dir):
    """Disjoint polygon halves partition the diamond: west + east ==
    diamond per group (TestMapAggregateByGeometry.java:91-95 analog,
    generalized past rectangles)."""
    from pyspark.sql import functions as F

    from oshdb_spark.operators.spatial import aggregate_by_polygon_regions
    from oshdb_spark.queries import POLY_REGIONS, TILE_TS, _snapshot_at

    snap = _snapshot_at(spark, sf_dir, TILE_TS)
    split = aggregate_by_polygon_regions(snap, POLY_REGIONS, zoom=6)
    counts = {
        r["region_key"]: r["cnt"]
        for r in split.groupBy("region_key").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert counts.get("west", 0) + counts.get("east", 0) == counts.get("diamond", 0)
    assert counts.get("diamond", 0) > 0


def test_polygon_regions_match_bruteforce_pip(spark, sf_dir):
    """The cover-join + kernel path equals a plain all-rows PIP filter
    for every region (no candidate is lost to the cell prune)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from oshdb_spark.operators.spatial import aggregate_by_polygon_regions, pip_mask
    from oshdb_spark.queries import POLY_REGIONS, TILE_TS, _snapshot_at

    snap = _snapshot_at(spark, sf_dir, TILE_TS).select("entity_id", "lon_e7", "lat_e7")
    split = aggregate_by_polygon_regions(snap, POLY_REGIONS, zoom=6)
    got = {
        (r["region_key"], r["entity_id"])
        for r in split.select("region_key", "entity_id").collect()
    }
    pdf = snap.toPandas()
    expected = set()
    for name, (plon, plat) in POLY_REGIONS.items():
        m = pip_mask(
            pdf["lon_e7"].to_numpy(), pdf["lat_e7"].to_numpy(),
            np.asarray(plon, float), np.asarray(plat, float),
        )
        expected |= {(name, e) for e in pdf.loc[m, "entity_id"]}
    assert got == expected


def _pip_probe_points(px, py, rng) -> list[tuple[int, int]]:
    """Probe points for one polygon: random points on a 1-degree lattice
    across its bbox (lattice points land on vertices and 45-degree
    edges), random off-lattice points, every vertex, points along every
    horizontal and vertical edge, and the world bounds."""
    from oshdb_spark.grid import LAT_MAX, LON_MAX

    x0, x1, y0, y1 = min(px), max(px), min(py), max(py)
    pts = list(zip(
        (rng.integers(x0 // E7 - 2, x1 // E7 + 3, 300) * E7).tolist(),
        (rng.integers(y0 // E7 - 2, y1 // E7 + 3, 300) * E7).tolist(),
    ))
    pts += list(zip(
        rng.integers(x0 - E7, x1 + E7, 300).tolist(),
        rng.integers(y0 - E7, y1 + E7, 300).tolist(),
    ))
    pts += list(zip(px, py))
    n = len(px)
    for i in range(n):
        ax, ay, bx, by = px[i], py[i], px[(i + 1) % n], py[(i + 1) % n]
        if ay == by:
            pts += [(int(v), ay) for v in np.linspace(min(ax, bx), max(ax, bx), 7)]
        if ax == bx:
            pts += [(ax, int(v)) for v in np.linspace(min(ay, by), max(ay, by), 7)]
    pts += [(sx * LON_MAX, sy * LAT_MAX) for sx in (-1, 0, 1) for sy in (-1, 0, 1)]
    return pts


def test_pip_col_bit_identical_to_pip_mask(spark):
    """The Catalyst crossing-number expression equals the numpy kernel
    exactly, on-edge and vertex points included, for convex, concave
    and triangle AOIs in open and closed ring form."""
    from pyspark.sql import functions as F

    from oshdb_spark.queries import L_POLY_LAT, L_POLY_LON, POLY_REGIONS

    polys = {"diamond": (DIAMOND_LON, DIAMOND_LAT), "l_poly": (L_POLY_LON, L_POLY_LAT)}
    polys.update({n: p for n, p in POLY_REGIONS.items() if len(p[0]) == 3})
    assert {"west", "east", "null_tri"} <= set(polys)
    polys.update({f"{n}_closed": (lo + lo[:1], la + la[:1]) for n, (lo, la) in polys.items()})

    rng = np.random.default_rng(17)
    pts = sorted({p for lo, la in polys.values() for p in _pip_probe_points(lo, la, rng)})
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "pid long, lon_e7 long, lat_e7 long"
    )
    got = df.select(
        "pid",
        *[
            spatial.pip_col(F.col("lon_e7"), F.col("lat_e7"), lo, la).alias(n)
            for n, (lo, la) in polys.items()
        ],
    ).toPandas().sort_values("pid")
    x = np.array([p[0] for p in pts], dtype=np.float64)
    y = np.array([p[1] for p in pts], dtype=np.float64)
    for n, (lo, la) in polys.items():
        want = spatial.pip_mask(x, y, np.asarray(lo, float), np.asarray(la, float))
        assert want.any() and not want.all(), n  # both outcomes exercised
        assert (got[n].to_numpy(dtype=bool) == want).all(), n
        # the cover-pruned filter agrees too (null_tri has no inside cell)
        kept = {r["pid"] for r in spatial.filter_polygon(df, lo, la).collect()}
        assert kept == set(np.flatnonzero(want).tolist()), n


def test_polygon_contains_col_null_coordinates_read_false(spark):
    """A null coordinate is outside the AOI (False), never null."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, DIAMOND_CX, DIAMOND_CY), (2, None, DIAMOND_CY), (3, DIAMOND_CX, None),
         (4, None, None)],
        "pid long, lon_e7 long, lat_e7 long",
    )
    got = {
        r["pid"]: r["_in_aoi"]
        for r in spatial.polygon_contains_col(df, DIAMOND_LON, DIAMOND_LAT).collect()
    }
    assert got == {1: True, 2: False, 3: False, 4: False}
    # the bare expression is null-safe too
    assert df.select(
        spatial.pip_col(F.col("lon_e7"), F.col("lat_e7"), DIAMOND_LON, DIAMOND_LAT).alias("p")
    ).filter(F.col("p").isNull()).count() == 0


def test_ear_clip_partitions_polygon_area():
    """Triangulation invariants: CCW triangles whose areas sum to the
    polygon area (planar shoelace), deterministic across runs."""
    from oshdb_spark.operators.spatial import ear_clip_triangles
    from oshdb_spark.queries import L_POLY_LAT, L_POLY_LON

    px = np.asarray(L_POLY_LON, float)
    py = np.asarray(L_POLY_LAT, float)
    tris = ear_clip_triangles(px, py)
    assert len(tris) == len(px) - 2

    def shoelace(x, y):
        return 0.5 * float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))

    poly_area = abs(shoelace(px, py))
    tri_sum = 0.0
    for tx, ty in tris:
        a = shoelace(tx, ty)
        assert a > 0  # CCW
        tri_sum += a
    assert tri_sum == pytest.approx(poly_area, rel=1e-12)

    tris2 = ear_clip_triangles(px, py)
    assert all(
        (t1[0] == t2[0]).all() and (t1[1] == t2[1]).all()
        for t1, t2 in zip(tris, tris2)
    )


def test_concave_clip_matches_rect_decomposition():
    """Piece lengths inside the L equal the sum of clips against its two
    disjoint rectangles (an independent decomposition), within float
    tolerance — the partitions differ so equality is geometric, not FP."""
    from oshdb_spark.functions.geo import EARTH_RADIUS
    from oshdb_spark.operators.spatial import (
        ear_clip_triangles,
        np_clip_segments,
        np_cliplen_concave,
    )
    from oshdb_spark.queries import L_POLY_LAT, L_POLY_LON

    rng = np.random.default_rng(7)
    n = 500
    x1 = rng.uniform(-8e8, 8e8, n)
    y1 = rng.uniform(-5e8, 6e8, n)
    x2 = x1 + rng.uniform(-3e8, 3e8, n)
    y2 = y1 + rng.uniform(-3e8, 3e8, n)

    tris = ear_clip_triangles(np.asarray(L_POLY_LON, float), np.asarray(L_POLY_LAT, float))
    got = np_cliplen_concave(x1, y1, x2, y2, tris, EARTH_RADIUS)

    # L = bottom slab [-5e8,5e8]x[-3e8,1e8] + upper-left arm [-5e8,0]x[1e8,4e8]
    def rect_len(rect):
        rx0, ry0, rx1, ry1 = rect
        cx1, cy1, cx2, cy2, valid = np_clip_segments(
            x1, y1, x2, y2,
            np.full(n, float(rx0)), np.full(n, float(ry0)),
            np.full(n, float(rx1)), np.full(n, float(ry1)),
        )
        dlng = np.radians((cx2 - cx1) * 1e-7) * np.cos(
            np.radians(((cy1 + cy2) * 1e-7) / 2.0)
        )
        dlat = np.radians((cy2 - cy1) * 1e-7)
        return np.where(valid, EARTH_RADIUS * np.sqrt(dlng**2 + dlat**2), 0.0)

    expected = rect_len((-5e8, -3e8, 5e8, 1e8)) + rect_len((-5e8, 1e8, 0, 4e8))
    # the equirect measure is not split-additive: each piece uses its own
    # cos(mid-latitude), and these segments span tens of degrees, so the
    # two decompositions disagree by up to ~0.3%. 1% tolerance still
    # catches any real clipping bug (wrong pieces diverge by integer
    # factors, not fractions of a percent)
    np.testing.assert_allclose(got, expected, rtol=1e-2, atol=1.0)


def test_polygon_region_clipped_length_additivity(spark, sf_dir):
    """Line-clipping overlay additivity generalized past rectangles:
    west + east partition the diamond, so their clipped way lengths sum
    to its (tiny equirect split slack tolerated)."""
    from oshdb_spark.queries import q_region_poly_clipped_length

    rows = {
        r["region_key"]: r["len_km"]
        for r in q_region_poly_clipped_length(spark, sf_dir).collect()
    }
    assert rows["diamond"] > 0
    assert rows["west"] + rows["east"] == pytest.approx(rows["diamond"], abs=0.05)
    assert rows["null_tri"] == 0.0


def test_gridded_triangle_clip_bit_identical_and_bounded():
    """FastPolygonOperations analog (round-5 item): for a pathological
    1200-vertex concave star AOI, the per-cell pre-gridded clip must be
    BIT-IDENTICAL to the full triangle scan (same triangle order;
    skipped triangles contribute an exact +0.0 in the full scan), while
    each segment touches only its local triangles, not all ~1200."""
    import time

    import numpy as np

    from oshdb_spark.functions.geo import EARTH_RADIUS
    from oshdb_spark.operators.spatial import (
        GriddedTriangleClip,
        ear_clip_triangles,
        np_cliplen_concave,
    )

    n = 600  # spikes -> 1200 vertices
    ang = np.arange(2 * n) * (2 * np.pi / (2 * n))
    r = np.where(np.arange(2 * n) % 2 == 0, 400_000_000, 150_000_000)
    px = np.round(r * np.cos(ang)).astype(np.float64)
    py = np.round(r * np.sin(ang) * 0.5).astype(np.float64)
    tris = ear_clip_triangles(px, py)
    assert len(tris) == 2 * n - 2

    rng = np.random.default_rng(7)
    m = 4000
    x1 = rng.integers(-450_000_000, 450_000_000, m).astype(np.float64)
    y1 = rng.integers(-250_000_000, 250_000_000, m).astype(np.float64)
    x2 = x1 + rng.integers(-8_000_000, 8_000_000, m)
    y2 = y1 + rng.integers(-8_000_000, 8_000_000, m)

    grid = GriddedTriangleClip(tris, cell_deg=2.0)
    t0 = time.perf_counter()
    got = grid.cliplen(x1, y1, x2, y2, EARTH_RADIUS)
    t_grid = time.perf_counter() - t0
    t0 = time.perf_counter()
    want = np_cliplen_concave(x1, y1, x2, y2, tris, EARTH_RADIUS)
    t_full = time.perf_counter() - t0

    assert np.array_equal(got, want)  # bit-identical, not approx
    assert want.sum() > 0  # non-vacuous: plenty of segments intersect
    # the grid bounds per-segment work: the TYPICAL cell sees a small
    # slice of the 1198 triangles (ear-clipping a star leaves a few
    # wide central triangles whose bboxes span many cells — the max is
    # shape-dependent, the mean is what the per-segment cost follows)
    sizes = [len(v) for v in grid._cellmap.values()]
    assert sum(sizes) / len(sizes) < len(tris) / 3
    # and the gridded path is actually cheaper where it matters
    assert t_grid < t_full


def test_gridded_triangle_clip_spark_kernel(spark, sf_dir):
    """The gridded clip as it would actually deploy: a pandas UDF whose
    closure carries the GriddedTriangleClip instance (Spark broadcasts
    the closure once per stage — the per-cell piece table never rebuilds
    per row), run over the real way segments, against the flat
    np_cliplen_concave kernel on the same segments. Per-way sums must be
    bit-identical: both kernels accumulate in ascending triangle order."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from oshdb_spark.functions.geo import EARTH_RADIUS
    from oshdb_spark.operators.spatial import (
        GriddedTriangleClip,
        ear_clip_triangles,
        np_cliplen_concave,
    )
    from oshdb_spark.queries import _ways_asof

    n = 200  # 400-vertex star AOI over the fixture's coordinate range
    ang = np.arange(2 * n) * (2 * np.pi / (2 * n))
    r = np.where(np.arange(2 * n) % 2 == 0, 800_000_000, 300_000_000)
    px = np.round(r * np.cos(ang)).astype(np.float64)
    py = np.round(r * np.sin(ang) * 0.5).astype(np.float64)
    tris = ear_clip_triangles(px, py)
    grid = GriddedTriangleClip(tris, cell_deg=4.0)

    segs = (
        _ways_asof(spark, sf_dir)
        .select(
            "way_id",
            F.explode(F.sequence(F.lit(0), F.size("lon_arr") - 2)).alias("j"),
            "lon_arr",
            "lat_arr",
        )
        .select(
            "way_id",
            F.element_at("lon_arr", F.col("j") + 1).cast("double").alias("x1"),
            F.element_at("lat_arr", F.col("j") + 1).cast("double").alias("y1"),
            F.element_at("lon_arr", F.col("j") + 2).cast("double").alias("x2"),
            F.element_at("lat_arr", F.col("j") + 2).cast("double").alias("y2"),
        )
    )

    def _flat(x1, y1, x2, y2):
        return pd.Series(np_cliplen_concave(
            x1.to_numpy(), y1.to_numpy(), x2.to_numpy(), y2.to_numpy(),
            tris, EARTH_RADIUS,
        ))

    def _gridded(x1, y1, x2, y2):
        return pd.Series(grid.cliplen(
            x1.to_numpy(), y1.to_numpy(), x2.to_numpy(), y2.to_numpy(),
            EARTH_RADIUS,
        ))

    def run(fn):
        k = pandas_udf(fn, "double")
        rows = (
            segs.select("way_id", k("x1", "y1", "x2", "y2").alias("len_m"))
            .groupBy("way_id")
            .agg(F.sum("len_m").alias("len_m"))
            .collect()
        )
        return {r["way_id"]: r["len_m"] for r in rows}

    flat, gridded = run(_flat), run(_gridded)
    assert set(flat) == set(gridded)
    assert sum(flat.values()) > 0  # non-vacuous
    for wid, v in flat.items():
        assert gridded[wid] == v  # bit-identical per way
