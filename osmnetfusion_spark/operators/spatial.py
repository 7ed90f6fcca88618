"""Cell-local spatial join operators.

The reference's spatial predicates are shapely STRtree probes and
``sjoin_nearest`` calls with metre caps (``p2_enrichData.py:140, 453, 541,
590``; ``p3_functions.py:406``). None of that distributes. Every distance
join here -- signals to nodes (20 m), amenities to edges (200 m), PT stops
to edges (30 m), pages to edges (J15) -- is one operator, :func:`cell_join`,
a partition-based spatial merge join (PBSM) over grid cells
(:mod:`..h3idx`):

1. **cover** -- the build side is exploded to the cells its geometry
   crosses, dilated by ring-1; the probe side contributes only its own
   cell. A point build is a zero-length segment, so one cover expression
   serves both build kinds. The explosion is pure column arithmetic
   (sequence/transform/flatten), so the candidate stage is JVM-side
   whole-stage codegen and Catalyst/AQE pick the join strategy (broadcast
   for small builds, skew-split for hot cells).
2. **equi-join** on ``cell`` -- the candidate pairs.
3. **distance filter** -- closed-form point-to-segment metres with the
   per-segment projection constants computed once on the build side, or
   haversine metres for a point build.
4. **fold** -- per probe its nearest build entity, or per (probe, build
   entity) the minimum distance over the entity's segments.

Ring-1 dilation is complete because :func:`..h3idx.pick_res` chooses the
finest resolution whose cell short side still exceeds the join radius.

The polygon joins (:func:`pip_join`, :func:`intersection_length_join`)
share steps 1-2 with a bbox cover, and refine with a vectorized numpy
kernel in a pandas UDF (ray-casting PIP, segment-clip intersection length)
where no closed form exists.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import h3idx
from ..functions import geo
from .partitioning import fan_out, scan_bytes

# conservative ceiling for an explicit build-side broadcast: cover-cell
# explosion multiplies the segment rows ~3-5x, and every executor holds a
# full copy, so cap well below typical executor memory
BROADCAST_GUARD_BYTES = 256 << 20


def _maybe_broadcast(df: DataFrame, want: bool) -> DataFrame:
    """Broadcast hint with a size guard.

    ``want=True`` is the caller's claim that the build side is small (the
    simplified network). A caller accidentally passing a planet-scale
    network must not OOM every executor: if the source files exceed
    BROADCAST_GUARD_BYTES the hint is dropped and AQE picks the join
    strategy from runtime sizes instead. Remote (non-file://) build sides
    can never be sized locally, so they NEVER get the explicit hint —
    fail-safe: AQE still broadcasts them at runtime if they turn out small.
    """
    if not want:
        return df
    est = scan_bytes(df)
    if est is not None and est > BROADCAST_GUARD_BYTES:
        return df
    return F.broadcast(df)


# ----------------------------------------------------------- cover / explode


def explode_segments(edges: DataFrame, geom: str = "geometry") -> DataFrame:
    """One row per consecutive coord pair of ``geom`` ([[lon,lat],...]).

    Adds ``seg_idx, ax, ay, bx, by`` (x=lon, y=lat). Pure SQL higher-order
    functions -- no UDF, no shuffle.
    """
    segs = F.filter(
        F.transform(
            F.col(geom),
            lambda c, i: F.struct(
                i.alias("seg_idx"),
                c[0].alias("ax"),
                c[1].alias("ay"),
                F.try_element_at(F.col(geom), i + 2)[0].alias("bx"),
                F.try_element_at(F.col(geom), i + 2)[1].alias("by"),
            ),
        ),
        lambda s, : s["seg_idx"] < F.size(F.col(geom)) - 1,
    )
    return edges.withColumn("_seg", F.explode(segs)).select("*", "_seg.*").drop("_seg")


def cover_segment_cells(
    ax: Column, ay: Column, bx: Column, by: Column, res: int, dilate_k: int = 0
) -> Column:
    """Cells crossed by a segment (optionally ring-k dilated), column-only.

    Half-cell-step supercover sampling, identical to
    :func:`..h3idx.cover_segment_np`.
    """
    half = h3idx.size_deg(res) * 0.5
    steps = F.greatest(
        F.ceil(F.greatest(F.abs(bx - ax), F.abs(by - ay)) / F.lit(half)).cast("int"),
        F.lit(1),
    )
    frac = lambda s: s.cast("double") / steps.cast("double")  # noqa: E731
    cells = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), steps),
            lambda s: h3idx.cell_col(ay + (by - ay) * frac(s), ax + (bx - ax) * frac(s), res),
        )
    )
    return dilate_cells(cells, dilate_k) if dilate_k else cells


def dilate_cells(cells: Column, k: int = 1) -> Column:
    """Ring-k dilation of an array<long> of cell ids, column-only."""
    offs = [
        dj * h3idx.SHIFT_J + di
        for dj in range(-k, k + 1)
        for di in range(-k, k + 1)
    ]
    return F.array_distinct(
        F.flatten(F.transform(cells, lambda c: F.array(*[c + F.lit(o) for o in offs])))
    )


def cover_bbox_cells(
    min_lat: Column, min_lon: Column, max_lat: Column, max_lon: Column, res: int
) -> Column:
    """All cells overlapping a bbox, column-only (polygon build side)."""
    inv = float(1 << res)
    i0 = F.floor((min_lon + 180.0) * inv).cast("long")
    i1 = F.floor((max_lon + 180.0) * inv).cast("long")
    j0 = F.floor((min_lat + 90.0) * inv).cast("long")
    j1 = F.floor((max_lat + 90.0) * inv).cast("long")
    base = F.lit(res * h3idx.SHIFT_RES)
    return F.flatten(
        F.transform(
            F.sequence(j0, j1),
            lambda j: F.transform(F.sequence(i0, i1), lambda i: base + j * F.lit(h3idx.SHIFT_J) + i),
        )
    )


# ---------------------------------------------------------------- cell join


def cell_join(
    probe: DataFrame,
    build: DataFrame,
    radii: tuple[float, ...],
    probe_id: str,
    build_id: str,
    nearest: bool = True,
    broadcast_build: bool = True,
    flat_kx: float | None = None,
) -> DataFrame:
    """Distance join of probe points to build segments or points.

    ``probe`` carries a unique ``probe_id`` and ``lat, lon``. ``build``
    carries ``build_id`` and either ``ax, ay, bx, by`` (segments from
    :func:`explode_segments`; projected point-to-segment metres, the same
    value as :func:`..functions.geo.point_segment_dist_m`) or ``lat, lon``
    (points; :func:`..functions.geo.haversine_m`).

    - ``nearest=True``: one row per matched probe, ``(probe_id, build_id,
      dist_m, ...)`` -- its nearest build entity within the radius, ties
      broken by ``(dist_m, build_id)``. Every other probe column rides the
      fold as its value, never as a tie-breaker, so the caller needs no
      re-join on ``probe_id``; select only the columns you need first.
      Replaces the reference's ``sjoin_nearest(max_distance=...)``.
    - ``nearest=False``: one row per (probe, build entity) within the
      radius, ``(probe_id, build_id, dist_m)`` with the minimum over the
      entity's segments -- membership without a per-probe ranking.

    Both folds are map-side combinable, so each map partition collapses to
    ~one row per key before the only shuffle. The probe side is never
    exploded: shuffle volume is O(|probe| + |build| * cover cells).

    ``radii`` is the radius ladder; a 1-tuple is a single pass. With more
    rungs each one joins only the probes still unmatched, at the next
    radius. That equals one pass at the last radius -- a match within r_i
    is the nearest within any r_j > r_i -- but the fine first rungs keep the
    per-cell candidate product small where one coarse pass degenerates
    into a cross product (measured: 4.1e8 candidate pairs in 9 cells for
    the 50k x 10k signal snap). Exact only for the nearest fold.

    ``broadcast_build``: hint when the build side is known small (the
    simplified network vs a page corpus); pass False when it scales with
    the network, and AQE picks the side from runtime sizes. ``flat_kx``:
    fixed projection constant (:func:`..functions.geo.flat_kx_for_lat`)
    for bit-stable cross-engine segment distances.
    """
    if len(radii) == 1:
        return _cell_pass(probe, build, radii[0], probe_id, build_id, nearest, broadcast_build, flat_kx)
    if not nearest:
        raise ValueError("a radius ladder is exact only for the nearest fold")
    outs = []
    for r in radii:
        matched = _cell_pass(
            probe, build, r, probe_id, build_id, nearest, broadcast_build, flat_kx
        ).localCheckpoint()
        outs.append(matched)
        probe = probe.join(matched.select(probe_id), probe_id, "left_anti")
    return reduce(DataFrame.unionByName, outs)


def _cell_pass(
    probe: DataFrame,
    build: DataFrame,
    radius_m: float,
    probe_id: str,
    build_id: str,
    nearest: bool,
    broadcast_build: bool,
    flat_kx: float | None,
) -> DataFrame:
    """One cover -> equi-join -> distance filter -> fold pass of :func:`cell_join`."""
    res = h3idx.pick_res(radius_m)
    lat, lon = F.col("lat"), F.col("lon")
    if {"ax", "ay", "bx", "by"} <= set(build.columns):
        b = build.select(F.col(build_id).alias("__b"), "ax", "ay", "bx", "by")
        ax, ay, bx, by = F.col("ax"), F.col("ay"), F.col("bx"), F.col("by")
        # projection constants are pure functions of the segment: compute
        # them ONCE on the (small) build side so the per-pair expression --
        # which Catalyst duplicates into the join condition -- stays small.
        # Same arithmetic as geo.point_segment_dist_m, bit-identical.
        m = F.lit(geo.M_PER_DEG)
        kx, abx, aby, v = F.col("__kx"), F.col("__abx"), F.col("__aby"), F.col("__v")
        consts = [
            ("__kx", F.lit(float(flat_kx)) if flat_kx is not None
             else F.cos(F.radians((ay + by) * 0.5)) * m),
            ("__abx", (bx - ax) * kx),
            ("__aby", (by - ay) * m),
            ("__v", abx * abx + aby * aby),
        ]
        apx, apy = (lon - ax) * kx, (lat - ay) * m
        u = apx * abx + apy * aby
        w = apx * apx + apy * apy
        d2 = F.when(u <= 0, w).when(u >= v, w - 2 * u + v).otherwise(w - (u * u) / v)
        d = F.sqrt(F.greatest(d2, F.lit(0.0)))
    else:
        # a point is a zero-length segment: same cover, haversine distance
        b = build.select(
            F.col(build_id).alias("__b"), lat.alias("__blat"), lon.alias("__blon")
        )
        ax = bx = F.col("__blon")
        ay = by = F.col("__blat")
        consts = []
        d = geo.haversine_m(lat, lon, ay, ax)
    b = b.withColumn("cell", F.explode(cover_segment_cells(ax, ay, bx, by, res, dilate_k=1)))
    for name, expr in consts:
        b = b.withColumn(name, expr)
    cand = (
        fan_out(probe, probe_id)
        .withColumn("cell", h3idx.cell_col(lat, lon, res))
        .join(_maybe_broadcast(b, broadcast_build), "cell")
        .withColumn("__d", d)
        .filter(F.col("__d") <= F.lit(float(radius_m)))
    )
    if not nearest:
        return cand.groupBy(probe_id, F.col("__b").alias(build_id)).agg(
            F.min("__d").alias("dist_m")
        )
    rest = [c for c in probe.columns if c != probe_id]
    best = cand.groupBy(probe_id).agg(
        F.min_by(
            F.struct(F.col("__d"), F.col("__b"), *rest), F.struct(F.col("__d"), F.col("__b"))
        ).alias("__best")
    )
    return best.select(
        probe_id,
        F.col("__best.__b").alias(build_id),
        F.col("__best.__d").alias("dist_m"),
        *[F.col("__best")[c].alias(c) for c in rest],
    )


def _bbox_cover(polys: DataFrame, poly_id: str, geom: str, res: int) -> DataFrame:
    """Polygon build side: ``(poly_id, __poly, cell)`` per cell its bbox overlaps."""

    def extent(pick, init: float, axis: int) -> Column:
        return F.aggregate(F.col(geom), F.lit(init), lambda acc, c: pick(acc, c[axis]))

    return (
        polys.select(
            F.col(poly_id),
            F.col(geom).alias("__poly"),
            extent(F.least, 1e9, 1).alias("__mnlat"),
            extent(F.greatest, -1e9, 1).alias("__mxlat"),
            extent(F.least, 1e9, 0).alias("__mnlon"),
            extent(F.greatest, -1e9, 0).alias("__mxlon"),
        )
        .withColumn(
            "cell",
            F.explode(
                cover_bbox_cells(
                    F.col("__mnlat"), F.col("__mnlon"), F.col("__mxlat"), F.col("__mxlon"), res
                )
            ),
        )
        .drop("__mnlat", "__mxlat", "__mnlon", "__mxlon")
    )


# -------------------------------------------------------- point-in-polygon


def _pip_batch(pdf: pd.DataFrame) -> np.ndarray:
    """Groupwise-vectorized ray-casting over a candidate batch."""
    pdf = pdf.reset_index(drop=True)
    out = np.zeros(len(pdf), dtype=bool)
    keys = pdf["__poly_key"].to_numpy()
    for key in pd.unique(keys):
        pos = np.flatnonzero(keys == key)
        poly = np.array([list(c) for c in pdf["__poly"].iloc[pos[0]]], dtype=np.float64)
        out[pos] = geo.point_in_polygon_np(
            pdf["__px"].to_numpy()[pos], pdf["__py"].to_numpy()[pos], poly
        )
    return out


def pip_join(
    points: DataFrame,
    polys: DataFrame,
    point_id: str = "point_id",
    poly_id: str = "poly_id",
    lat: str = "lat",
    lon: str = "lon",
    geom: str = "geometry",
    res: int | None = None,
) -> DataFrame:
    """Point-in-polygon join: (point_id, poly_id) for every containment.

    Build side = polygons, exploded to bbox cover cells; refinement =
    ray-casting in an Arrow-batched pandas UDF (vectorized per polygon
    inside each batch). Replaces the reference's ``point.within(polygon)``
    loop (``p2_enrichData.py:106-116``).
    """
    if res is None:
        res = 12  # ~27 m cells; polygons are O(100 m)
    b = _bbox_cover(polys, poly_id, geom, res)
    p = fan_out(points, point_id).withColumn(
        "cell", h3idx.cell_col(F.col(lat), F.col(lon), res)
    )
    cand = p.join(b, "cell").select(
        F.col(point_id),
        F.col(poly_id),
        F.col(lat).alias("__py"),
        F.col(lon).alias("__px"),
        F.col("__poly"),
        F.col(poly_id).alias("__poly_key"),
    )

    def refine(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf):
                pdf = pdf.reset_index(drop=True)
                pdf = pdf[_pip_batch(pdf)]
            yield pdf[[point_id, poly_id]]

    out_schema = f"{point_id} long, {poly_id} long"
    return cand.mapInPandas(refine, schema=out_schema).dropDuplicates([point_id, poly_id])


# ------------------------------------------- segment x polygon intersection


def _clip_len_batch(pdf: pd.DataFrame, poly_key: str = "__pkey") -> np.ndarray:
    """Length (m) of each segment's intersection with its candidate polygon.

    Crossing-parameter method: collect all t in [0,1] where the segment
    crosses a polygon edge, sort, then sum sub-intervals whose midpoint is
    inside (ray cast). Exact for simple polygons.

    Vectorized PER POLYGON: one Python iteration per distinct polygon in
    the batch, all of its candidate segments evaluated as (n_rows x
    n_edges) numpy broadcasts. Candidate batches repeat few polygons many
    times (every edge near a land-use polygon is a row), so this flips the
    loop count from O(candidates) to O(polygons). Element arithmetic is
    identical to the per-row formulation; duplicate crossing parameters
    contribute exactly-zero-width intervals, so results are bit-identical
    to the previous unique()-based scan.
    """
    out = np.zeros(len(pdf), dtype=np.float64)
    if not len(pdf):
        return out
    ax = pdf["ax"].to_numpy(); ay = pdf["ay"].to_numpy()
    bx = pdf["bx"].to_numpy(); by = pdf["by"].to_numpy()
    seg_len = geo.haversine_np(ay, ax, by, bx)
    keys = pdf[poly_key].to_numpy()
    for key in pd.unique(keys):
        pos = np.flatnonzero(keys == key)
        poly = np.array(
            [list(c) for c in pdf["__poly"].iloc[pos[0]]], dtype=np.float64
        )
        if len(poly) >= 2 and (poly[0] == poly[-1]).all():
            poly = poly[:-1]
        px0, py0 = poly[:, 0], poly[:, 1]
        px1, py1 = np.roll(px0, -1), np.roll(py0, -1)
        ex, ey = px1 - px0, py1 - py0          # (m,)
        a_x, a_y = ax[pos], ay[pos]
        dx, dy = bx[pos] - a_x, by[pos] - a_y  # (n,)
        den = dx[:, None] * ey[None, :] - dy[:, None] * ex[None, :]  # (n, m)
        with np.errstate(invalid="ignore", divide="ignore"):
            den = np.where(den == 0, np.nan, den)
            rx = px0[None, :] - a_x[:, None]
            ry = py0[None, :] - a_y[:, None]
            t = (rx * ey[None, :] - ry * ex[None, :]) / den
            s = (rx * dy[:, None] - ry * dx[:, None]) / den
        valid = (t >= 0) & (t <= 1) & (s >= 0) & (s <= 1) & np.isfinite(t)
        t = np.where(valid, t, np.nan)
        n = len(pos)
        ts = np.sort(
            np.concatenate(
                [np.zeros((n, 1)), np.ones((n, 1)), t], axis=1
            ),
            axis=1,
        )  # nans sort last
        d = ts[:, 1:] - ts[:, :-1]
        mid = (ts[:, 1:] + ts[:, :-1]) / 2.0
        mx = a_x[:, None] + dx[:, None] * mid
        my = a_y[:, None] + dy[:, None] * mid
        inside = geo.point_in_polygon_np(mx.ravel(), my.ravel(), poly).reshape(d.shape)
        frac = np.sum(np.where(inside & np.isfinite(d), d, 0.0), axis=1)
        out[pos] = frac * seg_len[pos]
    return out


def intersection_length_join(
    segments: DataFrame,
    polys: DataFrame,
    seg_id: str = "edge_id",
    poly_id: str = "poly_id",
    geom: str = "geometry",
    res: int = 12,
) -> DataFrame:
    """Per (segment-entity, polygon): intersection length in metres.

    Replaces the reference's STRtree ``intersects`` + shapely
    ``intersection().length`` accumulation (``p2_enrichData.py:119-144``).
    Output: ``(seg_id, poly_id, isect_len_m)`` summed over the entity's
    segments.
    """
    b = _bbox_cover(polys, poly_id, geom, res)
    s = fan_out(segments, seg_id).withColumn(
        "cell",
        F.explode(cover_segment_cells(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"), res)),
    )
    cand = (
        s.join(b, "cell")
        .dropDuplicates([seg_id, "seg_idx", poly_id])
        .select(seg_id, "seg_idx", poly_id, "ax", "ay", "bx", "by", "__poly")
    )

    def refine(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf):
                pdf = pdf.assign(isect_len_m=_clip_len_batch(pdf, poly_key=poly_id))
            else:
                pdf = pdf.assign(isect_len_m=np.zeros(0))
            yield pdf[[seg_id, poly_id, "isect_len_m"]]

    out = cand.mapInPandas(refine, schema=f"{seg_id} long, {poly_id} long, isect_len_m double")
    return (
        out.filter(F.col("isect_len_m") > 0)
        .groupBy(seg_id, poly_id)
        .agg(F.sum("isect_len_m").alias("isect_len_m"))
    )
