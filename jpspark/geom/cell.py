"""Hierarchical lon/lat cell index — the engine's H3/S2 analog (SURVEY F15).

A from-scratch, NumPy-vectorized, Z-order (Morton) quadtree over the
geographic plane. The reference delegates all spatial indexing to PostGIS
GiST (/root/reference/NOTES.md:100-133 shows the consumption pattern); the
north_rule requires a distributed cell index with an H3-like API instead:

    encode(lon, lat, res)      -> int64 cell id
    parent(cell, res)          -> coarser ancestor
    children(cell)             -> 4 children at res+1
    bounds(cell)               -> (lon0, lat0, lon1, lat1)
    ring(cell, k)              -> ids whose Chebyshev grid distance == k
    disk(cell, k)              -> ids with distance <= k
    cover_bbox(bbox, res)      -> ids intersecting a bbox (polyfill analog)

Cell id layout (int64, always positive):
    bits 58..62 : resolution (0..26)
    bits 0..2r-1: Morton-interleaved (x, y) grid coordinates at resolution r
x spans lon ∈ [-180, 180), y spans lat ∈ [-90, 90); at resolution r the
grid is 2^r × 2^r. Cells are half-open: a point on a shared edge belongs to
the cell to its east/north — matching the half-open floor convention used by
the PIP kernel and tile math so the three never disagree.

The NumPy functions accept scalars or NumPy arrays and stay in
int64/float64 — safe inside Arrow-vectorized kernels (no per-row Python).

The same layout as Spark Column expressions, for DataFrame operators
(built-in functions only, so no row crosses into Python; every one
equals its NumPy twin on every double, element order included):

    grid_xy_col(lon, lat, res)           -> (x, y) grid coords   (_grid_xy)
    from_xy_col(x, y, res)               -> cell id              (from_xy)
    to_xy_col(cell)                      -> (x, y, res)          (to_xy)
    encode_col(lon, lat, res)            -> cell id              (encode)
    cover_col(xmin, ymin, xmax, ymax, res) -> array<long>        (cover_bbox)
    disk_col(cell | (lon, lat), k, res)  -> array<long>          (disk)
    bbox_col(geom)                       -> struct<xmin, ymin, xmax, ymax>

Arguments are Columns or column names. ``bbox_col`` is the one Python
step: it parses (multi)polygon/(multi)linestring WKB (``wkb.bbox``) in
an Arrow-batched UDF and raises on an empty geometry. A NULL coordinate
gives a NULL cell and a NULL cover/disk, which ``explode`` drops.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import wkb

MAX_RES = 26
_RES_SHIFT = 58

LON0, LON1 = -180.0, 180.0
LAT0, LAT1 = -90.0, 90.0


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of each int64 so they occupy even positions."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _unpart1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def _grid_xy(lon, lat, res: int):
    """lon/lat -> integer grid coords at resolution ``res`` (half-open),
    clipped to the grid. NaN maps to 0 and ±inf to the edges, as Spark's
    floor-to-long does in ``grid_xy_col``."""
    n = 1 << res

    def axis(v, lo, hi):
        f = np.floor((np.asarray(v, dtype=np.float64) - lo) / (hi - lo) * n)
        return np.clip(np.nan_to_num(f, nan=0.0), 0, n - 1).astype(np.int64)

    return axis(lon, LON0, LON1), axis(lat, LAT0, LAT1)


def from_xy(x, y, res: int) -> np.ndarray:
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    m = _part1by1(x) | (_part1by1(y) << np.uint64(1))
    return (m | (np.uint64(res) << np.uint64(_RES_SHIFT))).astype(np.int64)


def to_xy(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell -> (x, y, res)."""
    c = np.asarray(cell, dtype=np.int64).astype(np.uint64)
    res = (c >> np.uint64(_RES_SHIFT)).astype(np.int64)
    m = c & ((np.uint64(1) << np.uint64(_RES_SHIFT)) - np.uint64(1))
    x = _unpart1by1(m).astype(np.int64)
    y = _unpart1by1(m >> np.uint64(1)).astype(np.int64)
    return x, y, res


def encode(lon, lat, res: int) -> np.ndarray:
    """Vectorized lon/lat -> cell id at resolution ``res``."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    x, y = _grid_xy(lon, lat, res)
    return from_xy(x, y, res)


def resolution(cell) -> np.ndarray:
    return (np.asarray(cell, dtype=np.int64).astype(np.uint64) >> np.uint64(_RES_SHIFT)).astype(np.int64)


def parent(cell, res: int) -> np.ndarray:
    x, y, r = to_xy(cell)
    shift = r - res
    if np.any(shift < 0):
        raise ValueError("parent res must be <= cell res")
    return from_xy(x >> shift, y >> shift, res)


def children(cell) -> np.ndarray:
    """4 children at res+1; input scalar or array -> shape (..., 4)."""
    x, y, r = to_xy(cell)
    x, y = np.atleast_1d(x), np.atleast_1d(y)
    r = int(np.atleast_1d(r)[0])
    cx = (x[:, None] << 1) + np.array([0, 1, 0, 1])
    cy = (y[:, None] << 1) + np.array([0, 0, 1, 1])
    return from_xy(cx, cy, r + 1)


def bounds(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell -> (lon0, lat0, lon1, lat1), half-open [lon0, lon1)."""
    x, y, r = to_xy(cell)
    n = (np.int64(1) << r).astype(np.float64)
    w, h = (LON1 - LON0) / n, (LAT1 - LAT0) / n
    lon0 = LON0 + x * w
    lat0 = LAT0 + y * h
    return lon0, lat0, lon0 + w, lat0 + h


def ring(cell: int, k: int) -> np.ndarray:
    """Cell ids at Chebyshev grid distance exactly ``k`` (k=0 -> self).

    This is the boundary-ring expansion primitive for kNN (SURVEY J5).
    Edge-of-world cells are clipped (no wraparound; fixtures live in the
    Japan bbox far from the antimeridian).
    """
    x, y, r = to_xy(cell)
    x, y, r = int(x), int(y), int(r)
    n = 1 << r
    if k == 0:
        return np.array([cell], dtype=np.int64)
    xs, ys = [], []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            if max(abs(dx), abs(dy)) != k:
                continue
            nx, ny = x + dx, y + dy
            if 0 <= nx < n and 0 <= ny < n:
                xs.append(nx)
                ys.append(ny)
    if not xs:
        return np.empty(0, dtype=np.int64)
    return from_xy(np.array(xs), np.array(ys), r)


def disk(cell: int, k: int) -> np.ndarray:
    """All cell ids with Chebyshev distance <= k (the (2k+1)^2 block)."""
    x, y, r = to_xy(cell)
    x, y, r = int(x), int(y), int(r)
    n = 1 << r
    lo_x, hi_x = max(0, x - k), min(n - 1, x + k)
    lo_y, hi_y = max(0, y - k), min(n - 1, y + k)
    gx, gy = np.meshgrid(np.arange(lo_x, hi_x + 1), np.arange(lo_y, hi_y + 1))
    return from_xy(gx.ravel(), gy.ravel(), r)


def cover_bbox(xmin: float, ymin: float, xmax: float, ymax: float, res: int) -> np.ndarray:
    """Cell ids at ``res`` intersecting the closed bbox (polyfill analog).

    Used to explode polygons onto their covering cells before the spatial
    equi-join (SURVEY J4). Conservative: returns every cell whose square
    intersects the bbox; the exact PIP filter removes false positives.
    """
    x0, y0 = _grid_xy(xmin, ymin, res)
    x1, y1 = _grid_xy(xmax, ymax, res)
    gx, gy = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
    return from_xy(gx.ravel(), gy.ravel(), res)


def cell_size_deg(res: int) -> tuple[float, float]:
    n = 1 << res
    return (LON1 - LON0) / n, (LAT1 - LAT0) / n


def compact(cells) -> np.ndarray:
    """H3 ``compact`` analog: repeatedly replace every COMPLETE sibling
    quartet in the input set with its parent, producing the minimal
    mixed-resolution cover of the same region. Input may already be
    mixed-resolution; duplicates are removed. Fully vectorized per level
    (unique-with-counts on parent ids).

    At 10^12 rows this is what keeps a polygon's cell cover broadcastable:
    an aligned region of 4^k fine cells collapses to one coarse id, so
    cover size tracks boundary length, not area."""
    cur = np.unique(np.asarray(cells, dtype=np.int64))
    out = []
    while len(cur):
        res = resolution(cur)
        top = int(res.max())
        if top == 0:
            out.append(cur)
            break
        at_top = cur[res == top]
        rest = cur[res != top]
        par = parent(at_top, top - 1)
        uniq, inv, counts = np.unique(par, return_inverse=True, return_counts=True)
        full = counts[inv] == 4
        out.append(at_top[~full])
        promoted = uniq[counts == 4]
        # promoted cells re-enter at res top-1 and may merge again there;
        # coarser input cells keep descending the loop until res 0
        cur = np.union1d(rest, promoted)
    return np.sort(np.concatenate(out)) if out else np.empty(0, dtype=np.int64)


def uncompact(cells, res: int) -> np.ndarray:
    """H3 ``uncompact`` analog: expand every cell to its descendants at
    ``res`` (cells already at ``res`` pass through). Vectorized with one
    broadcast per distinct source resolution."""
    c = np.asarray(cells, dtype=np.int64).ravel()
    if len(c) == 0:
        return c
    r = resolution(c)
    if np.any(r > res):
        raise ValueError("uncompact target res must be >= every cell's res")
    out = []
    for r0 in np.unique(r):
        d = int(res - r0)
        x, y, _ = to_xy(c[r == r0])
        if d == 0:
            out.append(from_xy(x, y, res))
            continue
        side = 1 << d
        off = np.arange(side, dtype=np.int64)
        cx = (x[:, None, None] << d) + off[None, :, None]
        cy = (y[:, None, None] << d) + off[None, None, :]
        out.append(from_xy(cx, cy, res).ravel())
    return np.sort(np.concatenate(out))


# ------------------------------------------------------------ Column twins


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def grid_xy_col(lon, lat, res: int) -> tuple[Column, Column]:
    """Column twin of ``_grid_xy``: clipped half-open floor grid coords."""
    n = F.lit(float(1 << res))
    x = F.floor((_col(lon) - F.lit(LON0)) / F.lit(LON1 - LON0) * n)
    y = F.floor((_col(lat) - F.lit(LAT0)) / F.lit(LAT1 - LAT0) * n)
    x = F.least(F.greatest(x, F.lit(0)), F.lit((1 << res) - 1)).cast("long")
    y = F.least(F.greatest(y, F.lit(0)), F.lit((1 << res) - 1)).cast("long")
    return x, y


def _spread_col(c: Column) -> Column:
    """Column twin of ``_part1by1``."""
    v = c.cast("long")
    v = v.bitwiseOR(F.shiftleft(v, 16)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x3333333333333333))
    v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x5555555555555555))
    return v


def _unspread_col(c: Column) -> Column:
    """Column twin of ``_unpart1by1``."""
    v = c.bitwiseAND(F.lit(0x5555555555555555))
    v = v.bitwiseOR(F.shiftrightunsigned(v, 1)).bitwiseAND(F.lit(0x3333333333333333))
    v = v.bitwiseOR(F.shiftrightunsigned(v, 2)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    v = v.bitwiseOR(F.shiftrightunsigned(v, 4)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    v = v.bitwiseOR(F.shiftrightunsigned(v, 8)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    v = v.bitwiseOR(F.shiftrightunsigned(v, 16)).bitwiseAND(F.lit(0x00000000FFFFFFFF))
    return v


def from_xy_col(x, y, res: int) -> Column:
    """Column twin of ``from_xy``: Morton-interleave grid x/y into a cell id."""
    return (
        _spread_col(_col(x))
        .bitwiseOR(F.shiftleft(_spread_col(_col(y)), 1))
        .bitwiseOR(F.lit(res << _RES_SHIFT))
        .cast("long")
    )


def to_xy_col(cell) -> tuple[Column, Column, Column]:
    """Column twin of ``to_xy``: cell id -> (x, y, res). Give it a column,
    not an ``encode_col`` built in the same projection: each de-interleave
    step reads its input twice, so a nested expression grows 32-fold."""
    c = _col(cell)
    m = c.bitwiseAND(F.lit((1 << _RES_SHIFT) - 1))
    return (
        _unspread_col(m),
        _unspread_col(F.shiftrightunsigned(m, 1)),
        F.shiftrightunsigned(c, _RES_SHIFT),
    )


def encode_col(lon, lat, res: int) -> Column:
    """Column twin of ``encode``."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    return from_xy_col(*grid_xy_col(lon, lat, res), res)


def _block_col(x0: Column, x1: Column, y0: Column, y1: Column, res: int) -> Column:
    """Cell ids of the grid block [x0, x1] x [y0, y1], rows of y outer and
    x inner — the ``meshgrid(...).ravel()`` order of the NumPy twins."""
    return F.flatten(
        F.transform(
            F.sequence(y0, y1),
            lambda y: F.transform(F.sequence(x0, x1), lambda x: from_xy_col(x, y, res)),
        )
    )


def cover_col(xmin, ymin, xmax, ymax, res: int) -> Column:
    """Column twin of ``cover_bbox``: array of the cell ids at ``res``
    intersecting the closed bbox."""
    x0, y0 = grid_xy_col(xmin, ymin, res)
    x1, y1 = grid_xy_col(xmax, ymax, res)
    return _block_col(x0, x1, y0, y1, res)


def disk_col(cell_or_lon_lat, k: int, res: int) -> Column:
    """Column twin of ``disk``: array of the cell ids within Chebyshev
    distance ``k``, clipped at the world edge. Takes a cell id column at
    ``res`` (see ``to_xy_col``) or a ``(lon, lat)`` pair, whose cell at
    ``res`` is the centre."""
    if isinstance(cell_or_lon_lat, tuple):
        x, y = grid_xy_col(*cell_or_lon_lat, res)
    else:
        x, y, _ = to_xy_col(cell_or_lon_lat)
    top = F.lit((1 << res) - 1)
    return _block_col(
        F.greatest(x - k, F.lit(0)), F.least(x + k, top),
        F.greatest(y - k, F.lit(0)), F.least(y + k, top),
        res,
    )


_BBOX = ["xmin", "ymin", "xmax", "ymax"]


def _bboxes(geom: pd.Series) -> pd.DataFrame:
    boxes = np.array([wkb.bbox(bytes(g)) for g in geom], dtype=np.float64)
    return pd.DataFrame(boxes.reshape(-1, 4), columns=_BBOX)


# Marked nondeterministic only so that the optimizer evaluates it once: a
# filter inferred on a bbox field (overlay's bbox-overlap join infers
# IS NOT NULL on all four) would otherwise be pushed below the projection
# and run the UDF a second time.
_bbox_udf = F.pandas_udf(
    _bboxes, T.StructType([T.StructField(c, T.DoubleType()) for c in _BBOX])
).asNondeterministic()


def bbox_col(geom) -> Column:
    """struct<xmin, ymin, xmax, ymax> of a WKB (multi)polygon or
    (multi)linestring column; an empty geometry fails the task. Make it a
    column before ``cover_col`` reads its fields: Spark refuses a Python
    UDF inside the cover's lambda."""
    return _bbox_udf(_col(geom))
