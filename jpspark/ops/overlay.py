"""General polygon-overlay: polygon∩polygon intersection areas and
area-weighted (areal-interpolation) joins.

The reference loads layers into PostGIS precisely so consumers can run
ST_Intersection/ST_Area overlays between incompatible zonings — its
documented consumption pattern joins A38 urban zones against N03
municipalities (/root/reference/NOTES.md:96-133); area-weighted
interpolation between two partitions of the same territory is the classic
follow-on. This module is that surface as distributed DataFrame
operators.

Exact kernel (no external geometry lib): for simple rings A, B

    area(A ∩ B) = Σ_t  s_t · area( SH(A, tri_t) )

where ``tri_t`` ranges over the SIGNED FAN of B from its first vertex
(triangles (b0, b_i, b_i+1), sign = their orientation) and ``SH`` is
Sutherland–Hodgman clipping of A against the convex triangle window.
The fan is not a partition for non-convex B, but the signed sum cancels
exactly (Green's theorem applied triangle-wise), so the formula is exact
for ANY simple rings — convex, reflex, star-shaped — in O(|A|·|B|)
without ear-clipping's O(|B|²) and without tracing the intersection
boundary. Holes enter by inclusion–exclusion: each multipolygon is a
signed sum of rings (shells +, holes −), and the pairwise ring terms
multiply signs. The S-H output of a non-convex subject may contain
degenerate bridge edges; their signed shoelace contribution is zero, so
areas stay exact.

Distributed shape (the 100-TB plan):

  1. COVER: per side, one Arrow-batched bbox UDF and the Column cell
     cover of geom/cell.py emit (id, covering cell at ``res``, bbox) —
     ids + int64 cells only, geometry stays put.
  2. CANDIDATES: cell equi-join → distinct (a_id, b_id) pairs, then a
     JVM-side bbox-overlap filter. Ids-only exchange; AQE splits hot
     cells (Tokyo/Osaka) exactly as in the PIP join.
  3. EXACT: the surviving pairs join their two geometries back by id
     (Spark picks broadcast vs shuffle per side; a hot polygon's rows
     hash across the cluster since the pair key is (a_id, b_id)) and a
     ``mapInPandas`` kernel computes the exact intersection area per
     pair. Only candidate pairs ever pay the O(|A|·|B|) kernel.

No driver collect anywhere; every stage is a DataFrame op.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geom import cell as cell_mod
from ..geom import wkb

__all__ = [
    "intersection_area_mp",
    "overlay_intersection",
    "area_weighted_join",
]


# ------------------------------------------------------------ exact kernel


def _open_ring(ring: np.ndarray) -> np.ndarray:
    """Drop a repeated closing vertex; WKB rings are stored closed."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) > 1 and (r[0] == r[-1]).all():
        r = r[:-1]
    return r


def _clip_convex(subject: np.ndarray, window: np.ndarray) -> float:
    """Signed area of Sutherland–Hodgman(subject, window) for a CCW
    convex ``window`` (open rings). Returns the clipped ring's signed
    shoelace area directly — the only thing the fan formula needs — so
    no ring materialization in the hot loop."""
    r = subject
    nw = len(window)
    for k in range(nw):
        if len(r) < 3:
            return 0.0
        w0 = window[k]
        e = window[(k + 1) % nw] - w0
        # inside = left of the directed edge (CCW window interior)
        d = e[0] * (r[:, 1] - w0[1]) - e[1] * (r[:, 0] - w0[0])
        inside = d >= 0.0
        if inside.all():
            continue
        if not inside.any():
            return 0.0
        out = []
        n = len(r)
        for i in range(n):
            j = (i + 1) % n
            if inside[i]:
                out.append(r[i])
            if inside[i] != inside[j]:
                t = d[i] / (d[i] - d[j])
                out.append(r[i] + t * (r[j] - r[i]))
        r = np.asarray(out)
    if len(r) < 3:
        return 0.0
    x, y = r[:, 0], r[:, 1]
    return float(0.5 * np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def _ring_pair_area(ra: np.ndarray, rb: np.ndarray) -> float:
    """area(region(ra) ∩ region(rb)) for two simple OPEN rings of any
    orientation, via the signed fan of rb clipped against ra."""
    # orient BOTH rings CCW: the formula computes the FILLED region of
    # each ring regardless of stored winding (shapefile shells are CW,
    # holes CCW; WKB is unconstrained) — hole subtraction happens via the
    # explicit inclusion–exclusion signs in intersection_area_mp, never
    # via winding
    if wkb.ring_area(np.vstack([ra, ra[:1]])) < 0:
        ra = ra[::-1]
    if wkb.ring_area(np.vstack([rb, rb[:1]])) < 0:
        rb = rb[::-1]
    total = 0.0
    b0 = rb[0]
    for i in range(1, len(rb) - 1):
        tri = np.array([b0, rb[i], rb[i + 1]])
        cross = (tri[1, 0] - tri[0, 0]) * (tri[2, 1] - tri[0, 1]) - (
            tri[1, 1] - tri[0, 1]
        ) * (tri[2, 0] - tri[0, 0])
        if cross == 0.0:
            continue  # degenerate fan triangle contributes nothing
        sign = 1.0
        if cross < 0.0:
            tri = tri[::-1]  # clip window must be CCW
            sign = -1.0
        total += sign * _clip_convex(ra, tri)
    return total


def intersection_area_mp(buf_a: bytes, buf_b: bytes) -> float:
    """Exact intersection area of two WKB multipolygons (holes by
    inclusion–exclusion; parts summed — parts of one multipolygon must
    not overlap each other, the usual valid-geometry contract)."""
    total = 0.0
    for pa in wkb.parse_multipolygon(buf_a):
        a_terms = [(_open_ring(pa[0]), 1.0)] + [
            (_open_ring(h), -1.0) for h in pa[1:]
        ]
        for pb in wkb.parse_multipolygon(buf_b):
            b_terms = [(_open_ring(pb[0]), 1.0)] + [
                (_open_ring(h), -1.0) for h in pb[1:]
            ]
            for ra, sa in a_terms:
                if len(ra) < 3:
                    continue
                for rb, sb in b_terms:
                    if len(rb) < 3:
                        continue
                    total += sa * sb * _ring_pair_area(ra, rb)
    return total


# ------------------------------------------------------- distributed stages


def _cover_cells(df: DataFrame, id_col: str, geom_col: str, res: int) -> DataFrame:
    """(id, cell, xmin, ymin, xmax, ymax): one row per covering cell of
    each geometry's bbox at ``res``. Geometry does NOT leave this stage —
    the exchange carries ids, int64 cells, and four doubles."""
    bb = F.col("__bb")
    return df.select(
        F.col(id_col).cast("long").alias(id_col), cell_mod.bbox_col(geom_col).alias("__bb")
    ).select(
        id_col,
        F.explode(cell_mod.cover_col(bb.xmin, bb.ymin, bb.xmax, bb.ymax, res)).alias("cell"),
        "__bb.*",
    )


def overlay_intersection(
    df_a: DataFrame,
    df_b: DataFrame,
    id_a: str,
    id_b: str,
    geom_a: str = "geom",
    geom_b: str = "geom",
    res: int = 6,
    min_area: float = 0.0,
) -> DataFrame:
    """Pairwise intersection areas of two polygon layers.

    Returns (id_a, id_b, inter_area) for every candidate pair whose
    exact intersection area exceeds ``min_area`` (default: keep strictly
    positive overlaps). ``res`` sets the candidate grid; coarser = fewer
    cover rows, finer = fewer false candidate pairs — the exact kernel
    makes the answer independent of the choice."""
    if id_a == id_b:
        raise ValueError(
            f"id_a and id_b are both {id_a!r}: the pair join would be "
            "ambiguous — rename one side first "
            "(e.g. df_b.withColumnRenamed)"
        )
    ca = _cover_cells(df_a, id_a, geom_a, res)
    cb = _cover_cells(df_b, id_b, geom_b, res)
    pairs = (
        ca.join(cb.withColumnRenamed("cell", "cell"), on="cell")
        .filter(
            (ca["xmin"] <= cb["xmax"])
            & (cb["xmin"] <= ca["xmax"])
            & (ca["ymin"] <= cb["ymax"])
            & (cb["ymin"] <= ca["ymax"])
        )
        .select(id_a, id_b)
        .distinct()
    )
    joined = (
        pairs.join(df_a.select(id_a, F.col(geom_a).alias("__ga")), on=id_a)
        .join(df_b.select(id_b, F.col(geom_b).alias("__gb")), on=id_b)
    )
    schema = f"{id_a} long, {id_b} long, inter_area double"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            areas = [
                intersection_area_mp(bytes(ga), bytes(gb))
                for ga, gb in zip(pdf["__ga"], pdf["__gb"])
            ]
            out = pd.DataFrame(
                {
                    id_a: pdf[id_a].to_numpy(),
                    id_b: pdf[id_b].to_numpy(),
                    "inter_area": np.asarray(areas, dtype=np.float64),
                }
            )
            yield out[out["inter_area"] > min_area]

    return joined.mapInPandas(kernel, schema)


def area_weighted_join(
    df_a: DataFrame,
    df_b: DataFrame,
    id_a: str,
    id_b: str,
    value_cols: list[str],
    geom_a: str = "geom",
    geom_b: str = "geom",
    res: int = 6,
) -> DataFrame:
    """Areal interpolation: apportion ``df_b``'s numeric ``value_cols``
    onto ``df_a``'s zones by intersection-area share of each B polygon,

        out[a][v] = Σ_b  value_b[v] · area(a ∩ b) / area(b)

    — the standard area-weighted transfer between incompatible zonings
    (population from census zones onto grid meshes, A38 urban-zone
    attributes onto N03 municipalities). Zones of A that touch nothing
    are absent from the result (join semantics, same as the PostGIS
    pattern). B areas come from the exact same shoelace the kernel uses,
    so shares sum to exactly 1 over any fully-covered B polygon."""
    inter = overlay_intersection(
        df_a, df_b, id_a, id_b, geom_a=geom_a, geom_b=geom_b, res=res
    )

    @F.pandas_udf("double")
    def mp_area(geoms: pd.Series) -> pd.Series:
        return pd.Series([wkb.multipolygon_area(bytes(g)) for g in geoms])

    b_vals = df_b.select(
        id_b, mp_area(F.col(geom_b)).alias("__b_area"), *value_cols
    )
    w = inter.join(b_vals, on=id_b).withColumn(
        "__w", F.col("inter_area") / F.col("__b_area")
    )
    aggs = [F.sum(F.col(v) * F.col("__w")).alias(v) for v in value_cols]
    return w.groupBy(id_a).agg(*aggs)
