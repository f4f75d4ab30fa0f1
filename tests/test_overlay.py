"""Polygon-overlay operator (ops/overlay.py): exact-kernel generality on
non-convex / holed / multi-part inputs, and the distributed pipeline's
conservation laws on the exactly-tiling admin fixtures."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from jpspark import fixtures as fx
from jpspark.geom import wkb
from jpspark.ops import overlay


def rect(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)


def mp(*polys):
    return wkb.encode_multipolygon(list(polys))


L_SHAPE = np.array([[0, 0], [4, 0], [4, 2], [2, 2], [2, 4], [0, 4], [0, 0]], float)


@pytest.mark.parametrize(
    "a, b, want",
    [
        # convex ∩ convex
        (mp([rect(0, 0, 4, 4)]), mp([rect(2, 2, 6, 6)]), 4.0),
        # disjoint and touching-edge (zero-measure overlap)
        (mp([rect(0, 0, 1, 1)]), mp([rect(5, 5, 6, 6)]), 0.0),
        (mp([rect(0, 0, 2, 2)]), mp([rect(2, 0, 4, 2)]), 0.0),
        # containment both directions
        (mp([rect(0, 0, 8, 8)]), mp([rect(2, 2, 3, 3)]), 1.0),
        (mp([rect(2, 2, 3, 3)]), mp([rect(0, 0, 8, 8)]), 1.0),
        # non-convex subject / window (both orders)
        (mp([L_SHAPE]), mp([rect(1, 1, 3, 3)]), 3.0),
        (mp([rect(1, 1, 3, 3)]), mp([L_SHAPE]), 3.0),
        # non-convex ∩ non-convex
        (
            mp([L_SHAPE]),
            mp([np.array([[1, 1], [5, 1], [5, 5], [3, 5], [3, 3], [1, 3], [1, 1]], float)]),
            4.0,
        ),
        # hole on either side (inclusion–exclusion)
        (mp([rect(0, 0, 6, 6), rect(2, 2, 4, 4)[::-1]]), mp([rect(1, 1, 5, 5)]), 12.0),
        (mp([rect(1, 1, 5, 5)]), mp([rect(0, 0, 6, 6), rect(2, 2, 4, 4)[::-1]]), 12.0),
        # window entirely inside the hole
        (mp([rect(0, 0, 6, 6), rect(2, 2, 4, 4)[::-1]]), mp([rect(2.5, 2.5, 3.5, 3.5)]), 0.0),
        # multipolygon parts sum
        (mp([rect(0, 0, 2, 2)], [rect(4, 0, 6, 2)]), mp([rect(1, 0, 5, 2)]), 4.0),
        # reflex star vs strip
        (
            mp([np.array([[0, 0], [6, 0], [6, 6], [3, 2], [0, 6], [0, 0]], float)]),
            mp([rect(0, 0, 6, 2)]),
            12.0,
        ),
        # identical non-convex (self-intersection area = own area)
        (mp([L_SHAPE]), mp([L_SHAPE]), 12.0),
    ],
)
def test_intersection_area_exact(a, b, want):
    assert overlay.intersection_area_mp(a, b) == pytest.approx(want, abs=1e-12)


def test_orientation_invariance():
    """CW-wound inputs (shapefile ring order) give identical areas."""
    a_ccw = mp([rect(0, 0, 4, 4)])
    a_cw = mp([rect(0, 0, 4, 4)[::-1]])
    b = mp([L_SHAPE])
    want = overlay.intersection_area_mp(a_ccw, b)
    assert overlay.intersection_area_mp(a_cw, b) == pytest.approx(want, abs=1e-12)
    assert overlay.intersection_area_mp(a_ccw, mp([L_SHAPE[::-1]])) == pytest.approx(
        want, abs=1e-12
    )


def test_rectilinear_grid_oracle():
    """Random rectilinear (axis-aligned union-of-cells) polygons: the
    kernel must agree with exact integer cell counting — an independent
    oracle covering shapes with many reflex vertices."""
    rng = np.random.default_rng(7)
    for trial in range(5):
        # two random 8x8 masks, polygons = disjoint per-cell squares
        ma = rng.random((8, 8)) < 0.5
        mb = rng.random((8, 8)) < 0.5
        pa = [[rect(i, j, i + 1, j + 1)] for j, i in zip(*np.nonzero(ma))]
        pb = [[rect(i, j, i + 1, j + 1)] for j, i in zip(*np.nonzero(mb))]
        want = float(np.sum(ma & mb))
        got = overlay.intersection_area_mp(
            wkb.encode_multipolygon(pa), wkb.encode_multipolygon(pb)
        )
        assert got == pytest.approx(want, abs=1e-9), trial


def test_distributed_conservation(spark):
    """admin_polygons exactly tile BBOX and landuse_mesh covers BBOX, so
    (1) for every mesh cell b: Σ_a inter_area(a,b) == area(b), and
    (2) area_weighted_join conserves totals: Σ_a pop[a] == Σ_b pop[b].
    This exercises the full distributed path — cover cells, candidate
    pairs, bbox prefilter, exact kernel — against a conservation law no
    candidate-pruning bug can fake."""
    admin = fx.admin_polygons(12, subdiv=2)
    mesh = fx.landuse_mesh(grid=6)
    df_a = spark.createDataFrame(
        admin[["ogc_fid", "geom"]].rename(columns={"ogc_fid": "a_id"})
    )
    mesh_pdf = mesh[["ogc_fid", "geom"]].rename(columns={"ogc_fid": "b_id"})
    mesh_pdf["pop"] = mesh_pdf["b_id"] * 7.0 + 3.0
    df_b = spark.createDataFrame(mesh_pdf)

    inter = overlay.overlay_intersection(df_a, df_b, "a_id", "b_id", res=6)
    per_b = {
        r["b_id"]: r["s"]
        for r in inter.groupBy("b_id").agg(F.sum("inter_area").alias("s")).collect()
    }
    for _, row in mesh_pdf.iterrows():
        want = wkb.multipolygon_area(bytes(row["geom"]))
        assert per_b[row["b_id"]] == pytest.approx(want, rel=1e-9), row["b_id"]

    awj = overlay.area_weighted_join(df_a, df_b, "a_id", "b_id", ["pop"], res=6)
    total = awj.agg(F.sum("pop")).collect()[0][0]
    assert total == pytest.approx(float(mesh_pdf["pop"].sum()), rel=1e-9)
    # weights of a fully-covered B cell sum to exactly 1 ⇒ every zone
    # present; admin ids are 1..12
    assert awj.count() == 12


def test_candidate_pruning_is_invisible(spark):
    """Coarse vs fine candidate grids give identical results (the exact
    kernel makes `res` a pure performance knob)."""
    admin = fx.admin_polygons(8)
    mesh = fx.landuse_mesh(grid=4)
    df_a = spark.createDataFrame(
        admin[["ogc_fid", "geom"]].rename(columns={"ogc_fid": "a_id"})
    )
    df_b = spark.createDataFrame(
        mesh[["ogc_fid", "geom"]].rename(columns={"ogc_fid": "b_id"})
    )

    def snap(res):
        return {
            (r["a_id"], r["b_id"]): round(r["inter_area"], 12)
            for r in overlay.overlay_intersection(
                df_a, df_b, "a_id", "b_id", res=res
            ).collect()
        }

    assert snap(4) == snap(7)


def test_cover_parses_each_geometry_once(spark):
    """The bbox-overlap join infers IS NOT NULL filters on the bbox
    fields; they must not be pushed below the bbox UDF, which would parse
    every geometry twice. One Python evaluation node per side."""
    admin = fx.admin_polygons(4)
    df_a = spark.createDataFrame(admin[["ogc_fid", "geom"]].rename(columns={"ogc_fid": "a_id"}))
    df_b = spark.createDataFrame(admin[["ogc_fid", "geom"]].rename(columns={"ogc_fid": "b_id"}))
    inter = overlay.overlay_intersection(df_a, df_b, "a_id", "b_id", res=6)
    plan = inter._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 2
