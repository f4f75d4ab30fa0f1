"""Dissolve: GROUP BY + geometry union (SURVEY A3).

The reference runs ``SELECT grp, ..., ST_Union(geometry) FROM layer GROUP
BY grp`` through ogr2ogr's SQLite dialect
(/root/reference/scripts/ogr_groupby.sh:25-28) to merge e.g. the island
polygons of one medical zone into one multipolygon. Non-grouped attributes
take SQLite's first-row semantics -> ``first()``.

The salted partial/final split mirrors two-phase execution of aggregation
trees (VLDB 2021, see repo PAPERS.md) — Catalyst does this automatically
for built-in aggregates; grouped-map kernels must do it explicitly.

Spark strategy: ``groupBy(keys).applyInPandas`` with a collect-union kernel
(multipolygon part concatenation — point-set-identical to ST_Union for the
exactly-tiling admin layers this is applied to). Two-phase safety: the
kernel is associative (bytes concat), so for very large groups a salted
pre-union (``salt_n``) bounds per-group memory — partial unions merge in a
second pass, mirroring Catalyst's partial/final split for built-in aggs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geom import wkb


def _union_kernel(
    keys: tuple,
    pdf: pd.DataFrame,
    key_cols: list[str],
    attr_cols: list[str] | None = None,
    boundary: bool = False,
    on_overlap: str = "error",
) -> pd.DataFrame:
    bufs = [bytes(b) for b in pdf["geom"]]
    if on_overlap == "error":
        try:
            wkb.assert_no_overlap(bufs)
        except ValueError as e:
            raise ValueError(f"dissolve group {dict(zip(key_cols, keys))}: {e}") from e
    merged = wkb.dissolve_boundary(bufs) if boundary else wkb.merge_multipolygons(bufs)
    x0, y0, x1, y1 = wkb.bbox(merged)
    out = {c: [keys[i]] for i, c in enumerate(key_cols)}
    # non-grouped attributes take SQLite's first-row semantics
    # (/root/reference/scripts/ogr_groupby.sh:25-28)
    for c in attr_cols or []:
        out[c] = [pdf[c].iloc[0]]
    out.update(
        {
            "n_parts": [len(wkb.parse_multipolygon(merged))],
            "geom": [merged],
            "area": [wkb.multipolygon_area(merged)],
            "xmin": [x0],
            "ymin": [y0],
            "xmax": [x1],
            "ymax": [y1],
        }
    )
    return pd.DataFrame(out)


def dissolve(
    df: DataFrame,
    keys: list[str],
    geom_col: str = "geom",
    salt_n: int = 0,
    attrs: list[str] | None = None,
    boundary: bool = False,
    on_overlap: str = "error",
) -> DataFrame:
    """GROUP BY keys + geometry union; returns keys (+ first-row values of
    ``attrs``) + n_parts + geom + area/bbox analytics columns.

    ``on_overlap`` (round 3): "error" (default) runs wkb.assert_no_overlap
    per group — overlapping parts, which multipart concatenation would
    silently mis-dissolve, fail loudly instead; "ignore" restores the old
    trust-the-caller behavior. ``boundary=True`` performs the TRUE
    boundary dissolve (shared-edge cancellation, wkb.dissolve_boundary):
    internal edges between exactly-tiling parts vanish and the group
    becomes the real union geometry, matching PostGIS ST_Union output for
    tiling layers rather than just its point set."""
    attrs = attrs or []
    if on_overlap not in ("error", "ignore"):
        raise ValueError(f"on_overlap must be error|ignore, got {on_overlap!r}")
    key_fields = [df.schema[k] for k in keys]
    attr_fields = [df.schema[a] for a in attrs]
    out_schema = T.StructType(
        key_fields
        + attr_fields
        + [
            T.StructField("n_parts", T.IntegerType()),
            T.StructField("geom", T.BinaryType()),
            T.StructField("area", T.DoubleType()),
            T.StructField("xmin", T.DoubleType()),
            T.StructField("ymin", T.DoubleType()),
            T.StructField("xmax", T.DoubleType()),
            T.StructField("ymax", T.DoubleType()),
        ]
    )
    src = df.select(*keys, *attrs, F.col(geom_col).alias("geom"))

    if salt_n > 1:
        # two-phase: salted partial unions, then final merge per key.
        # attrs ride along: first-row within each salt partial, then
        # first-partial at the final merge — still "a first row" overall.
        salted = src.withColumn("_salt", F.spark_partition_id() % salt_n)
        partial_schema = T.StructType(
            key_fields + attr_fields + [T.StructField("geom", T.BinaryType())]
        )

        def partial_kernel(kv, pdf):
            merged = wkb.merge_multipolygons([bytes(b) for b in pdf["geom"]])
            out = {c: [kv[i]] for i, c in enumerate(keys)}
            for a in attrs:
                out[a] = [pdf[a].iloc[0]]
            out["geom"] = [merged]
            return pd.DataFrame(out)

        src = (
            salted.groupBy(*keys, "_salt")
            .applyInPandas(lambda kv, pdf: partial_kernel(kv, pdf), partial_schema)
        )

    return src.groupBy(*keys).applyInPandas(
        lambda kv, pdf: _union_kernel(
            kv, pdf, keys, attrs, boundary=boundary, on_overlap=on_overlap
        ),
        out_schema,
    )
