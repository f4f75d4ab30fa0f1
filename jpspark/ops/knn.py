"""Cell-local kNN join with boundary-ring expansion (SURVEY J5, north_rule).

Exact k-nearest-neighbor of each query point against a target point set,
using the cell index for locality:

  explore disk(query_cell, r) for growing r; stop once the kth-nearest
  distance found so far is <= r * min(cell_w, cell_h) — any target outside
  the explored disk is at least that far away (cells outside a Chebyshev-
  radius-r disk are separated from the query by >= r full cell widths) —
  so the answer is provably exact.

The cell-local candidate + ring-expansion shape follows the distributed
kNN-join literature (e.g. "Distributed Stream KNN Join", SIGMOD 2021 —
grid-partitioned candidates with guaranteed-complete expansion; see
repo PAPERS.md) re-expressed over the Spark DataFrame API.

Physical strategy: the target side (facilities: ~1e5 rows of (id, lon,
lat)) is grouped into a per-cell dict of coordinate arrays on the driver
and broadcast; queries stream through ``mapInArrow`` — the 10^12-row side
never shuffles. Queries are processed per-cell (all queries in one cell
share candidate arrays), each expansion step a vectorized distance-matrix
computation. Ties broken by target id (pinned; matches the pytest oracle
and the DuckDB ORDER BY dist, id oracle).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..geom import cell

DEFAULT_RES = 6


class TargetIndex:
    def __init__(self, ids: np.ndarray, lon: np.ndarray, lat: np.ndarray, res: int = DEFAULT_RES):
        self.res = res
        self.ids = np.asarray(ids, dtype=np.int64)
        self.lon = np.asarray(lon, dtype=np.float64)
        self.lat = np.asarray(lat, dtype=np.float64)
        cells = cell.encode(self.lon, self.lat, res)
        order = np.argsort(cells, kind="stable")
        self.sorted_cells = cells[order]
        self.order = order
        self.starts = np.flatnonzero(np.r_[True, self.sorted_cells[1:] != self.sorted_cells[:-1]])
        self.uniq = self.sorted_cells[self.starts]
        self.ends = np.r_[self.starts[1:], len(self.sorted_cells)]
        self.n_total = len(self.ids)

    def members(self, c: int) -> np.ndarray:
        """Target ordinals in cell c."""
        i = np.searchsorted(self.uniq, c)
        if i >= len(self.uniq) or self.uniq[i] != c:
            return np.empty(0, dtype=np.int64)
        return self.order[self.starts[i] : self.ends[i]]


def _knn_for_cell(idx: TargetIndex, qc: int, qx: np.ndarray, qy: np.ndarray, k: int):
    """Exact kNN for all queries sharing cell qc. Returns (tid, dist) arrays
    of shape (Q, k'), k' = min(k, n_targets)."""
    cw, ch = cell.cell_size_deg(idx.res)
    guard = min(cw, ch)
    cand = idx.members(qc)
    seen = {int(qc)}
    r = 0
    kth = np.full(len(qx), np.inf)
    best_t: np.ndarray | None = None
    best_d: np.ndarray | None = None
    while True:
        r += 1
        new_cells = [c for c in cell.ring(qc, r) if int(c) not in seen]
        seen.update(int(c) for c in new_cells)
        new = [idx.members(int(c)) for c in new_cells]
        new = [m for m in new if len(m)]
        if new:
            cand = np.concatenate([cand] + new)
        enough = len(cand) >= min(k, idx.n_total)
        if enough:
            tids = idx.ids[cand]
            # candidates pre-sorted by target id: a STABLE argsort on the
            # distance matrix then tie-breaks by id for free, fully
            # vectorized (no per-query Python loop)
            id_order = np.argsort(tids, kind="stable")
            cand_sorted = cand[id_order]
            tids = tids[id_order]
            dx = idx.lon[cand_sorted][None, :] - qx[:, None]
            dy = idx.lat[cand_sorted][None, :] - qy[:, None]
            # plain sqrt(dx^2+dy^2) (NOT hypot): bit-identical to the SQL
            # oracle's formula so value-hash comparisons match exactly
            d = np.sqrt(dx * dx + dy * dy)
            kk = min(k, d.shape[1])
            if d.shape[1] > 4 * kk:
                # cheap unordered top-kk first, then sort the small slice.
                # Two pivots (kk-1, kk): position kk holds the (kk+1)-th
                # smallest distance, giving an O(Q) boundary-tie test with
                # no extra pass over the full distance matrix.
                part_full = np.argpartition(d, (kk - 1, kk), axis=1)
                part = part_full[:, :kk]
                dpart = np.take_along_axis(d, part, axis=1)
                # boundary-tie guard: argpartition picks an ARBITRARY subset
                # of candidates whose distance ties exactly at the kth
                # boundary, breaking the pinned (dist, id) tie-break. The
                # selection is unambiguous iff the (kk+1)-th smallest
                # distance is strictly greater than the kth; tied rows fall
                # back to the full stable argsort (rare: exact dist ties).
                kth_d = dpart.max(axis=1)
                next_d = np.take_along_axis(d, part_full[:, kk : kk + 1], axis=1)[:, 0]
                ambiguous = next_d <= kth_d
                # re-sort by (dist, id): stable argsort of dist over
                # id-ascending columns needs id order restored first
                id_in_part = np.argsort(part, axis=1, kind="stable")
                part = np.take_along_axis(part, id_in_part, axis=1)
                dpart = np.take_along_axis(dpart, id_in_part, axis=1)
                sel_local = np.argsort(dpart, axis=1, kind="stable")
                best_t = tids[np.take_along_axis(part, sel_local, axis=1)]
                best_d = np.take_along_axis(dpart, sel_local, axis=1)
                if ambiguous.any():
                    amb = np.flatnonzero(ambiguous)
                    sel = np.argsort(d[amb], axis=1, kind="stable")[:, :kk]
                    best_t[amb] = tids[sel]
                    best_d[amb] = np.take_along_axis(d[amb], sel, axis=1)
            else:
                sel = np.argsort(d, axis=1, kind="stable")[:, :kk]
                best_t = tids[sel]
                best_d = np.take_along_axis(d, sel, axis=1)
            kth = best_d[:, -1]
        # exactness guarantee: everything outside explored disk(r) is
        # at least r*guard away. STRICT comparison (round-3 ADVICE): at
        # kth == r*guard an unseen boundary target could tie the kth
        # distance and win the (dist, id) tie-break, so equality expands
        # one more ring instead of declaring victory.
        if enough and np.all(kth < r * guard):
            return best_t, best_d
        if len(seen) >= (1 << idx.res) ** 2 or (enough and r * guard > 720):
            return best_t, best_d


def knn_join_broadcast(
    queries: DataFrame,
    targets_pdf: pd.DataFrame,
    k: int,
    query_id_col: str = "image_id",
    target_id_col: str = "ogc_fid",
    lon: str = "lon",
    lat: str = "lat",
    res: int = DEFAULT_RES,
    as_arrays: bool = False,
) -> DataFrame:
    """Exact kNN, broadcast targets, zero shuffle of the query side.

    Default output: (query_id, rank, target_id, dist) — one row per
    neighbor (oracle-friendly). ``as_arrays=True`` emits one row per query
    (query_id, target_ids, dists) — k times fewer rows through Arrow and
    any downstream shuffle, the preferred shape at 10^12-query scale.
    """
    spark = queries.sparkSession
    idx = TargetIndex(
        targets_pdf[target_id_col].to_numpy(),
        targets_pdf[lon].to_numpy(),
        targets_pdf[lat].to_numpy(),
        res,
    )
    bc = spark.sparkContext.broadcast(idx)
    if as_arrays:
        out_schema = T.StructType(
            [
                T.StructField("query_id", queries.schema[query_id_col].dataType),
                T.StructField("target_ids", T.ArrayType(T.LongType())),
                T.StructField("dists", T.ArrayType(T.DoubleType())),
            ]
        )
    else:
        out_schema = T.StructType(
            [
                T.StructField("query_id", queries.schema[query_id_col].dataType),
                T.StructField("rank", T.IntegerType()),
                T.StructField("target_id", T.LongType()),
                T.StructField("dist", T.DoubleType()),
            ]
        )

    # mapInArrow: results assembled as Arrow arrays straight from NumPy —
    # list columns via ListArray.from_arrays(offsets, flat values), ids via
    # take() — zero per-row Python objects in either output mode.
    import pyarrow as pa

    from .spatial_join import arrow_chunks

    out_arrow = to_arrow_schema(out_schema)

    def kernel(batches):
        index: TargetIndex = bc.value
        for tbl in arrow_chunks(batches, 1 << 17):
            qx = tbl.column(lon).to_numpy(zero_copy_only=False)
            qy = tbl.column(lat).to_numpy(zero_copy_only=False)
            qid_arr = tbl.column(query_id_col).combine_chunks()
            cells = cell.encode(qx, qy, index.res)
            order = np.argsort(cells, kind="stable")
            sc = cells[order]
            starts = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]])
            ends = np.r_[starts[1:], len(sc)]
            sel_all, t_parts, d_parts, kks = [], [], [], []
            for s, e in zip(starts, ends):
                sel = order[s:e]
                t, d = _knn_for_cell(index, int(sc[s]), qx[sel], qy[sel], k)
                sel_all.append(sel)
                t_parts.append(t)
                d_parts.append(d)
                kks.append(t.shape[1])
            sel_cat = np.concatenate(sel_all)
            kk_per_q = np.concatenate([np.full(len(s), kk) for s, kk in zip(sel_all, kks)])
            flat_t = np.concatenate([t.ravel() for t in t_parts])
            flat_d = np.concatenate([d.ravel() for d in d_parts])
            if as_arrays:
                offsets = np.zeros(len(sel_cat) + 1, dtype=np.int32)
                np.cumsum(kk_per_q, out=offsets[1:])
                cols = [
                    qid_arr.take(pa.array(sel_cat)),
                    pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat_t)),
                    pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat_d)),
                ]
            else:
                rep_idx = np.repeat(sel_cat, kk_per_q)
                ranks = np.concatenate(
                    [np.tile(np.arange(1, kk + 1, dtype=np.int32), len(s)) for s, kk in zip(sel_all, kks)]
                )
                cols = [
                    qid_arr.take(pa.array(rep_idx)),
                    pa.array(ranks),
                    pa.array(flat_t),
                    pa.array(flat_d),
                ]
            yield pa.RecordBatch.from_arrays(cols, schema=out_arrow)

    return queries.select(query_id_col, lon, lat).mapInArrow(kernel, out_schema)


def shuffle_candidate_pairs(
    queries: DataFrame,
    targets: DataFrame,
    query_id_col: str = "image_id",
    target_id_col: str = "ogc_fid",
    lon: str = "lon",
    lat: str = "lat",
    res: int = 4,
    max_ring: int = 2,
    how: str = "left",
    n_salt: int = 1,
) -> DataFrame:
    """Stage 1 of the shuffle kNN: the cell equi-join that generates
    candidate (query, target, dist) pairs. This is the ONLY stage that
    sees cell-key skew — everything downstream of it exchanges on the
    high-cardinality query_id. Exposed separately so the skew bench
    (BENCH/run_skew.py) can time it in isolation.

    ``how="left"`` keeps zero-candidate queries as null-target rows for
    the guard; ``n_salt`` > 1 routes queries by crc32(query_id) % n_salt
    against n_salt target replicas, splitting a hot cell's pair
    generation n_salt ways.
    """
    if n_salt < 1:
        raise ValueError(f"n_salt must be >= 1, got {n_salt}")
    tgt = targets.select(
        F.col(target_id_col).alias("target_id"),
        F.col(lon).alias("t_lon"),
        F.col(lat).alias("t_lat"),
    )

    tgt = tgt.withColumn("cell_id", F.explode(cell.disk_col(("t_lon", "t_lat"), max_ring, res)))
    qry = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(lon).alias("q_lon"), F.col(lat).alias("q_lat")
    ).withColumn("cell_id", cell.encode_col("q_lon", "q_lat", res))

    # guarded modes use a LEFT join so queries whose disk holds ZERO
    # candidates still surface (as a null-target row) — an inner join
    # would silently drop them before the guard could see them
    join_keys = ["cell_id"]
    if n_salt > 1:
        tgt = tgt.withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)])))
        qry = qry.withColumn(
            "salt", F.pmod(F.crc32(F.col("query_id").cast("string")), F.lit(n_salt)).cast("int")
        )
        join_keys = ["cell_id", "salt"]
    return qry.join(tgt, join_keys, how).withColumn(
        "dist",
        # plain multiply (not pow): bit-identical to the SQL oracle formula
        F.sqrt(
            (F.col("t_lon") - F.col("q_lon")) * (F.col("t_lon") - F.col("q_lon"))
            + (F.col("t_lat") - F.col("q_lat")) * (F.col("t_lat") - F.col("q_lat"))
        ),
    )


def knn_join_shuffle(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    query_id_col: str = "image_id",
    target_id_col: str = "ogc_fid",
    lon: str = "lon",
    lat: str = "lat",
    res: int = 4,
    max_ring: int = 2,
    guard: str = "error",
    n_salt: int = 1,
) -> DataFrame:
    """Distributed kNN for non-broadcastable targets: targets replicated to
    their disk(max_ring) neighbor cells, equi-join on cell, per-query top-k
    via window. Exact iff every query's kth neighbor lies within max_ring
    cells (choose res so the expected per-cell target count >> k).

    ``n_salt`` > 1 splits hot cells (round 6, the PIP skew ladder's fix
    ported to kNN): a city-centre cell holding 40% of all queries lands
    every one of its candidate pairs on ONE reducer of the cell equi-join.
    Salting routes queries by crc32(query_id) % n_salt and replicates the
    (already disk-exploded) target rows once per salt value, so the hot
    cell's pair generation parallelizes n_salt-ways. Output is identical
    for any n_salt: the per-query top-k window runs AFTER the join on the
    high-cardinality query_id and never sees the salt. Cost: the target
    side's exploded rows shuffle n_salt x — cheap when targets are the
    small side (the only regime where the shuffle path is chosen at all).

    ``guard`` enforces that exactness condition at runtime instead of
    trusting the caller's res/max_ring choice: a query is provably exact
    iff it found k candidates AND its kth distance is STRICTLY below
    max_ring * min(cell_w, cell_h) (any target outside the replicated
    disk is at least that far away — same disk bound the broadcast
    variant uses; strict, because an unseen target exactly at the bound
    could win the (dist, id) tie-break).

    - "error" (default): the job fails on the first violating query
      (distributed ``assert_true`` inside the top-k filter — silent wrong
      neighbors become a loud failure).
    - "flag": adds an ``exact`` boolean column; callers route inexact
      queries to an escalation pass (bigger ring or broadcast variant).
    - "none": previous trust-the-caller behavior (also the right mode
      when the GLOBAL target count is < k, which the guard would
      otherwise report as a violation).
    """
    if guard not in ("error", "flag", "none"):
        raise ValueError(f"guard must be error|flag|none, got {guard!r}")
    how = "inner" if guard == "none" else "left"
    joined = shuffle_candidate_pairs(
        queries,
        targets,
        query_id_col=query_id_col,
        target_id_col=target_id_col,
        lon=lon,
        lat=lat,
        res=res,
        max_ring=max_ring,
        how=how,
        n_salt=n_salt,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc_nulls_last(), F.col("target_id").asc_nulls_last()
    )
    ranked = joined.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    if guard == "none":
        return ranked.select("query_id", F.col("rank").cast("int"), "target_id", "dist")
    cw, ch = cell.cell_size_deg(res)
    bound = float(max_ring) * min(cw, ch)
    wq = Window.partitionBy("query_id")
    # STRICT bound (round-3 ADVICE): an unseen target exactly at the disk
    # radius could tie the kth distance and, under the (dist, target_id)
    # tie-break, legitimately outrank a returned neighbor — boundary ties
    # must fail the guard / get flagged, not pass as exact.
    ranked = ranked.withColumn(
        "exact",
        (F.count("target_id").over(wq) >= F.lit(k)) & (F.max("dist").over(wq) < F.lit(bound)),
    )
    if guard == "error":
        msg = F.concat(
            F.lit(
                f"knn_join_shuffle inexact (k={k}, res={res}, max_ring={max_ring}, "
                f"ring bound {bound:.6g} deg): kth neighbor outside the replicated "
                "disk for query_id="
            ),
            F.col("query_id").cast("string"),
            F.lit(" — raise max_ring/lower res, or use knn_join_broadcast"),
        )
        # assert_true inside the filter: evaluated per row, cannot be
        # pruned away, fails the job at the first violating query
        ranked = ranked.filter(F.assert_true(F.col("exact"), msg).isNull())
        return ranked.select("query_id", F.col("rank").cast("int"), "target_id", "dist")
    # flag mode promises every inexact query SURFACES: keep the null-target
    # row a zero-candidate query produced (rank/target/dist null,
    # exact=false) instead of filtering the query out of the output
    # entirely (round-3 ADVICE — the silent-disappearance hole).
    return (
        ranked.filter(F.col("target_id").isNotNull() | ~F.col("exact"))
        .withColumn("rank", F.when(F.col("target_id").isNotNull(), F.col("rank")))
        .select("query_id", F.col("rank").cast("int"), "target_id", "dist", "exact")
    )
