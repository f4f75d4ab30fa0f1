"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line
{"metric", "value", "unit", "queries", "sf", ...extras}.

Usage:
  python bench.py                    # driver mode (one JSON line)
  python bench.py --master local[8]  # scaling-run mode (see BENCH/)

The flagship pipeline (ingest -> cell encode -> PIP join -> tile assign ->
metrics) runs on points amplified from the events table (x AMPLIFY exact
replicas with distinct ids) so the spatial stages process millions of rows
— enough for stable rows/sec at local[32] — while remaining fully
deterministic and derived from the driver's testdata.

Two configurations are emitted every round (round-over-round
comparability): the headline block at AMPLIFY (default x32, 3.2M points
at sf0.1) in "queries", and a big spatial block at BIG_AMPLIFY (default
x256, 25.6M points — the BENCH/BASELINE.md configuration) in
"big_block". Set SPARK_GRAFT_BENCH_BIG_AMPLIFY=0 to skip the big block
(the scaling runner does: it sets AMPLIFY=256 itself).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

AMPLIFY = int(os.environ.get("SPARK_GRAFT_AMPLIFY", "32"))  # events x32 -> 3.2M points at sf0.1
BIG_AMPLIFY = int(os.environ.get("SPARK_GRAFT_BENCH_BIG_AMPLIFY", "256"))
# interior-cell fast-path budget for the PIP index; "0" disables (the
# compute-bound engine mode the scaling evidence also measures)
_SETTLED = int(os.environ.get("SPARK_GRAFT_SETTLED_CELLS", str(4_000_000)))
SETTLED_CELLS = _SETTLED if _SETTLED > 0 else None


def amplified_points(spark, sf_dir: str, amplify: int = AMPLIFY):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    rep = spark.range(amplify).select(F.col("id").alias("rep"))
    cpus = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pts = (
        ev.crossJoin(rep)
        .select((F.col("event_id") * amplify + F.col("rep")).alias("point_id"))
        # 4 tasks per core: pipelines Arrow read/compute/write inside each
        # worker and smooths stragglers — measured E(2->8) 0.58 -> 0.96
        .repartition(cpus * 4)
    )
    lon = (
        F.lit(122.0) + F.lit(32.0)
        * ((F.col("point_id") * 2654435761) % 1000000).cast("double") / F.lit(1000000.0)
    )
    lat = (
        F.lit(20.0) + F.lit(26.0)
        * ((F.col("point_id") * 40503) % 1000000).cast("double") / F.lit(1000000.0)
    )
    return pts.select("point_id", lon.alias("lon"), lat.alias("lat"))


def run_bench(master: str | None, sf_dir: str, cpus: int):
    from jpspark import fixtures as fx
    from jpspark.ops import dissolve as dis
    from jpspark.ops import knn as knn_ops
    from jpspark.ops import multimodal as mm
    from jpspark.ops import spatial_join as sj
    from jpspark.ops import tiles as tile_ops
    from jpspark.queries import QUERIES
    from jpspark.session import get_spark

    spark = get_spark("jpspark-bench", master=master, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10_000_000).select(F.sum("id")).collect()  # JVM/codegen warmup

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    # scaling-pair mode: only the three stages the efficiency tables use
    # (pip_join / tile_assign / knn_join) — keeps low-core runs short so a
    # 2-vs-8 (or 1-vs-4) pair measures under ONE host-noise window
    spatial_only = os.environ.get("SPARK_GRAFT_BENCH_SPATIAL_ONLY", "0") == "1"

    # --- canary gating (round 6, from BENCH/run_gated_scaling.py's
    # protocol): every timed sample is bracketed by a pure-JVM canary
    # (2e9-row codegen sum — zero engine code); the sample counts as CLEAN
    # only if both canaries beat the gate. Hypervisor steal on this host
    # varies ~2x between windows (round-5 bench was taken in a 2x-steal
    # window and forced a full re-litigation of drift); the gate makes a
    # dirty window visible IN the artifact instead of in a post-mortem.
    gated = os.environ.get("SPARK_GRAFT_BENCH_GATED", "1") == "1"
    gate_s = float(os.environ.get("SPARK_GRAFT_CANARY_GATE", "0.55"))
    gate_log: dict[str, dict] = {}

    def _canary_once() -> float:
        t0 = time.perf_counter()
        spark.range(2_000_000_000).select(F.sum(F.col("id") % 7)).collect()
        return time.perf_counter() - t0

    def timed(name: str, fn, tdict):
        samples: list[tuple[float, float, float, bool]] = []
        out = None
        max_tries = repeats + 3  # a dirty window earns a retry, not a loop
        for _ in range(max_tries):
            cb = _canary_once() if gated else 0.0
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            ca = _canary_once() if gated else 0.0
            clean = (not gated) or max(cb, ca) < gate_s
            samples.append((dt, cb, ca, clean))
            n_clean = sum(1 for s in samples if s[3])
            # long stages amortize noise; don't pay 3x a 30s stage
            target = 1 if dt > 15 else (2 if dt > 5 else repeats)
            if n_clean >= target:
                break
        clean_times = [s[0] for s in samples if s[3]]
        best = min(clean_times) if clean_times else min(s[0] for s in samples)
        tdict[name] = round(best, 3)
        if gated:
            gate_log[name] = {
                "samples": [[round(v, 3) for v in s[:3]] for s in samples],
                "clean": bool(clean_times),
            }
        return out

    # shared fixtures: 500 multipolygon municipalities with detailed
    # 513-vertex boundaries (realistic N03 coastline cost), 500 facilities
    polys = fx.admin_polygons(500, subdiv=128)
    fac = fx.facilities(500, polys)

    def spatial_stages(pts, n_points: int, amplify: int, tdict: dict, xdict: dict):
        """The three flagship spatial stages over a cached point set."""
        # --- PIP: flagship ray-casting count-per-municipality (broadcast
        # index, aggregate pushdown: only lon/lat cross the Arrow boundary)
        n_assigned = timed(
            "pip_join",
            lambda: sj.pip_count_broadcast(
                pts, polys, "全国地方公共団体コード", out_col="muni",
                settled_cells=SETTLED_CELLS,
            )
            .agg(F.sum("n_points"))
            .collect()[0][0],
            tdict,
        )
        xdict["pip_rows_per_sec"] = round(n_points / tdict["pip_join"], 1)
        if not spatial_only:
            # row-annotating form (per-row assignments shipped back through
            # Arrow — the shape row-level consumers pay for)
            timed(
                "pip_join_rows",
                lambda: sj.pip_join_broadcast(
                    pts, polys, "全国地方公共団体コード", out_col="muni",
                    settled_cells=SETTLED_CELLS,
                )
                .groupBy("muni")
                .count()
                .agg(F.sum("count"))
                .collect()[0][0],
                tdict,
            )
            xdict["pip_rows_annotate_per_sec"] = round(n_points / tdict["pip_join_rows"], 1)

        # --- tiles: assignment + render manifest + rollup; pure JVM
        # codegen, fed 8x the points (JVM-side explode, no Python)
        tile_pts = pts.withColumn(
            "rep2", F.explode(F.array(*[F.lit(i) for i in range(8)]))
        ).withColumn("phash", F.col("point_id") * 8 + F.col("rep2"))

        def tiles_fn():
            assigned = tile_ops.tile_assign(tile_pts, z=10)
            man = assigned.groupBy("tile_z", "tile_x", "tile_y").agg(F.count("*").alias("n_rows"))
            roll = tile_ops.tile_rollup(assigned, 6, 10)
            return man.count() + roll.count()

        n_tiles = timed("tile_assign", tiles_fn, tdict)
        xdict["tile_rows_per_sec"] = round(n_points * 8 / tdict["tile_assign"], 1)
        xdict["tiles_per_sec"] = round(n_tiles / tdict["tile_assign"], 1)

        # --- kNN: exact, queries = n_points/4 regardless of amplify
        knn_frac = max(1, amplify // 4)
        ev_pts = pts.filter((F.col("point_id") % amplify) < knn_frac).withColumnRenamed(
            "point_id", "event_id"
        )
        n_knn = ev_pts.count()
        timed(
            "knn_join",
            lambda: knn_ops.knn_join_broadcast(
                ev_pts, fac, k=5, query_id_col="event_id", res=5, as_arrays=True
            ).count(),
            tdict,
        )
        xdict["knn_queries_per_sec"] = round(n_knn / tdict["knn_join"], 1)
        return int(n_assigned)

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    # host canary: pure-JVM codegen sum, ZERO engine code — calibrates the
    # host-noise window so cross-round comparisons can normalize for
    # hypervisor steal (this host varied ~2x between windows in round 3;
    # a slow canary means the whole file's numbers are steal-depressed)
    canary = None
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(2_000_000_000).select(F.sum(F.col("id") % 7)).collect()
        dt = time.perf_counter() - t0
        canary = dt if canary is None else min(canary, dt)
    extras["canary_jvm_sum_sec"] = round(canary, 3)

    pts = amplified_points(spark, sf_dir, AMPLIFY).cache()
    n_points = pts.count()
    # warm the Python worker pool (imports, Arrow runners) so stage timings
    # measure steady-state throughput, not one-time worker forks — the cold
    # cost would otherwise scale WITH core count and bias the efficiency
    pts.mapInPandas(lambda it: it, pts.schema).count()
    n_assigned = spatial_stages(pts, n_points, AMPLIFY, timings, extras)

    if not spatial_only:
        # round 6: smoothed grid density (pure JVM — the only pass over
        # the points is the map-side-combined cell histogram; the 4-2-1
        # stencil explodes the AGGREGATED cells) and per-group convex
        # hulls (Arrow per-batch running partial hulls; raw points never
        # shuffle — the only exchange carries candidate vertices)
        from jpspark.geom import hull as hull_ops
        from jpspark.ops import density as density_ops

        n_cells = timed(
            "grid_density",
            lambda: density_ops.grid_density(
                pts, "lon", "lat", x0=122.0, y0=20.0, cell=0.125, radius=1
            ).count(),
            timings,
        )
        extras["density_rows_per_sec"] = round(n_points / timings["grid_density"], 1)
        extras["density_cells"] = int(n_cells)

        hull_pts = pts.withColumn("g", F.col("point_id") % 500)

        def hull_fn():
            r = hull_ops.group_convex_hulls(
                hull_pts, "g", x_col="lon", y_col="lat"
            ).agg(F.sum("n_vertices").alias("nv"), F.count("*").alias("ng")).collect()[0]
            assert int(r.ng) == 500, r.ng
            return int(r.nv)

        timed("convex_hull", hull_fn, timings)
        extras["hull_rows_per_sec"] = round(n_points / timings["convex_hull"], 1)

    def _gate_summary():
        if not gated:
            return None
        return {
            "threshold_sec": gate_s,
            "all_clean": all(v["clean"] for v in gate_log.values()),
            "dirty_stages": sorted(k for k, v in gate_log.items() if not v["clean"]),
            "per_stage": gate_log,
        }

    if spatial_only:
        pts.unpersist()
        total = round(sum(timings.values()), 3)
        result = {
            "metric": "spatial_stages_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]),
            "n_points": n_points,
            "n_assigned": n_assigned,
            "master": master or f"local[{cpus}]",
            **extras,
        }
        gs = _gate_summary()
        if gs is not None:
            result["canary_gate"] = gs
        spark.stop()
        return result

    # --- dissolve 500 multipolygon municipalities -> prefectures
    polys_sdf = spark.createDataFrame(polys[["都道府県名", "geom"]])
    timed("dissolve", lambda: dis.dissolve(polys_sdf, ["都道府県名"]).count(), timings)

    # --- image decode: Arrow-batched binary-kernel throughput over the
    # payload table (real codecs; the input_hint hot path)
    # x128 replication (64k images, ~250 MB of pixels): large enough that
    # the stage measures Arrow transfer + decode, not per-task fixed costs
    imgs = fx.images(500, polys)
    img_sdf = spark.createDataFrame(imgs[["image_id", "bytes", "fmt"]])
    rep_img = spark.range(128).select(F.col("id").alias("rp"))
    img_big = (
        img_sdf.crossJoin(rep_img)
        .withColumn("image_id", F.concat_ws("_", "image_id", F.col("rp").cast("string")))
        .drop("rp")
        .repartition(cpus * 4)
        .cache()
    )
    n_imgs = img_big.count()
    timed("image_decode", lambda: mm.decode_stats(img_big).agg(F.sum("w")).collect(), timings)
    extras["decode_imgs_per_sec"] = round(n_imgs / timings["image_decode"], 1)

    # round 6: the thumbnail path — decode -> 8x8 area-mean resize ->
    # re-encode raw -> exact channel sums (two chained Arrow kernels; the
    # multimodal curation hot loop at 10^12 images)
    timed(
        "image_resize",
        lambda: mm.channel_sums(mm.resize_images(img_big, 8, 8, "raw"))
        .agg(F.sum("r_sum"))
        .collect(),
        timings,
    )
    extras["resize_imgs_per_sec"] = round(n_imgs / timings["image_resize"], 1)
    img_big.unpersist()

    # --- MVT encode: the vector-tile sink over the full point set at a
    # zoom where tiles are plentiful (z=10 -> ~7k tiles over the region),
    # measuring the per-tile protobuf serialization throughput
    from jpspark.ops import export as export_ops

    def mvt_fn():
        r = (
            export_ops.mvt_tiles_points(pts, z=10, id_col="point_id")
            .agg(F.sum("n_features").alias("nf"), F.count("*").alias("nt"))
            .collect()[0]
        )
        return int(r.nf), int(r.nt)

    n_feat, n_tiles_mvt = timed("mvt_encode", mvt_fn, timings)
    extras["mvt_features_per_sec"] = round(n_feat / timings["mvt_encode"], 1)
    extras["mvt_tiles_per_sec"] = round(n_tiles_mvt / timings["mvt_encode"], 1)

    # --- signature kernels: the dedup stage's CPU bill at 10^12 docs.
    # Amplified documents (x128) through the batch-vectorized MinHash /
    # SimHash signature UDFs — tracks the round-3 hashing vectorization
    # (per-word blake2b -> column-parallel FNV over a byte matrix)
    from jpspark.ops import dedup as dedup_ops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    rep_d = spark.range(128).select(F.col("id").alias("rp"))
    docs_big = (
        docs.crossJoin(rep_d)
        .select((F.col("doc_id") * 128 + F.col("rp")).alias("doc_id"), "text")
        .repartition(cpus * 4)
        .cache()
    )
    n_docs = docs_big.count()
    timed(
        "minhash_signatures",
        lambda: dedup_ops.minhash_signatures(docs_big, k=64)
        .agg(F.sum(F.pmod(F.element_at("sig", 1), F.lit(1_000_000))))
        .collect(),
        timings,
    )
    extras["minhash_sig_docs_per_sec"] = round(n_docs / timings["minhash_signatures"], 1)
    timed(
        "simhash_signatures",
        lambda: dedup_ops.simhash64(docs_big)
        .agg(F.sum(F.pmod(F.col("simhash"), F.lit(1_000_000))))
        .collect(),
        timings,
    )
    extras["simhash_docs_per_sec"] = round(n_docs / timings["simhash_signatures"], 1)
    # round 4: chunk-frequency dedup machinery at amplified scale (the
    # x128 replicas make every chunk a corpus duplicate — worst case for
    # the frequency join: all chunks survive the explode+groupBy+join
    # and are then dropped)
    from jpspark.ops import dedup as dd

    def chunk_dedup_fn():
        cl = dd.chunk_documents(docs_big, width=10)  # the shipped operator's chunking
        freq = cl.groupBy("chunk").agg(F.count("*").alias("cnt"))
        return cl.join(freq, "chunk").filter(F.col("cnt") < 2).count()

    timed("chunk_dedup", chunk_dedup_fn, timings)
    extras["chunk_docs_per_sec"] = round(n_docs / timings["chunk_dedup"], 1)

    # round 6: exact substring dedup over a replicated corpus — the
    # adversarial shape: EVERY 5-gram is a corpus duplicate, so every
    # position anchors, the span merge sees maximal overlap chains, and
    # whole documents excise to empty. dup_words == n_words for every
    # doc with >= 5 words, asserted. Replication targets ~128k docs (the
    # full x128 corpus at sf0.1 is 640k docs and made this one stage 53s
    # — the dedup_big_block lesson: bound bench stages for
    # round-over-round comparability, scale evidence lives in the rate).
    sub_rep = min(128, max(4, 128_000 // max(n_docs // 128, 1)))
    docs_sub = (
        docs.crossJoin(spark.range(sub_rep).select(F.col("id").alias("rp")))
        .select((F.col("doc_id") * sub_rep + F.col("rp")).alias("doc_id"), "text")
        .repartition(cpus * 4)
    )
    n_sub = (n_docs // 128) * sub_rep

    def substr_fn():
        r = (
            dd.strip_duplicated_substrings(docs_sub, k=5)
            .agg(
                F.sum("dup_words").alias("dw"),
                F.sum(F.when(F.col("n_words") >= 5, F.col("n_words")).otherwise(F.lit(0))).alias("nw"),
            )
            .collect()[0]
        )
        assert int(r.dw) == int(r.nw), (r.dw, r.nw)
        return int(r.dw)

    timed("substring_dedup", substr_fn, timings)
    extras["substr_docs_per_sec"] = round(n_sub / timings["substring_dedup"], 1)
    extras["substr_docs"] = n_sub
    docs_big.unpersist()

    # round 4: connected components on a 2M-node near-dup-shaped graph
    # (200k star clusters of 10 — the shape LSH-verified pair sets
    # actually have: mutually-similar members all pair with the cluster
    # min, so propagation converges in ~3 rounds).
    def cc_fn():
        stars = spark.range(2_000_000).select(
            F.col("id").alias("id_a"), (F.col("id") - F.pmod(F.col("id"), F.lit(10))).alias("id_b")
        ).filter(F.col("id_a") != F.col("id_b"))
        cc = dd.connected_components(stars, max_rounds=30)
        return cc.agg(F.countDistinct("component")).collect()

    timed("connected_components", cc_fn, timings)
    extras["cc_nodes_per_sec"] = round(2_000_000 / timings["connected_components"], 1)

    # round 5: the adversarial LONG-CHAIN case at real bench depth —
    # 2M nodes as 15,625 disjoint 128-node paths (diameter 127, ~8
    # large-star/small-star rounds), so round COUNT x per-round cost is
    # measured, not assumed. Exercises the size-triggered lineage cut
    # that keeps Catalyst analysis time flat.
    def cc_chain_fn():
        # ids laid out path-major: edge i -> i+1 unless i ends a path
        ids = spark.range(2_000_000)
        chain = (
            ids.filter(F.pmod(F.col("id"), F.lit(128)) != 127)
            .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
        )
        cc = dd.connected_components(chain, max_rounds=30)
        out = cc.agg(F.countDistinct("component").alias("n")).collect()
        assert out[0][0] == 15_625, out
        return out

    timed("cc_chain_d127", cc_chain_fn, timings)
    extras["cc_chain_nodes_per_sec"] = round(2_000_000 / timings["cc_chain_d127"], 1)

    # round 6: END-TO-END dedup at amplified corpus scale (documents are
    # 500 rows at sf<=0.01 and 5,000 at sf0.1, so the per-stage numbers
    # above never exercised the full pipeline's joins at volume).
    # The amplification targets a ~64k-doc corpus at every sf (amp =
    # 64000/n_docs rounded down to a multiple of 4) so the driver bench
    # stays comparable round-over-round and bounded in wall-clock — the
    # 640k-doc variant at sf0.1 measured 2.2k docs/s but single-handedly
    # tripled the bench (295s of 397s). Replica rp carries variant
    # v = rp//4, and each variant prepends 160 variant-specific tokens,
    # so every (doc, v) group holds 4 EXACT replicas (Jaccard 1.0) while
    # cross-variant pairs of the same doc sit at ~0.12-0.23 shingle
    # Jaccard (shared text grams G vs G+320 union; max doc is 100 words)
    # — below the bands=16/rows=4 LSH floor (~0.5), so they produce only
    # the band-collision tail (~j^4 per band), not an amp-clique
    # explosion. Verify still sees every candidate (est floor 0) and must
    # cut the tail at 0.8; CC + canonical keep must recover exactly
    # n_corpus/4 four-doc clusters.
    n_docs_base = docs.count()
    dedup_amp = max(4, (64_000 // n_docs_base) // 4 * 4)
    rep_v = spark.range(dedup_amp).select(F.col("id").alias("rp"))

    def dedup_big_fn():
        var_words = F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(160)),
                lambda i: F.concat(
                    F.lit("v"),
                    F.floor(F.col("doc_id") / F.lit(4)).cast("string"),
                    F.lit("w"),
                    i.cast("string"),
                ),
            ),
        )
        # persist the amplified corpus: both the signature scan and the
        # shingle-verify scan consume it, and the 160-token variant
        # prefix is expensive to regenerate (the unpersisted form spent
        # ~40% of the block re-running concat_ws(transform(...)))
        dv = (
            docs.crossJoin(rep_v)
            .select((F.col("doc_id") * dedup_amp + F.col("rp")).alias("doc_id"), "text")
            .withColumn("text", F.concat_ws(" ", var_words, F.col("text")))
            .repartition(cpus * 4)
            .persist()
        )
        dv.count()
        sigs = dedup_ops.minhash_signatures(dv, k=64).persist()
        sigs.count()
        cand = dedup_ops.minhash_lsh_pairs(sigs, bands=16, rows_per_band=4, min_jaccard_est=0.0)
        # persist the verified edge set: the count below materializes it
        # and CC's first round then reads it from the cache
        edges = (
            dedup_ops.ngram_jaccard_pairs(dv, cand.select("id_a", "id_b"), min_jaccard=0.8)
            .select("id_a", "id_b")
            .persist()
        )
        edges.count()
        comp = dedup_ops.connected_components(edges, max_rounds=30)
        # canonical keep: min id wins inside each component; docs with no
        # near-dup edge keep themselves
        r = comp.agg(
            F.countDistinct("component").alias("nc"), F.count("*").alias("nn")
        ).collect()[0]
        edges.unpersist()
        sigs.unpersist()
        dv.unpersist()
        return int(r.nc), int(r.nn)

    n_corpus = n_docs_base * dedup_amp
    n_clusters, n_clustered_docs = timed("dedup_big_block", dedup_big_fn, timings)
    assert n_clusters * 4 == n_corpus, (n_clusters, n_corpus)
    assert n_clustered_docs == n_corpus, (n_clustered_docs, n_corpus)
    extras["dedup_e2e_docs_per_sec"] = round(n_corpus / timings["dedup_big_block"], 1)
    extras["dedup_e2e_docs"] = n_corpus
    extras["dedup_e2e_clusters"] = n_clusters

    # --- relational + training-data headliners from the registry
    # (minhash_verified_pairs = the full dedup pipeline: signatures ->
    # banded LSH candidates -> exact shingle-Jaccard verify; replaces the
    # former minhash_lsh_pairs headline, which round 3 turned into a
    # correctness audit rather than a pipeline stage)
    for name in ("pricing_summary", "fk_broadcast_join", "minhash_verified_pairs", "ann_topk", "asof_join"):
        q = QUERIES[name]
        timed(name, lambda q=q: q(spark, sf_dir).count(), timings)

    pts.unpersist()

    # --- big spatial block (BENCH/BASELINE.md configuration) for
    # round-over-round comparability at both scales
    big = None
    if BIG_AMPLIFY > AMPLIFY:
        big_t: dict[str, float] = {}
        big_x: dict[str, float] = {}
        pts_b = amplified_points(spark, sf_dir, BIG_AMPLIFY).cache()
        n_b = pts_b.count()
        pts_b.mapInPandas(lambda it: it, pts_b.schema).count()
        spatial_stages(pts_b, n_b, BIG_AMPLIFY, big_t, big_x)
        pts_b.unpersist()
        big = {"amplify": BIG_AMPLIFY, "n_points": n_b, "queries": big_t, **big_x}

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]),
        "n_points": n_points,
        "n_assigned": n_assigned,
        "master": master or f"local[{cpus}]",
        **extras,
    }
    if big is not None:
        result["big_block"] = big
    gs = _gate_summary()
    if gs is not None:
        result["canary_gate"] = gs
    spark.stop()
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", default=None)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    if args.master and args.master.startswith("local[") and args.master[6:-1].isdigit():
        cpus = int(args.master[6:-1])
    result = run_bench(args.master, args.sf_dir, cpus)
    line = json.dumps(result)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
