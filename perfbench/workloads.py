"""The four benchmark workloads.

Each workload builds its inputs from the seed (``make_inputs``, repeated
by the set-up measurement), then exposes its job as a list of ops. Every
op ends in an output check with a closed-form expectation; the runner
counts an op whose check fails as a failed op. All calls into jpspark go
through ``tracer.call`` so a traced run names each span after the module
and function it entered.

Sizes are fixed: the seed changes the contents (point coordinates,
archive composition and order, document variant tokens, graph id
permutation), never the shape or the amount of work.
"""

from __future__ import annotations

import io
import os
import shutil
import zipfile

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from jpspark import catalog as cat
from jpspark import fixtures as fx
from jpspark import manifest as mf
from jpspark.codec import shp
from jpspark.ops import dedup as dd
from jpspark.ops import dissolve as dis
from jpspark.ops import graph as gr
from jpspark.ops import ingest, knn, mapping, union
from jpspark.ops import multimodal as mm
from jpspark.ops import spatial_join as sj
from jpspark.ops import tiles

from harness import Op, Tracer

CODE = "全国地方公共団体コード"


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Part:
    """A group of ops over inputs of their own. A workload runs the ops of
    one or more parts back to back as its job."""

    name = ""
    #: rows the part's ops consume, the base of rows_per_s
    input_rows = 0
    #: (metric name, op name) of the op timings the run reports
    op_metrics: tuple[tuple[str, str], ...] = ()
    archive_bytes = 0

    def __init__(self, spark, workdir: str, seed: int, cores: int):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.cores = cores
        self._cached: list = []

    def input_size(self) -> str:
        raise NotImplementedError

    def make_inputs(self) -> None:
        raise NotImplementedError

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def counts(self) -> dict[str, float]:
        """Layer counts the job recorded (reported by the traced run)."""
        return {}

    def cache(self, df):
        df = df.persist()
        df.count()
        self._cached.append(df)
        return df

    def drop_inputs(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()
        shutil.rmtree(os.path.join(self.workdir, self.name), ignore_errors=True)


# ---------------------------------------------------------------- load

N03 = mapping.ShapefileMapping(
    "n03_city",
    ["N03-YY_PP.shp"],
    field_mappings=[
        ("都道府県名", "N03_001"),
        ("市区町村名", "N03_004"),
        (CODE, "N03_007"),
        ("geom", "geom"),
    ],
)


class Load(Part):
    """The write path: nested-ZIP shapefile archives -> extract -> scan
    -> map + union -> checkpointed load -> catalog; then the idempotent
    re-run and a pruned read-back."""

    name = "load"
    op_metrics = (("load_s.p50", "load"), ("resume_s.p50", "resume"))
    N_ARCHIVES = 47
    PER_ARCHIVE = 8
    N_LEGACY = 23  # archives written with the older field set (no N03_004)
    SUBDIV = 32
    N_PARTS = 8
    input_rows = N_ARCHIVES * PER_ARCHIVE

    def __init__(self, *a):
        super().__init__(*a)
        self.polys = fx.admin_polygons(self.input_rows, subdiv=self.SUBDIV)
        codes = sorted(self.polys[CODE])
        self.scan_below = codes[self.input_rows // 4]
        self.report: dict = {}

    def input_size(self) -> str:
        return (
            f"{self.N_ARCHIVES} nested ZIPs x {self.PER_ARCHIVE} polygons "
            f"({self.input_rows} features, {self.archive_bytes} archive bytes)"
        )

    def make_inputs(self) -> None:
        root = os.path.join(self.workdir, self.name)
        self.src = {k: os.path.join(root, "src", k) for k in ("current", "legacy")}
        for d in self.src.values():
            os.makedirs(d)
        self.table = os.path.join(root, "n03_city")
        self.catalog_dir = os.path.join(root, "catalog")
        rng = np.random.default_rng(self.seed)
        owner = rng.permutation(self.input_rows)
        legacy = set(rng.choice(self.N_ARCHIVES, self.N_LEGACY, replace=False).tolist())
        rank = rng.permutation(self.N_ARCHIVES)
        total = 0
        for a in range(self.N_ARCHIVES):
            chunk = self.polys.iloc[owner[a * self.PER_ARCHIVE:(a + 1) * self.PER_ARCHIVE]]
            attrs = pd.DataFrame(
                {
                    "N03_001": chunk["都道府県名"].tolist(),
                    "N03_004": chunk["市区町村名"].tolist(),
                    "N03_007": chunk[CODE].tolist(),
                }
            )
            if a in legacy:
                attrs = attrs.drop(columns=["N03_004"])
            stem = f"N03-23_{a + 1:02d}"
            inner = io.BytesIO()
            with zipfile.ZipFile(inner, "w", zipfile.ZIP_DEFLATED) as zf:
                zf.writestr(f"{stem}.shp", shp.write_shp(list(chunk["geom"])))
                zf.writestr(f"{stem}.dbf", shp.write_dbf(attrs, encoding="cp932"))
                zf.writestr(f"{stem}.cpg", b"CP932")
                zf.writestr(f"{stem}.xml", b"<metadata/>")
            outer = io.BytesIO()
            with zipfile.ZipFile(outer, "w", zipfile.ZIP_DEFLATED) as zf:
                zf.writestr(f"{stem}_GML.zip", inner.getvalue())
                zf.writestr("KS-META.txt", "国土数値情報".encode("cp932"))
            kind = "legacy" if a in legacy else "current"
            path = os.path.join(self.src[kind], f"{rank[a]:02d}-{stem}.zip")
            with open(path, "wb") as f:
                f.write(outer.getvalue())
            total += len(outer.getvalue())
        self.archive_bytes = total

    def _load(self, t: Tracer) -> dict:
        layers = []
        for kind in ("current", "legacy"):
            # one download slot per core (the reference queue has 15)
            arch = t.call(
                "ops.ingest.read_archives", ingest.read_archives,
                self.spark, os.path.join(self.src[kind], "*.zip"), n_slots=self.cores,
            )
            members = t.call("ops.ingest.extract_archives", ingest.extract_archives, arch, N03)
            scanned = t.call("ops.ingest.shapefile_scan", ingest.shapefile_scan, members)
            layers.append(
                t.call("ops.mapping.apply_field_mapping", mapping.apply_field_mapping, scanned, N03)
            )
        layer = t.call("ops.union.union_by_name", union.union_by_name, layers)
        # range-partitioned on the code, so part files carry tight code
        # bounds and the read-back below can skip files
        man = t.call(
            "manifest.write_checkpointed", mf.write_checkpointed,
            layer.repartitionByRange(self.N_PARTS, CODE), self.table, lineage="zip->shp->map->union",
        )
        meta = t.call(
            "catalog.build_metadata_from_df", cat.build_metadata_from_df,
            layer, N03.identifier, "行政区域（市区町村）",
            attribute_meta={CODE: {"desc": "行政区域コード（JIS X 0402）"}},
        )
        catalog = cat.Catalog(self.catalog_dir)
        t.call("catalog.Catalog.upsert", catalog.upsert, meta)
        fks = [c["name"] for c in catalog.get(N03.identifier)["columns"] if c["foreign_key"]]
        self.report["fk_ok"] = fks == [CODE]
        return man

    def _fresh(self, t: Tracer) -> bool:
        shutil.rmtree(self.table, ignore_errors=True)
        shutil.rmtree(self.catalog_dir, ignore_errors=True)
        man = self._load(t)
        parts = man["partitions"].values()
        self.report["written"] = sum(not p["skipped_on_last_run"] for p in parts)
        return (
            man["total_rows"] == self.input_rows
            and self.report["written"] == len(parts) > 0
            and self.report["fk_ok"]
        )

    def _resume(self, t: Tracer) -> bool:
        man = self._load(t)
        parts = man["partitions"].values()
        self.report["skipped"] = sum(p["skipped_on_last_run"] for p in parts)
        self.report["stored_bytes"] = _dir_bytes(self.table)
        return (
            man["total_rows"] == self.input_rows
            and self.report["skipped"] == len(parts)
            and self.report["fk_ok"]
        )

    def _scan(self, t: Tracer) -> bool:
        df, rep = t.call(
            "manifest.scan", mf.scan, self.spark, self.table, [(CODE, "<", self.scan_below)]
        )
        self.report["files_read_ratio"] = rep["files_read"] / rep["files_total"]
        return df.count() == self.input_rows // 4

    def ops(self) -> list[Op]:
        return [Op("load", self._fresh), Op("resume", self._resume), Op("scan", self._scan)]

    def counts(self) -> dict[str, float]:
        return {
            "manifest.partitions_written": self.report.get("written", 0),
            "manifest.partitions_skipped": self.report.get("skipped", 0),
            "manifest.scan.files_read_ratio": self.report.get("files_read_ratio", 0),
            "manifest.stored_bytes_ratio": self.report.get("stored_bytes", 0) / self.archive_bytes,
        }


# ---------------------------------------------------------------- spatial

class Spatial(Part):
    """The read path over a cached point set: PIP count, kNN, tiles,
    dissolve, and a bbox window read through the clustered table."""

    name = "spatial"
    op_metrics = (("pip_s.p50", "pip"), ("knn_s.p50", "knn"))
    N_POINTS = 100_000
    N_POLYS = 500
    SUBDIV = 32
    RES = 6
    WINDOW = (135.0, 33.0, 141.0, 37.0)
    input_rows = N_POINTS

    def __init__(self, *a):
        super().__init__(*a)
        self.polys = fx.admin_polygons(self.N_POLYS, subdiv=self.SUBDIV)
        self.fac = fx.facilities(self.N_POLYS, self.polys)
        lon0, lat0, lon1, lat1 = fx.BBOX
        self.bbox_area = (lon1 - lon0) * (lat1 - lat0)
        self.n_queries = (self.N_POINTS + 3) // 4
        self.report: dict = {}

    def input_size(self) -> str:
        return (
            f"{self.N_POINTS} points, {self.N_POLYS} polygons (subdiv {self.SUBDIV}), "
            f"{self.n_queries} kNN queries"
        )

    def make_inputs(self) -> None:
        lon0, lat0, lon1, lat1 = fx.BBOX
        pts = self.spark.range(self.N_POINTS, numPartitions=self.cores).select(
            F.col("id").alias("point_id"),
            (F.lit(lon0) + F.lit(lon1 - lon0) * F.rand(self.seed)).alias("lon"),
            (F.lit(lat0) + F.lit(lat1 - lat0) * F.rand(self.seed + 1)).alias("lat"),
            F.xxhash64("id", F.lit(self.seed)).alias("phash"),
        )
        self.pts = self.cache(pts)
        self.table = os.path.join(self.workdir, self.name, "points")
        mf.write_clustered_by_cell(self.pts, self.table, res=self.RES, num_partitions=self.cores)
        xmin, ymin, xmax, ymax = self.WINDOW
        self.in_window = self.pts.filter(
            (F.col("lon") >= xmin) & (F.col("lon") < xmax)
            & (F.col("lat") >= ymin) & (F.col("lat") < ymax)
        ).count()
        self.queries = self.cache(self.pts.filter(F.col("point_id") % 4 == 0))
        self.polys_sdf = self.cache(self.spark.createDataFrame(self.polys[["都道府県名", "geom"]]))

    def _pip(self, t: Tracer) -> bool:
        counts = t.call(
            "ops.spatial_join.pip_count_broadcast", sj.pip_count_broadcast,
            self.pts, self.polys, CODE, out_col="muni",
        )
        return counts.agg(F.sum("n_points")).collect()[0][0] == self.N_POINTS

    def _knn(self, t: Tracer) -> bool:
        nn = t.call(
            "ops.knn.knn_join_broadcast", knn.knn_join_broadcast,
            self.queries, self.fac, k=5, query_id_col="point_id",
        )
        return nn.count() == self.n_queries * 5

    def _tiles(self, t: Tracer) -> bool:
        assigned = t.call("ops.tiles.tile_assign", tiles.tile_assign, self.pts, z=10)
        roll = t.call("ops.tiles.tile_rollup", tiles.tile_rollup, assigned, 6, 10)
        return roll.agg(F.sum("n_images")).collect()[0][0] == self.N_POINTS

    def _dissolve(self, t: Tracer) -> bool:
        out = t.call("ops.dissolve.dissolve", dis.dissolve, self.polys_sdf, ["都道府県名"])
        area = out.agg(F.sum("area")).collect()[0][0]
        return abs(area - self.bbox_area) <= 1e-9 * self.bbox_area

    def _bbox(self, t: Tracer) -> bool:
        df, rep = t.call(
            "manifest.scan_bbox", mf.scan_bbox, self.spark, self.table, *self.WINDOW, res=self.RES
        )
        self.report["files_read_ratio"] = rep["files_read"] / rep["files_total"]
        return df.count() == self.in_window

    def ops(self) -> list[Op]:
        return [
            Op("pip", self._pip), Op("knn", self._knn), Op("tiles", self._tiles),
            Op("dissolve", self._dissolve), Op("bbox", self._bbox),
        ]

    def counts(self) -> dict[str, float]:
        return {"manifest.scan_bbox.files_read_ratio": self.report.get("files_read_ratio", 0)}


# ---------------------------------------------------------------- curate

VOCAB = (
    "batch part spark line column order small sort fast value scan a hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "customer the join map reduce shard index cache plan node task stage"
).split()


class Curation(Part):
    """The training-data path: MinHash -> LSH -> n-gram verify -> CC ->
    keep over an amplified corpus with a known cluster count, and the
    image decode / resize / channel-sum kernels over replicated images."""

    name = "curation"
    op_metrics = (("dedup_s.p50", "dedup"), ("image_s.p50", "image"))
    N_BASE = 200
    AMP = 8  # replicas per base doc: AMP/4 variants x 4 exact copies
    N_IMAGES = 500
    IMG_REPS = 1
    input_rows = N_BASE * AMP + N_IMAGES * IMG_REPS

    def __init__(self, *a):
        super().__init__(*a)
        self.n_corpus = self.N_BASE * self.AMP
        self.n_img = self.N_IMAGES * self.IMG_REPS
        self.images_pdf = fx.images(self.N_IMAGES, fx.admin_polygons(50))
        self.sum_w = int(self.images_pdf["w"].sum()) * self.IMG_REPS

    def input_size(self) -> str:
        return f"{self.n_corpus} documents ({self.n_corpus // 4} 4-copy clusters), {self.n_img} images"

    def make_inputs(self) -> None:
        rng = np.random.default_rng(self.seed)
        # a fixed multiset of lengths (10..99 words), so the corpus size
        # does not depend on the seed
        lengths = rng.permutation(10 + np.arange(self.N_BASE) * 90 // self.N_BASE)
        words = rng.integers(0, len(VOCAB), int(lengths.sum()))
        ends = np.cumsum(lengths)
        texts = [
            " ".join(VOCAB[w] for w in words[e - n:e]) for e, n in zip(ends, lengths)
        ]
        base = self.spark.createDataFrame(
            pd.DataFrame({"doc_id": np.arange(self.N_BASE, dtype=np.int64), "text": texts})
        )
        # replica rp of a doc carries variant rp // 4: every (doc, variant)
        # holds 4 exact copies behind 160 variant-only tokens, so copies
        # verify at Jaccard 1.0 while cross-variant pairs stay far below
        # the 0.8 cut; the cluster count is n_corpus / 4 for every seed
        tag = F.lit(f"v{self.seed}x")
        var_words = F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(160)),
                lambda i: F.concat(
                    tag, F.floor(F.col("doc_id") / F.lit(4)).cast("string"), F.lit("w"), i.cast("string")
                ),
            ),
        )
        docs = (
            base.crossJoin(self.spark.range(self.AMP).select(F.col("id").alias("rp")))
            .select((F.col("doc_id") * self.AMP + F.col("rp")).alias("doc_id"), "text")
            .withColumn("text", F.concat_ws(" ", var_words, F.col("text")))
            .repartition(self.cores)
        )
        self.docs = self.cache(docs)
        imgs = (
            self.spark.createDataFrame(self.images_pdf[["image_id", "bytes", "fmt"]])
            .crossJoin(self.spark.range(self.IMG_REPS).select(F.col("id").alias("rp")))
            .withColumn("image_id", F.concat_ws("_", "image_id", F.col("rp").cast("string")))
            .drop("rp")
            .orderBy(F.xxhash64("image_id", F.lit(self.seed)))
            .repartition(self.cores)
        )
        self.images = self.cache(imgs)

    def _dedup(self, t: Tracer) -> bool:
        sigs = t.call("ops.dedup.minhash_signatures", dd.minhash_signatures, self.docs, k=64)
        # persisted as the minhash_lsh_pairs docstring asks: sigs feeds
        # three subtrees of its plan
        sigs = sigs.persist()
        sigs.count()
        cand = t.call(
            "ops.dedup.minhash_lsh_pairs", dd.minhash_lsh_pairs,
            sigs, bands=16, rows_per_band=4, min_jaccard_est=0.0,
        )
        verified = t.call(
            "ops.dedup.ngram_jaccard_pairs", dd.ngram_jaccard_pairs,
            self.docs, cand.select("id_a", "id_b"), min_jaccard=0.8,
        )
        edges = verified.select("id_a", "id_b").persist()
        edges.count()
        comp = t.call("ops.dedup.connected_components", dd.connected_components, edges, max_rounds=30)
        # canonical keep: the minimum id of each component survives
        kept = (
            self.docs.select("doc_id")
            .join(comp, F.col("doc_id") == F.col("node"), "left")
            .filter(F.col("component").isNull() | (F.col("component") == F.col("doc_id")))
            .count()
        )
        r = comp.agg(F.countDistinct("component").alias("nc"), F.count("*").alias("nn")).collect()[0]
        edges.unpersist()
        sigs.unpersist()
        t.call("ops.dedup.release_cc_spills", dd.release_cc_spills)
        return r.nc * 4 == self.n_corpus and r.nn == self.n_corpus and kept == r.nc

    def _image(self, t: Tracer) -> bool:
        st = t.call("ops.multimodal.decode_stats", mm.decode_stats, self.images)
        s = st.agg(F.sum("w").alias("w"), F.count("*").alias("n")).collect()[0]
        small = t.call("ops.multimodal.resize_images", mm.resize_images, self.images, 8, 8, "raw")
        cs = t.call("ops.multimodal.channel_sums", mm.channel_sums, small)
        c = cs.agg(F.sum("n_px").alias("px"), F.count("*").alias("n")).collect()[0]
        return s.w == self.sum_w and s.n == self.n_img and c.px == 64 * self.n_img and c.n == self.n_img

    def ops(self) -> list[Op]:
        return [Op("dedup", self._dedup), Op("image", self._image)]


# ---------------------------------------------------------------- graph

class Graph(Part):
    """Iterative operators: CC on deep path-major chains and on shallow
    stars, SSSP along a chain. The seed orders the id blocks, places each
    star's hub and orients the edges."""

    name = "graph"
    op_metrics = (("cc_chain_s.p50", "cc_chain"), ("cc_star_s.p50", "cc_star"))
    CHAIN_LEN = 128  # nodes per path: diameter 127
    N_CHAINS = 8
    STAR = 16  # nodes per star
    N_STARS = 128
    SSSP_LEN = 3
    input_rows = CHAIN_LEN * N_CHAINS + STAR * N_STARS + SSSP_LEN

    def input_size(self) -> str:
        return (
            f"chain {self.N_CHAINS}x{self.CHAIN_LEN} nodes, star {self.N_STARS}x{self.STAR} nodes, "
            f"SSSP chain {self.SSSP_LEN} nodes"
        )

    def _edges(self, rng, groups: int, size: int, star: bool):
        # path-major ids: group g owns the id block of a seeded rank, so
        # ids rise along each path as in bench.py's cc_chain_d127 (with a
        # fully random id order the chain needs more than 50 CC rounds)
        n = groups * size
        pos = np.arange(n)
        ids = rng.permutation(groups)[pos // size] * size + pos % size
        if star:
            hub = pos - pos % size + rng.integers(0, size, groups)[pos // size]
            leaf = pos != hub
            src, dst = ids[leaf], ids[hub[leaf]]
        else:
            link = pos % size != size - 1
            src, dst = ids[link], ids[pos[link] + 1]
        flip = rng.random(len(src)) < 0.5  # edge orientation is seeded too
        src, dst = np.where(flip, dst, src), np.where(flip, src, dst)
        mins = ids.reshape(groups, size).min(axis=1)
        df = self.spark.createDataFrame(pd.DataFrame({"id_a": src, "id_b": dst}))
        return self.cache(df.repartition(self.cores)), int(mins.sum())

    def make_inputs(self) -> None:
        rng = np.random.default_rng(self.seed)
        self.chain, self.chain_min_sum = self._edges(rng, self.N_CHAINS, self.CHAIN_LEN, star=False)
        self.star, self.star_min_sum = self._edges(rng, self.N_STARS, self.STAR, star=True)
        ids = rng.permutation(self.SSSP_LEN).astype(np.int64)
        self.sssp_source = int(ids[0])
        self.path = self.cache(
            self.spark.createDataFrame(
                pd.DataFrame({"src": ids[:-1], "dst": ids[1:], "w": np.ones(self.SSSP_LEN - 1)})
            )
        )

    def _cc(self, t: Tracer, edges, groups: int, size: int, min_sum: int) -> bool:
        comp = t.call("ops.dedup.connected_components", dd.connected_components, edges, max_rounds=50)
        r = comp.agg(
            F.countDistinct("component").alias("nc"), F.count("*").alias("nn"),
            F.sum(F.col("component") * (F.col("node") == F.col("component")).cast("long")).alias("roots"),
        ).collect()[0]
        t.call("ops.dedup.release_cc_spills", dd.release_cc_spills)
        return r.nc == groups and r.nn == groups * size and r.roots == min_sum

    def _sssp(self, t: Tracer) -> bool:
        dist = t.call("ops.graph.shortest_paths", gr.shortest_paths, self.path, self.sssp_source)
        r = dist.agg(F.count("*").alias("n"), F.sum("dist").alias("s"), F.max("dist").alias("m")).collect()[0]
        n = self.SSSP_LEN
        return r.n == n and r.s == n * (n - 1) / 2 and r.m == n - 1

    def ops(self) -> list[Op]:
        return [
            Op("cc_chain", lambda t: self._cc(t, self.chain, self.N_CHAINS, self.CHAIN_LEN, self.chain_min_sum)),
            Op("cc_star", lambda t: self._cc(t, self.star, self.N_STARS, self.STAR, self.star_min_sum)),
            Op("sssp", self._sssp),
        ]


class Workload:
    """The parts' inputs built together; their ops run as one job."""

    def __init__(self, parts: list[Part]):
        self.parts = parts
        self.input_rows = sum(p.input_rows for p in parts)
        self.op_metrics = tuple(m for p in parts for m in p.op_metrics)

    @property
    def archive_bytes(self) -> int:
        return sum(p.archive_bytes for p in self.parts)

    def input_size(self) -> str:
        return "; ".join(p.input_size() for p in self.parts)

    def make_inputs(self) -> None:
        for p in self.parts:
            p.make_inputs()

    def ops(self) -> list[Op]:
        return [op for p in self.parts for op in p.ops()]

    def counts(self) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.counts().items()}

    def drop_inputs(self) -> None:
        for p in self.parts:
            p.drop_inputs()


# Two workloads, so that every mechanism has one workload that exercises
# it and one that bypasses it: geo runs the write path (codec.shp, ingest,
# mapping, union, manifest writes, catalog) and the spatial read path;
# curate runs dedup, the image kernels and the iterative graph operators.
WORKLOADS = {"geo": (Load, Spatial), "curate": (Curation, Graph)}


def make_workload(name: str, spark, workdir: str, seed: int, cores: int) -> Workload:
    return Workload([cls(spark, workdir, seed, cores) for cls in WORKLOADS[name]])
