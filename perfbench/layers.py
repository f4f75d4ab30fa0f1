"""Per-layer metrics of a traced run: span self times plus the event log
split per span by job group.

Every name in PER_LAYER is reported for every workload; a layer the
workload never entered reads 0.
"""

from __future__ import annotations

from collections import defaultdict

from eventlog import GroupTotals, rollup_by_job_group
from harness import group_id, median

# calls the benchmark makes into jpspark, by module path
CALLS = [
    "ops.ingest.read_archives",
    "ops.ingest.extract_archives",
    "ops.ingest.shapefile_scan",
    "ops.mapping.apply_field_mapping",
    "ops.union.union_by_name",
    "manifest.write_checkpointed",
    "catalog.build_metadata_from_df",
    "catalog.Catalog.upsert",
    "manifest.scan",
    "ops.spatial_join.pip_count_broadcast",
    "ops.knn.knn_join_broadcast",
    "ops.tiles.tile_assign",
    "ops.tiles.tile_rollup",
    "ops.dissolve.dissolve",
    "manifest.scan_bbox",
    "ops.dedup.minhash_signatures",
    "ops.dedup.minhash_lsh_pairs",
    "ops.dedup.ngram_jaccard_pairs",
    "ops.dedup.connected_components",
    "ops.multimodal.decode_stats",
    "ops.multimodal.resize_images",
    "ops.multimodal.channel_sums",
    "ops.graph.shortest_paths",
]
# calls that can run Spark jobs or driver work before they return, so
# call_s (time until return) differs from self_s (until materialized)
EAGER_CALLS = [
    "ops.ingest.read_archives",
    "ops.ingest.shapefile_scan",
    "manifest.write_checkpointed",
    "manifest.scan",
    "manifest.scan_bbox",
    "ops.spatial_join.pip_count_broadcast",
    "ops.knn.knn_join_broadcast",
    "ops.dedup.connected_components",
    "ops.graph.shortest_paths",
]
OPS = [
    "load", "resume", "scan",
    "pip", "knn", "tiles", "dissolve", "bbox",
    "dedup", "image",
    "cc_chain", "cc_star", "sssp",
]
OP_FIELDS = [
    ("executor_cpu_s", "s"),
    ("python_s", "s"),
    ("python_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("jobs", "count"),
    ("sched_residue_s", "s"),
]
COUNTS = [
    ("ingest.archive_read_ratio", "ratio"),
    ("manifest.partitions_written", "count"),
    ("manifest.partitions_skipped", "count"),
    ("manifest.scan.files_read_ratio", "ratio"),
    ("manifest.scan_bbox.files_read_ratio", "ratio"),
    ("manifest.stored_bytes_ratio", "ratio"),
    ("dedup.lsh_candidates", "count"),
    ("dedup.verified_per_candidate", "ratio"),
    ("cc.jobs_per_call", "count"),
]
RUN_FIELDS = [
    ("job.gc_s", "s"),
    ("job.input_bytes", "bytes"),
    ("job.uncovered_s", "s"),
    ("trace.job_s.p50", "s"),
    ("host.canary_s.before", "s"),
    ("host.canary_s.after", "s"),
    ("setup.launch_s", "s"),
    ("setup.inputs_s", "s"),
    ("setup.warmup_s", "s"),
]


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    out = [(f"{c}.self_s", "s") for c in CALLS]
    out += [(f"{c}.call_s", "s") for c in EAGER_CALLS]
    out += [(f"{op}.{f}", u) for op in OPS for f, u in OP_FIELDS]
    return out + COUNTS + RUN_FIELDS


def _self_s(spans: list[dict]) -> dict[int, float]:
    covered: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - covered[s["id"]] for s in spans}


def per_layer_metrics(spans, log_path, cores, counts, archive_bytes, rec):
    """Returns ({name: (value, unit)} for every per_layer_names() entry,
    detail for the run record)."""
    groups = rollup_by_job_group(log_path)
    self_s = _self_s(spans)
    by_id = {s["id"]: s for s in spans}

    def totals(s: dict) -> GroupTotals:
        return groups.get(group_id(s["id"]), GroupTotals())

    def op_of(s: dict) -> dict:
        while s is not None and s["kind"] != "op":
            s = by_id.get(s["parent"])
        return s

    n_jobs = 1 + max((s["job"] for s in spans), default=-1)
    per_job: list[dict[str, float]] = [defaultdict(float) for _ in range(n_jobs)]
    op_tot: list[dict[str, GroupTotals]] = [defaultdict(GroupTotals) for _ in range(n_jobs)]
    cc_calls = cc_jobs = 0
    for s in spans:
        j = per_job[s["job"]]
        if s["kind"] == "job":
            j["job.wall_s"] += s["end"] - s["start"]
            j["job.uncovered_s"] += self_s[s["id"]]
            continue
        t = totals(s)
        j["job.gc_s"] += t.gc_s
        j["job.input_bytes"] += t.input_bytes
        op = op_of(s)
        op_tot[s["job"]][op["name"]].add(t)
        if s["kind"] == "op":
            j[f"{s['name']}.wall_s"] += s["end"] - s["start"]
            continue
        j[f"{s['name']}.self_s"] += self_s[s["id"]]
        j[f"{s['name']}.call_s"] += s["call_end"] - s["start"]
        if s["rows"] is not None:
            j[f"{s['name']}.rows"] += s["rows"]
        if s["name"].startswith("ops.ingest.") and op["name"] == "load":
            j["ingest.input_bytes"] += t.input_bytes
        if s["name"] == "ops.dedup.connected_components":
            cc_calls += 1
            cc_jobs += t.jobs
    for j, ot in zip(per_job, op_tot):
        for op, t in ot.items():
            j[f"{op}.executor_cpu_s"] = t.executor_cpu_s
            j[f"{op}.python_s"] = t.python_s
            j[f"{op}.python_bytes"] = t.python_bytes
            j[f"{op}.shuffle_write_bytes"] = t.shuffle_write_bytes
            j[f"{op}.jobs"] = t.jobs
            j[f"{op}.sched_residue_s"] = j[f"{op}.wall_s"] - t.executor_run_s / cores
        if archive_bytes:
            j["ingest.archive_read_ratio"] = j["ingest.input_bytes"] / archive_bytes
        lsh = j.get("ops.dedup.minhash_lsh_pairs.rows", 0)
        j["dedup.lsh_candidates"] = lsh
        if lsh:
            j["dedup.verified_per_candidate"] = j.get("ops.dedup.ngram_jaccard_pairs.rows", 0) / lsh

    def med(key: str) -> float:
        return median([j.get(key, 0.0) for j in per_job]) if per_job else 0.0

    run_values = {
        "trace.job_s.p50": med("job.wall_s"),
        "host.canary_s.before": rec["host.canary_s"]["before"],
        "host.canary_s.after": rec["host.canary_s"]["after"],
        "setup.launch_s": rec["setup"]["launch_s"],
        "setup.inputs_s": median(rec["setup"]["reps_s"]),
        "setup.warmup_s": rec["setup"]["warmup_s"],
        "cc.jobs_per_call": cc_jobs / cc_calls if cc_calls else 0.0,
        **counts,
    }
    out = {}
    for name, unit in per_layer_names():
        out[name] = (run_values[name] if name in run_values else med(name), unit)
    detail = {
        "per_job": [dict(j) for j in per_job],
        "groups_outside_spans": vars(groups.get(None, GroupTotals())),
        "spans": spans,
    }
    return out, detail
