"""Iterative graph algorithms beyond connected components.

Single-source shortest paths by distributed Bellman-Ford relaxation —
the routing/reachability primitive over road-network or cell-adjacency
graphs. Same execution discipline as ops/dedup.py connected_components:
labels-only exchanges (node id + one double per row), one scalar to the
driver per round (the improved-node count), per-round cache
materialize-then-release, one read of the previous round per round (so
the plan grows linearly), and the size-triggered lineage cut of
``dedup._LineageCut`` (its spill dirs share the CC registry and its
release/atexit lifecycle).

At 10^12-row scale the full-relaxation form below is the WORST case
(every edge re-relaxed every round); production SSSP keeps a frontier
(only edges out of improved nodes) which this structure supports by
filtering ``cand`` on the improved set — the exchanges and convergence
logic are identical, so the small-graph-exact form is what the oracle
pins down.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _CC_CUT_PLAN_CHARS, _LineageCut

SSSP_LAST_ROUNDS: int = 0


def shortest_paths(
    edges: DataFrame,
    source: int,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str = "w",
    max_rounds: int = 200,
    cut_plan_chars: int | None = None,
) -> DataFrame:
    """Single-source shortest paths over directed weighted edges
    (non-negative weights). Returns (node, dist) for every node reachable
    from ``source`` (unreachable nodes are absent — no sentinel
    infinities ride the exchanges). Deterministic: relaxation computes
    exact min over identical float sums regardless of partitioning.

    Each round: dist LEFT JOIN edges on src -> each node's own distance
    plus a candidate (dst, dist + w) per out-edge, min per node — two
    keyed exchanges of (long, double) rows. Convergence = zero improved
    nodes, one scalar per round. Raises if ``max_rounds`` is hit before
    convergence (negative cycles are out of contract).

    ``cut_plan_chars`` sizes the lineage-cut trigger (default: the
    shared CC threshold); 0 disables cutting entirely — the escape
    hatch for small-diameter graphs on cluster sessions without a
    checkpoint dir."""
    global SSSP_LAST_ROUNDS
    cut = _LineageCut(
        edges.sparkSession,
        "shortest_paths",
        "jpspark-sssp-cut-",
        _CC_CUT_PLAN_CHARS if cut_plan_chars is None else cut_plan_chars,
    )
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(w_col).cast("double").alias("w"),
    ).persist()
    e.count()

    dist = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .filter(F.col("node") == source)
        .select("node", F.lit(0.0).alias("dist"))
        .persist()
    )
    dist.count()

    rounds = 0
    pinned = dist
    for rounds in range(1, max_rounds + 1):
        # one read of the previous round: every node's row carries its
        # own distance (as dist and _old) plus a candidate (dst, dist + w,
        # NULL) per out-edge. max(_old) recovers the previous distance
        # (NULL for a node first reached this round), so convergence is a
        # filter+count on THIS frame, with no re-join
        step = dist.join(e, dist["node"] == e["src"], "left").select(
            F.inline(F.array(
                F.struct("node", "dist", F.col("dist").alias("_old")),
                F.struct(
                    F.col("dst").alias("node"),
                    (F.col("dist") + F.col("w")).alias("dist"),
                    F.lit(None).cast("double").alias("_old"),
                ),
            ))
        )
        new = cut(
            step.filter(F.col("node").isNotNull())
            .groupBy("node")
            .agg(F.min("dist").alias("dist"), F.max("_old").alias("_old"))
        ).persist()
        improved = (
            new.filter(F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
            .count()
        )
        pinned.unpersist()
        pinned = new
        dist = new.select("node", "dist")
        if improved == 0:
            break
    else:
        e.unpersist()
        raise RuntimeError(
            f"shortest_paths did not converge in {max_rounds} rounds"
        )
    e.unpersist()
    SSSP_LAST_ROUNDS = rounds
    return dist
