"""Connected components against a union-find oracle (hypothesis):
self-loops, duplicate and reversed edges, string ids, and one giant
star."""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from jpspark.ops import dedup


def _oracle(edges):
    """node -> minimum id of its component, by union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _cc(spark, edges):
    cc = dedup.connected_components(spark.createDataFrame(edges, ["id_a", "id_b"]))
    got = {r.node: r.component for r in cc.collect()}
    cc.unpersist()
    dedup.release_cc_spills()
    return got


_pairs = st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40)), min_size=1, max_size=60)


@settings(max_examples=12, deadline=None)
@given(_pairs, st.lists(st.integers(0, 59), max_size=10), st.booleans())
# an isolated self-loop, a duplicate, a reversed twin; string ids order
# "v10" before "v2"
@example([(3, 3), (1, 2), (1, 2), (2, 1), (10, 2)], [], True)
def test_connected_components_matches_union_find(spark, pairs, twins, as_str):
    # twins re-add some edges, every other one reversed
    pairs = list(pairs)
    for k, i in enumerate(twins):
        a, b = pairs[i % len(pairs)]
        pairs.append((b, a) if k % 2 else (a, b))
    if as_str:
        pairs = [(f"v{a}", f"v{b}") for a, b in pairs]
    assert _cc(spark, pairs) == _oracle(pairs)


def test_connected_components_giant_star(spark):
    """One hub with 20,001 leaves, the hub in the middle of the id
    range: the hub's large-star row holds every neighbour once, and the
    star is re-rooted at id 0."""
    hub = 10_000
    pairs = [(leaf, hub) for leaf in range(20_002) if leaf != hub]
    pairs += [(7, 7), (20_005, 20_006)]
    assert _cc(spark, pairs) == _oracle(pairs)
