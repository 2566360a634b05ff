"""Differential property test for ``dedup.connected_components``: the
driver path (union-find over the collected pairs), the distributed loop
(reached by setting ``_CC_DRIVER_EDGES_MAX`` to 0) and an independent
breadth-first search must give the same (id, component) rows, and both
engine paths the same schema."""

import os

import pytest
from hypothesis import example, given, settings, strategies as st

from dataqtor_spark.operators import dedup as D

# each example runs the distributed loop (several Spark jobs per round)
_SETTINGS = dict(max_examples=int(os.environ.get("HYP_EXAMPLES", "8")),
                 deadline=None)

_ID = st.one_of(st.none(), st.integers(min_value=0, max_value=40))


def _bfs_components(pairs):
    """component = min id reachable, by breadth-first search; a NULL
    endpoint is not a node and links nothing."""
    adj = {}
    for a, b in pairs:
        for x in (a, b):
            if x is not None:
                adj.setdefault(x, set())
        if a is not None and b is not None:
            adj[a].add(b)
            adj[b].add(a)
    out = {}
    for start in adj:
        if start in out:
            continue
        seen, frontier = {start}, [start]
        while frontier:
            frontier = [y for x in frontier for y in adj[x] if y not in seen]
            seen.update(frontier)
        for x in seen:
            out[x] = min(seen)
    return sorted(out.items())


@st.composite
def _graphs(draw):
    edges = draw(st.lists(st.tuples(_ID, _ID), max_size=30))
    # a long chain over shuffled ids needs several distributed rounds
    chain = draw(st.permutations(range(100, 100 + draw(
        st.integers(min_value=0, max_value=24)))))
    edges += list(zip(chain, chain[1:]))
    if edges:  # duplicate and reversed copies of some edges
        copies = draw(st.lists(st.sampled_from(edges), max_size=6))
        edges += [e if draw(st.booleans()) else e[::-1] for e in copies]
    types = (draw(st.sampled_from(["int", "long"])),
             draw(st.sampled_from(["int", "long"])))
    return draw(st.permutations(edges)), types


@settings(**_SETTINGS)
@given(_graphs())
@example(([], ("long", "long")))
@example(([(1, 2), (2, None), (None, 5), (7, 7), (3, 1)], ("long", "long")))
@example(([(i, i + 1) for i in range(40)], ("int", "long")))
def test_connected_components_paths_agree(spark, graph):
    edges, (ta, tb) = graph
    pairs = spark.createDataFrame(edges, f"id_a {ta}, id_b {tb}")
    want = _bfs_components(edges)

    driver = D.connected_components(pairs)
    with pytest.MonkeyPatch.context() as m:
        m.setattr(D, "_CC_DRIVER_EDGES_MAX", 0)
        loop = D.connected_components(pairs)
        got_loop = sorted(tuple(r) for r in loop.collect())
    assert sorted(tuple(r) for r in driver.collect()) == want
    assert got_loop == want
    assert driver.schema == loop.schema
    widened = "bigint" if "long" in (ta, tb) else "int"
    assert [f.dataType.simpleString() for f in driver.schema] == [widened] * 2
