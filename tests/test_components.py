"""The connected-components kernel behind dup_clusters, against a BFS."""

from collections import defaultdict, deque

import numpy as np
import pyarrow as pa
import pytest

from geocode_spark.operators import dedup
from geocode_spark.operators.dedup import (_components, _min_labels,
                                           dup_clusters)

BIG = 2 ** 62


def _bfs_labels(edges):
    """{node: min node of its component} for every node an edge touches."""
    adj = defaultdict(list)
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    out = {}
    for start in adj:
        if start in out:
            continue
        comp, todo = {start}, deque([start])
        while todo:
            for v in adj[todo.popleft()]:
                if v not in comp:
                    comp.add(v)
                    todo.append(v)
        low = min(comp)
        out.update(dict.fromkeys(comp, low))
    return out


def _random_graph(rng, n_nodes, n_edges):
    return [(int(a), int(b)) for a, b in
            rng.integers(0, n_nodes, size=(n_edges, 2))]


def _kernel(edges, typ, key):
    src = pa.array([key(a) for a, _ in edges], typ)
    dst = pa.array([key(b) for _, b in edges], typ)
    nodes, labels = _components(src, dst)
    assert nodes.type == typ and labels.type == typ
    return dict(zip(nodes.to_pylist(), labels.to_pylist()))


@pytest.mark.parametrize("typ,key", [
    (pa.string(), lambda x: f"https://example.com/doc/{x}"),
    (pa.large_string(), lambda x: f"u{x}"),
    # ids past 2^53: a float64 on the way would merge neighbours
    (pa.int64(), lambda x: BIG + x),
])
def test_kernel_matches_bfs(typ, key):
    # small random graphs: self-loops and repeated edges included
    rng = np.random.default_rng(7)
    for _ in range(60):
        n = int(rng.integers(1, 60))
        edges = _random_graph(rng, n, int(rng.integers(1, 2 * n + 1)))
        want = _bfs_labels([(key(a), key(b)) for a, b in edges])
        assert _kernel(edges, typ, key) == want


def test_kernel_no_edges():
    for typ in (pa.int64(), pa.string()):
        nodes, labels = _components(pa.array([], typ), pa.array([], typ))
        assert len(nodes) == len(labels) == 0
        assert nodes.type == labels.type == typ


def test_shuffled_path_round_ceiling():
    """A 10^5-node path with random ids, its edges in random order: one
    component, labelled in at most 16 rounds (10-11 measured; the proven
    bound is n - 1)."""
    rng = np.random.default_rng(0)
    n = 100_000
    perm = rng.permutation(n)
    order = rng.permutation(n - 1)
    lab, rounds = _min_labels(perm[:-1][order], perm[1:][order], n)
    assert (lab == 0).all()
    assert 1 <= rounds <= 16


@pytest.mark.parametrize("fallback", [False, True])
@pytest.mark.parametrize("ddl,key", [
    ("string", lambda x: f"https://example.com/doc/{x:04d}"),
    ("bigint", lambda x: BIG + x),
])
def test_dup_clusters_matches_bfs(spark, spread_shuffles, monkeypatch,
                                  fallback, ddl, key):
    """Both finishes (driver kernel, distributed loop) on string and
    bigint ids; two edges over eight partitions leave some partitions
    without edges."""
    loops = []
    if fallback:
        monkeypatch.setattr(dedup, "_DRIVER_MAX_EDGES", 0)
        loop = dedup._propagate_loop
        monkeypatch.setattr(dedup, "_propagate_loop",
                            lambda *a: loops.append(a) or loop(*a))
    rng = np.random.default_rng(3)
    n = 400
    edges = _random_graph(rng, n, 300) + [(n - 1, n - 2)] * 8
    nodes = spark.createDataFrame([(key(i),) for i in range(n)],
                                  f"doc_id {ddl}")
    pairs = spark.createDataFrame([(key(a), key(b)) for a, b in edges],
                                  f"id_a {ddl}, id_b {ddl}").repartition(8)
    got = {r.doc_id: r.cluster_id
           for r in dup_clusters(nodes, pairs, max_iters=40).collect()}
    want = {key(i): key(i) for i in range(n)}
    want.update(_bfs_labels([(key(a), key(b)) for a, b in edges]))
    assert got == want
    assert bool(loops) == fallback
    sparse = spark.createDataFrame([(key(1), key(2)), (key(2), key(0))],
                                   f"id_a {ddl}, id_b {ddl}").repartition(8)
    got = {r.doc_id: r.cluster_id
           for r in dup_clusters(nodes, sparse).collect()}
    assert got == {key(i): key(0) if i < 3 else key(i) for i in range(n)}
