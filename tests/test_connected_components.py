"""Connected components: the driver-finish path, the distributed rounds that
contract before finishing, and a pure-Python BFS oracle must give identical
min-uid labels."""

from __future__ import annotations

from collections import defaultdict, deque
from types import SimpleNamespace

import numpy as np
import pytest

import dedup_domains_spark.operators.connected_components as cc


def _random_graph(seed: int) -> list[tuple[int, int]]:
    """Stars, chains, isolated pairs, duplicate and reversed edges and
    self-edges over sparse signed 64-bit ids (the engine's xxhash64 uids)."""
    rng = np.random.default_rng(seed)
    ids = iter(rng.choice(2**62, size=2000, replace=False) - 2**61)
    edges = []
    for _ in range(rng.integers(3, 7)):              # stars
        hub = next(ids)
        edges += [(hub, next(ids)) for _ in range(rng.integers(2, 12))]
    for _ in range(rng.integers(3, 7)):              # chains
        chain = [next(ids) for _ in range(rng.integers(3, 25))]
        edges += list(zip(chain, chain[1:]))
    edges += [(next(ids), next(ids)) for _ in range(rng.integers(5, 15))]  # pairs
    dup = [edges[i] for i in rng.integers(0, len(edges), 10)]
    edges += dup + [(b, a) for a, b in dup[:5]]      # duplicate + reversed
    edges += [(a, a) for a, _ in dup[:3]]            # self-edges in components
    edges += [(x, x) for x in (next(ids), next(ids))]  # self-edge-only nodes
    order = rng.permutation(len(edges))
    return [(int(edges[i][0]), int(edges[i][1])) for i in order]


def _bfs_labels(edges) -> dict[int, int]:
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    labels: dict[int, int] = {}
    for start in adj:
        if start in labels:
            continue
        comp, queue = {start}, deque([start])
        while queue:
            for nxt in adj[queue.popleft()] - comp:
                comp.add(nxt)
                queue.append(nxt)
        labels.update(dict.fromkeys(comp, min(comp)))
    return labels


def _run(spark, edges, **kwargs) -> tuple[dict[int, int], dict]:
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    stats: dict = {}
    rows = cc.connected_components(df, stats=stats, **kwargs).collect()
    labels = {r.uid: r.cluster_id for r in rows}
    assert len(labels) == len(rows), "a node was labelled twice"
    return labels, stats


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_driver_finish_matches_distributed_and_bfs(spark, monkeypatch, seed):
    edges = _random_graph(seed)
    want = _bfs_labels(edges)

    driver, stats = _run(spark, edges)
    assert stats["iterations"] == 0
    assert driver == want

    # a budget of a few rows forces distributed rounds, then the driver
    # finishes the contracted residual
    monkeypatch.setattr(cc, "driver_edge_budget", lambda spark: 3)
    contracted, stats = _run(spark, edges)
    assert stats["iterations"] >= 1
    assert stats["contracted_edges"][-1] <= 3
    assert contracted == want


def test_long_chain_converges_after_contraction(spark, monkeypatch):
    """A 1,500-link chain over shuffled ids among 3,000 small components:
    min-label rounds alone need far more than 20 rounds for it, but the
    contracted residual soon fits the driver budget."""
    rng = np.random.default_rng(7)
    ids = [int(x) for x in rng.permutation(20_000)]
    chain = ids[:1501]
    edges = list(zip(chain, chain[1:]))
    rest = iter(ids[1501:])
    for size in rng.integers(2, 4, 3000):            # pairs and 3-stars
        hub = next(rest)
        edges += [(hub, next(rest)) for _ in range(size - 1)]
    budget = 1000                                     # below the initial 5,983
    monkeypatch.setattr(cc, "driver_edge_budget", lambda spark: budget,
                        raising=False)
    labels, stats = _run(spark, edges, max_iterations=20)
    assert stats["contracted_edges"][0] > budget
    assert 1 <= stats["iterations"] <= 20
    assert labels == _bfs_labels(edges)
    assert set(labels[u] for u in chain) == {min(chain)}


def test_driver_edge_budget_follows_driver_memory():
    def session(mem):
        conf = SimpleNamespace(get=lambda key, default: mem)
        return SimpleNamespace(sparkContext=SimpleNamespace(getConf=lambda: conf))

    assert cc.driver_edge_budget(session("3g")) == 3 * 2**30 // 256
    assert cc.driver_edge_budget(session("1536m")) == 1536 * 2**20 // 256
    assert cc.driver_edge_budget(session("2048")) == 2048 * 2**20 // 256
