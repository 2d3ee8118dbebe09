"""components.union_find_labels (the streaming label store's driver path)
against a breadth-first labelling, without a JVM."""

from __future__ import annotations

import random
from collections import defaultdict, deque

import pytest

from text_similarity_node_spark.operators.components import union_find_labels


def _bfs_labels(edges):
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    out = {}
    for start in adj:
        if start in out:
            continue
        comp, queue = {start}, deque([start])
        while queue:
            for w in adj[queue.popleft()]:
                if w not in comp:
                    comp.add(w)
                    queue.append(w)
        root = min(comp)
        out.update((v, root) for v in comp)
    return out


def _graph(rng, n):
    """Random edges plus a chain, a star, self-loops, duplicates and
    reversed copies, over string ids (compared as Spark compares them)."""
    ids = [f"v{rng.randrange(10 * n):05d}" for _ in range(n)]
    edges = [tuple(rng.sample(ids, 2)) for _ in range(n // 3)]
    chain = rng.sample(ids, min(12, n))
    edges += list(zip(chain, chain[1:]))
    hub = rng.choice(ids)
    edges += [(hub, v) for v in rng.sample(ids, min(8, n))]
    edges += [(v, v) for v in rng.sample(ids, 3)]
    edges += rng.sample(edges, len(edges) // 4)
    edges += [(v, u) for u, v in rng.sample(edges, len(edges) // 4)]
    rng.shuffle(edges)
    return edges


@pytest.mark.parametrize("seed", range(20))
def test_union_find_equals_bfs(seed):
    rng = random.Random(seed)
    edges = _graph(rng, rng.choice([5, 40, 300]))
    assert union_find_labels(edges) == _bfs_labels(edges)


def test_union_find_long_chain_in_worst_order():
    # a chain whose minimum sits at the far end: every union re-roots
    ids = [f"{i:05d}" for i in range(2000, 0, -1)]
    edges = list(zip(ids, ids[1:]))
    labels = union_find_labels(edges)
    assert set(labels.values()) == {"00001"} and len(labels) == 2000


def test_union_find_integer_ids_and_empty():
    assert union_find_labels([]) == {}
    assert union_find_labels([(3, 2), (5, 4), (2, 5), (7, 7)]) == {
        2: 2, 3: 2, 4: 2, 5: 2, 7: 7,
    }
