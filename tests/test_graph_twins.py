"""Brute-force twins of the road-graph primitives in queries/graph.py.

Each helper runs on a seeded random ``(a, b)`` pair frame with
self-loops, repeated and reversed pairs, two components and degree
ties, and is checked against a plain-Python computation of the same
thing: set algebra for the edge lists, a ``(-deg, node)`` sort for the
hubs, a ``collections.deque`` BFS for the hop labels and a synchronous
label propagation for the LPA labels.
"""

from __future__ import annotations

import random
from collections import Counter, defaultdict, deque

import pytest

from sdg_engine.queries import graph as G
from sdg_engine.queries._common import _drain_confs


def _pairs() -> list[tuple[int, int]]:
    rng = random.Random(1717)
    comp_a = list(range(1, 15))
    comp_b = list(range(100, 108))
    pairs = []
    for comp in (comp_a, comp_b):
        # a random spanning tree keeps each component connected ...
        for i, v in enumerate(comp[1:], 1):
            pairs.append((v, rng.choice(comp[:i])))
        # ... plus extra chords, some repeated or reversed
        for _ in range(len(comp)):
            a, b = rng.sample(comp, 2)
            pairs.append((a, b))
            if rng.random() < 0.3:
                pairs.append((b, a) if rng.random() < 0.5 else (a, b))
    pairs += [(3, 3), (3, 3), (104, 104)]  # self-loops
    rng.shuffle(pairs)
    return pairs


PAIRS = _pairs()
SYM = {(a, b) for a, b in PAIRS if a != b} | {(b, a) for a, b in PAIRS if a != b}
NBRS = defaultdict(set)
for _s, _d in SYM:
    NBRS[_s].add(_d)


@pytest.fixture(scope="module")
def pairs(spark):
    return spark.createDataFrame(PAIRS, "a bigint, b bigint")


def _hub_order():
    return sorted(((v, len(n)) for v, n in NBRS.items()),
                  key=lambda r: (-r[1], r[0]))


def _bfs(seed: int, max_hops: int) -> dict[int, int]:
    hops = {seed: 0}
    q = deque([seed])
    while q:
        v = q.popleft()
        if hops[v] == max_hops:
            continue
        for w in NBRS[v]:
            if w not in hops:
                hops[w] = hops[v] + 1
                q.append(w)
    return hops


def test_fixture_has_ties_and_two_components():
    top = [d for _v, d in _hub_order()[:6]]
    assert top[4] == top[5]  # a degree tie across the hubs' limit
    assert any(a == b for a, b in PAIRS)  # self-loops
    assert Counter(PAIRS).most_common(1)[0][1] > 1  # repeated pairs
    assert any((b, a) in PAIRS for a, b in PAIRS if a != b)  # reversed
    assert _bfs(1, 16).keys().isdisjoint(_bfs(100, 16).keys())


def test_sym_and_und_edges_match_python_sets(pairs):
    sym = G._sym_edges(pairs).collect()
    assert len(sym) == len(SYM)
    assert {(r.src, r.dst) for r in sym} == SYM
    und = G._und_edges(pairs).collect()
    want = {(min(a, b), max(a, b)) for a, b in PAIRS if a != b}
    assert len(und) == len(want)
    assert {(r.u, r.v) for r in und} == want


def test_hubs_match_degree_sort(pairs):
    got = [(r.src, r.deg) for r in G._hubs(G._sym_edges(pairs), 5).collect()]
    assert got == _hub_order()[:5]


@pytest.mark.parametrize("seed,max_hops", [(1, 16), (1, 2)])
def test_bfs_labels_match_deque_bfs(spark, pairs, seed, max_hops):
    edges = G._sym_edges(pairs)
    with _drain_confs(spark):
        got = G._bfs_labels(
            edges, spark.createDataFrame([(seed,)], "node bigint"), max_hops
        ).collect()
    assert len(got) == len({r.node for r in got})
    assert {r.node: r.hops for r in got} == _bfs(seed, max_hops)


def _lpa() -> dict[int, int]:
    labels = {v: v for v in NBRS}
    for _ in range(G._LPA_ROUNDS):
        new = {}
        for v, nbrs in NBRS.items():
            cnt = Counter(labels[w] for w in nbrs)
            best = max(cnt.values())
            new[v] = min(lab for lab, c in cnt.items() if c == best)
        labels = new
    return labels


def test_lpa_labels_match_python_lpa(spark, pairs):
    with _drain_confs(spark):
        got = G._lpa_labels(G._sym_edges(pairs)).collect()
    assert len(got) == len(NBRS)
    assert {r.v: r.label for r in got} == _lpa()
