"""Property tests for the round-7 graph algorithms: each checks the
DataFrame implementation against a brute-force pure-Python reference
on seeded random graphs — the differential style of
test_expr_differential / test_mutation_differential applied to the
algorithm layer."""

import random

import pytest


def _random_edges(seed: int, n: int = 18, m: int = 40):
    rng = random.Random(seed)
    return list({(rng.randrange(1, n + 1), rng.randrange(1, n + 1))
                 for _ in range(m)})


@pytest.mark.parametrize("seed", [
    1, 7, pytest.param(23, marks=pytest.mark.slow)])
def test_kcore_invariant_and_maximality(spark, seed):
    """The returned 3-core (a) has min undirected degree ≥ 3 inside
    the core and (b) equals the classic sequential-peel result."""
    from redisgraph_spark.algorithms.components import k_core
    pairs = [(a, b) for a, b in _random_edges(seed) if a != b]
    edges = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        ["_id", "_src", "_dst"])
    got = sorted(r["node"] for r in
                 k_core(edges.select("_src", "_dst"), 3).collect())

    # sequential peel reference
    from collections import defaultdict
    nbrs = defaultdict(set)
    for a, b in pairs:
        nbrs[a].add(b)
        nbrs[b].add(a)
    alive = set(nbrs)
    while True:
        drop = {v for v in alive
                if len(nbrs[v] & alive) < 3}
        if not drop:
            break
        alive -= drop
    assert got == sorted(alive)
    for v in alive:
        assert len(nbrs[v] & alive) >= 3


@pytest.mark.parametrize("seed", [
    2, 11, pytest.param(31, marks=pytest.mark.slow)])
def test_sssp_matches_bellman_ford_reference(spark, seed):
    """Distances and hop counts equal a pure-Python Bellman-Ford over
    paths of ≤ max_hops edges (weights drawn from small ints so float
    sums are exact)."""
    from redisgraph_spark.algorithms.sssp import sssp
    rng = random.Random(seed)
    pairs = [(a, b) for a, b in _random_edges(seed, n=12, m=30)
             if a != b]
    w = {p: float(rng.randrange(1, 6)) for p in pairs}
    edges = spark.createDataFrame(
        [(i, a, b, w[(a, b)]) for i, (a, b) in enumerate(pairs)],
        ["_id", "_src", "_dst", "wt"])
    hops = 4
    got = {r["node"]: (r["distance"], r["hops"])
           for r in sssp(edges, 1, "wt", max_hops=hops).collect()}

    best = {1: (0.0, 0)}
    frontier = {1: (0.0, 0)}
    for _ in range(hops):
        nxt = {}
        for u, (d, h) in frontier.items():
            for (a, b), wt in w.items():
                if a != u:
                    continue
                cand = (d + wt, h + 1)
                if b not in best or cand < best[b]:
                    if b not in nxt or cand < nxt[b]:
                        nxt[b] = cand
        improved = {b: c for b, c in nxt.items()
                    if b not in best or c < best[b]}
        if not improved:
            break
        best.update(improved)
        frontier = improved
    assert got == best


@pytest.mark.parametrize("seed", [
    pytest.param(3, marks=pytest.mark.slow), 13])
def test_node_similarity_matches_bruteforce(spark, seed):
    """Jaccard pairs equal the all-pairs brute force (no hub cap)."""
    from redisgraph_spark.algorithms.centrality import node_similarity
    pairs = [(a, b) for a, b in _random_edges(seed, n=14, m=45)
             if a != b]
    edges = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        ["_id", "_src", "_dst"])
    got = {(r["node_a"], r["node_b"]): (r["intersection"], r["jaccard"])
           for r in node_similarity(
               edges.select("_src", "_dst"), "out", threshold=0.01,
               top_k=10_000, max_neighbor_degree=None).collect()}

    from collections import defaultdict
    out = defaultdict(set)
    for a, b in pairs:
        out[a].add(b)
    exp = {}
    ks = sorted(out)
    for i, x in enumerate(ks):
        for y in ks[i + 1:]:
            inter = len(out[x] & out[y])
            if not inter:
                continue
            j = round(inter / len(out[x] | out[y]) * 1e6) / 1e6
            if j >= 0.01:
                exp[(x, y)] = (inter, j)
    assert got == exp


@pytest.mark.parametrize("seed", [
    pytest.param(5, marks=pytest.mark.slow), 17])
def test_closeness_matches_bfs_reference(spark, seed):
    """reached / closeness / harmonic equal a pure-Python BFS from
    every source."""
    from redisgraph_spark.algorithms.centrality import closeness
    pairs = [(a, b) for a, b in _random_edges(seed, n=15, m=35)
             if a != b]
    edges = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        ["_id", "_src", "_dst"])
    sources = [1, 2, 3]
    hops = 4
    got = {r["node"]: (r["reached"], r["closeness"], r["harmonic"])
           for r in closeness(edges.select("_src", "_dst"), sources,
                              max_hops=hops).collect()}

    from collections import defaultdict, deque
    out = defaultdict(set)
    for a, b in pairs:
        out[a].add(b)
    for s in sources:
        dist = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            if dist[u] >= hops:
                continue
            for v in out[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        ds = [d for n, d in dist.items() if n != s]
        if ds:
            exp = (len(ds),
                   round(len(ds) / sum(ds) * 1e6) / 1e6,
                   round(sum(1.0 / d for d in ds) * 1e6) / 1e6)
        else:
            exp = (0, 0.0, 0.0)
        assert got[s][0] == exp[0]
        assert got[s][1] == exp[1]
        assert abs(got[s][2] - exp[2]) < 2e-6  # float-sum order


@pytest.mark.parametrize("seed,directed", [(3, False), (13, True),
                                           (29, False)])
def test_betweenness_matches_brandes_reference(spark, seed, directed):
    """Betweenness scores equal a pure-Python Brandes run (Brandes
    2001) on the same seeded random graph, directed and undirected."""
    from redisgraph_spark.algorithms.centrality import betweenness
    pairs = [(a, b) for a, b in _random_edges(seed, n=14, m=32)
             if a != b]
    edges = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        ["_id", "_src", "_dst"])
    got = {r["node"]: r["score"]
           for r in betweenness(edges.select("_src", "_dst"),
                                directed=directed).collect()}

    from collections import defaultdict, deque
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        if not directed:
            adj[b].add(a)
    nodes = sorted(set(adj) | {v for s in adj.values() for v in s})
    bc = defaultdict(float)
    for s in nodes:
        # single-source Brandes
        dist = {s: 0}
        sigma = defaultdict(float)
        sigma[s] = 1.0
        preds = defaultdict(list)
        order = []
        q = deque([s])
        while q:
            u = q.popleft()
            order.append(u)
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
                if dist[v] == dist[u] + 1:
                    sigma[v] += sigma[u]
                    preds[v].append(u)
        delta = defaultdict(float)
        for w in reversed(order):
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
            if w != s:
                bc[w] += delta[w]
    half = 1.0 if directed else 2.0
    exp = {n: round(v / half * 1e6) / 1e6
           for n, v in bc.items() if v}
    assert set(got) >= set(exp)
    for n in got:
        assert abs(got[n] - exp.get(n, 0.0)) < 5e-6, (n, got[n], exp.get(n))


@pytest.mark.parametrize("seed", [4, 19])
def test_random_walks_match_python_replay(spark, seed):
    """Every walk step equals a pure-Python replay of the seeded
    arithmetic choice over the canonically-ranked adjacency, and every
    consecutive pair is a real edge."""
    from redisgraph_spark.algorithms.walks import random_walks
    pairs = [(a, b) for a, b in _random_edges(seed, n=12, m=28)
             if a != b]
    edges = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        ["_id", "_src", "_dst"])
    starts = [1, 2, 3, 4]
    length = 6
    wseed = 11
    got = {}
    for r in random_walks(edges.select("_src", "_dst"), starts,
                          length=length, seed=wseed).collect():
        got.setdefault(r["walk"], {})[r["step"]] = r["node"]

    from collections import defaultdict
    nbrs = defaultdict(list)
    for a, b in sorted(set(pairs)):
        nbrs[a].append(b)
    for s in starts:
        exp = [s]
        cur = s
        for t in range(1, length + 1):
            out = sorted(nbrs.get(cur, []))
            if not out:
                break
            h = ((cur % 1_000_000_007) * 2654435761 + t * 40503
                 + (s % 1_000_000_007) * 97 + wseed)
            cur = out[h % len(out)]
            exp.append(cur)
        assert [got[s][t] for t in sorted(got[s])] == exp, (s, got[s], exp)


def _multigraph(spark, seed: int, n: int = 12, m: int = 30):
    """A seeded random multigraph as a Graph of ``N`` nodes (``k`` =
    node id) and ``R`` edges, parallel edges and self-loops included,
    with edge ids shuffled so that id order is not insertion order.
    Returns (graph, [(eid, src, dst)])."""
    from redisgraph_spark import Graph
    rng = random.Random(seed)
    ends = [(rng.randrange(1, n + 1), rng.randrange(1, n + 1))
            for _ in range(m)]
    eids = rng.sample(range(1000, 2000), m)
    edges = [(e, a, b) for e, (a, b) in zip(eids, ends)]
    g = Graph(spark,
              {"N": spark.createDataFrame(
                  [(i, i) for i in range(1, n + 1)], ["_id", "k"])},
              {"R": spark.createDataFrame(edges, ["_id", "_src", "_dst"])})
    return g, edges


def _shortest_paths(edges, src: int, max_hops: int) -> dict:
    """{dst: set of edge-id tuples}: every shortest path of 1..max_hops
    edges from ``src``, by a pure-Python level-synchronous BFS."""
    from collections import defaultdict
    out = defaultdict(list)
    for e, a, b in edges:
        out[a].append((b, e))
    paths = {src: {()}}
    frontier = {src}
    for _ in range(max_hops):
        nxt = defaultdict(set)
        for u in frontier:
            for v, e in out[u]:
                if v not in paths:
                    nxt[v] |= {p + (e,) for p in paths[u]}
        if not nxt:
            break
        paths.update(nxt)
        frontier = set(nxt)
    return {v: ps for v, ps in paths.items() if v != src}


@pytest.mark.parametrize("seed,fn,hops", [
    (6, "shortestPath", 3), (6, "allShortestPaths", None),
    pytest.param(21, "shortestPath", None, marks=pytest.mark.slow),
    pytest.param(21, "allShortestPaths", 3, marks=pytest.mark.slow)])
def test_shortest_paths_match_bfs_reference(spark, seed, fn, hops):
    """shortestPath yields, per reachable pair, one path of the BFS
    distance: the lexicographically smallest by edge ids.
    allShortestPaths yields every path of that length."""
    g, edges = _multigraph(spark, seed)
    sources = [1, 2, 3]
    bound = "*" if hops is None else f"*..{hops}"
    got: dict = {}
    for r in g.query(
            f"MATCH (a:N) WHERE a.k IN $s "
            f"MATCH p = {fn}((a)-[:R{bound}]->(b:N)) "
            f"RETURN a.k AS a, b.k AS b, "
            f"[r IN relationships(p) | id(r)] AS eids, "
            f"[x IN nodes(p) | x.k] AS nids", {"s": sources}).collect():
        got.setdefault((r["a"], r["b"]), set()).add(tuple(r["eids"]))
        ends = {e: (a, b) for e, a, b in edges}
        walk = [r["a"]] + [ends[e][1] for e in r["eids"]]
        assert r["nids"] == walk
        assert all(ends[e][0] == u for e, u in zip(r["eids"], walk))

    exp = {}
    for s in sources:
        for v, ps in _shortest_paths(edges, s, hops or 32).items():
            exp[(s, v)] = ps if fn == "allShortestPaths" else {min(ps)}
    assert got == exp


@pytest.mark.parametrize("seed,level", [
    (8, 0), (8, 2), pytest.param(27, 0, marks=pytest.mark.slow)])
def test_bfs_tree_matches_python_reference(spark, seed, level):
    """algo.BFS yields, per source that reaches anything, the nodes
    within ``level`` hops (0: unlimited) in id order, each with the
    smallest-id edge that reaches it from the level before."""
    g, edges = _multigraph(spark, seed)
    sources = [1, 2, 3, 4]
    got = {r["a"]: (r["ns"], r["es"]) for r in g.query(
        "MATCH (a:N) WHERE a.k IN $s "
        "CALL algo.BFS(a, $lvl, 'R') YIELD nodes, edges "
        "RETURN a.k AS a, [x IN nodes | x.k] AS ns, "
        "[e IN edges | id(e)] AS es",
        {"s": sources, "lvl": level}).collect()}

    exp = {}
    for s in sources:
        dist = {s: 0}
        parent = {}
        frontier = [s]
        while frontier and (level == 0 or dist[frontier[0]] < level):
            d = dist[frontier[0]] + 1
            for e, a, b in edges:
                if a in frontier and (b not in dist or dist[b] == d):
                    if b not in dist:
                        dist[b] = d
                    if b != s:
                        parent[b] = min(parent.get(b, e), e)
            frontier = [v for v in dist if dist[v] == d]
        if parent:
            ns = sorted(parent)
            exp[s] = (ns, [parent[v] for v in ns])
    assert got == exp
