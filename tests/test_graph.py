"""connected_components: propagation correctness + convergence behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_cotrip_signs_spark.operators import graph
from etl_cotrip_signs_spark.operators.graph import connected_components


def _cc(spark, nodes, edges):
    ndf = spark.createDataFrame([(n,) for n in nodes], "node bigint")
    edf = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = connected_components(ndf, edf)
    return dict(out.collect())


def test_chain_converges_to_min_label(spark, monkeypatch):
    # 1-2-3-4-5 chain: diameter 4 forces several propagation rounds.
    got = _cc(spark, [1, 2, 3, 4, 5], [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}
    # A 64-node path in id order converges in 7 rounds with the pointer
    # jump; min-label propagation alone would need 64.
    monkeypatch.setattr(graph, "CC_MAX_ROUNDS", 8)
    path = list(range(1, 65))
    assert _cc(spark, path, list(zip(path, path[1:]))) == dict.fromkeys(path, 1)


def test_two_components_and_singletons(spark):
    got = _cc(
        spark,
        [1, 2, 3, 10, 11, 99],
        [(2, 1), (2, 3), (11, 10)],
    )
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_cycle_and_duplicate_edges(spark):
    got = _cc(spark, [7, 8, 9], [(7, 8), (8, 9), (9, 7), (7, 8)])
    assert got == {7: 7, 8: 7, 9: 7}


def test_max_iter_raises_before_convergence(spark, monkeypatch):
    monkeypatch.setattr(graph, "CC_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc(spark, [1, 2, 3, 4, 5], [(1, 2), (2, 3), (3, 4), (4, 5)])


def test_endpoint_missing_from_nodes_raises(spark):
    # Node 3 is an edge endpoint but not in `nodes`.
    with pytest.raises(ValueError, match="every edge endpoint to be in nodes"):
        _cc(spark, [1, 2], [(1, 2), (2, 3)])


def test_empty_edges_all_singletons(spark):
    ndf = spark.createDataFrame([(n,) for n in (3, 1, 2)], "node bigint")
    edf = spark.createDataFrame([], "src bigint, dst bigint")
    out = connected_components(ndf, edf)
    assert dict(out.collect()) == {1: 1, 2: 2, 3: 3}
    assert out.columns == ["node", "component"]


def _union_find_reference(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component = min node id reachable
    comp = {}
    for n in nodes:
        r = find(n)
        comp.setdefault(r, []).append(n)
    return {n: min(members) for r, members in comp.items() for n in members}


def test_random_graphs_match_union_find(spark):
    """Randomized graphs (no hypothesis engine: one Spark job per example
    is slow, so a fixed seed drives a handful of diverse shapes), plus a
    64-node path in id order and the same path over shuffled ids."""
    import random

    rng = random.Random(7)
    cases = []
    for _ in range(4):
        n = rng.randint(1, 25)
        nodes = list(range(1, n + 1))
        n_edges = rng.randint(0, 2 * n)
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(n_edges)
        ]
        cases.append((nodes, [(a, b) for a, b in edges if a != b]))
    path = list(range(1, 65))
    shuffled = path[:]
    rng.shuffle(shuffled)
    cases.append((path, list(zip(path, path[1:]))))
    cases.append((path, list(zip(shuffled, shuffled[1:]))))
    for nodes, edges in cases:
        want = _union_find_reference(nodes, edges)
        got = _cc(spark, nodes, edges)
        assert got == want, f"n={len(nodes)} edges={edges}"


def test_dedup_components_match_union_find(spark):
    """Default-lane CC parity for dedup_components_ngram: its components
    equal a union-find over dedup_ngram_jaccard's pairs (whose own oracle
    parity runs in this lane too)."""
    import duckdb

    from etl_cotrip_signs_spark.operators.dedup import dedup_ngram_jaccard

    from .conftest import SF_SMALL

    docs = [
        d
        for (d,) in duckdb.sql(
            f"SELECT doc_id FROM '{SF_SMALL}/documents.parquet'"
        ).fetchall()
    ]
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in dedup_ngram_jaccard(spark, SF_SMALL).collect()
    ]
    assert pairs, "fixture should hold near-duplicate pairs"
    got = {
        r["doc_id"]: r["component"]
        for r in graph.dedup_components_ngram(spark, SF_SMALL).collect()
    }
    assert got == _union_find_reference(docs, pairs)


def test_pagerank_mass_conservation_and_hub(spark):
    """Power-iteration invariants on a known star graph: rank mass sums to
    1 (undirected graph, no dangling leak), the hub outranks every leaf,
    and the result is deterministic across runs."""
    from pyspark.sql import functions as F

    from etl_cotrip_signs_spark.operators.graph import pagerank_ranks

    # star: node 0 connected to 1..8, plus an isolated-ish pair 100-101
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 9)] + [(100, 101)], "a long, b long"
    )
    ranks = pagerank_ranks(pairs, n_iter=10).toPandas()
    assert abs(ranks["rank"].sum() - 1.0) < 1e-9
    hub = float(ranks.loc[ranks.node == 0, "rank"].iloc[0])
    leaves = ranks[(ranks.node >= 1) & (ranks.node <= 8)]["rank"]
    assert (hub > leaves).all()
    again = pagerank_ranks(pairs, n_iter=10).toPandas()
    a = ranks.sort_values("node").reset_index(drop=True)
    b = again.sort_values("node").reset_index(drop=True)
    assert a.equals(b)


def test_kcore_planted_triangle_and_tail(spark):
    """Triangle (1,2,3) + tail 3-4-5: the 2-core keeps exactly the
    triangle (all degree 2); the tail peels in two rounds (5 first, then
    4 becomes degree-1 and peels too)."""
    from etl_cotrip_signs_spark.operators.graph import kcore_nodes

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "doc_a long, doc_b long"
    )
    got = {
        (r["node"], r["core_degree"])
        for r in kcore_nodes(edges, k=2).collect()
    }
    assert got == {(1, 2), (2, 2), (3, 2)}


def test_kcore_empty_when_forest(spark):
    """A pure tree has no 2-core — the loop must terminate at empty."""
    from etl_cotrip_signs_spark.operators.graph import kcore_nodes

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "doc_a long, doc_b long"
    )
    assert kcore_nodes(edges, k=2).count() == 0


def test_graph_kcore_profile_invariants(spark):
    """The decomposition profile must be monotone (k-cores nest), end at
    an empty core, and every nonempty core's max degree must be >= its k."""
    from etl_cotrip_signs_spark import registry

    from .conftest import SF_SMALL

    registry.load_all()
    pdf = (
        registry.QUERIES["graph_kcore"](spark, SF_SMALL)
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )
    assert len(pdf) >= 2
    assert (pdf["n_nodes"].diff().dropna() <= 0).all()  # cores nest
    assert pdf["n_nodes"].iloc[-1] == 0  # ran until collapse
    assert pdf["n_nodes"].iloc[0] > 0  # fixture graph has a 2-core
    nonempty = pdf[pdf["n_nodes"] > 0]
    assert (nonempty["max_core_degree"] >= nonempty["k"]).all()


def test_link_prediction_excludes_existing_edges(spark):
    """RA candidates must be NON-adjacent pairs with >=1 common neighbor,
    and the integer score must equal sum(1e6 // deg(z)) recomputed from
    the edge list."""
    from etl_cotrip_signs_spark import registry
    from .conftest import SF_SMALL

    registry.load_all()
    pairs = {
        (r["name_a"], r["name_b"])
        for r in registry.QUERIES["fuzzy_join_del1"](spark, SF_SMALL).collect()
    }
    preds = registry.QUERIES["graph_link_prediction_ra"](
        spark, SF_SMALL
    ).collect()
    assert preds, "fixture graph should yield open wedges"
    deg: dict[str, int] = {}
    for a, b in pairs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    nbrs: dict[str, set] = {}
    for a, b in pairs:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    for r in preds[:50]:
        a, b = r["name_a"], r["name_b"]
        assert (a, b) not in pairs and (b, a) not in pairs
        common = nbrs[a] & nbrs[b]
        assert len(common) == r["n_common"] > 0
        assert r["ra_ppm"] == sum(1_000_000 // deg[z] for z in common)


def test_pagerank_exact_mass_and_determinism(spark):
    """Integer PageRank: ranks are positive, deterministic across two runs,
    and bounded by the total mass."""
    from etl_cotrip_signs_spark import registry
    from .conftest import SF_SMALL

    registry.load_all()
    q = registry.QUERIES["graph_pagerank_exact"]
    r1 = [(r["node"], r["rank_pico"]) for r in q(spark, SF_SMALL).collect()]
    r2 = [(r["node"], r["rank_pico"]) for r in q(spark, SF_SMALL).collect()]
    assert r1 == r2
    assert len(r1) == 20
    assert all(0 < v < 1_000_000_000_000 for _, v in r1)


def test_msf_is_a_spanning_forest(spark):
    """Structural invariants the hash parity doesn't state: the Borůvka
    output is acyclic and spanning — |forest edges| = |edge-incident
    nodes| − |components of the radius graph| — and every forest edge is
    an input edge."""
    from etl_cotrip_signs_spark import registry

    registry.load_all()
    from .conftest import SF_SMALL

    msf = registry.QUERIES["graph_minimum_spanning_forest"](
        spark, SF_SMALL
    ).toPandas()
    import duckdb

    g = duckdb.sql(
        f"""
        WITH points AS (
            SELECT o_orderkey AS id,
                   CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                        AS BIGINT) % 100000 AS xm,
                   CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 9, 8))
                        AS BIGINT) % 100000 AS ym
            FROM '{SF_SMALL}/orders.parquet' WHERE o_orderkey % 23 = 0
        )
        SELECT a.id AS u, b.id AS v
        FROM points a JOIN points b ON a.id < b.id
        WHERE (a.xm-b.xm)*(a.xm-b.xm) + (a.ym-b.ym)*(a.ym-b.ym) <= 25000000
        """
    ).df()
    input_edges = set(zip(g.u.astype(int), g.v.astype(int)))
    forest_edges = set(zip(msf.id_a.astype(int), msf.id_b.astype(int)))
    assert forest_edges <= input_edges
    # Union-find over input edges for the component count of incident nodes.
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in input_edges:
        parent[find(u)] = find(v)
    incident = {n for e in input_edges for n in e}
    n_components = len({find(n) for n in incident})
    assert len(forest_edges) == len(incident) - n_components
    # Acyclicity: the same identity applied to the forest itself.
    parent.clear()
    for u, v in forest_edges:
        ru, rv = find(u), find(v)
        assert ru != rv, f"cycle via edge ({u}, {v})"
        parent[ru] = rv


def test_sssp_matches_dijkstra(spark):
    """Both engines' Bellman-Ford fixpoints equal an independent python
    Dijkstra over the same graph — pinning that 64 oracle stages suffice
    and that the Spark loop's early exit is a true fixpoint."""
    import heapq

    import duckdb

    from etl_cotrip_signs_spark import registry

    registry.load_all()
    from .conftest import SF_SMALL

    got = registry.QUERIES["graph_sssp_weighted"](spark, SF_SMALL).toPandas()
    g = duckdb.sql(
        f"""
        WITH points AS (
            SELECT o_orderkey AS id,
                   CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                        AS BIGINT) % 100000 AS xm,
                   CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 9, 8))
                        AS BIGINT) % 100000 AS ym
            FROM '{SF_SMALL}/orders.parquet' WHERE o_orderkey % 23 = 0
        )
        SELECT a.id AS u, b.id AS v,
               (a.xm-b.xm)*(a.xm-b.xm) + (a.ym-b.ym)*(a.ym-b.ym) AS w
        FROM points a JOIN points b ON a.id < b.id
        WHERE (a.xm-b.xm)*(a.xm-b.xm) + (a.ym-b.ym)*(a.ym-b.ym) <= 25000000
        """
    ).df()
    adj: dict[int, list[tuple[int, int]]] = {}
    for u, v, w in zip(g.u.astype(int), g.v.astype(int), g.w.astype(int)):
        adj.setdefault(u, []).append((v, w))
        adj.setdefault(v, []).append((u, w))
    src = min(adj)
    dist = {src: 0}
    pq = [(0, src)]
    while pq:
        d, x = heapq.heappop(pq)
        if d > dist.get(x, 1 << 62):
            continue
        for y, w in adj[x]:
            nd = d + w
            if nd < dist.get(y, 1 << 62):
                dist[y] = nd
                heapq.heappush(pq, (nd, y))
    assert {int(r.id): int(r.dist_d2) for r in got.itertuples()} == dist
