"""Graph-analytics pins: brute-force triangle census and a numpy PageRank
reference (the oracle-checked value parity for the SQL-expressible queries
lives in test_oracle_parity.py; these pin the parts SQL cannot express).
"""

from __future__ import annotations

from itertools import combinations

import numpy as np

from mapreduce_docker_spark.operators.graph_queries import (
    PAGERANK_D,
    PAGERANK_ITERS,
    _dup_edges,
    _purchase_edges,
    q_graph_pagerank_purchases,
    q_graph_triangle_stats,
)

SF = "/root/testdata/sf0.001"


def test_triangle_stats_match_bruteforce(spark):
    edges = {(r["lo"], r["hi"]) for r in _dup_edges(spark, SF).collect()}
    nodes = {v for e in edges for v in e}
    deg = {v: 0 for v in nodes}
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    tris = sum(
        1
        for a, b, c in combinations(sorted(nodes), 3)
        if (a, b) in edges and (a, c) in edges and (b, c) in edges
    )
    row = q_graph_triangle_stats(spark, SF).first()
    assert row["n_nodes"] == len(nodes)
    assert row["n_edges"] == len(edges)
    assert row["n_wedges"] == wedges
    assert row["n_triangles"] == tris
    if wedges:
        assert abs(row["clustering"] - 3.0 * tris / wedges) < 1e-6
    # census identity: every triangle contains exactly 3 wedges
    assert 3 * row["n_triangles"] <= row["n_wedges"]


def test_triangle_census_helper_crafted_graph(spark):
    """Hand-computed census on K4 ∪ path. K4 = 4 triangles, 12 wedges,
    clustering 1.0 within itself; the 5-6-7 path adds one open wedge and
    nothing else. A disjoint replica must exactly double every count and
    leave clustering unchanged."""
    from pyspark.sql import functions as F

    from mapreduce_docker_spark.operators.graph_queries import triangle_census

    k4 = [(a, b) for a, b in combinations([1, 2, 3, 4], 2)]
    path = [(5, 6), (6, 7)]
    e = spark.createDataFrame(k4 + path, "lo long, hi long")
    row = triangle_census(e).first()
    assert row["n_nodes"] == 7
    assert row["n_edges"] == 8
    assert row["n_wedges"] == 12 + 1
    assert row["n_triangles"] == 4
    assert abs(row["clustering"] - 3.0 * 4 / 13) < 1e-6

    rep = e.unionAll(e.select((F.col("lo") + 100).alias("lo"), (F.col("hi") + 100).alias("hi")))
    row2 = triangle_census(rep).first()
    assert (row2["n_nodes"], row2["n_edges"], row2["n_wedges"], row2["n_triangles"]) == (
        14,
        16,
        26,
        8,
    )
    assert row2["clustering"] == row["clustering"]


def test_pagerank_matches_numpy_power_iteration(spark):
    edges = [(r["cust"], r["supp"]) for r in _purchase_edges(spark, SF).collect()]
    # replicate the engine's typed symmetrized node ids and tiebreak
    sym = [(f"c{c}", f"s{s}") for c, s in edges] + [
        (f"s{s}", f"c{c}") for c, s in edges
    ]
    nodes = sorted({v for e in sym for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    odeg = np.zeros(n)
    for src, _ in sym:
        odeg[idx[src]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(PAGERANK_ITERS):
        contrib = np.zeros(n)
        share = r / odeg  # no dangling nodes: symmetrized graph
        for src, dst in sym:
            contrib[idx[dst]] += share[idx[src]]
        r = (1.0 - PAGERANK_D) / n + PAGERANK_D * contrib
    # the engine orders by the 9-decimal-rounded rank (ulp-stable); mirror it
    def rnd9(x):
        return np.floor(x * 1e9 + 0.5) / 1e9

    expect = sorted(zip(nodes, rnd9(r)), key=lambda t: (-t[1], t[0]))[:20]

    got = q_graph_pagerank_purchases(spark, SF).collect()
    assert len(got) == min(20, n)
    for row, (v, rank) in zip(got, expect):
        assert f"{row['side']}{row['node_id']}" == v
        assert abs(row["rank"] - rank) < 1e-9
    # ranks are a probability distribution over the graph (top-20 is a
    # subset, so only bound it)
    assert 0 < sum(r) < 1.0 + 1e-9


def test_pagerank_step_pins_shuffle_hash_join(spark):
    """The per-iteration rank join must be a ShuffledHashJoin, NOT a
    broadcast, even when size estimates scream "broadcast me": the r6 x64
    probe measured Catalyst electing an 8.4 GiB broadcast off an
    input-sized estimate of a replicated edge relation (SCALING.md). Tiny
    inputs here sit far below the default 10 MB auto-broadcast threshold,
    so ONLY the shuffle_hash pin keeps the broadcast out of the executed
    plan — exactly the condition that matters at 100 TB, where neither
    side of (edges ⋈ ranks) fits in any executor."""
    from mapreduce_docker_spark.operators.graph_queries import _pagerank_step

    edges_w = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 2), ("b", "c", 2), ("c", "b", 1)],
        "src string, dst string, odeg long",
    )
    ranks = spark.createDataFrame(
        [("a", 1 / 3), ("b", 1 / 3), ("c", 1 / 3)], "v string, rank double"
    )
    df = _pagerank_step(edges_w, ranks, 3)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan[:800]
    assert "BroadcastHashJoin" not in plan, plan[:800]
    # and the pinned join strategy changes strategy only, never values
    got = {r["v"]: r["rank"] for r in df.collect()}
    d = 0.85
    expect = {
        "a": 0.15 / 3 + d * ((1 / 3) / 2),
        "b": 0.15 / 3 + d * ((1 / 3) / 1 + (1 / 3) / 1),
        "c": 0.15 / 3 + d * ((1 / 3) / 2),
    }
    assert got.keys() == expect.keys()
    for v, rank in expect.items():
        assert abs(got[v] - rank) < 1e-12
