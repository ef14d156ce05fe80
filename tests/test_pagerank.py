"""graph.pagerank — fixed-point nano-rank arithmetic vs a python mirror."""

from __future__ import annotations

import math

from rdfcmap_spark.operators.graph import PR_SCALE, pagerank


def _ref_pagerank(edges, iters=10, d=0.85):
    """Driver-side mirror of the operator's pinned arithmetic."""
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    outd = {}
    for s, _ in edges:
        outd[s] = outd.get(s, 0) + 1
    r = {v: math.floor(float(PR_SCALE) / n) for v in nodes}
    teleport_nano = (1.0 - d) * PR_SCALE
    for _ in range(iters):
        s_in = {v: 0 for v in nodes}
        for u, v in edges:
            s_in[v] += r[u] // outd[u]
        r = {
            v: math.floor(teleport_nano / n) + math.floor(d * float(s_in[v]))
            for v in nodes
        }
    return r


def test_pagerank_matches_python_mirror(spark):
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")]
    df = spark.createDataFrame(edges, "src string, dst string").repartition(4)
    got = {r["node"]: r for r in pagerank(df, iters=10).collect()}
    ref = _ref_pagerank(edges)
    assert {k: v["r_nano"] for k, v in got.items()} == ref
    # c receives from both a and b -> highest rank; floats derived exactly
    assert got["c"]["r_nano"] > got["a"]["r_nano"] > got["b"]["r_nano"]
    for v, row in got.items():
        assert row["pr"] == round(row["r_nano"] / float(PR_SCALE), 9)


def test_pagerank_dangling_leak_documented(spark):
    """b is a sink: total mass decays but stays positive and ordering holds."""
    edges = [("a", "b"), ("c", "b")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["r_nano"] for r in pagerank(df, iters=5).collect()}
    assert got == _ref_pagerank(edges, iters=5)
    assert got["b"] > got["a"] == got["c"] > 0
    assert sum(got.values()) < PR_SCALE


def _ref_ppr(edges, seeds, iters=10, d=0.85):
    """Driver-side mirror of personalized_pagerank's pinned arithmetic."""
    nodes = sorted({x for e in edges for x in e})
    sd = sorted(set(seeds) & set(nodes))
    ns = len(sd)
    outd = {}
    for s, _ in edges:
        outd[s] = outd.get(s, 0) + 1
    r = {v: (math.floor(float(PR_SCALE) / ns) if v in sd else 0) for v in nodes}
    teleport_nano = (1.0 - d) * PR_SCALE
    for _ in range(iters):
        s_in = {v: 0 for v in nodes}
        for u, v in edges:
            s_in[v] += r[u] // outd.get(u, 1)
        r = {
            v: (math.floor(teleport_nano / ns) if v in sd else 0)
            + math.floor(d * float(s_in[v]))
            for v in nodes
        }
    return r


def test_ppr_matches_python_mirror_and_localizes(spark):
    from rdfcmap_spark.operators.graph import personalized_pagerank

    # component 1 (contains the seed) + disconnected component 2
    edges = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
             ("x", "y"), ("y", "x")]
    df = spark.createDataFrame(edges, "src string, dst string").repartition(3)
    seeds = spark.createDataFrame([("a",), ("zzz-not-in-graph",)], "node string")
    got = {r["node"]: r["r_nano"] for r in personalized_pagerank(df, seeds).collect()}
    assert got == _ref_ppr(edges, ["a", "zzz-not-in-graph"])
    # mass localizes: the seed's component holds all rank, the other none
    assert got["a"] > 0 and got["b"] > 0 and got["c"] > 0
    assert got["x"] == 0 and got["y"] == 0


def test_empty_edges_give_empty_frame(spark):
    from rdfcmap_spark.operators.graph import personalized_pagerank

    df = spark.createDataFrame([], "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    for out in (pagerank(df), personalized_pagerank(df, seeds)):
        assert out.schema.simpleString() == "struct<node:string,r_nano:bigint,pr:double>"
        assert out.collect() == []


def test_ppr_without_seed_in_graph_is_all_zero(spark):
    from rdfcmap_spark.operators.graph import personalized_pagerank

    edges = [("a", "b"), ("b", "c"), ("c", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    for rows in ([("zzz",)], []):
        seeds = spark.createDataFrame(rows, "node string")
        got = {r["node"]: r["r_nano"] for r in personalized_pagerank(df, seeds).collect()}
        assert got == {"a": 0, "b": 0, "c": 0}


def test_pagerank_is_ppr_seeded_with_every_node(spark):
    from rdfcmap_spark.operators.graph import personalized_pagerank

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"), ("c", "e")]
    df = spark.createDataFrame(edges, "src string, dst string").repartition(3)
    seeds = spark.createDataFrame([(x,) for x in "abcde"], "node string")
    got = sorted(pagerank(df, iters=7).collect())
    assert got == sorted(personalized_pagerank(df, seeds, iters=7).collect())
    assert {r["node"]: r["r_nano"] for r in got} == _ref_pagerank(edges, iters=7)


def test_source_only_node_gets_exactly_the_teleport_term(spark):
    """d has out-edges but no in-edges: after any round its rank is the
    bare teleport term floor((1-d)*1e9/N)."""
    edges = [("a", "b"), ("b", "a"), ("d", "a"), ("d", "b")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["r_nano"] for r in pagerank(df, iters=3).collect()}
    assert got == _ref_pagerank(edges, iters=3)
    assert got["d"] == math.floor((1.0 - 0.85) * PR_SCALE / 3)
