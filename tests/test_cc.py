"""Connected components on known graphs, on both of its paths: the star
rounds and the one-task local finish (operators/cc.py, hybrid finish)."""

import random

import pytest
from pyspark.sql import functions as F

from biomedical_el_spark.operators import cc
from biomedical_el_spark.operators.cc import connected_components

# Every graph here is far below the hybrid threshold, so the default path
# is the local finish from the start; a threshold of -1 forces star rounds
# until the star certificate holds (no frontier fits).
PATHS = {"hybrid": cc._EDGES_PER_PARTITION, "star": -1}


def _cc(spark, edges, schema="url_a string, url_b string"):
    df = spark.createDataFrame(edges, schema)
    rows = connected_components(df).collect()
    return {r["node"]: r["component"] for r in rows}


def _union_find(edges):
    """Reference: (node → min node id of its component) for every node on
    a non-self-loop edge, by plain Python union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_two_components(spark):
    comp = _cc(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert comp["a"] != comp["x"]


def test_long_chain(spark, monkeypatch):
    # chain of 40 nodes — worst case for naive propagation; large/small star
    # must converge in O(log n) rounds within the _MAX_ROUNDS budget, and the
    # local finish must hook it to one label
    nodes = [f"n{i:03d}" for i in range(40)]
    for path, threshold in PATHS.items():
        monkeypatch.setattr(cc, "_EDGES_PER_PARTITION", threshold)
        comp = _cc(spark, list(zip(nodes, nodes[1:])))
        assert set(comp.values()) == {"n000"}, path
        assert len(comp) == 40, path


def test_cycle_and_duplicate_edges(spark):
    comp = _cc(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("a", "b"), ("b", "a")])
    assert set(comp.values()) == {"a"}


def test_reliable_checkpoint_option(spark, tmp_path):
    """checkpoint_dir switches rounds to reliable checkpoint() (cluster-
    safe under executor loss) with identical output."""
    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    df = spark.createDataFrame(edges, "url_a string, url_b string")
    ckdir = str(tmp_path / "cc_ck")
    rows = connected_components(df, checkpoint_dir=ckdir).collect()
    comp = {r["node"]: r["component"] for r in rows}
    assert comp == _cc(spark, edges)
    import os

    assert any(os.scandir(ckdir)), "reliable checkpoint dir never written"


def test_star_certificate_matches_hash_convergence(spark, monkeypatch):
    """The star-certificate stop (and the local finish) must produce the
    same components as running the stars to a generous fixed budget
    (hash-stability upper bound) on an adversarial mix: chain + cycle +
    star + singleton edge."""
    from biomedical_el_spark.operators.cc import _star, _symmetrize

    edges = (
        [(f"c{i}", f"c{i+1}") for i in range(9)]
        + [("r1", "r2"), ("r2", "r3"), ("r3", "r1")]
        + [("h", x) for x in ("h1", "h2", "h3", "h4")]
        + [("s1", "s2")]
    )
    df = spark.createDataFrame(edges, "url_a string, url_b string")
    e = _symmetrize(df.select(F.col("url_a").alias("src"), F.col("url_b").alias("dst")))
    for _ in range(10):  # >> log2(n): guaranteed past the fixpoint
        e = _star(_star(e, large=True, dedup=False), large=False).localCheckpoint()
    comp = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = comp.select(F.col("component").alias("node"), F.col("component"))
    ref = {
        r["node"]: r["component"]
        for r in comp.union(roots)
        .groupBy("node")
        .agg(F.min("component").alias("component"))
        .collect()
    }
    for path, threshold in PATHS.items():
        monkeypatch.setattr(cc, "_EDGES_PER_PARTITION", threshold)
        got = {r["node"]: r["component"] for r in connected_components(df).collect()}
        assert got == ref, path


def test_star_rounds_then_local_finish(spark, monkeypatch):
    """A graph above the (patched) threshold runs star rounds until its
    frontier fits, then switches to the local finish: four 8-cliques
    (112 edges) collapse to stars (28 edges) in one round."""
    calls = {"star": 0, "local": 0}
    star, finish = cc._star, cc._finish_locally

    def counted_star(*a, **k):
        calls["star"] += 1
        return star(*a, **k)

    def counted_finish(*a, **k):
        calls["local"] += 1
        return finish(*a, **k)

    monkeypatch.setattr(cc, "_star", counted_star)
    monkeypatch.setattr(cc, "_finish_locally", counted_finish)
    monkeypatch.setattr(cc, "_EDGES_PER_PARTITION", 50)
    edges = [
        (f"q{k}_{i}", f"q{k}_{j}")
        for k in range(4)
        for i in range(8)
        for j in range(i + 1, 8)
    ]
    comp = _cc(spark, edges)
    assert calls == {"star": 2, "local": 1}  # one round = large + small star
    assert comp == _union_find(edges)


# ids whose Spark (UTF-8 byte) order differs from UTF-16 order or from a
# case/accent-folded order: 'z' < 'é', 'Z' < 'a', U+FFFF < U+1F600
_UNICODE_IDS = ["z", "é", "É", "Z", "a", "\uffff", "\U0001f600", "e", "ß", "日本"]


def _random_graph(rng, kind):
    """Random components of mixed shape — chains, cliques and sparse
    random subgraphs — plus self-loops, duplicate and reversed edges,
    with ids of `kind` ("string" or "bigint")."""
    n = rng.randint(20, 80)
    if kind == "bigint":
        pool = sorted({rng.randrange(-(2**63), 2**63) for _ in range(n)})
    else:
        pool = [f"u{rng.randrange(10**6)}/{i}" for i in range(n)] + _UNICODE_IDS
    rng.shuffle(pool)
    edges = []
    for _ in range(rng.randint(1, 6)):
        part = rng.sample(pool, rng.randint(2, min(12, len(pool))))
        shape = rng.choice(["chain", "clique", "sparse"])
        if shape == "chain":
            edges += list(zip(part, part[1:]))
        elif shape == "clique":
            edges += [(a, b) for i, a in enumerate(part) for b in part[i + 1 :]]
        else:
            edges += [(rng.choice(part), rng.choice(part)) for _ in range(len(part))]
    edges += [(x, x) for x in rng.sample(pool, 3)]  # self-loops
    edges += rng.sample(edges, len(edges) // 4)  # duplicates
    edges += [(b, a) for a, b in rng.sample(edges, len(edges) // 4)]  # reversed
    rng.shuffle(edges)
    return edges


@pytest.mark.parametrize("path", sorted(PATHS))
@pytest.mark.parametrize("kind", ["string", "bigint"])
def test_matches_union_find_on_random_graphs(spark, monkeypatch, path, kind):
    """Property: on seeded random graphs, both paths give exactly the
    union-find components with component = min id in Spark's order."""
    monkeypatch.setattr(cc, "_EDGES_PER_PARTITION", PATHS[path])
    schema = f"url_a {kind}, url_b {kind}"
    for seed in range(3):
        edges = _random_graph(random.Random(seed), kind)
        assert _cc(spark, edges, schema) == _union_find(edges), seed


@pytest.mark.parametrize("path", sorted(PATHS))
def test_edge_cases(spark, monkeypatch, path):
    """Empty edge set and self-loop-only input emit nothing; the min-id
    component of non-ASCII ids follows Spark's byte order ('z' < 'é')."""
    monkeypatch.setattr(cc, "_EDGES_PER_PARTITION", PATHS[path])
    assert _cc(spark, []) == {}
    assert _cc(spark, [("a", "a"), ("é", "é")]) == {}
    assert _cc(spark, [(5, 5)], "url_a bigint, url_b bigint") == {}
    assert _cc(spark, [("é", "z"), ("z", "é")]) == {"é": "z", "z": "z"}
    chain = list(zip(_UNICODE_IDS, _UNICODE_IDS[1:]))
    assert _cc(spark, chain) == {x: "Z" for x in _UNICODE_IDS} == _union_find(chain)


def test_transitivity_invariant(spark, pages):
    """Cluster transitivity: if (a,b) and (b,c) are links then a,b,c share
    a component."""
    from biomedical_el_spark.plans.linkage import run_linkage

    out = run_linkage(spark, pages)
    links = out["links"]
    comp = out["clusters"]
    c1 = comp.select(F.col("node").alias("url_a"), F.col("component").alias("ca"))
    c2 = comp.select(F.col("node").alias("url_b"), F.col("component").alias("cb"))
    joined = links.join(c1, "url_a").join(c2, "url_b")
    assert joined.filter(F.col("ca") != F.col("cb")).count() == 0
    # every page appears exactly once
    assert comp.count() == pages.count()
    assert comp.select("node").distinct().count() == pages.count()
