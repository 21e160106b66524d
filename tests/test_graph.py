"""PageRank (operators/graph.py): known closed forms, conservation
bounds, and bit-determinism across partitionings."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F


def _ranks(spark, edges, iters=10, n_parts=None):
    from fotmobdatapipeline_spark.operators.graph import pagerank

    df = spark.createDataFrame(edges, "src long, dst long")
    if n_parts:
        df = df.repartition(n_parts)
    out = pagerank(df, iters=iters)
    return {r["node"]: r["rank"] for r in out.collect()}


def test_cycle_is_uniform(spark):
    """On a directed cycle every node keeps rank exactly 1: the update
    0.15 + 0.85 * 1 is a fixed point, exact in decimal."""
    cycle = [(i, (i + 1) % 5) for i in range(5)]
    got = _ranks(spark, cycle, iters=7)
    assert set(got) == set(range(5))
    assert all(r == Decimal(1) for r in got.values()), got


def test_star_hub_dominates_and_mass_bounded(spark):
    """Star graph (all spokes point at the hub): the hub accumulates all
    spoke mass; total rank <= n (dangling hub leaks)."""
    spokes = 8
    star = [(i, 99) for i in range(spokes)]
    got = _ranks(spark, star, iters=10)
    hub, spoke_ranks = got[99], [got[i] for i in range(spokes)]
    assert all(r == spoke_ranks[0] for r in spoke_ranks)  # symmetry, exact
    assert hub > max(spoke_ranks) * 4
    total = sum(got.values())
    assert total <= Decimal(spokes + 1)


def test_pagerank_deterministic_across_partitionings(spark):
    """Decimal arithmetic makes ranks BIT-identical whatever the
    partitioning — the property double-based ranks cannot give."""
    edges = [(i, (i * 3 + 1) % 40) for i in range(40)] + [
        (i, (i * 7 + 2) % 40) for i in range(40)
    ]
    a = _ranks(spark, edges, iters=6, n_parts=1)
    b = _ranks(spark, edges, iters=6, n_parts=17)
    assert a == b


def test_pagerank_over_neardup_graph_runs(spark):
    """The catalog shape: centrality over the LSH candidate-pair graph
    (undirected -> both directions)."""
    from fotmobdatapipeline_spark.operators.dedup import (
        lsh_band_pairs,
        minhash_signatures,
    )
    from fotmobdatapipeline_spark.operators.graph import pagerank
    from fotmobdatapipeline_spark.sources.registry import read_table
    from tests.conftest import SF_SMALL

    docs = read_table(spark, SF_SMALL, "documents")
    pairs = lsh_band_pairs(minhash_signatures(docs, num_hashes=4), num_hashes=4)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    out = pagerank(edges, iters=5)
    assert out.count() > 0
    assert out.filter(F.col("rank") <= 0).count() == 0


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


def test_kcore_clique_survives_tail_peels(spark):
    """A 4-clique with a pendant chain: the clique is the 3-core (each
    member keeps degree 3 inside it); the chain and the node attached
    to one clique member peel away."""
    from fotmobdatapipeline_spark.operators.graph import kcore

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(3, 10), (10, 11), (11, 12)]
    got = {
        (r["doc_id"], r["core_deg"])
        for r in kcore(_pairs(spark, clique + chain), k=3, rounds=4).collect()
    }
    assert got == {(0, 3), (1, 3), (2, 3), (3, 3)}


def test_kcore_empty_when_graph_too_sparse(spark):
    """A pure cycle is a 2-core: k=3 peels everything."""
    from fotmobdatapipeline_spark.operators.graph import kcore

    cycle = [(i, (i + 1) % 6) for i in range(6)]
    assert kcore(_pairs(spark, cycle), k=3, rounds=3).count() == 0
    # and the same cycle IS the whole 2-core, degrees exactly 2
    got = {
        (r["doc_id"], r["core_deg"])
        for r in kcore(_pairs(spark, cycle), k=2, rounds=3).collect()
    }
    assert got == {(i, 2) for i in range(6)}


def test_kcore_deterministic_across_partitionings(spark):
    from fotmobdatapipeline_spark.operators.graph import kcore

    edges = (
        [(a, b) for a in range(5) for b in range(5) if a < b]  # 5-clique
        + [(4, 20), (20, 21), (0, 21), (21, 22), (22, 0)]
    )
    p = _pairs(spark, edges)
    one = sorted(map(tuple, kcore(p.repartition(1), k=3, rounds=5).collect()))
    many = sorted(map(tuple, kcore(p.repartition(9), k=3, rounds=5).collect()))
    assert one == many and len(one) == 5


def test_min_label_propagation_two_components(spark):
    """Two disjoint clusters (a path 1-2-3 and an edge 10-11) must
    resolve to their min-node component ids within the default rounds;
    a singleton chain longer than `rounds` would not — pinned here with
    a 3-hop path inside the round budget."""
    from fotmobdatapipeline_spark.operators.graph import min_label_propagation

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["component"]
        for r in min_label_propagation(pairs, rounds=6).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
