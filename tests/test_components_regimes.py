"""The two contracted-components regimes must agree exactly.

``min_label_components_contracted`` solves the contracted graph either
by a driver union-find (small graphs, the default) or by distributed
min-label propagation to fixpoint (forced by ``distributed_regimes``).
A chain graph of diameter 7 leaves a NON-empty contraction (l1 is not
yet the component minimum), so both regimes actually run their solver.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ipes_data_pipeline_spark.operators.dedup_fuzzy import (
    min_label_components_contracted,
)


def _chain_graph(spark, n=8, offset=0):
    """Nodes offset+1..offset+n in a path; plus two isolated nodes."""
    ids = [offset + i for i in range(1, n + 1)]
    nodes = spark.createDataFrame(
        [(i,) for i in ids + [offset + 100, offset + 200]], "node bigint"
    )
    half = [(a, b) for a, b in zip(ids, ids[1:])]
    edges = spark.createDataFrame(half, "src bigint, dst bigint")
    edges = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return nodes, edges


def test_driver_uf_matches_distributed_fixpoint(spark, distributed_regimes):
    nodes, edges = _chain_graph(spark)
    uf = min_label_components_contracted(nodes, edges)  # driver regime
    got_uf = {(r["node"], r["canonical_id"]) for r in uf.collect()}
    with distributed_regimes():
        loop = min_label_components_contracted(nodes, edges)
        got_loop = {(r["node"], r["canonical_id"]) for r in loop.collect()}
    expect = {(i, 1) for i in range(1, 9)} | {(100, 100), (200, 200)}
    assert got_uf == expect
    assert got_loop == expect


def test_driver_uf_multiple_components(spark):
    # two chains with interleaved ids: canonical = per-component min
    n1, e1 = _chain_graph(spark, n=5, offset=0)
    n2, e2 = _chain_graph(spark, n=5, offset=2)  # overlaps ids 3..5
    nodes = n1.unionAll(n2).distinct()
    edges = e1.unionAll(e2)
    out = {
        (r["node"], r["canonical_id"])
        for r in min_label_components_contracted(nodes, edges).collect()
    }
    # ids 1..7 all connect (chains share 3,4,5): one component, min = 1
    assert {(i, 1) for i in range(1, 8)} <= out
    assert (100, 100) in out and (102, 102) in out
