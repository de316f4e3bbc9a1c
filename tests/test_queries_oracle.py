"""Every registered query matches its DuckDB oracle at sf0.001.

This mirrors the driver's CORRECTNESS gate (which runs at sf0.01); the
smoke scale keeps the suite fast.
"""

from __future__ import annotations

import pytest

from ipes_data_pipeline_spark.operators import regime
from ipes_data_pipeline_spark.oracle import check_query, compare, run_oracle
from ipes_data_pipeline_spark.queries import REGISTRY, load_all

load_all()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, sf_dir, name):
    problems = check_query(spark, name, sf_dir)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle_in_distributed_regimes(
    spark, sf_dir, monkeypatch, distributed_regimes, name
):
    """Every size-gated site forced to its distributed / spill regime
    (all caps 0) still gives the oracle's answer. Queries that consult
    no site are skipped once built."""
    sites = []
    small = regime.small

    def spy(site, nbytes):
        sites.append(site)
        return small(site, nbytes)

    monkeypatch.setattr(regime, "small", spy)
    spec = REGISTRY[name]
    with distributed_regimes():
        df = spec.spark(spark, sf_dir)
        if not sites:
            pytest.skip("no size-gated site consulted")
        got = df.toPandas()
    problems = [] if spec.oracle is None else compare(
        got, run_oracle(spec.oracle, sf_dir)
    )
    assert not problems, f"{name} {sorted(set(sites))}: {problems}"


def test_bucketed_range_join_with_equi_keys(spark):
    """Operator unit: equi-key + range predicate, match produced once."""
    from ipes_data_pipeline_spark.operators.rangejoin import bucketed_range_join

    points = spark.createDataFrame(
        [("a", 5.0, 1), ("a", 25.0, 2), ("b", 5.0, 3)], "k string, ts double, pid int"
    )
    intervals = spark.createDataFrame(
        [("a", 0.0, 10.0, "w1"), ("a", 20.0, 30.0, "w2"), ("b", 100.0, 110.0, "w3")],
        "ik string, s double, e double, wid string",
    )
    out = bucketed_range_join(
        points, intervals, "ts", "s", "e", bucket_width=3.0, equi_keys=[("k", "ik")]
    )
    got = {(r["pid"], r["wid"]) for r in out.collect()}
    assert got == {(1, "w1"), (2, "w2")}
    assert out.count() == 2  # exactly-once per match, no bucket dups


def test_range_count_prefix_sum_edges(spark):
    """Operator unit: prefix-sum counts equal the pair-join counts,
    including windows fully below, fully above, and straddling the
    histogram bounds, and zero-count windows are kept with 0."""
    from ipes_data_pipeline_spark.operators.rangejoin import range_count

    points = spark.createDataFrame(
        [(10,), (10,), (12,), (15,), (20,)], "p long"
    )
    intervals = spark.createDataFrame(
        [
            ("below", 0, 5),  # entirely before min(p) -> 0
            ("above", 30, 40),  # entirely after max(p) -> 0
            ("straddle_lo", 5, 11),  # clamps start below lo -> counts the two 10s
            ("straddle_hi", 15, 99),  # clamps end above hi -> 15 and 20
            ("interior", 11, 16),  # half-open: 12 and 15, excludes nothing at 16
            ("empty_gap", 13, 15),  # in-range but no points -> 0
            ("all", 0, 100),  # whole histogram -> 5
        ],
        "wid string, s long, e long",
    )
    out = range_count(points, intervals, "p", "s", "e", out_col="n")
    got = {r["wid"]: r["n"] for r in out.collect()}
    assert got == {
        "below": 0,
        "above": 0,
        "straddle_lo": 2,
        "straddle_hi": 2,
        "interior": 2,
        "empty_gap": 0,
        "all": 5,
    }


def test_grouped_topk_winners_across_partitions(spark):
    """Operator unit: every group's global winners survive the per-
    partition pre-reduce no matter how rows are scattered, and boundary
    ties break by the tiebreak column."""
    from ipes_data_pipeline_spark.operators.topk import grouped_topk

    rows = [("g", i, float(v)) for i, v in enumerate([5, 9, 9, 1, 8, 9, 2, 7])]
    rows += [("h", 100 + i, float(i)) for i in range(4)]
    df = spark.createDataFrame(
        rows, "grp string, id long, v double"
    ).repartition(8)  # scatter so winners sit in different partitions
    out = grouped_topk(
        df, group_cols=["grp"], order_col="v", k=3, tiebreak_col="id"
    ).collect()
    got = {(r["grp"], r["id"]) for r in out}
    # g: three 9s (ids 1,2,5) — the tied trio beats the lone 8
    assert {(g, i) for g, i in got if g == "g"} == {("g", 1), ("g", 2), ("g", 5)}
    # h: top-3 of 0..3 by value desc = ids 103,102,101
    assert {(g, i) for g, i in got if g == "h"} == {
        ("h", 103), ("h", 102), ("h", 101)
    }


def test_new_operators_tolerate_empty_input(spark):
    """Empty-frame sweep: the batch similarity/topk/dedup operators must
    plan and return empty results, not crash, when a filter upstream
    leaves nothing (routine at partition boundaries of a real lake)."""
    from ipes_data_pipeline_spark.operators.dedup_minhash import (
        minhash_lsh_pairs_delta,
        simhash_neardup_pairs,
    )
    from ipes_data_pipeline_spark.operators.similarity import (
        knn_graph,
        knn_graph_bucketed,
    )
    from ipes_data_pipeline_spark.operators.topk import grouped_topk

    no_vecs = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert knn_graph(no_vecs, "vec_id", "embedding", k=3).count() == 0
    assert knn_graph_bucketed(no_vecs, "vec_id", "embedding", k=3).count() == 0

    no_docs = spark.createDataFrame([], "doc_id long, text string")
    some_docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    assert simhash_neardup_pairs(no_docs, "doc_id", "text").count() == 0
    # empty new batch vs non-empty corpus AND vice versa
    assert (
        minhash_lsh_pairs_delta(no_docs, some_docs, "doc_id", "text").count() == 0
    )
    assert (
        minhash_lsh_pairs_delta(some_docs, no_docs, "doc_id", "text").count() == 0
    )

    no_rows = spark.createDataFrame([], "grp string, id long, v double")
    assert (
        grouped_topk(no_rows, ["grp"], "v", k=3, tiebreak_col="id").count() == 0
    )

    from ipes_data_pipeline_spark.operators.graph import pagerank
    from ipes_data_pipeline_spark.operators.layout import zorder_by
    from ipes_data_pipeline_spark.operators.similarity import semdedup

    assert semdedup(no_vecs, "vec_id", "embedding").count() == 0
    no_nodes = spark.createDataFrame([], "node long")
    no_edges = spark.createDataFrame([], "src long, dst long, w long")
    assert pagerank(no_nodes, no_edges, iterations=2).count() == 0
    # isolated nodes with zero edges keep the base rank
    one_node = spark.createDataFrame([(7,)], "node long")
    assert pagerank(one_node, no_edges, iterations=2).collect()[0]["rank"] == 0.15
    assert zorder_by(no_rows, ["v", "id"]).count() == 0


def test_materialize_ctes_rewrites_ctes_and_rejects_window_clause():
    # the regex rewrite targets CTE heads only; a WINDOW clause shares
    # the '<name> AS (' shape and must be rejected, not silently mangled
    import pytest as _pytest

    from ipes_data_pipeline_spark.queries.tpch_shapes import _materialize_ctes

    sql = "WITH a AS (SELECT 1), b AS (SELECT 2) SELECT * FROM a, b"
    out = _materialize_ctes(sql)
    assert out.count("AS MATERIALIZED (") == 2
    bad = "SELECT sum(x) OVER w FROM t WINDOW w AS (PARTITION BY y)"
    with _pytest.raises(ValueError, match="WINDOW"):
        _materialize_ctes(bad)
