"""Physical-plan assertions (SURVEY §5.2 t1): the plans we *want*, not
just plans that pass — broadcast for dims, pushdown/pruning reaching the
parquet scan, TakeOrderedAndProject for top-k, codegen in the hot path.
Built on the library's own plan inspectors (ipes_data_pipeline_spark.plans)."""

from __future__ import annotations

from ipes_data_pipeline_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pruned_columns,
    assert_pushed_filters,
    formatted_plan,
    global_window_violations,
    has_operator,
)
from ipes_data_pipeline_spark.queries import REGISTRY, load_all

load_all()


def q(spark, name, sf_dir):
    return REGISTRY[name].spark(spark, sf_dir)


def test_dim_join_broadcasts(spark, sf_dir):
    # part is a dim: the join must be broadcast-hash, not sort-merge
    assert_broadcast_join(q(spark, "q24_broadcast_join", sf_dir), forbid_smj=True)


def test_star_join_broadcasts_small_dims(spark, sf_dir):
    # 6-way star: nation/region/supplier sides must broadcast
    assert_broadcast_join(q(spark, "q25_star_join", sf_dir))


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    assert_pushed_filters(
        q(spark, "q03_filter_range", sf_dir), "IsNotNull(l_shipdate)"
    )


def test_column_pruning(spark, sf_dir):
    assert_pruned_columns(
        q(spark, "q01_scan_project", sf_dir),
        expected=["l_orderkey", "l_quantity"],
        forbidden=["l_comment", "l_shipdate"],
    )


def test_topk_is_take_ordered(spark, sf_dir):
    assert has_operator(q(spark, "q37_global_topk", sf_dir), "TakeOrderedAndProject")


def test_agg_partial_before_exchange(spark, sf_dir):
    # map-side combine: partial aggregation must run before the shuffle
    # (codegen markers only appear on the finalized AQE plan, so assert
    # the aggregate shape instead)
    p = formatted_plan(q(spark, "q14_tpch_q1", sf_dir))
    assert "HashAggregate" in p
    assert "partial_sum" in p
    # partial agg appears upstream of the final-agg exchange
    assert p.index("partial_sum") > p.index("HashAggregate")


def test_semi_anti_join_shapes(spark, sf_dir):
    assert "LeftSemi" in formatted_plan(q(spark, "q27_semi_join", sf_dir))
    assert "LeftAnti" in formatted_plan(q(spark, "q28_anti_join", sf_dir))


def test_no_cartesian_products(spark, sf_dir):
    # blocked similarity ops must never plan a cartesian product
    for name in (
        "q42_dedup_minhash_lsh",
        "q44_dedup_ngram_jaccard",
        "q45_embedding_neardup_lsh",
        "q39_fuzzy_dedup",
    ):
        assert_no_cartesian(q(spark, name, sf_dir))


def test_range_join_is_equi_join_not_nested_loop(spark, sf_dir):
    # The naive inequality join plans as BroadcastNestedLoopJoin; the
    # bucketed rewrite must plan as a hash/sort-merge equi-join.
    df = q(spark, "q73_range_join_bucketed", sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert any(
        op in plan
        for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), plan


def test_range_count_is_broadcast_lookups(spark, sf_dir):
    # The prefix-sum form must resolve both histogram lookups as
    # broadcast-hash joins — no shuffle of the orders probe side, and no
    # pair materialization. The one allowed nested-loop is the scalar
    # bounds attach: a cross join against a single-row (lo, hi) relation.
    # formatted plans name each operator twice (tree + detail section)
    plan = formatted_plan(q(spark, "q76_range_count_prefix", sf_dir))
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 4, plan
    # the histogram is checkpointed: the fact table must not be re-scanned
    # per lookup side (it would appear 4x un-checkpointed)
    assert plan.count("lineitem.parquet") == 0, plan


def test_vocab_topk_is_take_ordered(spark, sf_dir):
    # LIMIT 200 over the grouped counts must plan as
    # TakeOrderedAndProject (per-partition top-k, no global sort), with
    # a partial count before the token exchange (map-side combine).
    plan = formatted_plan(q(spark, "q80_vocab_topk", sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan, plan


def test_contamination_probe_is_broadcast(spark, sf_dir):
    # The benchmark shingle set must broadcast: the training-corpus probe
    # side reaches the join without an exchange; the only shuffles are
    # the benchmark distinct and the tiny per-doc count.
    plan = formatted_plan(q(spark, "q83_contamination_check", sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bigram_topk_is_take_ordered(spark, sf_dir):
    # Same contract as q80: map-side combine before the pair-key
    # exchange, LIMIT planned as per-partition top-k.
    plan = formatted_plan(q(spark, "q86_bigram_topk", sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan, plan


def test_hash_split_single_shuffle(spark, sf_dir):
    # The split is pure column math: exactly one exchange (the final
    # small agg), nothing upstream of it.
    plan = formatted_plan(q(spark, "q77_hash_split", sf_dir))
    assert plan.count("Exchange") <= 2, plan  # agg exchange (+AQE read)
    assert "Join" not in plan, plan


def test_full_outer_is_sort_merge(spark, sf_dir):
    # Full outer cannot broadcast either side (null rows must surface
    # from both); the plan must be a shuffle join on the key.
    plan = formatted_plan(q(spark, "q88_full_outer_join", sf_dir))
    assert "FullOuter" in plan, plan
    assert any(op in plan for op in ("SortMergeJoin", "ShuffledHashJoin")), plan


def test_pii_redact_is_pure_map(spark, sf_dir):
    # Chained regexp_replace is a map-only plan: no exchange, no join —
    # the stage inherits the scan's partitioning at any scale.
    plan = formatted_plan(q(spark, "q90_pii_redact", sf_dir))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_kmeans_scoring_broadcasts_centroids(spark, sf_dir):
    # Centroid scoring must broadcast the (tiny) centroid side; the
    # embedding table reaches the argmin window without a pre-join
    # shuffle. The window + final per-cluster agg are the only exchanges.
    plan = formatted_plan(q(spark, "q91_kmeans_assign", sf_dir))
    assert "Broadcast" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bloom_semi_filter_no_false_negatives_and_broadcast(spark, sf_dir):
    # q104: the bloom may over-approximate but never under-approximate
    # (n_bloom_pass = n_exact + n_false_pos per group), and the probe
    # side must see the sketch via broadcast, never a shuffle join.
    df = q(spark, "q104_bloom_semi_filter", sf_dir)
    assert_broadcast_join(df, forbid_smj=True)
    for r in df.collect():
        assert r["n_bloom_pass"] >= r["n_exact"], r
        assert r["n_bloom_pass"] == r["n_exact"] + r["n_false_pos"], r


def test_bloom_semi_filter_regimes_agree(spark, sf_dir, distributed_regimes):
    # q104's build side has two regimes (round 11): a byte-capped driver
    # key collect (fast path) and a distributed explode+bit_or bloom
    # build whose 16 KB filter is the ONLY thing collected (the 100 TB
    # path — the driver never holds the key set). Forcing the caps to 0
    # engages the distributed regime; values must be identical.
    fast = sorted(map(tuple, q(spark, "q104_bloom_semi_filter", sf_dir).collect()))
    with distributed_regimes():
        dist = sorted(
            map(tuple, q(spark, "q104_bloom_semi_filter", sf_dir).collect())
        )
    assert fast == dist


def test_weighted_sample_is_take_ordered_no_exchange(spark, sf_dir):
    # A-Res top-k must plan as TakeOrderedAndProject over the scan —
    # per-task local top-50 merged on the driver, zero shuffles
    plan = formatted_plan(q(spark, "q105_weighted_sample", sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_zscore_anomaly_single_exchange(spark, sf_dir):
    # moments + filter in one window pass: exactly one shuffle (user_id)
    import re

    plan = formatted_plan(q(spark, "q108_zscore_anomaly", sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_pmi_totals_are_broadcast(spark, sf_dir):
    # the 1-row totals cross join must be a broadcast nested loop over
    # one row, never a shuffled cartesian
    p = formatted_plan(q(spark, "q107_pmi_collocations", sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_knn_graph_has_no_exchange(spark, sf_dir):
    # the broadcast-corpus kNN graph must be scan -> mapInPandas with no
    # shuffle anywhere: the whole point of the design (SCALING.md case
    # study) is that the pair set never materializes and the query side
    # needs no repartitioning.
    plan = formatted_plan(q(spark, "q114_knn_graph", sf_dir))
    assert "Exchange" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan, plan


def test_no_global_window_over_raw_rows_anywhere(spark, sf_dir):
    """Sweep EVERY registered query's physical plan: no WindowExec with
    an empty partition spec may sit over un-reduced input. The gate
    logs 'No Partition Defined' warnings on bounded histogram tables —
    fine — but nothing previously ASSERTED boundedness, so a future
    query could silently plan a single-task global window over fact
    rows. This pins it. Also sanity-checks the detector against a
    deliberately bad plan (it must fire)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    # detector must fire on the known-bad shape: global row_number
    # directly over a raw scan
    raw = spark.read.parquet(f"{sf_dir}/orders.parquet")
    bad = raw.withColumn(
        "rn", F.row_number().over(W.orderBy("o_orderkey"))
    )
    assert global_window_violations(bad), "detector failed to flag a global window over raw rows"
    # and stay quiet once the input is aggregated
    ok = (
        raw.groupBy("o_orderstatus")
        .count()
        .withColumn("rn", F.row_number().over(W.orderBy("o_orderstatus")))
    )
    assert not global_window_violations(ok)

    offenders = {}
    for name in sorted(REGISTRY):
        df = REGISTRY[name].spark(spark, sf_dir)
        v = global_window_violations(df)
        if v:
            offenders[name] = v
    assert not offenders, offenders


def test_prefix_sum_window_input_is_domain_bounded(spark, sf_dir):
    # rangejoin.range_count's single-partition window is legal ONLY
    # because its input is the dense day-grain histogram — one row per
    # domain value between min and max point, NEVER per fact row. Pin
    # the bound: the pre-window frame has exactly (hi - lo + 1) rows,
    # orders of magnitude under the fact count (VERDICT r10 item 9).
    from pyspark.sql import functions as F

    from ipes_data_pipeline_spark.queries import t

    ev = t(spark, sf_dir, "events").select(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day")
    )
    lo, hi, n_facts = ev.agg(
        F.min("day"), F.max("day"), F.count(F.lit(1))
    ).first()
    span = hi - lo + 1
    assert span <= 100_000, span  # the docstring's day/hour-grain contract
    assert span < n_facts, (span, n_facts)


def test_context_assembly_window_input_is_k_bounded(spark, sf_dir):
    # q169's global packing windows run over the fused hybrid ranking
    # joined to documents and re-aggregated — bounded by the UNION of
    # the two legs' top-N (<= 2 x _RRF_K rows), never the corpus
    # (VERDICT r10 item 9).
    from pyspark.sql import functions as F

    from ipes_data_pipeline_spark.functions.text import tokens
    from ipes_data_pipeline_spark.queries import t
    from ipes_data_pipeline_spark.queries.retrieval import _RRF_K, q163

    fused = q163(spark, sf_dir)
    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    pre_window = (
        fused.join(docs, "id")
        .groupBy("id", "rrf_score")
        .agg(F.min("n_tokens").alias("n_tokens"))
    )
    assert pre_window.count() <= 2 * _RRF_K


def test_cdc_apply_single_window_exchange(spark, sf_dir):
    # both window functions partition on user_id: Catalyst must plan ONE
    # hash exchange, not one per window.
    import re

    plan = formatted_plan(q(spark, "q117_cdc_apply", sf_dir))
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M))
    assert n_exchanges == 1, plan


def test_bm25_topk_is_take_ordered(spark, sf_dir):
    # the final top-k must be TakeOrderedAndProject (bounded per-task
    # heaps + driver merge), never a global sort of all scored docs
    plan = formatted_plan(q(spark, "q134_bm25_topk", sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_winsorize_band_join_is_broadcast(spark, sf_dir):
    # the [p05, p95] band table is |event_types| rows — must broadcast
    # back to the fact scan, never shuffle the facts for the clip
    assert_broadcast_join(q(spark, "q141_winsorize", sf_dir), forbid_smj=True)


def test_cell_assignment_is_single_broadcast_row(spark):
    # cell assignment broadcasts ONE centroid row (array<struct>) and
    # scores map-side: the plan must be a broadcast nested-loop of one
    # row, never an exchange of the corpus (q130/q72's assignment stage;
    # the query-level plan hides it behind the localCheckpoint cut)
    from ipes_data_pipeline_spark.operators.similarity import _with_cells

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id long, v array<double>"
    )
    plan = formatted_plan(_with_cells(emb, [(1, [1.0, 0.0]), (2, [0.0, 1.0])]))
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_pagerank_edges_join_broadcast_rank(spark, sf_dir):
    # every round's rank side is |nodes|-sized and broadcast: the edge
    # table must never shuffle for the join (only the dst aggregate
    # exchanges)
    plan = formatted_plan(q(spark, "q140_pagerank", sf_dir))
    assert "BroadcastHashJoin" in plan


def test_quality_ensemble_is_pure_map(spark, sf_dir):
    # four signals, one scan: no exchange anywhere in the plan
    plan = formatted_plan(q(spark, "q139_quality_ensemble", sf_dir))
    assert "Exchange" not in plan or "REPARTITION" in plan  # spread() only


def test_minhash_signatures_are_codegen_aggregates(spark, sf_dir):
    """The signature stage must be explode + partial min AGGREGATES
    (whole-stage-codegen path), not interpreted array higher-order
    folds: partial_min markers before the exchange, and no
    aggregate()/transform() lambda minhash in the plan."""
    from ipes_data_pipeline_spark.operators.dedup_minhash import minhash_bands

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = formatted_plan(minhash_bands(docs, "doc_id", "text", hash_fn="xxhash64"))
    assert "partial_min" in p  # map-side combined signature minima
    assert "Generate" in p and "explode" in p  # shingles exploded, not folded
    # the minhash minima must NOT be computed by interpreted array_min
    # over a transform (the pre-round-4 form)
    assert "array_min" not in p


def test_asof_join_single_key_shuffle(spark, sf_dir):
    """The union-stream as-of plan: exactly ONE hashpartitioning
    exchange (the key), and no join operator at all — the old
    range-join + argmax form carried a fan-out join plus a second
    per-left-row exchange."""
    p = formatted_plan(q(spark, "q53_asof_join", sf_dir))
    assert "hashpartitioning(__k" in p
    # exactly one shuffle: the only hash partitioning in the plan is the
    # key exchange feeding the window
    assert p.count("hashpartitioning(") == 1
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join_op not in p


def test_q151_exists_becomes_semi_join_with_pruned_build(spark, sf_dir):
    # EXISTS must plan as a left-semi hash join; the lineitem build side
    # carries only the join key + filter column, with the returnflag
    # predicate pushed into the scan.
    df = q(spark, "q151_tpch_q4_shape", sf_dir)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan
    assert_pushed_filters(df, "EqualTo(l_returnflag,R)")
    li_schema = [
        ln
        for ln in plan.splitlines()
        if "ReadSchema" in ln and "l_orderkey" in ln
    ]
    assert li_schema, f"no lineitem ReadSchema in plan:\n{plan}"
    assert "l_returnflag" in li_schema[0]
    for col in ("l_quantity", "l_extendedprice", "l_shipdate"):
        assert col not in li_schema[0], f"{col} not pruned: {li_schema[0]}"


def test_q156_disjunction_derives_scan_residuals(spark, sf_dir):
    # From the OR-of-ANDs Catalyst must derive table-local residuals:
    # the lineitem scan gets the quantity envelope, the part scan gets
    # the size envelope - neither table streams unfiltered rows into
    # the join.
    df = q(spark, "q156_tpch_q19_shape", sf_dir)
    assert_pushed_filters(
        df,
        "GreaterThanOrEqual(l_quantity,1.0)",
        "LessThanOrEqual(l_quantity,30.0)",
        "GreaterThanOrEqual(p_size,1)",
    )
    assert_no_cartesian(df)


def test_q154_rev_view_computed_once(spark, sf_dir):
    # The quarterly revenue view feeds both the global max and the
    # equality join; without the cut() barrier the adaptive plan scanned
    # lineitem twice. After the cut, the executed plan must contain no
    # lineitem file scan at all (both consumers read the materialized
    # supplier-level aggregate).
    df = q(spark, "q154_tpch_q15_shape", sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in final


def test_q157_first_occurrence_is_partial_aggregate(spark, sf_dir):
    # Paragraph first-occurrence selection must be a min(struct) hash
    # aggregate (map-side partial combine - skew-safe on boilerplate
    # paragraphs), never a row_number window over paragraph partitions.
    plan = formatted_plan(q(spark, "q157_paragraph_dedup", sf_dir))
    assert "partial_min" in plan
    assert "row_number" not in plan
