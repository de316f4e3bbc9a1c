"""Blocked fuzzy deduplication → canonical entity ids (SURVEY.md F4 / Q39).

The reference implements fuzzy dedup as an O(n²) all-pairs Python loop with
order-dependent merging (reference ``code/structure_data.py:155-211``). That
caps out around 10³ entities. The scalable re-expression is the classic
three-stage shape:

1. **Block**: a cheap deterministic key (first token, prefix, soundex,
   MinHash band) so candidate pairs only form within a block. Turns the
   O(n²) cross join into Σ O(b²) over blocks — with well-sized blocks this
   is linear-ish and each block's pairs co-locate on one shuffle partition.
2. **Refine**: `levenshtein(a, b) <= max_edits` on candidate pairs
   (JVM-side built-in, whole-stage codegen).
3. **Resolve**: connected components via iterative min-label propagation —
   each round is one `join` + `groupBy(min)`, i.e. two shuffles on the node
   key; rounds = graph diameter (bounded; checkpoint between rounds to cut
   lineage at scale).

Canonical id = component minimum ⇒ order-independent, unlike the
reference's scan-order merge (SURVEY.md §2.3.5 documents the divergence).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ipes_data_pipeline_spark.operators import regime
from ipes_data_pipeline_spark.operators.util import cut


def candidate_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_expr: Column,
    max_edits: int = 2,
    block_cap: int | None = None,
) -> DataFrame:
    """Blocked levenshtein candidate edges (src, dst), both directions.

    ``block_expr`` is evaluated per-row; pairs form only within equal
    blocks. At 100 TB the block key is the shuffle key — choose it so the
    largest block fits one task (salt or refine the key if skewed).

    ``block_cap`` is the skew valve (the q42p/_cap_band_buckets pattern,
    dedup_minhash.py): a block larger than the cap is deterministically
    sub-salted by ``md5(node) % ceil(bsz / cap)`` and pairs form only
    within a sub-block — in-block levenshtein work drops from O(b²) to
    O(b·cap) at the price of recall for pairs the salt separates, in
    exactly the oversized blocks. Every term (md5, ceil, mod) is
    ANSI-SQL-expressible, so unlike the MinHash valve this one is
    value-checked by the q39p oracle IN the regime where it fires.
    ``None`` ⇒ lossless blocking, unchanged behavior.

    The half edge set — the one PAIR-PROPORTIONAL intermediate here —
    materializes via the columnar parquet spill once the input reaches
    the ``edge_spill`` cap, else via ``localCheckpoint`` (see
    :mod:`.regime`).
    """
    keyed = df.select(
        F.col(id_col).alias("node"),
        F.col(name_col).alias("name"),
        block_expr.alias("blk"),
    )
    # Store-regime decision on the PRE-SALT projection (file-size-based
    # estimate for scan-rooted plans; the salted join below would
    # inflate the estimate with join-output guesses).
    spill = not regime.small("edge_spill", regime.estimate(keyed))
    if block_cap is not None:
        # Sizes via a map-side-combined groupBy broadcast back — a
        # window over blk would itself serialize on the skewed block
        # (the lesson measured on the simhash valve, SCALING.md).
        sizes = keyed.groupBy("blk").agg(F.count(F.lit(1)).alias("bsz"))
        n_sub = F.greatest(F.lit(1), F.ceil(F.col("bsz") / block_cap))
        salt = (
            F.conv(F.substring(F.md5(F.col("node").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % n_sub
        )
        keyed = (
            keyed.join(F.broadcast(sizes), "blk")
            .withColumn("sub", salt)
            .drop("bsz")
        )
    else:
        keyed = keyed.withColumn("sub", F.lit(0))
    # Round-robin the probe side: under a broadcast-hash join the probe
    # inherits the scan's partitioning (often 1 file = 1 task), which
    # serializes the whole O(Σb²) levenshtein work. With a shuffled probe
    # side every core gets a slice regardless of block skew.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    a = keyed.repartition(n_parts).alias("a")
    b = keyed.alias("b")
    # 3-arg levenshtein early-exits the DP once the distance exceeds the
    # threshold (returns -1 then) — ~2× cheaper on the refine hot path
    lev = F.levenshtein(F.col("a.name"), F.col("b.name"), max_edits)
    half = (
        a.join(
            b,
            on=[
                F.col("a.blk") == F.col("b.blk"),
                F.col("a.sub") == F.col("b.sub"),
                F.col("a.node") < F.col("b.node"),
            ],
        )
        .where((lev >= 0) & (lev <= max_edits))
        .select(F.col("a.node").alias("src"), F.col("b.node").alias("dst"))
        # Materialize the HALF edge set here: it feeds every downstream
        # use, and the reverse direction derives lazily below as a narrow
        # projection over the materialization — half the bytes of
        # persisting the doubled set. No spark_partition_id consumer
        # downstream, so the parquet spill's unpinned partition ids are
        # safe (cut docstring).
        .transform(lambda d: cut(d, via_parquet=spill))
    )
    return half.unionAll(half.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def min_label_components(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int,
    checkpoint: bool = False,
    until_converged: bool = False,
) -> DataFrame:
    """Connected components by min-label propagation.

    ``nodes``: one column ``node``; ``edges``: ``src``/``dst`` (directed
    both ways). Returns ``(node, canonical_id)``. After *k* rounds each
    label is the minimum over the k-hop neighborhood, so ``iterations``
    must be ≥ the component diameter. For oracle-deterministic queries we
    unroll a fixed count; library callers can pass ``checkpoint=True`` to
    truncate lineage each round (mandatory on deep graphs at scale).

    ``until_converged=True`` makes ``iterations`` an upper bound: after
    each round a cheap anti-join probes whether any label changed and
    stops early — correctness then never depends on guessing the
    component diameter. Each probe is one action over the (small,
    checkpointed) label table; rounds are forcibly checkpointed in this
    mode so the probe doesn't re-run the round's join.
    """
    # Edge set referenced every round: candidate_pairs already
    # checkpoints the half edges, so the doubled union here is a narrow
    # projection over materialized data — no further checkpoint needed.
    # (Raw un-materialized edge inputs re-execute their producing join
    # per round; materialize before calling if that producer is costly.)
    e_self = edges.unionAll(
        nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    )
    # Round 1 fused: the initial label of a node IS the node, so the first
    # propagation is plain groupBy(src).min(dst) — one shuffle, no join.
    labels = e_self.groupBy(F.col("src").alias("node")).agg(
        F.min("dst").alias("lab")
    )
    if until_converged:
        labels = labels.transform(cut)
    converged = not until_converged  # fixed-unroll mode: bound is the contract
    for _ in range(iterations - 1):
        new_labels = (
            e_self.join(labels, e_self.dst == labels.node)
            .groupBy(e_self.src.alias("node"))
            .agg(F.min("lab").alias("lab"))
        )
        if checkpoint or until_converged:
            new_labels = new_labels.transform(cut)
        if until_converged:
            # fixpoint probe: any node whose label shrank this round?
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
                .filter(F.col("n.lab") != F.col("o.lab"))
                .limit(1)
                .count()
            )
            if changed == 0:
                labels = new_labels
                converged = True
                break
        labels = new_labels
    if not converged:
        # until_converged promised the FIXPOINT: exhausting the bound
        # without reaching it means some component's labels are still
        # split — returning them silently would partially merge
        # duplicates with no error (a 60-name chain, for example,
        # outruns the default bound even after one contraction)
        raise RuntimeError(
            f"min_label_components(until_converged=True) did not converge "
            f"within iterations={iterations}; raise the bound (component "
            f"diameter exceeds it) or use the contracted form"
        )
    return labels.select("node", F.col("lab").alias("canonical_id"))


def min_label_components_contracted(
    nodes: DataFrame,
    edges: DataFrame,
    max_rounds: int = 16,
) -> DataFrame:
    """Connected components by one propagation round + graph contraction.

    Exact true components (not a k-hop approximation):

    1. ``l1(x)`` = min over x's closed neighborhood — one groupBy.
    2. Contract: every edge (x, y) becomes (l1(x), l1(y)) — two joins
       of the edge list against the label table, then a distinct whose
       map-side partial dedup collapses the result before the shuffle.
    3. Components of the contracted graph — rows = surviving label
       pairs, orders of magnitude smaller than the node set for dense
       similarity graphs. Under the ``driver_components`` cap the
       components are solved by an exact union-find on the driver (one
       Arrow collect of the materialized edge set — the broadcast
       small-side premise); beyond it, distributed min-label
       propagation to fixpoint.
    4. Map back: node → l1 → contracted canonical.

    A component's min node m satisfies l1(m) = m, so m survives into the
    contracted graph and the fixpoint assigns every node its true
    component minimum. This is the scale path for dense edge sets (the
    plain k-round propagation re-joins the full edge list every round);
    inspired by the alternating-star contraction family of
    connected-components algorithms.

    The relabel joins BROADCAST l1 whenever its measured row count
    fits the ``label_broadcast`` cap (:mod:`.regime`); beyond it they
    are plain shuffle joins, which stay linear. This is load-bearing,
    not a hint for AQE to rediscover: l1 is one row per NODE, so
    between sf1 and sf10 it crosses the 10 MB adaptive broadcast
    threshold and both relabel joins would silently flip BHJ→SMJ —
    shuffling AND sorting the full doubled edge set twice. Counting
    the already-materialized l1 to size the decision costs one cheap
    action on checkpointed blocks.
    """
    # half edges are checkpointed by candidate_pairs; the doubled union
    # is narrow over that, so no re-materialization here
    e_self = edges.unionAll(
        nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    )
    l1 = (
        e_self.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("lab"))
        .transform(cut)
    )
    lsrc = l1.withColumnRenamed("node", "src").withColumnRenamed("lab", "src_lab")
    ldst = l1.withColumnRenamed("node", "dst").withColumnRenamed("lab", "dst_lab")
    # ~32 B/row: two int64s + hashed-relation overhead
    if regime.small("label_broadcast", l1.count() * 32):
        lsrc, ldst = F.broadcast(lsrc), F.broadcast(ldst)
    contracted = (
        e_self.join(lsrc, "src")
        .join(ldst, "dst")
        .select(F.col("src_lab").alias("src"), F.col("dst_lab").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(cut)
    )
    # Empty contraction ⇔ every component had diameter ≤ 2 ⇔ l1 is already
    # the exact component minimum. The common case for blocked entity-name
    # graphs — short-circuiting it saves the whole fixpoint loop. The
    # count runs on the just-materialized blocks (same cost class as the
    # former isEmpty probe) and doubles as the driver-regime gate below.
    n_contracted = contracted.count()
    if n_contracted == 0:
        return l1.select("node", F.col("lab").alias("canonical_id"))
    # 16 B/row: two int64 labels
    if regime.small("driver_components", n_contracted * 16):
        # Driver union-find regime: the contracted graph is orders of
        # magnitude smaller than the node set (one row per SURVIVING
        # inter-component label pair), so its exact components are a
        # bounded driver problem. One Arrow transfer replaces the whole
        # distributed fixpoint chain (label-distinct shuffle + per-round
        # join/groupBy/cut + convergence-probe actions — 4+ jobs even
        # at diameter 1). Union-by-min-root IS the fixpoint's answer:
        # every union keeps the smaller root, so each root is the
        # minimum label of its component. Beyond the cap the
        # distributed loop below stays the scale path (the 100 TB
        # regime), with broadcast-capped relabel joins.
        pdf = contracted.toPandas()
        srcs, dsts = pdf["src"].tolist(), pdf["dst"].tolist()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for s, d in zip(srcs, dsts):
            rs, rd = find(s), find(d)
            if rs == rd:
                continue
            if rd < rs:
                rs, rd = rd, rs
            parent[rd] = rs
        mapping = [(x, find(x)) for x in list(parent)]
        lab_type = contracted.schema["src"].dataType
        map_schema = StructType(
            [
                StructField("lab", lab_type),
                StructField("canonical_id", lab_type),
            ]
        )
        comp_map = contracted.sparkSession.createDataFrame(mapping, map_schema)
        return (
            l1.join(F.broadcast(comp_map), "lab", "left")
            .select(
                "node",
                F.coalesce("canonical_id", F.col("lab")).alias("canonical_id"),
            )
        )
    label_nodes = l1.select(F.col("lab").alias("node")).distinct()
    comp = min_label_components(
        label_nodes, contracted, iterations=max_rounds, until_converged=True
    ).withColumnRenamed("node", "lab")
    return l1.join(comp, "lab").select("node", "canonical_id")


def dedupe_fuzzy(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_expr: Column | None = None,
    max_edits: int = 2,
    iterations: int = 8,
    checkpoint: bool = False,
    until_converged: bool = True,
    block_cap: int | None = None,
) -> DataFrame:
    """Full blocked fuzzy dedup: returns ``(<id_col>, canonical_id)``.

    Default block = first whitespace token of the name (the reference's
    implicit blocking is none at all; first-token blocking is the cheapest
    key that keeps true duplicates together for entity-name data).
    Library default is converge-with-upper-bound: exact components up to
    diameter ``iterations``, stopping as soon as the labels fix —
    entity-name graphs usually settle in 2-3 rounds.
    ``block_cap``: the oversized-block skew valve — see
    :func:`candidate_pairs`.

    Disk note: each call spills its half edge set to parquet scratch
    (tens of GB at sf10 scale) which is freed only at process exit —
    long-lived callers looping over corpora should call
    :func:`ipes_data_pipeline_spark.operators.util.release_spills`
    between iterations, once the returned frame is fully consumed.
    """
    block = (
        block_expr
        if block_expr is not None
        else F.element_at(F.split(F.col(name_col), r"\s+"), 1)
    )
    nodes = df.select(F.col(id_col).alias("node"))
    edges = candidate_pairs(df, id_col, name_col, block, max_edits, block_cap)
    if until_converged:
        # contraction path: exact components, cheapest on dense graphs
        comp = min_label_components_contracted(
            nodes, edges, max_rounds=iterations
        )
    else:
        comp = min_label_components(nodes, edges, iterations, checkpoint=checkpoint)
    return comp.select(F.col("node").alias(id_col), "canonical_id")
