"""Iterative graph algorithms as bounded DataFrame loops.

Connected components live in ``dedup_fuzzy.min_label_components`` (the
dedup-resolution workhorse); this module adds weighted PageRank — the
influence/centrality rollup warehouses run over interaction graphs
(who-buys-from-whom, citation, link graphs).

Scale shape per iteration: one join of the edge table against the
(|nodes|-sized) rank table keyed on ``src`` — the rank side is orders
of magnitude smaller than the edges and broadcastable long before the
edges stop fitting — then one ``dst``-keyed aggregate. Iterations are
a fixed unroll (caller-bounded), so the plan depth is bounded and every
round is one shuffle of contributions.

Determinism: the whole recurrence runs in FIXED-POINT micro-units
(rank × 10⁶ as BIGINT) with integer division — no doubles anywhere in
the loop, so there is no rounding mode to disagree on and the unrolled
SQL twin is bit-exact round for round. (The first attempt rounded
double contributions to 6 dp; engines disagree on half-way ties because
one rounds the shortest decimal representation and the other the scaled
binary value — integer arithmetic removes the question entirely.)

Rejected alternatives, measured at sf0.1 (kept here so the next tuning
pass doesn't re-walk them): (a) Pregel-style broadcast-variable ranks +
``mapInPandas`` contribution partials — the Arrow round-trip of the
edge table per round cost more than the nested broadcast-join chain it
replaced (4.9 s vs 3.0 s); (b) ``persist()`` instead of the eager
localCheckpoint — the per-round broadcast subtrees run as separate jobs
before the cache warms, re-executing the edge lineage (5–7 s);
(c) per-round ``rank.localCheckpoint`` to flatten the nested broadcast
subtrees — barrier cost ≥ nesting cost (wash); (d) replacing the
per-round |nodes| left join with a static union of no-in-edge nodes —
the extra anti-join materialization offset the saved joins (wash);
(e) driver-held ranks re-injected per round as local literal tables
(JVM join, flat plans) — the per-round createDataFrame + collect
round-trips cost more than the nested broadcast exchanges they replace
(3.3 s vs 2.9 s); (f) parallel-edge pre-aggregation to (src,dst,Σw)
before the loop — a wash at best here (2.93 s vs 2.96 s dense): the
q140 edge builder already groups by (src,dst), so the operator-side
groupBy+cut buys nothing, and on a true multigraph it would CHANGE the
fixed-point values (Σ floor(r·wᵢ/o) ≠ floor(r·Σwᵢ/o)), forcing the
oracle to pre-aggregate too — callers that want it should aggregate
their own edge tables, as q140 does.

ACCEPTED round 5: sparse contrib-carry (see the loop comment below) —
2.96 s → 2.42 s median at sf0.1 (round-5 harness; the shipped loop is
timed by scripts/ab_pagerank_ewcut.py),
value-identical checksums, removes iterations-1 |nodes| left joins
from the unrolled plan.

Round-11 additions to the rejected ledger (all value-identical, all
within noise at sf0.1 / local[32], 5 interleaved passes each):
(g) cut() the (edges ⋈ out_w) frame once so rounds skip the per-round
out_w broadcast rebuild — 3.05 s vs 2.98 s, jobs/run 20 vs 21
(scripts/ab_pagerank_ewcut.py); (h) ``broadcast_ranks=False`` shuffle
joins to collapse the broadcast-build jobs — 3.35 vs 3.46 s, jobs 20
vs 21 (AQE materializes each query stage as its own job either way);
(i) pre-repartition edges by ``dst`` hoping the per-round
``groupBy("dst")`` reuses the partitioning — exchange count unchanged
13 vs 13 (localCheckpoint's LogicalRDD does not advertise output
partitioning to EnsureRequirements), wall 2.92 vs 2.87 s. The
remaining wall is the AQE stage-job floor over an already-minimal
exchange chain, not plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ipes_data_pipeline_spark.operators.util import cut

#: fixed-point scale: 1.0 == 1_000_000 micro-rank
_SCALE = 1_000_000


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    broadcast_ranks: bool = True,
    reliable: bool = False,
) -> DataFrame:
    """Weighted PageRank over ``nodes(node)`` / ``edges(src, dst, w)``.

    Returns ``(node, rank)`` (rank as double, micro-unit precision)
    after ``iterations`` rounds from a uniform start of 1.0, with
    damping ``damping_pct / 100``. Per round, in integers only::

        c_u(e)        = (rank_u(src) * w) div out_w(src)
        rank_u'(dst)  = (1 - d)·SCALE + (damping_pct · Σ c_u) div 100

    Dangling mass is dropped (nodes without out-edges contribute
    nothing — the common simplification); isolated nodes keep the base
    rank. ``w`` must be integral (occurrence counts).
    """
    base_u = (100 - damping_pct) * _SCALE // 100
    # materialize the caller's edge lineage ONCE, BEFORE deriving
    # out_w: the raw edges are referenced by out_w AND by every round's
    # join, and cutting after the out_w join (the earlier form) ran the
    # whole caller lineage twice inside one job. Standard
    # iterative-graph practice (same cut GraphX/Pregel loops make each
    # superstep).
    edges = cut(edges, reliable)
    out_w = edges.groupBy("src").agg(F.sum("w").cast("long").alias("out_w"))
    # out_w is |src nodes|-sized — under the same memory contract as the
    # rank broadcast it ships map-side; re-running the broadcast join
    # over checkpoint blocks per round beats a second materialization
    # barrier.
    ew = edges.join(F.broadcast(out_w) if broadcast_ranks else out_w, "src")
    nodes = cut(nodes, reliable)
    # SPARSE rank carry (round-5 rework): the rank state between rounds
    # is the contribution table itself — only nodes that RECEIVED mass —
    # not the |nodes|-completed table. Nodes absent from it are exactly
    # the no-in-edge nodes, whose rank is the constant base_u from round
    # 1 on; the per-round edge join therefore goes LEFT with a coalesce
    # default (1.0 in round 1 where the uniform start covers everyone,
    # base_u afterwards) and the |nodes| left join runs ONCE at the end
    # instead of once per round. Value-identical to the dense carry by
    # construction (the coalesce replicates the left-join+fill), and it
    # removes iterations-1 joins from the unrolled plan.
    rank = nodes.select("node", F.lit(1 * _SCALE).cast("long").alias("rank_u"))
    default_u = 1 * _SCALE  # round-1 fill: uniform start (never fires)
    for _ in range(iterations):
        # rank is ≤|nodes|-sized — broadcast it (default) so the edge
        # table never shuffles; each round is then one map-side join +
        # one dst-keyed aggregate. Pass broadcast_ranks=False when the
        # node set itself outgrows executor memory (billion-node
        # graphs) — the join then shuffles on src like any equi-join.
        rank_side = F.broadcast(rank) if broadcast_ranks else rank
        rank = (
            ew.join(rank_side, ew.src == rank.node, "left")
            .select(
                F.col("dst"),
                F.expr(
                    f"((coalesce(rank_u, {default_u}) * CAST(w AS BIGINT)))"
                    " div out_w"
                ).alias("c_u"),
            )
            .groupBy("dst")
            .agg(
                (
                    F.lit(base_u).cast("long")
                    + F.expr(f"({damping_pct} * sum(c_u)) div 100")
                ).alias("rank_u")
            )
            .select(F.col("dst").alias("node"), "rank_u")
        )
        default_u = base_u  # rounds 2+: missing src ⇔ no in-edges ⇔ base
    return nodes.join(rank, "node", "left").select(
        "node",
        (
            F.coalesce(F.col("rank_u"), F.lit(base_u).cast("long")).cast("double")
            / _SCALE
        ).alias("rank"),
    )
