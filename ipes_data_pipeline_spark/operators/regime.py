"""One policy for every size-gated driver-or-distributed choice.

A site measures one size in bytes and asks :func:`small`; below its cap
the site takes the driver / local-store regime, at or above it the
distributed / spill regime (the ``autoBroadcastJoinThreshold`` shape:
one statistic, one threshold, one place). Caps are constants, not
confs: tests force every site distributed by patching :data:`CAPS` to 0.

=================  ======  ==============================================
site               cap     size measured / why this cap
=================  ======  ==============================================
input_spill        256MiB  Catalyst estimate of a minhash input: band and
                           shingle tables go to the parquet spill. The
                           round-9 sf10 A/B measured localCheckpoint's
                           deserialized row blocks at +182 s vs +26 s for
                           the spill (213M rows); below the cap the
                           spill's extra write job is ~0.4 s/query of
                           pure overhead (round-10 sf0.1 A/B). 256 MiB is
                           about the sf1/sf10 boundary of ``documents``.
edge_spill         8MiB    Catalyst estimate of the input of an edge set
                           (``candidate_pairs``, ``util.pin_pairs``).
                           Edges grow 1-2 orders of magnitude past the
                           input (4.3M edges from 15k rows at sf0.1, 213M
                           at sf10), so the spill must start well before
                           the input is big: 8 MiB is about the sf2
                           ``customer`` table.
bloom_keys         8MiB    Catalyst estimate of q104's filtered dim scan:
                           below it the distinct keys are collected and
                           the bloom built on the driver; above it the
                           bloom builds distributed and only the 16 KB
                           filter is collected.
driver_train       256MiB  rows x dim x 8 of a Lloyd / PQ training set:
                           below it the set is collected once and every
                           round runs in numpy, instead of one Spark job
                           per round.
label_broadcast    1GiB    rows x 32 of the contraction's label table:
                           below it both relabel joins broadcast. Half
                           of ``knn_graph``'s 2 GiB corpus cap; ~33M
                           nodes. Between sf1 and sf10 the table crosses
                           AQE's 10 MB broadcast threshold, and the
                           round-10 A/B (``scripts/ab_q39_contraction.py``,
                           sf10) measured 132.5 s with sort-merge joins
                           vs 3.75 s with the forced broadcast.
driver_components  32MB    rows x 16 of the contracted edge set: below it
                           the components are solved by union-find on
                           the driver (1.3k rows for 4.3M raw edges at
                           sf0.1); 2M rows, the same small-side premise
                           as Spark's broadcast collect.
=================  ======  ==============================================
"""

from __future__ import annotations

from pyspark.sql import DataFrame

CAPS: dict[str, int] = {
    "input_spill": 256 << 20,
    "edge_spill": 8 << 20,
    "bloom_keys": 8 << 20,
    "driver_train": 256 << 20,
    "label_broadcast": 1 << 30,
    "driver_components": 2_000_000 * 16,
}


def small(site: str, nbytes: int) -> bool:
    """True when ``nbytes`` is under ``site``'s cap: take the driver /
    local-store regime."""
    return nbytes < CAPS[site]


def estimate(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate of ``df`` in bytes
    (file-size based for scan-rooted plans; runs no job)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
