"""Shared operator utilities."""

from __future__ import annotations

import atexit
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from ipes_data_pipeline_spark.operators import regime

#: parquet-spill scratch dirs created by cut(via_parquet=True) in this
#: process. Freed at interpreter exit, or earlier via release_spills()
#: — a spill must outlive every action on the returned frame, so the
#: library cannot free it per-call; long-lived processes that loop over
#: spilling operators (each dedupe_fuzzy spill is the full half edge
#: set — tens of GB at sf10 scale) should call release_spills() between
#: iterations once the returned frames are dead.
_SPILL_DIRS: list[str] = []


def _fs_delete(spark: SparkSession, path: str) -> None:
    """Recursive delete through the Hadoop FileSystem that owns ``path``
    — the same API the spill was written with, so HDFS/S3/local scratch
    all clean up correctly (a driver-side shutil.rmtree would remove
    only the empty local dir when the default FS is remote)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(jpath, True)


def release_spills(spark: SparkSession | None = None) -> int:
    """Free every parquet-spill scratch dir created so far; returns the
    count freed. Call only when no DataFrame returned by a spilling
    ``cut`` is still live. With no active session the local-path spills
    are removed directly; remote-FS paths need a live ``spark``."""
    spark = spark or SparkSession.getActiveSession()
    freed = 0
    while _SPILL_DIRS:
        d = _SPILL_DIRS.pop()
        local = d.removeprefix("file:")  # schemeless or file: => local disk
        try:
            if spark is not None:
                _fs_delete(spark, d)
            elif "://" not in local:
                shutil.rmtree(local, ignore_errors=True)
        except Exception:
            if "://" not in local:
                shutil.rmtree(local, ignore_errors=True)
        freed += 1
    return freed


atexit.register(release_spills)


#: Session conf flipping EVERY cut site to fault-tolerant checkpoints at
#: once — a 100 TB operator chain assembled from library defaults would
#: otherwise silently use localCheckpoint unless `reliable=True` were
#: threaded through every call. Cluster side: set
#: `spark.ipes.reliableCuts=true` (plus `setCheckpointDir` to HDFS/S3)
#: and all operators run in the durable regime unmodified.
RELIABLE_CUTS_CONF = "spark.ipes.reliableCuts"

#: Scratch root for parquet spills. On a multi-node cluster this (or the
#: session checkpoint dir) MUST point at a filesystem every executor can
#: reach — a driver-local temp dir only works under a local[*] master.
SPILL_DIR_CONF = "spark.ipes.spillDir"


def _spill_root(spark: SparkSession) -> str | None:
    """Resolve where parquet spills go: ``spark.ipes.spillDir`` if set,
    else the session checkpoint dir (already a shared, durable FS on a
    real cluster), else None (caller decides the local-mode fallback)."""
    root = spark.conf.get(SPILL_DIR_CONF, None)
    if root:
        return root.rstrip("/")
    ckpt = spark.sparkContext.getCheckpointDir()
    if ckpt is not None:
        return ckpt.rstrip("/")
    return None


def pin_pairs(src_df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Materialize a PAIR-PROPORTIONAL frame (LSH candidate pairs / edge
    sets) before iterative consumption — the q133/_cluster_docs lesson:
    a propagation loop references its edge set once per round, and an
    un-materialized band self-join + distinct would re-execute every
    round. Store regime follows the ``edge_spill`` cap keyed on the
    SOURCE corpus size (``src_df``), because pair counts grow 1–2 orders
    of magnitude faster than the input (see :mod:`.regime`)."""
    spill = not regime.small("edge_spill", regime.estimate(src_df))
    return cut(pairs, via_parquet=spill)


def cut(
    df: DataFrame, reliable: bool = False, via_parquet: bool = False
) -> DataFrame:
    """Materialize ``df`` and truncate its lineage — the repo's standard
    barrier before a frame is referenced from multiple plan subtrees
    (self-joins, iterative rounds, multi-pass shards).

    Two durability regimes:

    - ``reliable=False`` (default): ``localCheckpoint(eager=True)``.
      Blocks live on executor local store — fastest, and the right
      default for interactive/bench work — but NOT fault-tolerant: lose
      one executor mid-job and the lineage is gone, the job dies.
    - ``reliable=True``: ``checkpoint(eager=True)`` to the session's
      checkpoint directory (``spark.sparkContext.setCheckpointDir`` —
      HDFS/S3 on a real cluster). Survives executor loss; this is the
      regime a multi-hour 100 TB run must use on every operator that
      cuts lineage, at the price of one distributed write+read.

    The per-call flag is OR-ed with the session conf
    ``spark.ipes.reliableCuts`` (default ``false``): setting the conf
    to ``true`` promotes every cut in the session to the durable
    regime without touching call sites. There is deliberately no
    conf that *demotes* an explicit ``reliable=True``.

    Third regime, for LARGE intermediates: ``via_parquet=True`` spills
    the frame to a columnar scratch dir and returns the re-read —
    compressed, off-heap, schema-preserving. Round-9 measurement
    (``scripts/ab_q39_edge_store.py``, q39's 213M-row edge set at sf10,
    fresh process per variant): raw compute 204 s, +182 s with
    localCheckpoint (the deserialized row blocks thrash a 48 GB heap),
    **+26 s with the parquet spill** — 7× cheaper materialization at
    scale, within noise of localCheckpoint on small frames. This is the
    regime for operators that materialize row sets PROPORTIONAL TO THE
    DATA (edge lists, pair candidates); small reused frames (labels,
    centroids, top-k lists) stay on the default.

    Where the spill lands (first match wins):

    1. ``spark.ipes.spillDir`` — set it to a scratch root on a shared
       filesystem (HDFS/S3) for any multi-node deployment. The spill
       then inherits that filesystem's durability, so ``via_parquet``
       also satisfies an explicit or conf-driven ``reliable`` demand
       (the conf is a declaration that the root is shared+durable).
    2. The session checkpoint dir, if set — same shared-FS reasoning.
    3. A driver-local temp dir — ONLY under a ``local[*]`` master,
       where driver and executors share one machine. On a cluster
       master with neither conf this raises instead of silently
       producing a scratch path the executors cannot all reach.

    When the reliable regime is demanded (arg or conf) and the spill
    root resolved to the driver-local fallback (3), the call honors the
    durability contract by degrading to ``checkpoint(eager=True)``
    rather than writing a non-durable spill.

    Scratch dirs are freed at interpreter exit through the owning
    Hadoop FileSystem (or earlier via :func:`release_spills`).

    Order-sensitive callers beware: parquet re-read does NOT pin
    partition ids the way the checkpoint regimes do — do not use under
    a ``spark_partition_id`` consumer (the prefix-sum shard contract) —
    and column nullability loosens to nullable on the round trip
    (names/types/values are exact).

    Both checkpoint regimes pin partition contents AND partition ids,
    so downstream ``spark_partition_id`` determinism (the prefix-sum
    shard contract — SCALING.md case study) holds identically.
    """
    spark = df.sparkSession
    if not reliable:
        reliable = (
            str(spark.conf.get(RELIABLE_CUTS_CONF, "false")).lower() == "true"
        )
    if via_parquet:
        root = _spill_root(spark)
        if root is None:
            master = spark.conf.get("spark.master", "local")
            if not master.startswith("local"):
                raise ValueError(
                    "cut(via_parquet=True) on a non-local master needs a "
                    f"shared scratch filesystem: set {SPILL_DIR_CONF} or "
                    "sparkContext.setCheckpointDir to an executor-"
                    "reachable path (a driver-local temp dir is not)"
                )
            if reliable:
                # local fallback scratch is not durable; honor the
                # reliable contract through the checkpoint regime
                return df.checkpoint(eager=True)
            path = tempfile.mkdtemp(prefix=f"ipes_cut_{uuid.uuid4().hex[:8]}_")
        else:
            path = f"{root}/ipes_cut_{uuid.uuid4().hex[:8]}"
        _SPILL_DIRS.append(path)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)
    if reliable:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY if the input is under-parallel.

    CPU-heavy per-row stages (minhash signatures, simhash bits, rolling
    hashes) inherit the scan's partitioning; a small parquet file can be
    a single row-group → a single task hogging one core while 31 idle.
    At real scale the input already has ≥ parallelism partitions and this
    is a no-op — so the shuffle cost is only ever paid when it buys
    actual parallelism on small inputs.
    """
    target = min_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
