"""Similarity search over embedding columns.

- :func:`ann_topk_bruteforce` — exact cosine top-k against one query
  vector. One scan + TakeOrderedAndProject; the correctness baseline.
- :func:`cosine_topk_pairs_lsh` — sign-LSH bucketed pair generation +
  exact refine; the scale path (shuffle key = bucket, no cross join).
- :func:`ann_topk_ivf` — IVF-style: assign vectors to the nearest of k
  deterministic centroid vectors (bucketing), probe only the query's
  cells. Demonstrates the partition-pruned ANN shape on the same API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ipes_data_pipeline_spark.functions.vectors import cosine, dot, norm, sign_bucket
from ipes_data_pipeline_spark.operators import regime
from ipes_data_pipeline_spark.operators.util import cut


def ann_topk_bruteforce(
    df: DataFrame, id_col: str, vec_col: str, query_df: DataFrame, k: int = 10
) -> DataFrame:
    """Exact top-k by cosine against a (broadcast) 1-row query vector."""
    q = F.broadcast(query_df.select(F.col(vec_col).alias("q_vec")))
    scored = df.crossJoin(q).select(
        F.col(id_col).alias("id"),
        cosine(F.col(vec_col), F.col("q_vec")).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("id")).limit(k)


def knn_graph(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    corpus_df: DataFrame | None = None,
    max_corpus_bytes: int = 2 << 30,
) -> DataFrame:
    """Exact cosine k-NN graph: for every vector, its top-k neighbors.

    The batch similarity join behind embedding-level corpus dedup,
    clustering, and retrieval eval — the all-pairs generalization of
    :func:`ann_topk_bruteforce` (one query) to every row at once.

    Physical shape (the broadcast-join regime, not a cross join): the
    corpus side is collected once, L2-normalized into one float64
    matrix, and broadcast to every executor — the same memory contract
    as a broadcast hash join (corpus fits per-executor; when it does
    not, shard the corpus by IVF cell / LSH bucket and union per-shard
    graphs — see :func:`ann_topk_ivf` / :func:`cosine_topk_pairs_lsh`).
    The query side streams through ``mapInPandas`` in Arrow batches:
    one numpy matmul scores the whole batch against the corpus
    (vectorized — orders of magnitude over a per-pair fold),
    ``argpartition``+lexsort takes top-k per row, ties break on
    ascending neighbor id. The plan is scan → mapInPandas: zero
    shuffles, and the query side scales out linearly with executors.

    Self-pairs (same id on both sides) are excluded.

    GUARD: the broadcast regime collects the corpus to the driver, so
    the corpus size is bounded BEFORE any row moves — one distributed
    ``count`` plus a 1-row ``head`` estimate the matrix at
    ``rows × dim × 8`` bytes (float64), and anything above
    ``max_corpus_bytes`` (default 2 GiB) raises with a pointer to
    :func:`knn_graph_bucketed` instead of OOM-ing the driver. The
    switch is NOT automatic because the bucketed form is approximate —
    silently trading exactness for scale is the caller's call, not
    this function's.
    """
    import numpy as np

    out_schema = "id bigint, neighbor_id bigint, cos_sim double"
    corpus = (corpus_df if corpus_df is not None else df).select(
        F.col(id_col), F.col(vec_col)
    )
    # one distributed job sizes the corpus (count + dim together) — a
    # separate count-then-head pair re-executed the corpus lineage twice
    # before the collect even started
    stats = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(F.col(vec_col)), ignorenulls=True).alias("dim"),
    ).first()
    n_corpus = stats["n"]
    if n_corpus == 0:
        return df.sparkSession.createDataFrame([], out_schema)
    dim = max(stats["dim"] or 0, 0)
    est_bytes = n_corpus * max(dim, 1) * 8
    if est_bytes > max_corpus_bytes:
        raise ValueError(
            f"knn_graph broadcast-regime corpus is ~{est_bytes / 2**30:.1f} GiB "
            f"({n_corpus} rows x {dim} dims x 8 B) > max_corpus_bytes="
            f"{max_corpus_bytes / 2**30:.1f} GiB. The corpus no longer fits "
            "the per-executor broadcast contract - use knn_graph_bucketed "
            "(sign-LSH sharded, per-task memory = one bucket, approximate) "
            "or raise max_corpus_bytes if executors have the headroom."
        )
    rows = corpus.collect()
    c_ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(mat, axis=1, keepdims=True)
    nrm[nrm == 0.0] = 1.0
    mat /= nrm
    col_of = {int(i): j for j, i in enumerate(c_ids)}
    bc = df.sparkSession.sparkContext.broadcast((c_ids, mat, col_of))

    def score(batches):
        import pandas as pd

        ids_c, m, idx = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            q = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            qn = np.linalg.norm(q, axis=1, keepdims=True)
            qn[qn == 0.0] = 1.0
            sims = (q / qn) @ m.T
            q_ids = pdf[id_col].to_numpy()
            for r, qid in enumerate(q_ids):
                j = idx.get(int(qid))
                if j is not None:
                    sims[r, j] = -np.inf
            # top-k per row, ranked by (-sim, neighbor_id). np.partition
            # finds the kth-largest sim; every candidate >= that value is
            # kept (so exact-tie groups at the boundary survive), then
            # lexsort breaks ties by ascending neighbor id — matching
            # the oracle's ORDER BY cos_sim DESC, neighbor_id.
            # The self slot is subtracted per row: only a query id that
            # actually appears in the corpus loses one candidate (its
            # masked self-pair); disjoint query/corpus keeps all columns.
            out_id, out_nb, out_cs = [], [], []
            for r in range(sims.shape[0]):
                self_slot = 1 if idx.get(int(q_ids[r])) is not None else 0
                kk = min(k, sims.shape[1] - self_slot)
                if kk <= 0:
                    continue
                kth = np.partition(-sims[r], kk - 1)[kk - 1]
                cand = np.nonzero(-sims[r] <= kth)[0]
                order = np.lexsort((ids_c[cand], -sims[r, cand]))[:kk]
                top = cand[order]
                out_id.extend([int(q_ids[r])] * len(top))
                out_nb.extend(ids_c[top].tolist())
                out_cs.extend(sims[r, top].tolist())
            yield pd.DataFrame(
                {"id": out_id, "neighbor_id": out_nb, "cos_sim": out_cs}
            )

    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        score, out_schema
    )


def ann_topk_batch(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    qid_col: str,
    k: int = 10,
    max_query_bytes: int = 1 << 28,
) -> DataFrame:
    """Batched exact ANN: top-k cosine neighbors for a SET of query
    vectors in one corpus pass — the production shape of retrieval
    scoring (a trainer or RAG service scores query batches, not one
    query per job; q46/q162/q166 are the single-query oracles).

    Physical shape — the FLIPPED broadcast regime of :func:`knn_graph`:
    there the corpus is collected and broadcast and the query side
    streams (right when queries outnumber a corpus that fits per
    executor); here the QUERY matrix is collected and broadcast
    (bounded by ``max_query_bytes`` — a query batch is KiBs-to-MBs) and
    the CORPUS streams through ``mapInPandas`` in Arrow batches, so the
    100 TB corpus is never collected anywhere. Each task keeps a
    running per-query top-k across its batches and emits at most
    ``n_queries x k`` rows; the only exchange is that per-task digest
    (parts x Q x k rows), merged by a window PARTITIONED BY query id —
    a k-row-per-group frame, never a global window over raw rows.
    Within-task truncation to k is lossless: a dropped candidate has k
    same-or-better (sim, id)-ranked rows above it in its own task, so
    it can never enter the global top-k.

    Determinism (q168 value-check): dots accumulate per-dimension IN
    ORDER (:func:`_gram_blocks`' fold — bit-identical to the oracle's
    ``list_reduce``), norms via :func:`_bucket_norms` (same fold as
    ``sqrt(dot(v,v))``), ranks compare RAW doubles, ties break on
    ascending corpus id, only the emitted cos_sim is rounded.
    Zero-norm / NULL vectors are out of contract on BOTH sides
    (filtered; a NaN cosine would hijack DuckDB's DESC ordering —
    the mine_triplets rule). Self-pairs (qid == corpus id) drop.
    """
    import numpy as np

    from ipes_data_pipeline_spark.operators.util import spread

    out_schema = "qid bigint, id bigint, cos_sim double"
    # One shared final schema for BOTH empty returns and the normal
    # path, so column ORDER matches (positional unions with the
    # non-empty shape would silently swap rank/cos_sim otherwise).
    final_schema = "qid bigint, id bigint, rank int, cos_sim double"
    q = query_df.select(F.col(qid_col), F.col(vec_col)).where(
        F.col(vec_col).isNotNull()
    )
    stats = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(F.col(vec_col)), ignorenulls=True).alias("dim"),
    ).first()
    n_q, dim = stats["n"], max(stats["dim"] or 0, 0)
    if n_q == 0:
        return df.sparkSession.createDataFrame([], final_schema)
    est = n_q * max(dim, 1) * 8
    if est > max_query_bytes:
        raise ValueError(
            f"ann_topk_batch query batch is ~{est / 2**20:.0f} MiB "
            f"({n_q} queries x {dim} dims x 8 B) > max_query_bytes="
            f"{max_query_bytes / 2**20:.0f} MiB. Split the batch into "
            "broadcastable chunks and union the results, or flip to "
            "knn_graph (stream the queries, broadcast the corpus) if "
            "the corpus is the smaller side."
        )
    rows = q.collect()
    q_ids = np.array([r[0] for r in rows], dtype=np.int64)
    Qm = np.array([r[1] for r in rows], dtype=np.float64)
    qn = _bucket_norms(Qm)
    ok = qn > 0.0  # zero-norm queries: out of contract, dropped
    q_ids, Qm, qn = q_ids[ok], Qm[ok], qn[ok]
    if len(q_ids) == 0:
        return df.sparkSession.createDataFrame([], final_schema)
    bc = df.sparkSession.sparkContext.broadcast((q_ids, Qm, qn))

    def score(batches):
        import pandas as pd

        ids_q, Q, nq_ = bc.value
        acc_sims = [[] for _ in ids_q]
        acc_ids = [[] for _ in ids_q]
        acc_len = [0] * len(ids_q)

        def _compact(j):
            # merge-and-truncate a query's accumulator back to its
            # best k — keeps per-task memory O(Q x k) instead of
            # O(batches x Q x k). Lossless: a row dropped here has k
            # same-or-better (sim, id)-ranked rows above it in this
            # task, so it can never enter the global top-k. Same
            # lexsort tie-break as the final emit.
            sims = np.concatenate(acc_sims[j])
            cids = np.concatenate(acc_ids[j])
            order = np.lexsort((cids, -sims))[:k]
            acc_sims[j] = [sims[order]]
            acc_ids[j] = [cids[order]]
            acc_len[j] = len(order)

        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if pdf.empty:
                continue
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            vn = _bucket_norms(V)
            live = vn > 0.0  # zero-norm corpus rows: out of contract
            if not live.all():
                c_ids, V, vn = c_ids[live], V[live], vn[live]
            if len(c_ids) == 0:
                continue
            # per-dimension in-order fold (the _gram_blocks rule);
            # block is |batch| x |queries| — queries are few, so one
            # chunk is far under _GRAM_CHUNK_CELLS
            block = np.zeros((len(c_ids), len(ids_q)))
            for d in range(V.shape[1]):
                block += np.outer(V[:, d], Q[:, d])
            cos = block / np.outer(vn, nq_)
            for j in range(len(ids_q)):
                col = cos[:, j]
                keep = c_ids != ids_q[j]  # self-pair drops
                cand_ids, cand = c_ids[keep], col[keep]
                if len(cand) > k:
                    kth = np.partition(-cand, k - 1)[k - 1]
                    sel = np.nonzero(-cand <= kth)[0]
                    order = np.lexsort((cand_ids[sel], -cand[sel]))[:k]
                    sel = sel[order]
                    cand_ids, cand = cand_ids[sel], cand[sel]
                acc_sims[j].append(cand)
                acc_ids[j].append(cand_ids)
                acc_len[j] += len(cand)
                if acc_len[j] > 8 * k:
                    _compact(j)
        out_q, out_id, out_cs = [], [], []
        for j in range(len(ids_q)):
            if not acc_sims[j]:
                continue
            sims = np.concatenate(acc_sims[j])
            cids = np.concatenate(acc_ids[j])
            order = np.lexsort((cids, -sims))[:k]
            out_q.extend([int(ids_q[j])] * len(order))
            out_id.extend(cids[order].tolist())
            out_cs.extend(sims[order].tolist())
        yield pd.DataFrame({"qid": out_q, "id": out_id, "cos_sim": out_cs})

    corpus = spread(
        df.select(F.col(id_col), F.col(vec_col)).where(
            F.col(vec_col).isNotNull()
        )
    )
    from pyspark.sql.window import Window

    local = corpus.mapInPandas(score, out_schema)
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "qid",
            "id",
            F.col("rank").cast("int").alias("rank"),
            F.round("cos_sim", 6).cast("double").alias("cos_sim"),
        )
        .orderBy("qid", "rank")
    )


# Plane pool for count-adaptive bucketing (dims=None). The first four
# ARE the historical fixed default, so auto mode at small N (P clamps
# to 4) produces bit-identical buckets to the oracle-pinned q118. 20
# planes cap the bucket space at ~1M buckets; past that (N ≈ 256·2^20
# ≈ 268M vectors per partition-group) shard the corpus first.
_AUTO_PLANES: tuple[int, ...] = (
    1, 9, 17, 25, 5, 13, 21, 29, 33, 41, 49, 57, 37, 45, 53, 61, 3, 11, 19, 27,
)


def auto_plane_count(n: int, target_bucket: int = 256) -> int:
    """ceil(log2(N / target_bucket)) clamped to [4, len(_AUTO_PLANES)].

    Keeps E[bucket size] ≈ target_bucket as the corpus grows, so the
    per-bucket Gram work in :func:`knn_graph_bucketed` stays constant
    per row instead of growing linearly with N (quadratic total). The
    formula is SQL-expressible (the q118a oracle computes the same P
    with LEAST/GREATEST/ceil/log2 and truncates the sign string), which
    is what keeps the adaptive path value-checkable.
    """
    import math

    if n <= 0:
        return 4
    return min(len(_AUTO_PLANES), max(4, math.ceil(math.log2(n / float(target_bucket)))))


def knn_graph_bucketed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    dims: tuple[int, ...] | None = (1, 9, 17, 25),
    multi_probe: bool = False,
    reliable: bool = False,
    target_bucket: int = 256,
) -> DataFrame:
    """Approximate k-NN graph with a sign-LSH-sharded corpus — the
    scale path for :func:`knn_graph` when the corpus does NOT fit
    per-executor.

    Candidates form only inside a bucket, so the shuffle key is the
    bucket id and each task scores one bucket's candidates — corpus
    memory per task is |bucket|, not |corpus|. Recall is traded for
    that bound (neighbors straddling a sign plane are missed).
    ``multi_probe=True`` is the recall lever: the QUERY side also
    probes every bucket at hamming distance 1 (one sign flipped), so a
    neighbor straddling a single plane is found — candidates grow
    ~(1+len(dims))×, per-task memory is still one bucket. The corpus
    index itself is untouched (flips happen probe-side only), matching
    how multi-probe LSH avoids replicating the stored index.
    Deterministic either way: same bucketing + fold order in any
    engine, so unlike most ANN indexes the single-probe form carries a
    value-level SQL oracle (q118).

    ``dims=None`` (the production setting, q118a) picks the plane count
    from the corpus: P = :func:`auto_plane_count` planes taken as a
    prefix of ``_AUTO_PLANES``. Fixed plane counts are the measured
    sf10 failure mode — 16 buckets over 200k vectors put ~12.5k rows
    per bucket and the in-bucket Gram grew exactly N²/16 (149× wall for
    10× rows, BENCH_sf10.json); adaptive P holds bucket size at
    ~target_bucket so total pair work is ~N·target_bucket — linear. The
    count() here is one cheap metadata-bound job and its value only
    picks a PLAN, mirroring how AQE sizes shuffles at runtime.
    """
    if dims is None:
        dims = _AUTO_PLANES[: auto_plane_count(df.count(), target_bucket)]
    keyed = cut(
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            sign_bucket(F.col(vec_col), dims).alias("bkt"),
            norm(F.col(vec_col)).alias("nrm"),
        ),
        reliable,
    )
    if multi_probe:
        nbits = len(dims)
        flips = [F.col("bkt")] + [
            F.concat(
                F.substring("bkt", 1, i),
                F.when(
                    F.substring("bkt", i + 1, 1) == "1", F.lit("0")
                ).otherwise(F.lit("1")),
                F.substring("bkt", i + 2, nbits - i - 1),
            )
            for i in range(nbits)
        ]
    # Round-5 rework: score each bucket in ONE Arrow task (numpy Gram,
    # probe-chunked) instead of a per-pair JVM join. The join form paid
    # an INTERPRETED zip_with+aggregate fold per candidate pair — at 10×
    # the fixture corpus (20k vecs, 16 buckets ⇒ 25M in-bucket pairs)
    # that was 136 s, 4× slower than the brute-force baseline it exists
    # to replace (scripts: sf1 scaling bench, round 5). The kernel
    # accumulates per-dimension in order (the exact IEEE fold of dot())
    # and pre-reduces to k candidates per probe per bucket with Spark's
    # ordering semantics (NaN-first desc cos, asc neighbor id), so the
    # emitted values and the final window's verdicts are bit-identical
    # to the join form — the q118 SQL oracle is unchanged. Per-task
    # memory: chunk × |bucket| doubles (see _GRAM_CHUNK_CELLS); the
    # shuffle carries ≤ k rows per probe per bucket, not the pair set.
    # (At larger corpora ALSO grow `dims` — bucket count must scale
    # with |corpus| / target_bucket_size or in-bucket Gram work grows
    # quadratically, 136 s → this kernel only flattens the constant.)
    import numpy as np
    import pandas as pd

    corpus = keyed.select("id", "v", "nrm", "bkt").withColumn(
        "is_corpus", F.lit(True)
    )
    if multi_probe:
        # home-bucket rows serve both roles; flipped copies (flips[0] is
        # the identity — skip it) probe that bucket without joining it
        extra = keyed.select(
            "id", "v", "nrm", F.explode(F.array(*flips[1:])).alias("bkt")
        ).withColumn("is_corpus", F.lit(False))
        union = corpus.unionByName(extra)
    else:
        union = corpus

    kk = k
    chunk_cells = _GRAM_CHUNK_CELLS

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        is_c = pdf["is_corpus"].to_numpy()
        c_ids = pdf["id"].to_numpy(dtype=np.int64)[is_c]
        if len(c_ids) == 0:
            return pd.DataFrame(
                {"id": pd.array([], dtype="int64"),
                 "neighbor_id": pd.array([], dtype="int64"),
                 "cos_sim": pd.array([], dtype="float64")}
            )
        # ascending-id corpus order makes the stable top-k sort break
        # cosine ties toward the LOWER neighbor id, like the window
        c_ord = np.argsort(c_ids, kind="stable")
        c_ids = c_ids[c_ord]
        C = np.stack(pdf["v"].to_numpy()[is_c][c_ord]).astype(np.float64)
        c_nrm = pdf["nrm"].to_numpy(dtype=np.float64)[is_c][c_ord]
        p_ids_all = pdf["id"].to_numpy(dtype=np.int64)
        P_all = pdf["v"].to_numpy()
        p_nrm_all = pdf["nrm"].to_numpy(dtype=np.float64)
        out_id, out_nb, out_cos = [], [], []
        n_c = len(c_ids)
        chunk = max(1, chunk_cells // max(n_c, 1))
        for a0 in range(0, len(p_ids_all), chunk):
            b0 = min(a0 + chunk, len(p_ids_all))
            p_ids = p_ids_all[a0:b0]
            P = np.stack(P_all[a0:b0]).astype(np.float64)
            # per-dimension accumulation IN ORDER — dot()'s exact fold
            block = np.zeros((len(p_ids), n_c))
            for d in range(P.shape[1]):
                block += np.outer(P[:, d], C[:, d])
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = block / np.outer(p_nrm_all[a0:b0], c_nrm)
            # Spark sorts NaN ABOVE every double under desc — rank NaN
            # as +inf; the emitted cos stays NaN
            rank = np.where(np.isnan(cos), np.inf, cos)
            rank[p_ids[:, None] == c_ids[None, :]] = -np.inf  # self
            top = np.argsort(-rank, axis=1, kind="stable")[:, :kk]
            rows = np.arange(len(p_ids))[:, None]
            sel_rank = rank[rows, top]
            valid = sel_rank > -np.inf
            out_id.append(np.repeat(p_ids, valid.sum(axis=1)))
            out_nb.append(c_ids[top][valid])
            out_cos.append(cos[rows, top][valid])
        return pd.DataFrame(
            {
                "id": np.concatenate(out_id),
                "neighbor_id": np.concatenate(out_nb),
                "cos_sim": np.concatenate(out_cos),
            }
        )

    candidates = union.groupBy("bkt").applyInPandas(
        bucket_topk, "id long, neighbor_id long, cos_sim double"
    )
    if multi_probe:
        # a (probe, neighbor) pair can surface from several probed
        # buckets with the identical cosine — keep one
        candidates = candidates.dropDuplicates(["id", "neighbor_id"])
    from pyspark.sql.window import Window as W

    w = W.partitionBy("id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        candidates.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def cosine_topk_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dims: tuple[int, ...] = (1, 9, 17, 25),
    k: int = 50,
    reliable: bool = False,
) -> DataFrame:
    """Top-k most-similar pairs among sign-LSH bucket candidates."""
    # materialize: referenced on both sides of the self-join (avoids
    # recomputing the scan + bucket per alias). Norms precompute per
    # VECTOR, not per pair — higher-order array folds don't codegen, so
    # paying |V| folds instead of 2|pairs| is the dominant win here.
    keyed = cut(
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            sign_bucket(F.col(vec_col), dims).alias("bkt"),
            norm(F.col(vec_col)).alias("nrm"),
        ),
        reliable,
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = a.join(
        b, on=[F.col("a.bkt") == F.col("b.bkt"), F.col("a.id") < F.col("b.id")]
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        (dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))).alias(
            "cos_sim"
        ),
    )
    return pairs.orderBy(F.desc("cos_sim"), F.asc("id_a"), F.asc("id_b")).limit(k)


#: column-chunk budget for the per-bucket Gram kernels: blocks are
#: |bucket| × chunk doubles, capped at 2^25 cells (256 MB) so a hot
#: bucket bounds task memory instead of allocating |bucket|² at once
_GRAM_CHUNK_CELLS = 1 << 25


def _bucket_norms(mat):
    """Per-vector L2 norms with the same per-dimension accumulation
    order as ``dot(v, v)`` (and the Gram diagonal)."""
    import numpy as np

    nrm2 = np.zeros(mat.shape[0])
    for d in range(mat.shape[1]):
        nrm2 += mat[:, d] * mat[:, d]
    return np.sqrt(nrm2)


def _gram_blocks(mat, chunk_cells=None):
    """Yield ``(a, b, block)`` column blocks of the Gram matrix,
    accumulated per-dimension IN ORDER (the exact IEEE fold of
    ``zip_with`` + ``aggregate``, vectorized across pairs). Peak memory
    is |rows| × chunk ≤ ``chunk_cells`` doubles — a hot bucket costs
    more passes, never more memory. (``chunk_cells`` defaults to the
    module's ``_GRAM_CHUNK_CELLS``, read at call time so tests can
    shrink it.)"""
    import numpy as np

    if chunk_cells is None:
        chunk_cells = _GRAM_CHUNK_CELLS
    n, dim = mat.shape
    chunk = max(1, chunk_cells // max(n, 1))
    for a in range(0, n, chunk):
        b = min(a + chunk, n)
        block = np.zeros((n, b - a))
        for d in range(dim):
            block += np.outer(mat[:, d], mat[a:b, d])
        yield a, b, block


def cosine_pairs_bucketed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dims: tuple[int, ...] | None = (1, 9, 17, 25),
    threshold: float = 0.3,
    target_bucket: int = 256,
) -> DataFrame:
    """All same-sign-bucket pairs with cosine ≥ ``threshold``:
    ``(id_a, id_b, cos_sim)`` with ``id_a < id_b``.

    The blocked embedding-pair family (q45/q133's building block) as
    ONE ``applyInPandas`` task per bucket: per-bucket pairwise cosines
    come from column-chunked, per-dimension-accumulated Gram blocks
    (:func:`_gram_blocks`) — the exact IEEE fold order of ``dot()``'s
    ``zip_with`` + ``aggregate`` (and the SQL oracle's ``list_reduce``),
    vectorized across pairs — so the output value-checks cross-engine
    while running ~100× faster than an interpreted per-pair fold.
    Shuffle key = bucket; per-task memory = |bucket| × chunk (capped,
    see ``_GRAM_CHUNK_CELLS``) — qualifying PAIRS stream out per chunk,
    so only the ≥ threshold survivors are ever held.

    ``dims=None`` picks the plane count from the corpus exactly like
    :func:`knn_graph_bucketed` (P = :func:`auto_plane_count`, planes a
    prefix of ``_AUTO_PLANES``): fixed plane counts are the measured
    sf10 failure mode for this family too — 16 buckets over 200k
    vectors made q133's embedding stage the round-6 scaling campaign's
    heaviest remaining quadratic. At small N (P clamps to 4) auto mode
    is bit-identical to the fixed default.
    """
    import numpy as np
    import pandas as pd

    if dims is None:
        dims = _AUTO_PLANES[: auto_plane_count(df.count(), target_bucket)]

    keyed = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        sign_bucket(F.col(vec_col), dims).alias("bkt"),
    )
    # captured DRIVER-side: the udf body runs in worker processes that
    # re-import this module, so the closure (not the worker's module
    # global) must carry the chunk budget for tests to shrink it
    chunk_cells = _GRAM_CHUNK_CELLS

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        mat = np.stack(pdf["v"].to_numpy()[order]).astype(np.float64)
        n = mat.shape[0]
        nrm = _bucket_norms(mat)
        out_a, out_b, out_c = [], [], []
        rows = np.arange(n)[:, None]
        for a, b, block in _gram_blocks(mat, chunk_cells):
            # zero-norm vectors: 0/0 → NaN, and NaN >= threshold is
            # False — the same exclusion the SQL fold produces
            # (NULL-div in Spark, NaN in DuckDB)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = block / np.outer(nrm, nrm[a:b])
            with np.errstate(invalid="ignore"):
                hit = cos >= threshold
            hit &= rows < np.arange(a, b)[None, :]  # strict i < j only
            ii, jj = np.nonzero(hit)
            out_a.append(ids[ii])
            out_b.append(ids[a + jj])
            out_c.append(cos[ii, jj])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else ids[:0],
                "id_b": np.concatenate(out_b) if out_b else ids[:0],
                "cos_sim": np.concatenate(out_c)
                if out_c
                else np.zeros(0),
            }
        )

    return keyed.groupBy("bkt").applyInPandas(
        pairs, "id_a long, id_b long, cos_sim double"
    )


def _lloyd_centroid_list(
    emb: DataFrame,
    n_cells: int,
    n_iter: int,
    train_limit: int | None = None,
) -> list[tuple[int, list[float]]]:
    """The Lloyd loop itself: ``emb(id, v: array<double>)`` → sorted
    ``[(c_id, centroid)]`` after ``n_iter`` rounds.

    ``train_limit`` bounds the TRAINING set to the ``train_limit``
    smallest-id rows (deterministic, SQL-expressible as ``ORDER BY id
    LIMIT n`` — a TakeOrderedAndProject, no full sort): the FAISS
    ``max_points_per_centroid`` practice. Without it, per-round Lloyd
    work is O(N × cells × dim), which the round-5 sf10 campaign
    measured turning the count-adaptive q130a twin QUADRATIC overall
    (632 s — worse than the fixed-cell form it was meant to fix) the
    moment cells grew with N. Centroid init (smallest ``n_cells`` ids)
    is a prefix of the training sample, so fixture-scale corpora under
    the limit are bit-identical with or without it.

    Two regimes, identical arithmetic (a pytest asserts they produce
    the same list on the fixture corpus):

    - **Driver regime** (training set under the ``driver_train`` cap of
      :mod:`.regime` — rows × dim × 8, counted by one stats job):
      collect the (id, v) projection once and run every round in numpy.
      This is how production ANN indexes train centroids anyway (a bounded corpus/sample, not the
      full 100 TB), and it removes the per-round distributed-job
      barrier that dominated q72/q130 at bench scale — an iterative
      algorithm over 8 × 64 doubles has no business paying a Spark job
      per round.
    - **Distributed regime** (above the cap): per round, assignment
      ships the centroid table as DATA via :func:`_with_cells`' one-row
      broadcast crossJoin, and the update is one ``groupBy(c_id)`` with
      a per-dimension ``element_at`` DECIMAL(18,6) sum — rows shuffled
      per round = |cells| carrying dim+1 columns; the update collect IS
      the round barrier the algorithm needs anyway.

    Bit-stability (what lets q72/q130 carry cross-engine value oracles)
    holds in both regimes: d2 accumulates dimension-sequentially in
    IEEE double (numpy loops per-dim in the same order as the
    ``zip_with``+``aggregate`` fold), ties break to the lower c_id
    (argmin-first over centroids kept in ascending-id order), and cell
    means are exact DECIMAL(18,6) sums — numpy replicates Spark's
    double→decimal cast (shortest-repr then HALF_UP, i.e. Java
    ``BigDecimal.valueOf``) by quantizing ``Decimal(repr(x))`` once per
    element, after which per-cell sums are exact int64 adds.

    Sharing the list (not a DataFrame) lets callers like
    :func:`semdedup` skip a createDataFrame→collect round-trip.
    """
    if train_limit is not None:
        emb = emb.orderBy("id").limit(train_limit)
    stats = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size("v"), ignorenulls=True).alias("dim"),
    ).first()
    n_rows, dim = stats["n"], stats["dim"] or 0
    if n_rows == 0:
        return []
    if regime.small("driver_train", n_rows * max(dim, 1) * 8):
        return _lloyd_driver(emb, n_cells, n_iter)
    # distributed regime: the caller's lineage is referenced by the
    # seed collect and every round — cut it once or a derived frame
    # (filter/join upstream) re-executes n_iter+1 times
    emb = cut(emb)
    cent = [
        (r["id"], [float(x) for x in r["v"]])
        for r in emb.orderBy("id").limit(n_cells).collect()
    ]
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.element_at("v", i + 1).cast("decimal(18,6)")).alias(f"s{i}")
        for i in range(dim)
    ]
    for _ in range(n_iter):
        rows = _with_cells(emb, cent).groupBy("c_id").agg(*aggs).collect()
        cent = sorted(
            (
                r["c_id"],
                [float(r[f"s{i}"]) / r["n"] for i in range(dim)],
            )
            for r in rows
        )
    return cent


def _collect_matrix(emb: DataFrame):
    """Collect an ``(id, v)`` frame to an id-sorted ``(ids, mat)`` numpy
    pair via ONE Arrow ``toPandas`` transfer. Value-identical to the
    row-``collect`` it replaces — Arrow carries IEEE doubles and int64
    ids bit-exactly — but columnar: at the driver-regime byte cap the
    pickled-row path spent more wall on deserialization than the Lloyd
    rounds themselves (round-10 measurement, this host: ~3× on the
    50k×64 bench corpus)."""
    import numpy as np

    pdf = emb.select("id", "v").toPandas()
    ids = pdf["id"].to_numpy(dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    if len(ids) == 0:
        return ids, np.empty((0, 0), dtype=np.float64)
    mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
    return ids[order], mat[order]


def _lloyd_driver(
    emb: DataFrame, n_cells: int, n_iter: int
) -> list[tuple[int, list[float]]]:
    """Driver-regime Lloyd rounds — see :func:`_lloyd_centroid_list`
    for the regime contract and the bit-stability argument."""
    ids, mat = _collect_matrix(emb)
    return _lloyd_driver_matrix(ids, mat, n_cells, n_iter)


def _lloyd_driver_matrix(
    ids, mat, n_cells: int, n_iter: int
) -> list[tuple[int, list[float]]]:
    """The numpy Lloyd core over an id-sorted (ids, matrix) pair.
    Split out of :func:`_lloyd_driver` so the PQ family can collect its
    training set ONCE and train all m subspace codebooks from numpy
    slices (one Spark job instead of m sizing jobs + m collects — the
    round-8 training-floor cut); numpy slicing of the collected full
    vectors is value-identical to collecting F.slice projections."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    # exact scaled-integer view for the update sums: each element
    # quantized ONCE to decimal(18,6)'s scale; per-cell sums are then
    # exact int64 adds (order-free), and the mean reproduces
    # CAST(SUM(DECIMAL) AS DOUBLE) / COUNT(*) to the bit
    # vectorized half-up: floor(x·1e6 + 0.5) matches the exact quantize
    # everywhere except within float error of a .5 tie (|x·1e6| ≲ 1e7 ⇒
    # error ≲ 2e-9); those rare elements — and exact ties, where
    # floor-based rounding disagrees with HALF_UP for negatives — are
    # recomputed exactly. (The all-Python Decimal loop was ~50 s at the
    # training cap's 32M elements; this is the same result in ~ms.)
    micro = Decimal("0.000001")
    flt = mat * 1e6
    scaled = np.floor(flt + 0.5).astype(np.int64)
    # the suspect window must scale with magnitude: fl(x·1e6) carries
    # relative error up to |x·1e6|·2⁻⁵³, which exceeds a fixed 1e-7 for
    # |x| ≳ 900 — elements within the magnitude-aware window of a .5
    # boundary (and exact ties) fall back to the exact Decimal quantize
    near = np.abs(flt - np.floor(flt) - 0.5) <= np.maximum(
        1e-7, np.abs(flt) * 4e-16
    )
    for i, j in zip(*np.nonzero(near)):
        scaled[i, j] = int(
            Decimal(repr(float(mat[i, j])))
            .quantize(micro, rounding=ROUND_HALF_UP)
            .scaleb(6)
        )
    cents: list[tuple[int, np.ndarray]] = [
        (int(ids[i]), mat[i].astype(np.float64))
        for i in range(min(n_cells, len(ids)))
    ]
    for _ in range(n_iter):
        if not cents:
            break
        cmat = np.stack([c for _, c in cents])
        # d2 accumulates per-dimension IN ORDER — the exact IEEE fold of
        # zip_with + aggregate (vectorized across rows, not across dims)
        d2 = np.zeros((mat.shape[0], cmat.shape[0]))
        for d in range(mat.shape[1]):
            diff = mat[:, d : d + 1] - cmat[None, :, d]
            d2 += diff * diff
        # argmin takes the FIRST minimum: cents ascend by c_id, so ties
        # break to the lower centroid id, matching the array_min struct
        assign = np.argmin(d2, axis=1)
        nxt = []
        for j, (cid, _) in enumerate(cents):
            mask = assign == j
            cnt = int(mask.sum())
            if cnt == 0:  # empty cell drops its centroid row
                continue
            sums = scaled[mask].sum(axis=0)
            nxt.append(
                (
                    cid,
                    np.array(
                        [
                            float(Decimal(int(s)).scaleb(-6)) / cnt
                            for s in sums
                        ]
                    ),
                )
            )
        cents = nxt
    return [(cid, [float(x) for x in vec]) for cid, vec in cents]


#: cell count above which assignment switches to the Arrow kernel —
#: the HOF fold's interpreter cost is rows × cells × dim, fine at the
#: oracle-pinned 8 cells but 2.8M interpreted 64-element folds for
#: q130p's sqrt(N) cells at sf1 (measured 32 s; the Arrow kernel runs
#: the same corpus in ~2 s). 16 keeps every 8-cell oracle query on the
#: proven HOF plan while sqrt(N) sizing (>=23 even at 500 vectors)
#: always takes the vectorized path.
_ARROW_ASSIGN_MIN_CELLS = 16


def _with_cells(emb: DataFrame, cent: list) -> DataFrame:
    """``(id, c_id, v)``: nearest-cell assignment with the centroid
    table shipped as ONE broadcast row holding an
    ``array<struct<c_id, c_vec>>``.

    Dispatches to :func:`_with_cells_arrow` when ``len(cent) >=
    _ARROW_ASSIGN_MIN_CELLS`` — same argmin, same IEEE fold, same
    tie-break, vectorized per Arrow batch instead of interpreted per
    (row, centroid). A pytest pins the two paths value-identical.

    Per input row, ``array_min`` over ``transform(cents, c ->
    struct(d2(v, c.c_vec), c.c_id))`` picks the lexicographic minimum —
    exactly argmin-squared-L2 with ties to the lower centroid id, and
    the same sequential double fold as the SQL oracle. Two properties
    matter:

    - zero shuffle: the join is a broadcast of one row, assignment is a
      map stage at any corpus scale;
    - constant expression size: centroids travel as DATA, so codegen
      compiles one small lambda regardless of cells × dim (inlining
      them as literals produced a multi-thousand-node expression whose
      per-round recompilation dominated the whole Lloyd loop at
      fixture scale).
    """
    if len(cent) >= _ARROW_ASSIGN_MIN_CELLS:
        return _with_cells_arrow(emb, cent)
    spark = emb.sparkSession
    cent_row = spark.createDataFrame(
        [(cent,)], "cents array<struct<c_id:long,c_vec:array<double>>>"
    )

    cand = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            _d2_fold(F.col("v"), c["c_vec"]).alias("d2"),
            c["c_id"].alias("c_id"),
        ),
    )
    return emb.crossJoin(F.broadcast(cent_row)).select(
        "id", F.array_min(cand)["c_id"].alias("c_id"), "v"
    )


def _with_cells_arrow(emb: DataFrame, cent: list) -> DataFrame:
    """Vectorized twin of :func:`_with_cells`: centroids ride in the
    task closure (cells × dim doubles — the same broadcast-scale
    contract as the one-row HOF form), assignment is numpy per Arrow
    batch. Still zero shuffle: ``mapInPandas`` is a map stage.

    Value parity with the HOF form, argued term by term:

    - d2 accumulates per-dimension IN ORDER (``acc += diff²`` for d =
      0..dim-1) — the exact left-to-right double fold of the
      ``zip_with`` + ``aggregate`` expression and of the SQL oracle;
    - centroids are sorted ascending by c_id, so ``argmin``'s
      first-minimum rule IS the (d2, c_id) lexicographic tie-break of
      ``array_min`` (which is order-independent, making the defensive
      sort safe for any caller);
    - a NaN d2 (NaN vector component) ranks +inf — Spark orders NaN
      above every double, so such a centroid loses to any finite one
      and an all-NaN row falls to the lowest c_id, exactly array_min.
    """
    import numpy as np
    import pandas as pd

    order = sorted(range(len(cent)), key=lambda i: cent[i][0])
    c_ids = np.array([cent[i][0] for i in order], dtype=np.int64)
    cmat = np.array([cent[i][1] for i in order], dtype=np.float64)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {
                        "id": pd.array([], dtype="int64"),
                        "c_id": pd.array([], dtype="int64"),
                        "v": pdf["v"],
                    }
                )
                continue
            mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            # Row-blocked per-dimension fold with preallocated buffers:
            # arithmetic is element-for-element identical to the naive
            # `d2 += diff * diff` loop (same per-element op order, so
            # IEEE results — and oracle verdicts — cannot move), but a
            # 512-row block keeps diff/d2 resident in cache instead of
            # streaming an N × cells temporary through DRAM per
            # dimension (3× less memory traffic; this fold is the
            # dominant cost of count-adaptive cell assignment at sf10).
            best = np.empty(len(mat), dtype=np.int64)
            blk = 512
            for s in range(0, len(mat), blk):
                m = mat[s : s + blk]
                d2 = np.zeros((len(m), len(c_ids)))
                diff = np.empty_like(d2)
                for d in range(cmat.shape[1]):
                    np.subtract(m[:, d, None], cmat[None, :, d], out=diff)
                    np.multiply(diff, diff, out=diff)
                    np.add(d2, diff, out=d2)
                np.copyto(d2, np.inf, where=np.isnan(d2))
                best[s : s + blk] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "c_id": c_ids[best],
                    "v": pdf["v"],
                }
            )

    return emb.mapInPandas(assign, "id long, c_id long, v array<double>")


def ann_topk_ivf_kmeans_lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    n_cells: int = 8,
    n_iter: int = 3,
    k: int = 10,
) -> DataFrame:
    """IVF ANN over deterministic Lloyd k-means cells
    (:func:`_lloyd_centroid_list`), value-checkable cross-engine (q72).
    Same scale shape as :func:`ann_topk_ivf`: assignment is an equi-join
    on the cell id, the probe touches one cell, no cross join of the
    corpus."""
    emb = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    rows = _lloyd_centroid_list(emb, n_cells, n_iter)
    if not rows:
        return df.sparkSession.createDataFrame([], "id long, cos_sim double")
    q = query_df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    # cell and vector stay PAIRED in one broadcast row per query — two
    # separate broadcasts would cartesian query A's cell with query B's
    # vector when query_df has more than one row
    q_info = F.broadcast(
        _with_cells(q, rows).select(
            F.col("c_id").alias("q_cell"), F.col("v").alias("q_vec")
        )
    )
    return (
        # _with_cells carries v through assignment — no emb re-join
        _with_cells(emb, rows)
        .join(q_info, F.col("c_id") == F.col("q_cell"))
        .select(F.col("id"), cosine(F.col("v"), F.col("q_vec")).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("id"))
        .limit(k)
    )


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 8,
    n_iter: int = 3,
    threshold: float = 0.4,
    centroids: list[tuple[int, list[float]]] | None = None,
    train_limit: int | None = None,
) -> DataFrame:
    """Semantic dedup, SemDeDup-shaped (Abbas et al. 2023, arXiv
    2303.09540): cluster embeddings, then prune within clusters only —
    a vector is dropped iff some SAME-CLUSTER vector with a smaller id
    is ``threshold``-cosine-similar to it.

    Returns one row per input vector:
    ``(id, c_id, dominator, keep)`` where ``dominator`` is the smallest
    such similar neighbor (NULL for survivors) and ``keep = dominator
    IS NULL``. The drop rule is a single anti-join pass (no iteration):
    deterministic, order-free, and exactly expressible in SQL — which
    is what lets the operator carry a cross-engine value oracle (q130)
    on top of the Lloyd cells (:func:`_lloyd_centroid_list`) q72
    already value-checks.

    Scale shape: clustering is the Lloyd loop (driver regime under the
    training cap, broadcast-assign + (cell × dim)-bounded update
    above it); the prune shuffles on the CLUSTER id only — one
    ``applyInPandas`` task per cell, so candidate pairs are Σ|cell|²,
    never |n|², and ``n_cells`` is the lever that caps per-task work
    (the paper's √n-clusters regime). Inside a cell the pairwise
    cosines are column-chunked per-dimension-accumulated Gram blocks in
    numpy — the Arrow-batched form of the same left-to-right double
    fold the SQL oracle runs (an interpreted per-pair ``aggregate``
    fold was measured 100× slower at 250k pairs), so the verdicts stay
    bit-identical cross-engine while task memory stays |cell| × chunk
    (``_GRAM_CHUNK_CELLS``-capped), never |cell|².

    ``train_limit`` bounds Lloyd training to the smallest-id sample
    (see :func:`_lloyd_centroid_list`) — mandatory once ``n_cells``
    grows with the corpus, or training itself goes quadratic.
    """
    import numpy as np
    import pandas as pd

    emb = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    # callers that already ran the Lloyd loop (or hold stored centroids)
    # pass them in and skip the n_iter round-trip entirely
    rows = (
        centroids
        if centroids is not None
        else _lloyd_centroid_list(emb, n_cells, n_iter, train_limit=train_limit)
    )
    if not rows:  # empty input: one verdict row per input vector = none
        return df.sparkSession.createDataFrame(
            [], "id long, c_id long, dominator long, keep boolean"
        )

    chunk_cells = _GRAM_CHUNK_CELLS  # closure-captured (worker re-imports)

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        mat = np.stack(pdf["v"].to_numpy()[order]).astype(np.float64)
        n = mat.shape[0]
        # norms + column-chunked Gram blocks, both accumulated
        # per-dimension IN ORDER — the exact IEEE fold of dot()'s
        # zip_with + aggregate; chunking bounds task memory at
        # |cell| × chunk instead of |cell|² (see _GRAM_CHUNK_CELLS)
        nrm = _bucket_norms(mat)
        has = np.zeros(n, dtype=bool)
        first = np.zeros(n, dtype=np.int64)
        rows = np.arange(n)[:, None]
        for a, b, block in _gram_blocks(mat, chunk_cells):
            # zero-norm vectors: 0/0 → NaN; NaN >= threshold is False,
            # the same never-dominates verdict the SQL fold produces
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = block / np.outer(nrm, nrm[a:b])
            # dominator[j] = smallest-id i < j with cos >= threshold;
            # ids ascend with the row index, so it is the first
            # qualifying row strictly above the diagonal
            with np.errstate(invalid="ignore"):
                hit = cos >= threshold
            hit &= rows < np.arange(a, b)[None, :]
            has[a:b] = hit.any(axis=0)
            first[a:b] = hit.argmax(axis=0)  # first True row (0 if none)
        dom = np.where(has, ids[first], 0)
        return pd.DataFrame(
            {
                "id": ids,
                "c_id": pdf["c_id"].to_numpy()[order],
                "dominator": pd.array(
                    np.where(has, dom, None), dtype="Int64"
                ),
                "keep": ~has,
            }
        )

    return (
        _with_cells(emb, rows)
        .groupBy("c_id")
        .applyInPandas(prune, "id long, c_id long, dominator long, keep boolean")
    )


def ann_topk_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    n_cells: int = 8,
    probe_dims: tuple[int, ...] = (1, 9, 17),
    k: int = 10,
) -> DataFrame:
    """IVF-shaped ANN: coarse-quantize by sign bucket on ``probe_dims``
    (a deterministic stand-in for k-means cells), search only the query's
    cell. Recall < 1 by design; the exactness baseline is
    :func:`ann_topk_bruteforce`.
    """
    cell = sign_bucket(F.col(vec_col), probe_dims)
    keyed = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), cell.alias("cell"))
    q = F.broadcast(
        query_df.select(F.col(vec_col).alias("q_vec"), cell.alias("q_cell"))
    )
    return (
        keyed.join(q, keyed.cell == F.col("q_cell"))
        .select(F.col("id"), cosine(F.col("v"), F.col("q_vec")).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("id"))
        .limit(k)
    )


def _d2_fold(v, cv):
    """Sequential squared-L2 fold over paired arrays — the exact IEEE
    op order of the SQL oracle's ``list_reduce`` (and of every other d2
    in this module: see :func:`_with_cells`)."""
    diff2 = F.zip_with(
        v,
        cv,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x)


def _pq_prep(df, id_col, vec_col, query_df, m, op):
    """Shared validation prologue of :func:`pq_topk` / :func:`ivfpq_topk`:
    returns ``(emb, empty_fn, dsub, qv, n_rows)`` with ``dsub = 0``
    signalling an empty corpus (caller returns ``empty_fn()``).
    Validates BEFORE any eager materialization — at corpus scale a full
    cut() must not be spent on an argument error; max(size) skips null
    vectors (a null-vector first row must not read as an empty corpus);
    the query vector is collected ONCE (enforcing the one-row contract
    and avoiding re-executing the query plan per subspace). ``n_rows``
    (the corpus row count) rides along in the SAME stats job so callers
    can pick the training regime without paying a second count action
    (round-10: the PQ family's per-query driver round-trips were most
    of its bench wall)."""
    emb = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )

    def _empty():  # preserves the caller's id type
        return emb.select(
            "id", F.lit(None).cast("double").alias("adc_d2")
        ).where(F.lit(False))

    # Genuinely skip null vectors regardless of the session's
    # spark.sql.legacy.sizeOfNull (under the legacy default size(null)
    # is -1, so a bare max(size(v)) over an all-null corpus would yield
    # -1 — truthy — and fail the divisibility check instead of taking
    # the documented empty-corpus return).
    stats = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.when(F.col("v").isNotNull(), F.size("v"))).alias("dim"),
    ).first()
    n_rows, dim = stats["n"], stats["dim"] or 0
    if not dim:
        return emb, _empty, 0, [], 0
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into m={m} subspaces")
    qrows = query_df.select(
        F.col(vec_col).cast("array<double>").alias("v")
    ).collect()
    if len(qrows) != 1:
        raise ValueError(
            f"{op} expects exactly one query row, got {len(qrows)}"
        )
    qraw = qrows[0]["v"]
    if qraw is None or any(x is None for x in qraw):
        raise ValueError(
            f"{op} query vector must be non-null with no null elements"
        )
    qv = [float(x) for x in qraw]
    if len(qv) != dim:
        raise ValueError(f"query dim {len(qv)} != corpus dim {dim}")
    return emb, _empty, dim // m, qv, n_rows


def _argmin_cells_blocked(mat, cmat):
    """Blocked argmin-squared-L2 of ``mat`` rows against ``cmat`` rows —
    the exact numpy fold of :func:`_with_cells_arrow` (per-dimension
    in-order accumulation, NaN→+inf, first-minimum tie-break over
    centroids the CALLER keeps ascending by id), factored out so the
    fused PQ encode kernel and the assignment kernel cannot drift."""
    import numpy as np

    best = np.empty(len(mat), dtype=np.int64)
    blk = 512
    for s in range(0, len(mat), blk):
        m_ = mat[s : s + blk]
        d2 = np.zeros((len(m_), len(cmat)))
        diff = np.empty_like(d2)
        for d in range(cmat.shape[1]):
            np.subtract(m_[:, d, None], cmat[None, :, d], out=diff)
            np.multiply(diff, diff, out=diff)
            np.add(d2, diff, out=d2)
        np.copyto(d2, np.inf, where=np.isnan(d2))
        best[s : s + blk] = np.argmin(d2, axis=1)
    return best


def _pq_encode_arrow(
    src: DataFrame,
    cents_by_sub: list,
    dsub: int,
    coarse: list | None = None,
    probes: list | None = None,
    residual: bool = False,
) -> DataFrame:
    """ONE Arrow pass over ``src(id, v)`` emitting the PQ code stream
    for all ``m`` subspaces — ``(id, sub_j, code)``, plus a ``cell``
    column when a ``coarse`` stage is fused in.

    Replaces the m per-subspace :func:`_with_cells` map passes (and,
    with ``coarse``, the separate coarse-assignment pass + candidate
    ``cut``) that previously each re-read the corpus: the round-10 plan
    audit had q159/q160/q161 paying 4–6 scans and 2–3 localCheckpoint
    materializations per query where one scan suffices (guide §1.2:
    fix the pass count before the per-task work).

    Value identity with the per-subspace form, term by term:

    - per-subspace assignment is :func:`_argmin_cells_blocked` over the
      same ``F.slice`` column range — the identical per-dimension IEEE
      fold, NaN and tie semantics of ``_with_cells_arrow`` (and of the
      HOF form: the two are pytest-pinned equal);
    - the fused coarse stage assigns on the FULL vector with the same
      fold, filters ``cell ∈ probes`` exactly like the engine-side
      ``isin``, and (``residual=True``) subtracts the own-cell centroid
      elementwise in IEEE double — the numpy twin of the ``zip_with``
      subtraction, applied after the probe filter (same surviving rows,
      same values);
    - ids pass through untouched (any Spark type), so downstream joins
      and the final top-k see exactly the rows the multi-pass plan saw.

    At 100 TB this is still a pure map stage: codebooks + coarse
    centroids ride in the task closure (m × ksub × dsub + cells × dim
    doubles — driver-sized forever), and the emitted stream is m rows
    of (id, two small ints) per surviving vector — the only exchange
    downstream carries one decimal per vector after the map-side
    partial SUM.
    """
    import numpy as np
    import pandas as pd

    m = len(cents_by_sub)
    sub_ids, sub_mats = [], []
    for cent in cents_by_sub:
        order = sorted(range(len(cent)), key=lambda i: cent[i][0])
        sub_ids.append(np.array([cent[i][0] for i in order], dtype=np.int64))
        sub_mats.append(
            np.array([cent[i][1] for i in order], dtype=np.float64)
        )
    with_cell = coarse is not None
    if with_cell:
        corder = sorted(range(len(coarse)), key=lambda i: coarse[i][0])
        c_ids = np.array([coarse[i][0] for i in corder], dtype=np.int64)
        c_mat = np.array([coarse[i][1] for i in corder], dtype=np.float64)
        probe_arr = np.array(sorted(probes), dtype=np.int64)
    id_dt = src.schema["id"].dataType.simpleString()
    schema = (
        f"id {id_dt}, cell long, sub_j int, code long"
        if with_cell
        else f"id {id_dt}, sub_j int, code long"
    )

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["id"].to_numpy()
            mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            cells = None
            if with_cell:
                cells = c_ids[_argmin_cells_blocked(mat, c_mat)]
                keep = np.isin(cells, probe_arr)
                ids, mat, cells = ids[keep], mat[keep], cells[keep]
                if len(ids) == 0:
                    continue
                if residual:
                    pos = np.searchsorted(c_ids, cells)
                    mat = mat - c_mat[pos]
            codes = [
                sub_ids[j][
                    _argmin_cells_blocked(
                        mat[:, j * dsub : (j + 1) * dsub], sub_mats[j]
                    )
                ]
                for j in range(m)
            ]
            data = {"id": np.concatenate([ids] * m)}
            if with_cell:
                data["cell"] = np.concatenate([cells] * m)
            data["sub_j"] = np.repeat(np.arange(m, dtype=np.int32), len(ids))
            data["code"] = np.concatenate(codes)
            yield pd.DataFrame(data)

    return src.mapInPandas(encode, schema)


def _pq_query_dtab(
    spark, qv_rows: list, cents_by_sub: list, dsub: int, with_cell: bool
) -> DataFrame:
    """The query's ADC distance tables as ONE small engine-side frame:
    ``(sub_j, code, d2)`` (plus ``cell`` for the residual family, where
    each probed cell owns its own tables). ``qv_rows`` is
    ``[(cell_or_None, query_vector)]``. Each entry is computed ENGINE-
    side (``F.round(...).cast(decimal)``) so the decimal rounding
    matches the SQL oracle's ROUND exactly — factored out of the
    per-subspace loops so the fused and distributed paths share one
    definition."""
    m = len(cents_by_sub)
    parts = []
    for j in range(m):
        cent_df = spark.createDataFrame(
            cents_by_sub[j], "c_id long, c_vec array<double>"
        )
        if with_cell:
            q_df = spark.createDataFrame(
                [(c, v[j * dsub : (j + 1) * dsub]) for c, v in qv_rows],
                "cell long, qv array<double>",
            )
            cols = ["cell"]
        else:
            q_df = spark.createDataFrame(
                [(v[j * dsub : (j + 1) * dsub],) for _, v in qv_rows],
                "qv array<double>",
            )
            cols = []
        parts.append(
            cent_df.crossJoin(F.broadcast(q_df)).select(
                *cols,
                F.lit(j).alias("sub_j"),
                F.col("c_id").alias("code"),
                F.round(_d2_fold(F.col("qv"), F.col("c_vec")), 6)
                .cast("decimal(18,6)")
                .alias("d2"),
            )
        )
    dtab = parts[0]
    for d in parts[1:]:
        dtab = dtab.unionAll(d)
    return dtab


def pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    k: int = 10,
    m: int = 4,
    ksub: int = 16,
    n_iter: int = 3,
    train_limit: int | None = None,
) -> DataFrame:
    """Product-quantization ANN with an asymmetric-distance (ADC) scan
    (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    TPAMI 2011) — the memory gear of the ANN family: vectors live as
    ``m`` one-byte codes instead of ``dim`` floats (64 doubles -> 4
    codes here = 128x), which is what makes a 100 TB embedding corpus
    scannable at all.

    Index build: the vector is split into ``m`` subvectors; each
    subspace trains its own deterministic Lloyd codebook of ``ksub``
    centroids (:func:`_lloyd_centroid_list` — min-id seeds, decimal
    means, bounded by ``train_limit`` exactly like the IVF family) and
    every vector is encoded as its per-subspace nearest-centroid ids
    (:func:`_with_cells` — a zero-shuffle map stage per subspace).

    Query (ADC): the query is NOT encoded; per subspace a ``ksub``-row
    distance table d2(q_sub, centroid) is computed once, and the
    approximate distance of a database vector is the sum of ``m`` table
    lookups — no float vector is touched during the scan. Here the
    lookup is a broadcast join of the (m x ksub)-row table against the
    exploded code stream, then one map-side-combined SUM per id and a
    TakeOrderedAndProject: shuffle volume is |corpus| single-decimal
    rows, scan volume is codes only.

    Cross-engine value-checkability (q159): codebooks are bit-stable
    (the q72 Lloyd argument, per subspace), encode assignments are the
    pinned argmin fold, each table entry is rounded to DECIMAL(18,6)
    (Spark round == DuckDB ROUND: half away from zero on the
    non-negative domain), and the m-term ADC sum is exact decimal —
    summation order cannot move it.

    ``query_df`` must hold exactly ONE query row — enforced (the query
    vector is collected once to the driver, which both pins the
    contract and avoids re-executing the query plan per subspace);
    batch queries compose by looping, or carry a q_id through the
    distance table and group by (q_id, id).

    At 100 TB: codebooks are m x ksub x dsub doubles (driver-sized
    forever); training reads ``train_limit`` rows; encode is one map
    pass over the corpus; the ADC scan reads 1/32nd the bytes of a
    float scan and its only exchange carries one decimal per vector.
    Recall is the PQ trade (codes quantize): composes with the IVF
    cells (:func:`ann_topk_ivf_kmeans_lloyd`) for IVFPQ, where the
    scan also prunes to n_probe cells.
    """
    emb, _empty, dsub, qv, n_rows = _pq_prep(
        df, id_col, vec_col, query_df, m, "pq_topk"
    )
    if not dsub:
        return _empty()
    n_train = n_rows if train_limit is None else min(n_rows, train_limit)
    if not _pq_fused_fits(n_train, m, dsub):
        # distributed-regime only: the fused path reads the corpus once
        # per job, so the multi-consumer checkpoint buys nothing there
        emb = cut(emb)  # referenced by m training collects + m encode passes
    adc = _pq_adc_scan(
        emb, emb, qv, m, dsub, ksub, n_iter, train_limit, n_train_rows=n_train
    )
    if adc is None:
        return _empty()
    return adc.orderBy(F.asc("adc_d2"), F.asc("id")).limit(k)


def _pq_fused_fits(n_train: int, m: int, dsub: int) -> bool:
    """True when the whole PQ training set (rows × dim × 8) is non-empty
    and under the ``driver_train`` cap of :mod:`.regime` — the bound
    that turns on the fused one-collect training AND the fused one-scan
    Arrow encode; otherwise the distributed per-subspace path."""
    nbytes = n_train * m * dsub * 8
    return nbytes > 0 and regime.small("driver_train", nbytes)


def _probe_cells(qv: list[float], coarse: list, n_probe: int) -> list[int]:
    """Rank cells driver-side with the pinned sequential fold (the SQL
    oracle's list_reduce order), ties to the lower c_id — the probe
    list is a pure function of (query, centroids). A NaN d2 ranks
    +inf (the _with_cells_arrow rule and DuckDB's NULLS-LAST-like
    NaN ordering); Python tuple sort would otherwise place it
    arbitrarily because every NaN comparison is False."""

    def _d2(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc if acc == acc else float("inf")

    return [
        cid
        for _, cid in sorted((_d2(qv, cv), cid) for cid, cv in coarse)[:n_probe]
    ]


def _pq_adc_scan(
    train_src: DataFrame,
    encode_src: DataFrame,
    qv: list[float],
    m: int,
    dsub: int,
    ksub: int,
    n_iter: int,
    train_limit: int | None,
    n_train_rows: int | None = None,
) -> DataFrame | None:
    """The PQ core shared by :func:`pq_topk` and :func:`ivfpq_topk`:
    train per-subspace codebooks on ``train_src``, encode ``encode_src``
    (both ``(id, v)`` frames; they differ when an IVF stage pruned the
    scan set), build the query's m distance tables, and return the
    un-truncated ``(id, adc_d2)`` frame. ``None`` when a subspace
    trains empty (empty corpus). ``n_train_rows`` is the caller's
    already-known training row count (post-``train_limit``); passing it
    skips the sizing action.

    Training-floor cut (round 8): when the whole training set fits the
    driver-regime byte cap, it is sized ONCE and collected ONCE (one
    Arrow transfer), and all m subspace codebooks train from numpy
    slices of that matrix (:func:`_lloyd_driver_matrix`) — previously
    each subspace paid its own sizing job + collect, and those 2m
    driver round-trips were most of the PQ family's fixed cost at bench
    scale. Value-identical: numpy column slices of collected full
    vectors equal collected F.slice projections, and the per-subspace
    regime bound (rows x dsub x 8) is implied by the full-matrix bound.

    Encode-pass fusion (round 10): in the same regime the m per-
    subspace ``_with_cells`` passes collapse into ONE Arrow scan
    (:func:`_pq_encode_arrow`) — the plan drops from m map passes over
    ``encode_src`` (each a separate read of the checkpoint/scan) to a
    single pass, identical per-subspace assignment arithmetic.

    Above the cap, the per-subspace `_lloyd_centroid_list` path stands
    (each subspace independently picks driver or distributed regime —
    the 100 TB path is unchanged)."""
    spark = train_src.sparkSession
    tr = (
        train_src
        if train_limit is None
        else train_src.orderBy("id").limit(train_limit)
    )
    n_train = (
        tr.agg(F.count(F.lit(1))).first()[0]
        if n_train_rows is None
        else n_train_rows
    )
    if _pq_fused_fits(n_train, m, dsub):
        ids, mat = _collect_matrix(tr)
        cents_by_sub = [
            _lloyd_driver_matrix(
                ids, mat[:, j * dsub : (j + 1) * dsub], ksub, n_iter
            )
            for j in range(m)
        ]
        if any(not c for c in cents_by_sub):
            return None
        codes = _pq_encode_arrow(encode_src, cents_by_sub, dsub)
        dtab = _pq_query_dtab(
            spark, [(None, qv)], cents_by_sub, dsub, with_cell=False
        )
        return (
            codes.join(F.broadcast(dtab), ["sub_j", "code"])
            .groupBy("id")
            .agg(F.sum("d2").cast("double").alias("adc_d2"))
        )
    cents_by_sub = []
    codes_parts = []
    for j in range(m):
        sub = train_src.select(
            "id", F.slice("v", j * dsub + 1, dsub).alias("v")
        )
        cent = _lloyd_centroid_list(
            sub, ksub, n_iter, train_limit=train_limit
        )
        if not cent:
            return None
        cents_by_sub.append(cent)
        sub_enc = encode_src.select(
            "id", F.slice("v", j * dsub + 1, dsub).alias("v")
        )
        codes_parts.append(
            _with_cells(sub_enc, cent).select(
                "id", F.lit(j).alias("sub_j"), F.col("c_id").alias("code")
            )
        )
    codes = codes_parts[0]
    for c in codes_parts[1:]:
        codes = codes.unionAll(c)
    dtab = _pq_query_dtab(
        spark, [(None, qv)], cents_by_sub, dsub, with_cell=False
    )
    return (
        codes.join(F.broadcast(dtab), ["sub_j", "code"])
        .groupBy("id")
        .agg(F.sum("d2").cast("double").alias("adc_d2"))
    )


def ivfpq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    m: int = 4,
    ksub: int = 16,
    n_iter: int = 3,
    train_limit: int | None = None,
) -> DataFrame:
    """IVFPQ: the coarse IVF stage prunes the scan to the query's
    ``n_probe`` nearest learned cells, then the PQ/ADC stage
    (:func:`_pq_adc_scan`) scores only the survivors — FAISS's
    ``IndexIVFPQ`` composition, which is THE standard shape for
    billion-vector search: the IVF cut bounds scan rows
    (~``n_probe/n_cells`` of the corpus), the codes bound scan bytes
    (m per vector), and both index structures (coarse centroids +
    subspace codebooks) stay driver-sized forever.

    Determinism = the q72 coarse chain + the q159 PQ chain, composed:
    cells rank by the same sequential-fold squared L2 with c_id
    tie-break (the probe list is therefore bit-stable), and the ADC sum
    is exact decimal — hence the cross-engine value oracle (q160).

    This is the non-residual form (global codebooks over raw vectors).
    Faithful IVFPQ quantizes per-cell RESIDUALS (v - coarse_centroid),
    buying accuracy at the cost of per-cell distance tables; the
    residual subtraction is exact IEEE and would oracle the same way —
    it is the documented next gear, not a semantics change.
    """
    emb, _empty, dsub, qv, n_rows = _pq_prep(
        df, id_col, vec_col, query_df, m, "ivfpq_topk"
    )
    if not dsub:
        return _empty()
    n_train = n_rows if train_limit is None else min(n_rows, train_limit)
    if _pq_fused_fits(n_train, m, dsub):
        # Fused driver regime (round 10): ONE Arrow collect trains the
        # coarse centroids AND all m subspace codebooks, and ONE Arrow
        # scan assigns coarse cells, filters to the probes and encodes
        # all m subspaces (_pq_encode_arrow) — the previous plan paid a
        # corpus checkpoint, a separate coarse-assignment pass, a
        # candidate checkpoint, a sizing count and a second collect.
        # Arithmetic is the pytest-pinned fold everywhere, so results
        # (and the q160 oracle verdict) cannot move.
        tr = emb if train_limit is None else emb.orderBy("id").limit(train_limit)
        ids, mat = _collect_matrix(tr)
        coarse = _lloyd_driver_matrix(ids, mat, n_cells, n_iter)
        if not coarse:
            return _empty()
        probes = _probe_cells(qv, coarse, n_probe)
        cents_by_sub = [
            _lloyd_driver_matrix(
                ids, mat[:, j * dsub : (j + 1) * dsub], ksub, n_iter
            )
            for j in range(m)
        ]
        if any(not c for c in cents_by_sub):
            return _empty()
        codes = _pq_encode_arrow(
            emb, cents_by_sub, dsub, coarse=coarse, probes=probes
        )
        dtab = _pq_query_dtab(
            df.sparkSession, [(None, qv)], cents_by_sub, dsub, with_cell=False
        )
        adc = (
            codes.join(F.broadcast(dtab), ["sub_j", "code"])
            .groupBy("id")
            .agg(F.sum("d2").cast("double").alias("adc_d2"))
        )
        return adc.orderBy(F.asc("adc_d2"), F.asc("id")).limit(k)
    emb = cut(emb)  # coarse training + assignment + m PQ passes
    coarse = _lloyd_centroid_list(emb, n_cells, n_iter, train_limit=train_limit)
    if not coarse:
        return _empty()
    probes = _probe_cells(qv, coarse, n_probe)
    # the pruned candidate set feeds m encode branches — cut it once or
    # the full-corpus coarse assignment re-executes per subspace
    cand = cut(
        _with_cells(emb, coarse)
        .where(F.col("c_id").isin(probes))
        .select("id", "v")
    )
    adc = _pq_adc_scan(emb, cand, qv, m, dsub, ksub, n_iter, train_limit)
    if adc is None:
        return _empty()
    return adc.orderBy(F.asc("adc_d2"), F.asc("id")).limit(k)


def ivfpq_residual_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    m: int = 4,
    ksub: int = 16,
    n_iter: int = 3,
    train_limit: int | None = None,
) -> DataFrame:
    """Residual IVFPQ — the faithful ``IndexIVFPQ`` (by_residual) form
    :func:`ivfpq_topk`'s docstring names as the next gear: PQ codebooks
    are trained on, and codes encode, the per-cell RESIDUAL
    ``v - coarse_centroid(cell(v))`` instead of the raw vector.
    Residuals cluster around the origin regardless of which cell a
    vector lives in, so the ksub codewords per subspace model a far
    tighter distribution than global raw-vector codebooks — the
    accuracy the residual trade buys (Jégou 2011 §IV-B).

    The cost is per-cell query tables: the query's residual differs per
    probed cell, so each probed cell owns its own m distance tables —
    here an (n_probe × m × ksub)-row broadcast (a few KB at any corpus
    scale; FAISS pays the same table-per-probe multiplication). The
    scan is unchanged: codes equi-join their OWN cell's table (the
    join key gains the cell id), one map-side-combined decimal SUM per
    id, TakeOrderedAndProject.

    Determinism: residual subtraction is exact IEEE (engine-side
    ``zip_with`` double subtraction ≡ the oracle's ``list_transform``
    subtraction ≡ the driver's query-residual floats), codebooks are
    the bit-stable Lloyd chain over those residuals, and the ADC sum
    is exact decimal — hence the cross-engine value oracle (q161).

    At 100 TB: identical shuffle/broadcast shape to :func:`ivfpq_topk`
    (residual construction is one extra map stage against a broadcast
    centroid table); index structures stay driver-sized.
    """
    emb, _empty, dsub, qv, n_rows = _pq_prep(
        df, id_col, vec_col, query_df, m, "ivfpq_residual_topk"
    )
    if not dsub:
        return _empty()
    spark = df.sparkSession
    n_train = n_rows if train_limit is None else min(n_rows, train_limit)
    if _pq_fused_fits(n_train, m, dsub):
        # Fused driver regime (round 10): ONE Arrow collect serves the
        # coarse training, the probe ranking AND the residual subspace
        # training — residuals are computed in numpy (mat minus the
        # own-cell centroid row: the exact IEEE elementwise subtraction
        # of the engine's zip_with, over the pytest-pinned assignment
        # fold), so the full-corpus ``resv`` frame is never
        # materialized. ONE Arrow scan then assigns, filters to the
        # probes, subtracts the residual and encodes all m subspaces
        # (_pq_encode_arrow, residual=True), emitting (id, cell, sub_j,
        # code) directly — the candidate checkpoint and the
        # codes-to-cell re-join disappear from the plan. The previous
        # shape paid: emb cut, resv cut, cand cut, a sizing count and a
        # second full collect — 5 extra actions per query.
        tr = emb if train_limit is None else emb.orderBy("id").limit(train_limit)
        ids, mat = _collect_matrix(tr)
        coarse = _lloyd_driver_matrix(ids, mat, n_cells, n_iter)
        if not coarse:
            return _empty()
        import numpy as np

        c_ids = np.array([c for c, _ in coarse], dtype=np.int64)
        c_mat = np.array([v for _, v in coarse], dtype=np.float64)
        assign = _argmin_cells_blocked(mat, c_mat)
        res_mat = mat - c_mat[assign]
        probes = _probe_cells(qv, coarse, n_probe)
        cents_by_sub = [
            _lloyd_driver_matrix(
                ids, res_mat[:, j * dsub : (j + 1) * dsub], ksub, n_iter
            )
            for j in range(m)
        ]
        if any(not c for c in cents_by_sub):
            return _empty()
        codes = _pq_encode_arrow(
            emb, cents_by_sub, dsub, coarse=coarse, probes=probes,
            residual=True,
        )
        # per-probed-cell query residuals as DATA (driver float
        # subtraction is the same IEEE double op the oracle's SQL
        # subtraction performs); the d2 table entries themselves are
        # computed ENGINE-side so the decimal rounding matches the
        # oracle's ROUND exactly
        q_res_rows = [
            (cid, [q - c for q, c in zip(qv, cv)])
            for cid, cv in coarse
            if cid in set(probes)
        ]
        dtab = _pq_query_dtab(
            spark, q_res_rows, cents_by_sub, dsub, with_cell=True
        )
        adc = (
            codes.join(F.broadcast(dtab), ["cell", "sub_j", "code"])
            .groupBy("id")
            .agg(F.sum("d2").cast("double").alias("adc_d2"))
        )
        return adc.orderBy(F.asc("adc_d2"), F.asc("id")).limit(k)
    emb = cut(emb)  # coarse training + assignment reference it
    coarse = _lloyd_centroid_list(emb, n_cells, n_iter, train_limit=train_limit)
    if not coarse:
        return _empty()
    cent_df = spark.createDataFrame(
        coarse, "c_id long, c_vec array<double>"
    )
    # residuals: one map stage (broadcast centroid join, exact IEEE
    # elementwise subtraction); cut once — m training collects, m
    # encode passes and the candidate filter all reference it
    resv = cut(
        _with_cells(emb, coarse)
        .join(F.broadcast(cent_df), "c_id")
        .select(
            "id",
            "c_id",
            F.zip_with(
                "v", "c_vec", lambda a, b: a.cast("double") - b.cast("double")
            ).alias("v"),
        )
    )
    probes = _probe_cells(qv, coarse, n_probe)
    cand = cut(resv.where(F.col("c_id").isin(probes)))
    # per-probed-cell query residuals as DATA (see the fused branch)
    q_res_rows = [
        (cid, [q - c for q, c in zip(qv, cv)])
        for cid, cv in coarse
        if cid in set(probes)
    ]
    # per-subspace training over the resv frame (each subspace
    # independently picks driver or distributed regime — the 100 TB
    # path); encode stays m _with_cells passes over the candidate cut
    cents_by_sub = []
    codes_parts = []
    for j in range(m):
        sub = resv.select(
            "id", F.slice("v", j * dsub + 1, dsub).alias("v")
        )
        cent = _lloyd_centroid_list(
            sub, ksub, n_iter, train_limit=train_limit
        )
        if not cent:
            return _empty()
        cents_by_sub.append(cent)
        sub_enc = cand.select("id", F.slice("v", j * dsub + 1, dsub).alias("v"))
        codes_parts.append(
            _with_cells(sub_enc, cent).select(
                "id", F.lit(j).alias("sub_j"), F.col("c_id").alias("code")
            )
        )
    codes = codes_parts[0]
    for c in codes_parts[1:]:
        codes = codes.unionAll(c)
    dtab = _pq_query_dtab(spark, q_res_rows, cents_by_sub, dsub, with_cell=True)
    adc = (
        codes.join(cand.select("id", F.col("c_id").alias("cell")), "id")
        .join(F.broadcast(dtab), ["cell", "sub_j", "code"])
        .groupBy("id")
        .agg(F.sum("d2").cast("double").alias("adc_d2"))
    )
    return adc.orderBy(F.asc("adc_d2"), F.asc("id")).limit(k)


def sq8_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Scalar-quantization ANN (the FAISS ``IndexScalarQuantizer``
    QT_8bit shape): every dimension is uniformly quantized to one byte
    between the corpus's per-dimension min and max, and the scan ranks
    by asymmetric distance (full-precision query vs reconstructed
    codes). The middle gear of the quantized-ANN family — 8× smaller
    than float64 (PQ here is 128×) but per-DIMENSION resolution, so
    recall degrades far more gently than PQ's per-subspace codes.

    Physical shape: "train" is ONE collected bounds pass (explode +
    groupBy(dim index), map-side combined — at most ``dim`` rows leave
    any task) that comes back as LITERAL ARRAYS; scoring posexplodes
    the vector into (id, i, v_i) scalars, reads bounds/query via
    ``element_at(<const array>, i)`` — constant-folded, NO join of any
    kind — and partially aggregates the per-dimension decimal errors
    map-side before a |corpus|-row exchange of single decimals — the
    PQ/ADC scan shape with the broadcast join deleted. An earlier cut
    fused encode+ADC into a per-row ``aggregate``/``transform`` lambda
    fold (zero shuffle, prettier plan) and measured 33× SLOWER than
    DuckDB at sf10 (25.7 s vs 0.77 s): higher-order-function lambdas
    evaluate OUTSIDE whole-stage codegen, so the fold paid
    interpreted-expression cost per element. The explode shape keeps
    every expression flat and codegen'd; its exchange carries one
    decimal per vector — the same bytes the PQ scan ships. No Python
    anywhere.

    Cross-engine determinism (q162): codes are exact integers
    (``floor(x + 0.5)`` of a fixed-association double expression —
    identical IEEE ops in both engines; half-up matches DuckDB because
    the pre-floor operand is non-negative by clamping), each squared
    per-dimension error is rounded to DECIMAL(18,6), and the row
    distance is the exact decimal sum of those 64 parts — summation
    order cannot move it (mirrors the PQ/ADC table rule).

    ``query_df`` must hold exactly ONE row (enforced, like
    :func:`pq_topk`). Rows whose vector is NULL are dropped from the
    scan; a NULL *element* quantizes to code 0 (``greatest`` skips the
    NULL — bit-identical to the first cut), and an all-null DIMENSION
    contributes 0 error (the SUM-skips-null semantics of the first
    cut's groupBy, kept via per-term ``coalesce``).

    Round-9 floor cut: the first shipped shape ran THREE corpus passes
    (a dim-validation aggregate, the bounds aggregate re-executed as a
    broadcast-join build, then the ADC scan). Bounds are driver-sized
    by construction (2 x dim doubles), so now ONE bounds pass —
    posexplode + groupBy(dim) with map-side combine, at most ``dim``
    rows leave any task at any corpus size — is COLLECTED, validates
    the corpus dim for free (max dim index + 1), and comes back as a
    LITERAL dim-row side table, leaving the final action exactly one
    corpus scan. A tempting further cut — inlining bounds/query as
    literals in a flat per-row expression, zero joins zero shuffles —
    was built and MEASURED OUT: the 64-term expression tree exceeds
    the whole-stage-codegen size limit, drops every span to
    interpreted eval, and runs 50-80 us/row (10.6 s vs 5.4 s for this
    shape at 200k rows) — the HOF-fold lesson again, by another door.
    The explode shape keeps every expression tiny and codegen'd; its
    exchange carries one decimal per vector — the same bytes the PQ
    scan ships.
    """
    from ipes_data_pipeline_spark.operators.util import spread

    emb = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )

    def _empty():
        return emb.select(
            "id", F.lit(None).cast("double").alias("adc_d2")
        ).where(F.lit(False))

    qrows = query_df.select(
        F.col(vec_col).cast("array<double>").alias("v")
    ).collect()
    if len(qrows) != 1:
        raise ValueError(
            f"sq8_topk expects exactly one query row, got {len(qrows)}"
        )
    qraw = qrows[0]["v"]
    if qraw is None or any(x is None for x in qraw):
        raise ValueError(
            "sq8_topk query vector must be non-null with no null elements"
        )
    qv = [float(x) for x in qraw]
    dim = len(qv)
    live = emb.where(F.col("v").isNotNull())
    # train: ONE corpus pass — per-dimension bounds via explode +
    # groupBy(dim index). Partial aggregation combines map-side, so at
    # most `dim` (mn, mx) rows leave any task regardless of corpus
    # size; the collected result is 2 x dim doubles. max(i0)+1 is the
    # corpus dim — validation rides along at zero extra cost. No
    # spread here: the bounds pass is scan-bound, and the round-robin
    # shuffle costs more than the 13-vs-32-task win (0.97 s unspread
    # vs 2.3 s spread at 200k rows, measured).
    brows = (
        live.select(F.posexplode("v").alias("i0", "vi"))
        .groupBy("i0")
        .agg(F.min("vi").alias("mn"), F.max("vi").alias("mx"))
        .collect()
    )
    if not brows:
        return _empty()
    cdim = max(r["i0"] for r in brows) + 1
    if cdim != dim:
        raise ValueError(f"query dim {dim} != corpus dim {cdim}")
    # bounds + query come back as LITERAL ARRAYS consumed via
    # element_at(<const array>, i) INSIDE the part expression — they
    # constant-fold into the codegen constant pool, so the scan needs
    # no broadcast join at all (and crucially no per-exploded-row
    # array materialization: aliasing them as columns before the
    # explode would drag 3 x dim doubles through every Generate row)
    bmap = {r["i0"]: r for r in brows}
    mn_a = F.array(*[F.lit(bmap[i]["mn"]) for i in range(dim)])
    mx_a = F.array(*[F.lit(bmap[i]["mx"]) for i in range(dim)])
    q_a = F.array(*[F.lit(float(x)) for x in qv])
    # spread BEFORE the CPU-heavy explode: the dim× row blowup + hash
    # agg is ~10 us/row-group-task at 200k rows — a single-row-group
    # parquet scan would run it on one core. No-op at real scale.
    ex = spread(live).select(
        "id", F.posexplode(F.col("v")).alias("i0", "vi")
    )
    idx = F.col("i0") + 1
    mni, mxi, qi = (
        F.element_at(mn_a, idx),
        F.element_at(mx_a, idx),
        F.element_at(q_a, idx),
    )
    vi = F.col("vi")
    code = F.least(
        F.greatest(
            F.floor((vi - mni) * F.lit(255.0) / (mxi - mni) + F.lit(0.5))
            .cast("int"),
            F.lit(0),
        ),
        F.lit(255),
    )
    code = F.when(mxi > mni, code).otherwise(F.lit(0))
    recon = mni + code.cast("double") * (mxi - mni) / F.lit(255.0)
    part = F.round((qi - recon) * (qi - recon), 6).cast("decimal(18,6)")
    return (
        ex.select("id", part.alias("part"))
        .groupBy("id")
        .agg(F.sum("part").cast("double").alias("adc_d2"))
        .orderBy(F.asc("adc_d2"), F.asc("id"))
        .limit(k)
    )


def sq8_topk_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    k: int = 10,
) -> DataFrame:
    """The deployable gear of :func:`sq8_topk`: identical SQ8
    quantization (per-dimension byte codes between the corpus min/max,
    asymmetric distance against the full-precision query), with the ADC
    scan as ONE Arrow-batched corpus pass instead of the posexplode +
    hash-aggregate shape.

    Why it exists (round-9 measurement): the explode shape is the
    oracle-anchored determinism gear and is fine through sf10, but its
    dim× row blowup feeds a |corpus|-group hash aggregate whose cost
    went superlinear in the measured sf10→sf100 decade (2M vectors:
    12.8M → 128M exploded rows, 5.1 s → 78.9 s — the partial-agg hash
    table outgrows the cache/heap comfort zone in a single JVM). The
    Arrow kernel quantizes and scores a whole batch in numpy, keeps a
    running per-task top-k by (distance, id) — lossless truncation: a
    dropped row has k same-or-better rows above it in its own task —
    and emits at most k rows per task, so the only exchange is the
    parts × k digest the other ANN kernels ship (:func:`binary_sign_ann`
    measured this pattern at 2.7×/decade, flat).

    Cross-engine determinism WITHOUT decimals: every per-dimension term
    is pure IEEE-double arithmetic with fixed association (codes and
    reconstruction exactly as :func:`sq8_topk`), and the per-part
    rounding is ``floor(err² × 1e6 + 0.5)`` cast to int64 — micro-unit
    integers, summed exactly in int64 — so numpy, Spark SQL, and DuckDB
    produce bit-identical distances with no decimal-string-rounding
    seam anywhere (Spark's ``round(double, 6)`` goes through Java's
    ``BigDecimal.valueOf``/``Double.toString``, which numpy cannot
    reproduce vectorized; ``floor`` it can). The emitted ``adc_d2`` is
    ``units / 1e6`` — exact, the sum is far below 2^53.

    Contract deltas vs sq8_topk (both mirrored in the q162p oracle):
    corpus rows with a NULL vector are dropped before bounds; rows with
    a null ELEMENT are excluded from the scan (they arrive in Arrow as
    NaN and are masked vectorized — no interpreted per-element HOF
    predicate on the hot path), while the bounds aggregates skip null
    elements individually (MIN/MAX-skip-null — identical semantics in
    Spark and SQL). A true NaN element is indistinguishable from a
    null here and equally out of contract (the repo-wide zero-norm/NaN
    rule). ``query_df`` must hold exactly one non-null row, as in
    sq8_topk. And unlike sq8_topk (whose id rides through a hash
    aggregate untouched), this kernel carries ids as int64 through the
    Arrow digest — an integral ``id_col`` is required and validated up
    front; string/decimal ids need the explode gear or a surrogate key.
    """
    import numpy as np
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(
            f"sq8_topk_arrow carries ids as int64 through its Arrow "
            f"top-k digest; id_col {id_col!r} is {id_type.simpleString()} "
            "— use an integral id (e.g. a deterministic surrogate key, "
            "operators.normalize.surrogate_key) or the sq8_topk explode "
            "gear, which preserves any id type"
        )
    emb = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    qrows = query_df.select(
        F.col(vec_col).cast("array<double>").alias("v")
    ).collect()
    if len(qrows) != 1:
        raise ValueError(
            f"sq8_topk_arrow expects exactly one query row, got {len(qrows)}"
        )
    qraw = qrows[0]["v"]
    if qraw is None or any(x is None for x in qraw):
        raise ValueError(
            "sq8_topk_arrow query vector must be non-null with no null "
            "elements"
        )
    qv = np.array([float(x) for x in qraw], dtype=np.float64)
    dim = len(qv)
    live = emb.where(F.col("v").isNotNull())
    # bounds: the same ONE map-side-combined pass as sq8_topk (at most
    # `dim` rows leave any task at any corpus size), collected to 2×dim
    # doubles and broadcast into the kernel
    brows = (
        live.select(F.posexplode("v").alias("i0", "vi"))
        .groupBy("i0")
        .agg(F.min("vi").alias("mn"), F.max("vi").alias("mx"))
        .collect()
    )
    if not brows:
        return emb.sparkSession.createDataFrame(
            [], "id bigint, adc_d2 double"
        )
    cdim = max(r["i0"] for r in brows) + 1
    if cdim != dim:
        raise ValueError(f"query dim {dim} != corpus dim {cdim}")
    bmap = {r["i0"]: r for r in brows}
    mn = np.array([bmap[i]["mn"] for i in range(dim)], dtype=np.float64)
    mx = np.array([bmap[i]["mx"] for i in range(dim)], dtype=np.float64)
    bc = df.sparkSession.sparkContext.broadcast((mn, mx, qv))

    def scan(batches):
        import pandas as pd

        mn_, mx_, q_ = bc.value
        flat = mx_ <= mn_  # constant dimensions quantize to code 0
        acc_d = np.empty(0, dtype=np.int64)
        acc_id = np.empty(0, dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf["v"].to_numpy())
            if V.shape[1] != len(q_):
                raise ValueError(
                    f"sq8_topk_arrow expects dim={len(q_)} corpus "
                    f"vectors, got {V.shape[1]}"
                )
            ids = pdf["id"].to_numpy(dtype=np.int64)
            # null elements arrive as NaN: those rows are out of the
            # scan (oracle: len(list_filter(v, x -> x IS NULL)) = 0)
            ok = ~np.isnan(V).any(axis=1)
            if not ok.all():
                V, ids = V[ok], ids[ok]
                if len(ids) == 0:
                    continue
            # token-for-token the sq8_topk / oracle expression, per
            # element: floor((v - mn) * 255.0 / (mx - mn) + 0.5),
            # clamped to [0, 255]; constant dims -> code 0
            with np.errstate(divide="ignore", invalid="ignore"):
                code = np.floor((V - mn_) * 255.0 / (mx_ - mn_) + 0.5)
            code = np.clip(code, 0.0, 255.0)
            code[:, flat] = 0.0
            recon = mn_ + code * (mx_ - mn_) / 255.0
            err = q_ - recon
            # micro-unit parts: exact int64, identical in every engine
            part = np.floor(err * err * 1e6 + 0.5).astype(np.int64)
            d = part.sum(axis=1)
            acc_d = np.concatenate([acc_d, d])
            acc_id = np.concatenate([acc_id, ids])
            if len(acc_d) > 4 * k:
                keep = np.lexsort((acc_id, acc_d))[:k]
                acc_d, acc_id = acc_d[keep], acc_id[keep]
        keep = np.lexsort((acc_id, acc_d))[:k]
        if len(keep) == 0:
            return
        yield pd.DataFrame(
            {"id": acc_id[keep], "d2_units": acc_d[keep]}
        )

    return (
        live.mapInPandas(scan, "id bigint, d2_units bigint")
        .orderBy(F.asc("d2_units"), F.asc("id"))
        .limit(k)
        .select(
            "id",
            (F.col("d2_units").cast("double") / F.lit(1e6)).alias("adc_d2"),
        )
    )


def mmr_rerank(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    n_candidates: int = 8,
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-Marginal-Relevance re-rank (Carbonell & Goldstein, SIGIR
    1998): fetch ``n_candidates`` by pure cosine relevance, then
    greedily select ``k`` of them maximizing
    ``lam * rel(c) - (1 - lam) * max_sim(c, selected)`` — the
    diversity-aware final stage of a retrieval stack (dedups
    near-identical passages a training-example assembler or RAG prompt
    would otherwise waste context on).

    Physical shape — two distributed stages and one bounded greedy:
    relevance scoring is the brute-force scan (zero shuffle +
    TakeOrderedAndProject, same as :func:`ann_topk_bruteforce`);
    candidate↔candidate similarities are an n²-bounded self-join of the
    n_candidates survivors (n defaults to 8 — 56 rows); the greedy
    itself is inherently sequential (step t depends on all prior picks)
    over ≤ n_candidates rows, so it runs as ONE ``applyInPandas`` group
    executor-side. Nothing unbounded ever leaves the cluster; corpus
    scale only touches the first stage. The greedy compares RAW doubles
    (both engines produce bit-identical rel/sim via the shared decimal
    dot-product rule, and Python floats are the same IEEE doubles), and
    only the emitted score is rounded — the oracle (q164) mirrors the
    loop as k unrolled argmax CTE layers.
    """
    emb = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    qrows = query_df.select(
        F.col(vec_col).cast("array<double>").alias("v")
    ).collect()
    if len(qrows) != 1:
        raise ValueError(f"mmr_rerank expects exactly one query row, got {len(qrows)}")
    q_arr = F.array(*[F.lit(float(x)) for x in qrows[0]["v"]])
    cand = (
        emb.withColumn("q_vec", q_arr)
        .select("id", "v", cosine(F.col("v"), F.col("q_vec")).alias("rel"))
        .orderBy(F.desc("rel"), F.asc("id"))
        .limit(n_candidates)
    )
    cand = cut(cand)  # consumed by the self-join's both sides + the fuse
    # LEFT join keeps a lone candidate (no pairs) in the greedy's input
    a, b = cand.alias("a"), cand.alias("b")
    sims = a.join(b, F.col("a.id") != F.col("b.id"), "left").select(
        F.col("a.id").alias("id"),
        F.col("a.rel").alias("rel"),
        F.col("b.id").alias("id_b"),
        cosine(F.col("a.v"), F.col("b.v")).alias("sim"),
    )

    def greedy(pdf):
        import pandas as pd

        rel = {}
        sim = {}
        for r in pdf.itertuples(index=False):
            rel[r.id] = r.rel
            if r.id_b is not None and not pd.isna(r.id_b):
                sim[(r.id, int(r.id_b))] = r.sim
        ids = sorted(rel)
        picked, rows = [], []
        for step in range(1, min(k, len(ids)) + 1):
            best = None
            for c in ids:
                if c in picked:
                    continue
                if picked:
                    score = lam * rel[c] - (1.0 - lam) * max(
                        sim[(c, p)] for p in picked
                    )
                else:
                    score = rel[c]
                # strict > : ties keep the lowest id (ids scan ascending)
                if best is None or score > best[1]:
                    best = (c, score)
            picked.append(best[0])
            rows.append((step, best[0], best[1]))
        return pd.DataFrame(rows, columns=["step", "id", "score"])

    out = sims.groupBy(F.lit(1).alias("g")).applyInPandas(
        lambda _key, pdf: greedy(pdf), "step int, id bigint, score double"
    )
    return out.select(
        "step", "id", F.round("score", 6).cast("double").alias("mmr_score")
    ).orderBy("step")


def mine_triplets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    dims: tuple[int, ...] = (1, 9, 17, 25),
    margin: float = 0.2,
    bucket_cap: int | None = 256,
) -> DataFrame:
    """Hard-triplet mining for contrastive/metric training (FaceNet,
    Schroff et al., CVPR 2015; batch-hard variant of Hermans et al.,
    2017): per anchor, the HARDEST positive (lowest-cosine same-label
    neighbor) and HARDEST negative (highest-cosine other-label
    neighbor), kept only when the triplet violates the margin
    (``neg_sim > pos_sim - margin`` — the semi-hard band that actually
    produces gradient). The training-data op embedding trainers run
    over every corpus refresh.

    Physical shape: candidate pairs form INSIDE sign-LSH buckets (the
    q45 blocking key — never all-pairs), and ``bucket_cap`` is the
    oversized-bucket sub-salt valve (default ON at 256, the
    q42p/q39p pattern: md5(id) % ceil(bsz/cap), pairs only within a
    sub-bucket — in-bucket pair work drops from O(b²) to O(b·cap);
    mining inside a sub-bucket is still batch-hard mining, just over a
    deterministic sub-batch). Every salt term is ANSI-SQL-expressible,
    so the q165 oracle parameterizes the SAME cap and the firing regime
    is value-checked in tests. Each (bucket, sub) group scores in ONE
    Arrow task: a numpy Gram accumulated per-dimension IN ORDER (the
    exact IEEE fold of :func:`dot` — :func:`knn_graph_bucketed`'s
    kernel trick, so values stay bit-identical to the SQL oracle's
    ``list_reduce``), hardest positive/negative reduced in-kernel to
    ≤1 output row per anchor. The first cut formed pairs with a JVM
    self-join + per-pair ``cosine()`` fold + two windows: at sf10 that
    paid ~51M interpreted HOF folds — 289 s vs this kernel (the q162
    HOF lesson at pair cardinality). The shuffle carries each group's
    vectors once (not the pair set), per-task memory is one chunk ×
    group Gram block (``_GRAM_CHUNK_CELLS``), and the exchange out is
    one row per anchor. Mining is blocked-approximate by design
    (exactly like production batch-hard mining, which only sees its
    own batch): anchors whose group holds no same-label or no
    other-label row yield no triplet.

    Determinism: the Gram fold is bit-identical to the decimal-rule
    cosine in both engines; argmin/argmax ties break on ascending
    candidate id (ascending-id column order + first-hit argmax);
    the margin compares RAW doubles and only emitted columns round.
    Zero-norm / NULL vectors (NaN cosine) are ENFORCED out of contract:
    filtered before bucket sizing, mirrored in the q165 oracle's e CTE
    (DuckDB would otherwise rank a NaN sim first in the DESC window).
    """
    import numpy as np
    import pandas as pd

    e = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.col(label_col).alias("lab"),
        sign_bucket(F.col(vec_col), dims).alias("bkt"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    # zero-norm / NULL vectors are enforced out of contract (not just
    # documented): their cosine is NaN, and DuckDB ranks NaN GREATEST in
    # a DESC window while the kernel excludes it — filter before bucket
    # sizing so both engines see identical buckets (q165 oracle mirrors
    # this predicate in its e CTE).
    e = e.where(F.col("nrm") > 0)
    if bucket_cap is not None:
        # sizes via map-side-combined groupBy broadcast back (a window
        # over bkt would serialize on the skewed bucket — SCALING.md)
        sizes = e.groupBy("bkt").agg(F.count(F.lit(1)).alias("bsz"))
        n_sub = F.greatest(F.lit(1), F.ceil(F.col("bsz") / bucket_cap))
        salt = (
            F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % n_sub
        )
        e = e.join(F.broadcast(sizes), "bkt").withColumn("sub", salt).drop("bsz")
    else:
        e = e.withColumn("sub", F.lit(0))
    chunk_cells = _GRAM_CHUNK_CELLS

    def hardest(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame(
            {
                "id_a": pd.array([], dtype="int64"),
                "pos_id": pd.array([], dtype="int64"),
                "pos_sim": pd.array([], dtype="float64"),
                "neg_id": pd.array([], dtype="int64"),
                "neg_sim": pd.array([], dtype="float64"),
            }
        )
        if n < 2:
            return empty
        ids_raw = pdf["id"].to_numpy(dtype=np.int64)
        ordr = np.argsort(ids_raw, kind="stable")
        ids = ids_raw[ordr]
        V = np.stack(pdf["v"].to_numpy()[ordr]).astype(np.float64)
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)[ordr]
        labs = pdf["lab"].to_numpy()[ordr]
        out = []
        chunk = max(1, chunk_cells // n)
        for a0 in range(0, n, chunk):
            b0 = min(a0 + chunk, n)
            A = V[a0:b0]
            # per-dimension accumulation IN ORDER — dot()'s exact fold
            block = np.zeros((b0 - a0, n))
            for d in range(V.shape[1]):
                block += np.outer(A[:, d], V[:, d])
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = block / np.outer(nrm[a0:b0], nrm)
            same = labs[a0:b0, None] == labs[None, :]
            selfm = ids[a0:b0, None] == ids[None, :]
            # hardest positive: ORDER BY sim ASC, id ASC over same-label
            pos_ok = same & ~selfm
            pos_rank = np.where(pos_ok & ~np.isnan(cos), cos, np.inf)
            has_pos = np.isfinite(pos_rank).any(axis=1)
            # hardest negative: ORDER BY sim DESC, id ASC over other-label
            neg_ok = ~same
            neg_rank = np.where(neg_ok & ~np.isnan(cos), cos, -np.inf)
            has_neg = np.isfinite(neg_rank).any(axis=1)
            keep = has_pos & has_neg
            if not keep.any():
                continue
            pr, nr = pos_rank[keep], neg_rank[keep]
            # ascending-id column order: first hit of the extremum = lowest id
            pos_idx = np.argmax(pr == pr.min(axis=1, keepdims=True), axis=1)
            neg_idx = np.argmax(nr == nr.max(axis=1, keepdims=True), axis=1)
            rows = np.arange(len(pr))
            out.append(
                pd.DataFrame(
                    {
                        "id_a": ids[a0:b0][keep],
                        "pos_id": ids[pos_idx],
                        "pos_sim": cos[keep][rows, pos_idx],
                        "neg_id": ids[neg_idx],
                        "neg_sim": cos[keep][rows, neg_idx],
                    }
                )
            )
        return pd.concat(out, ignore_index=True) if out else empty

    hard = e.groupBy("bkt", "sub").applyInPandas(
        lambda _key, pdf: hardest(pdf),
        "id_a bigint, pos_id bigint, pos_sim double, "
        "neg_id bigint, neg_sim double",
    )
    return (
        hard.where(F.col("neg_sim") > F.col("pos_sim") - F.lit(margin))
        .select(
            F.col("id_a").alias("anchor_id"),
            "pos_id",
            "neg_id",
            F.round("pos_sim", 6).cast("double").alias("pos_sim"),
            F.round("neg_sim", 6).cast("double").alias("neg_sim"),
            F.round(F.col("neg_sim") - F.col("pos_sim"), 6)
            .cast("double")
            .alias("violation"),
        )
        .orderBy("anchor_id")
    )


def binary_sign_ann(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    k: int = 10,
    rerank: int = 40,
    dim: int = 64,
) -> DataFrame:
    """Binary-quantization ANN (the FAISS ``IndexBinaryFlat`` /
    sign-LSH-at-full-width gear): every vector compresses to ONE sign
    bit per dimension — 64 dims → two packed BIGINTs = 512× smaller
    than float64 — and candidates rank by Hamming distance
    (XOR + popcount, the cheapest similarity primitive that exists),
    then the ``rerank`` nearest re-score with exact cosine. The
    completion of the quantized-ANN ladder: float64 (q46) → SQ8 8×
    (q162) → PQ 128× (q159) → binary 512× (this).

    Physical shape: the Hamming scan is ONE Arrow-batched corpus pass
    (numpy: sign bits, mismatch count against the broadcast query
    bits) in which each task keeps a running top-``rerank`` by
    (hamming, id) and emits at most ``rerank`` rows CARRYING their
    vector — so the exact-cosine rerank runs on the survivor set with
    no second corpus scan and no join, and the global merge orders
    parts x ``rerank`` rows. Round-9 floor cut: the first cut packed
    bits via 64 CASE terms per BIGINT half — "whole-stage codegen" on
    paper, but the generated single method is ~15 KB of bytecode,
    over the JVM JIT's 8 KB huge-method limit, so it actually ran as
    INTERPRETED bytecode (~18 us/row); it also re-joined a broadcast
    candidate list back to the corpus and paid a dedicated
    dim-validation aggregate — three corpus scans total. Corpus dim
    is now validated inside the one scan (np.stack raises on ragged
    input; an explicit shape check names the operator). At 100 TB the
    scan reads each vector once, shuffles nothing, and the expensive
    float math touches ``rerank`` rows total. Recall is the sign-bit
    trade: Hamming(a,q) approximates angle; the rerank stage restores
    exact ordering among survivors.

    Cross-engine determinism (q166): packed codes are exact integers
    (identical CASE/shift arithmetic), Hamming is exact, candidate ties
    break on id, rerank cosine is the shared decimal fold, output
    rounds to 6 dp. ``query_df`` must hold exactly one row (enforced
    like the other gears).
    """
    emb = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    qrows = query_df.select(
        F.col(vec_col).cast("array<double>").alias("v")
    ).collect()
    if len(qrows) != 1:
        raise ValueError(
            f"binary_sign_ann expects exactly one query row, got {len(qrows)}"
        )
    qraw = qrows[0]["v"]
    if qraw is None or any(x is None for x in qraw):
        raise ValueError(
            "binary_sign_ann query vector must be non-null with no null "
            "elements"
        )
    qv = [float(x) for x in qraw]
    if len(qv) != dim:
        raise ValueError(f"binary_sign_ann expects dim={dim}, got {len(qv)}")
    emb = emb.where(F.col("v").isNotNull())

    import numpy as np

    q_arr = F.array(*[F.lit(float(x)) for x in qv])
    qbits = np.array([1 if x > 0 else 0 for x in qv], dtype=np.int32)
    bc = df.sparkSession.sparkContext.broadcast(qbits)

    def scan(batches):
        import pandas as pd

        qb = bc.value
        acc_h = np.empty(0, dtype=np.int64)
        acc_id = np.empty(0, dtype=np.int64)
        acc_v: list = []
        for pdf in batches:
            if pdf.empty:
                continue
            # np.stack raises on ragged input — a wrong-dim corpus row
            # fails the task loudly instead of mis-scoring silently
            V = np.stack(pdf["v"].to_numpy())
            if V.shape[1] != len(qb):
                raise ValueError(
                    f"binary_sign_ann expects dim={len(qb)} corpus "
                    f"vectors, got {V.shape[1]}"
                )
            # sign bit: strictly-positive elements (NaN/None compare
            # False -> bit 0, matching the packed-BIGINT CASE form the
            # oracle evaluates); hamming = count of mismatched bits ==
            # popcount(pack(v) XOR pack(q)) exactly
            bits = (V > 0).astype(np.int32)
            h = np.abs(bits - qb[None, :]).sum(axis=1).astype(np.int64)
            ids = pdf["id"].to_numpy(dtype=np.int64)
            vs = pdf["v"].to_numpy()
            # running per-task top-rerank by (hamming, id) — lossless
            # truncation: a dropped row has `rerank` same-or-better
            # rows above it in this task
            acc_h = np.concatenate([acc_h, h])
            acc_id = np.concatenate([acc_id, ids])
            acc_v.extend(vs)
            if len(acc_h) > 4 * rerank:
                keep = np.lexsort((acc_id, acc_h))[:rerank]
                acc_h, acc_id = acc_h[keep], acc_id[keep]
                acc_v = [acc_v[j] for j in keep]
        keep = np.lexsort((acc_id, acc_h))[:rerank]
        if len(keep) == 0:
            return  # empty partition: emit nothing
        yield pd.DataFrame(
            {
                "id": acc_id[keep],
                "hamming": acc_h[keep].astype(np.int32),
                "v": pd.Series(
                    [list(map(float, acc_v[j])) for j in keep], dtype=object
                ),
            }
        )

    # one Arrow pass: each task emits at most `rerank` candidate rows
    # CARRYING their vector, so the exact-cosine rerank needs no second
    # corpus scan and no join; the global merge orders parts x rerank
    # rows. (A pure-expression pack was built first and MEASURED OUT:
    # 64 CASE terms generate a ~15 KB single method — over the JVM
    # JIT's 8 KB huge-method limit — so the scan ran as INTERPRETED
    # bytecode at ~18 us/row; the Arrow kernel is 1.9 s vs 3.6 s at
    # 200k rows and stays vectorized per batch at any scale.)
    cand = (
        emb.mapInPandas(
            scan, "id bigint, hamming int, v array<double>"
        )
        .orderBy(F.asc("hamming"), F.asc("id"))
        .limit(rerank)
    )
    return (
        cand.withColumn("q_vec", q_arr)
        .select(
            "id",
            "hamming",
            F.round(cosine(F.col("v"), F.col("q_vec")), 6)
            .cast("double")
            .alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("id"))
        .limit(k)
    )
