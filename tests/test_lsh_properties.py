"""Recall properties of the blocked near-duplicate operators:

- exact-duplicate documents share every MinHash band → ALWAYS a
  candidate pair (LSH recall 1.0 at similarity 1.0);
- identical token multisets → identical SimHash signatures;
- disjoint-vocabulary documents share no shingles → never a pair.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ipes_data_pipeline_spark.operators.dedup_minhash import (
    minhash_lsh_pairs,
    simhash_neardup_pairs,
    simhash_signatures,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again"),  # dup of 1
    (3, "quick the brown fox jumps over the lazy dog again and again"),  # reorder
    (4, "entirely different vocabulary concerning maritime navigation rules"),
    (5, "entirely different vocabulary concerning maritime navigation rules"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string").cache()


def test_exact_duplicates_always_candidates(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    assert (1, 2) in pairs  # identical text
    assert (4, 5) in pairs  # identical text, other vocabulary
    # disjoint vocabularies share no shingles → never candidates
    assert not any(
        (a in (1, 2, 3)) != (b in (1, 2, 3)) for a, b in pairs
    )


def test_identical_token_multisets_same_simhash(spark, docs):
    sigs = {r["id"]: r["simhash"] for r in
            simhash_signatures(docs, "doc_id", "text").collect()}
    assert sigs[1] == sigs[2]  # identical docs
    assert sigs[1] == sigs[3]  # simhash is order-insensitive (bag of tokens)
    assert sigs[1] != sigs[4]  # different vocabulary
    assert len(sigs[1]) == 32 and set(sigs[1]) <= {"0", "1"}


def test_knn_graph_self_exclusion_ties_and_duplicates(spark):
    """knn_graph: no self-pairs; exact-duplicate vectors tie at cos=1 and
    the tie breaks toward the LOWER neighbor id; zero vectors don't NaN."""
    from ipes_data_pipeline_spark.operators.similarity import knn_graph

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),   # exact duplicate of 1
        (3, [1.0, 0.0, 0.0]),   # exact duplicate of 1
        (4, [0.0, 1.0, 0.0]),   # orthogonal
        (5, [0.0, 0.0, 0.0]),   # zero vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = knn_graph(df, "vec_id", "embedding", k=1).collect()
    by_id = {r["id"]: r for r in out}
    assert set(by_id) == {1, 2, 3, 4, 5}           # every row got a neighbor
    assert all(r["id"] != r["neighbor_id"] for r in out)
    # k=1 with a 3-way duplicate group: each member's best is the lowest
    # OTHER member id, at cosine exactly 1.
    assert by_id[1]["neighbor_id"] == 2 and by_id[1]["cos_sim"] == 1.0
    assert by_id[2]["neighbor_id"] == 1 and by_id[2]["cos_sim"] == 1.0
    assert by_id[3]["neighbor_id"] == 1
    # zero vector scores 0 against everything, never NaN
    assert by_id[5]["cos_sim"] == 0.0


def test_knn_graph_k_larger_than_corpus(spark):
    from ipes_data_pipeline_spark.operators.similarity import knn_graph

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    out = knn_graph(df, "vec_id", "embedding", k=10).collect()
    assert len(out) == 2  # only one possible neighbor each


def test_knn_graph_guards_driver_memory(spark):
    """The broadcast-regime guard: a corpus whose estimated matrix
    exceeds max_corpus_bytes raises (pointing at knn_graph_bucketed)
    BEFORE any collect; a fitting corpus is unaffected."""
    import pytest

    from ipes_data_pipeline_spark.operators.similarity import knn_graph

    df = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0, 3.0]) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    # 100 rows x 4 dims x 8 B = 3200 B > 1000 B cap
    with pytest.raises(ValueError, match="knn_graph_bucketed"):
        knn_graph(df, "vec_id", "embedding", k=3, max_corpus_bytes=1000)
    assert knn_graph(df, "vec_id", "embedding", k=3).count() == 300


def test_knn_graph_disjoint_corpus_keeps_all_slots(spark):
    """Query-vs-corpus mode with DISJOINT ids: no query row occupies a
    corpus column, so no self slot is subtracted — a 1-row corpus yields
    one neighbor per query (not zero), and a 2-row corpus yields both.
    Mixed membership subtracts the slot only for the overlapping id."""
    from ipes_data_pipeline_spark.operators.similarity import knn_graph

    queries = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    corpus1 = spark.createDataFrame(
        [(1, [1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    out = knn_graph(queries, "vec_id", "embedding", k=3, corpus_df=corpus1)
    got = {(r["id"], r["neighbor_id"]) for r in out.collect()}
    assert got == {(10, 1), (11, 1)}

    # one query id (1) also lives in the corpus: it loses exactly its
    # own slot; the disjoint query (11) sees the full corpus.
    corpus2 = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    mixed = spark.createDataFrame(
        [(1, [1.0, 0.0]), (11, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    out2 = knn_graph(mixed, "vec_id", "embedding", k=3, corpus_df=corpus2)
    by_id = {}
    for r in out2.collect():
        by_id.setdefault(r["id"], set()).add(r["neighbor_id"])
    assert by_id[1] == {2}        # self slot masked
    assert by_id[11] == {1, 2}    # disjoint: sees everything


def test_bucketed_knn_recall_vs_exact(spark):
    """The sharded graph's neighbors are a subset-quality check: measure
    recall@5 against the exact graph on real testdata. Sign-LSH on 4
    axes is deliberately coarse — the floor just guards against the
    bucketing being broken (e.g. everything in one bucket => recall 1
    but a degenerate shuffle; nothing shared => recall 0)."""
    from ipes_data_pipeline_spark.operators.similarity import (
        knn_graph,
        knn_graph_bucketed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["id"], r["neighbor_id"])
        for r in knn_graph(emb, "vec_id", "embedding", k=5).collect()
    }
    approx = {
        (r["id"], r["neighbor_id"])
        for r in knn_graph_bucketed(emb, "vec_id", "embedding", k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert 0.05 < recall < 1.0, recall


def test_delta_dedup_matches_full_pairing_and_reuses_stored_bands(spark, docs):
    """minhash_lsh_pairs_delta: (a) pairs touching the new batch equal
    the full self-join's pairs restricted to the batch; (b) passing a
    precomputed corpus band index gives identical results (the stored-
    artifact path pays no corpus re-hash)."""
    from ipes_data_pipeline_spark.operators.dedup_minhash import (
        minhash_bands,
        minhash_lsh_pairs,
        minhash_lsh_pairs_delta,
    )

    new = docs.where("doc_id % 2 = 0")
    corpus = docs.where("doc_id % 2 = 1")
    full = {
        frozenset((r["id_a"], r["id_b"]))
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    expect = {p for p in full if any(i % 2 == 0 for i in p)}

    got = {
        frozenset((r["new_id"], r["other_id"]))
        for r in minhash_lsh_pairs_delta(
            new, corpus, "doc_id", "text"
        ).collect()
    }
    assert got == expect

    stored = minhash_bands(corpus, "doc_id", "text").localCheckpoint(eager=True)
    got2 = {
        frozenset((r["new_id"], r["other_id"]))
        for r in minhash_lsh_pairs_delta(
            new, None, "doc_id", "text", corpus_bands=stored
        ).collect()
    }
    assert got2 == expect


@pytest.mark.parametrize("n_bits", [0, 33, 64])
def test_simhash_rejects_bits_beyond_md5_digits(docs, n_bits):
    # one signature bit per md5 hex digit: only 1..32 bits exist
    with pytest.raises(ValueError, match="n_bits"):
        simhash_signatures(docs, "doc_id", "text", n_bits)
    with pytest.raises(ValueError, match="n_bits"):
        simhash_neardup_pairs(docs, "doc_id", "text", n_bits=n_bits)


def test_simhash_banding_is_lossless_at_radius(spark):
    """Pigeonhole guarantee: losslessness needs max_hamming < n_bands
    (4 differing bits CAN touch all 4 bands, so radius 4 has no
    guarantee). Verify the exact radius-3 guarantee against brute
    force."""
    from itertools import combinations

    from ipes_data_pipeline_spark.operators.dedup_minhash import (
        simhash_neardup_pairs,
        simhash_signatures,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = {
        r["id"]: r["simhash"]
        for r in simhash_signatures(docs, "doc_id", "text").collect()
    }
    brute = {
        (a, b)
        for a, b in combinations(sorted(sigs), 2)
        if sum(x != y for x, y in zip(sigs[a], sigs[b])) <= 3
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_neardup_pairs(
            docs, "doc_id", "text", max_hamming=3, bucket_cap=None
        ).collect()
    }
    assert got == brute


def test_multi_probe_strictly_improves_recall(spark):
    """Probing hamming-1 buckets sees a strict superset of candidates,
    so the graph must recover strictly more of the exact graph than
    single-probe does on this data."""
    from ipes_data_pipeline_spark.operators.similarity import (
        knn_graph,
        knn_graph_bucketed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["id"], r["neighbor_id"])
        for r in knn_graph(emb, "vec_id", "embedding", k=5).collect()
    }
    single = {
        (r["id"], r["neighbor_id"])
        for r in knn_graph_bucketed(emb, "vec_id", "embedding", k=5).collect()
    }
    multi = {
        (r["id"], r["neighbor_id"])
        for r in knn_graph_bucketed(
            emb, "vec_id", "embedding", k=5, multi_probe=True
        ).collect()
    }
    r_single = len(exact & single) / len(exact)
    r_multi = len(exact & multi) / len(exact)
    assert r_multi > r_single, (r_single, r_multi)


def test_clusterwise_split_has_zero_leakage(spark):
    """The q125 invariant: when docs are split by their near-dup
    component keeper, NO candidate pair straddles two splits — the
    leakage q124 audits is structurally impossible."""
    from pyspark.sql import functions as F

    from ipes_data_pipeline_spark.operators.dedup_fuzzy import (
        min_label_components,
    )
    from ipes_data_pipeline_spark.operators.dedup_minhash import (
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text")
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    comp = min_label_components(
        docs.select(F.col("doc_id").alias("node")), edges, iterations=3
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("canonical_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100
    )
    split = {
        r["node"]: min(r["b"] // 80, 1) + min(r["b"] // 90, 1)
        for r in comp.select("node", bucket.alias("b"), "canonical_id").collect()
    }
    leaky = [
        (r["id_a"], r["id_b"])
        for r in pairs.collect()
        if split[r["id_a"]] != split[r["id_b"]]
    ]
    assert leaky == []


def test_simhash_bucket_cap_is_subset_and_leaves_small_buckets_alone(spark):
    """The skew valve: capped pairs are a subset of uncapped; a cap
    larger than every bucket changes nothing; and on the skewed sf0.01
    corpus a tight cap meaningfully shrinks the pair set."""
    from ipes_data_pipeline_spark.operators.dedup_minhash import (
        simhash_neardup_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    full = {
        (r["id_a"], r["id_b"])
        for r in simhash_neardup_pairs(
            docs, "doc_id", "text", bucket_cap=None
        ).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in simhash_neardup_pairs(
            docs, "doc_id", "text", bucket_cap=8
        ).collect()
    }
    assert capped <= full
    assert len(capped) < len(full)  # the corpus IS skewed; cap must bite
    huge_cap = {
        (r["id_a"], r["id_b"])
        for r in simhash_neardup_pairs(
            docs, "doc_id", "text", bucket_cap=10_000
        ).collect()
    }
    assert huge_cap == full


def test_minhash_bucket_cap_is_subset_and_leaves_small_buckets_alone(spark):
    """The MinHash twin of the simhash skew-valve contract: capped
    pairs ⊆ uncapped; a cap above every bucket size is a no-op; a tight
    cap on a boilerplate-heavy corpus (every doc sharing one band key)
    shrinks the pair set."""
    from ipes_data_pipeline_spark.operators.dedup_minhash import (
        minhash_lsh_pairs,
    )

    # 30 copies of one boilerplate doc + a few distinct docs: the
    # boilerplate band buckets hold 30 rows each — quadratic without a cap.
    rows = [(i, "terms of service apply to all users of this site") for i in range(30)]
    rows += [(100 + i, f"unique document number {i} about topic {i * 7}") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", bucket_cap=None
        ).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, "doc_id", "text", bucket_cap=5).collect()
    }
    assert capped <= full
    assert len(capped) < len(full)  # 30-doc buckets: the cap must bite
    assert capped  # sub-buckets still pair internally
    huge = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, "doc_id", "text", bucket_cap=10_000).collect()
    }
    assert huge == full


def test_minhash_delta_bucket_cap_subset(spark):
    """Delta form: capping the combined (corpus ∪ new) buckets yields a
    subset of the uncapped delta pairs; a huge cap is a no-op."""
    from ipes_data_pipeline_spark.operators.dedup_minhash import (
        minhash_lsh_pairs_delta,
    )

    rows = [(i, "terms of service apply to all users of this site") for i in range(30)]
    rows += [(100 + i, f"unique document number {i} about topic {i * 7}") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    new, corpus = docs.where("doc_id % 3 = 0"), docs.where("doc_id % 3 <> 0")
    full = {
        (r["new_id"], r["other_id"])
        for r in minhash_lsh_pairs_delta(
            new, corpus, "doc_id", "text", bucket_cap=None
        ).collect()
    }
    capped = {
        (r["new_id"], r["other_id"])
        for r in minhash_lsh_pairs_delta(
            new, corpus, "doc_id", "text", bucket_cap=5
        ).collect()
    }
    assert capped <= full
    assert len(capped) < len(full)
    huge = {
        (r["new_id"], r["other_id"])
        for r in minhash_lsh_pairs_delta(
            new, corpus, "doc_id", "text", bucket_cap=10_000
        ).collect()
    }
    assert huge == full


def test_minhash_hash_families_agree_after_refine(spark):
    """The fast-path contract (q42f): xxhash64 and md5 MinHash families
    produce IDENTICAL refined output on a corpus whose near-dups sit
    well above threshold — the refine verdict is exact shingle Jaccard
    (hash-free), and at 16 hashes / 8 bands a j≈0.9 pair is missed with
    p ≈ 4e-6 per family. Exact-duplicate shingle sets collide with
    probability 1 under ANY hash family (all components equal), so
    those pairs are guaranteed, not lucky."""
    from ipes_data_pipeline_spark.operators.dedup_minhash import (
        minhash_neardup_pairs,
    )

    rows = []
    for g in range(6):
        words = [f"w{g}_{i}" for i in range(60)]
        rows.append((g * 10, " ".join(words)))
        rows.append((g * 10 + 1, " ".join(words)))  # exact dup: j = 1.0
        # one substitution mid-doc kills 3 of 58 shingles: j = 55/61 ≈ 0.90
        edited = words[:30] + ["edited"] + words[31:]
        rows.append((g * 10 + 2, " ".join(edited)))
    rows += [(900 + i, f"totally unrelated number {i} short doc {i * 3}") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fast = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in minhash_neardup_pairs(
            docs, "doc_id", "text", hash_fn="xxhash64"
        ).collect()
    }
    oracle_mode = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in minhash_neardup_pairs(
            docs, "doc_id", "text", hash_fn="md5"
        ).collect()
    }
    assert fast == oracle_mode
    pair_ids = {(a, b) for a, b, _ in fast}
    # exact dups (guaranteed collisions) and the j≈0.9 edits all present
    for g in range(6):
        assert (g * 10, g * 10 + 1) in pair_ids
        assert (g * 10, g * 10 + 2) in pair_ids
    # unrelated docs never qualify
    assert not any(a >= 900 or b >= 900 for a, b in pair_ids)


def test_semdedup_within_cluster_prune(spark):
    """semdedup: identical vectors land in one cluster and every copy
    but the smallest id is dropped with that id as dominator; the drop
    rule is non-transitive by design (x is judged against ALL smaller
    same-cluster ids, dropped or not), and survivors carry NULL."""
    from ipes_data_pipeline_spark.operators.similarity import semdedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),  # dup of 0
        (2, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 0 and 1
        (3, [0.0, 1.0, 0.0, 0.0]),  # orthogonal: kept
        (4, [0.0, 0.0, 1.0, 0.0]),  # orthogonal: kept
        (5, [0.0, 0.0, 0.0, 1.0]),  # orthogonal: kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["id"]: (r["dominator"], r["keep"])
        for r in semdedup(
            df, "vec_id", "embedding", n_cells=4, n_iter=2, threshold=0.95
        ).collect()
    }
    assert len(out) == len(rows)  # one verdict per input vector
    assert out[0] == (None, True)  # smallest id always survives
    assert out[1] == (0, False)  # exact dup → dominated by 0
    assert out[2] == (0, False)  # near-dup → min similar smaller id
    assert out[3][1] and out[4][1] and out[5][1]


def test_lloyd_driver_and_distributed_regimes_agree(spark, distributed_regimes):
    """_lloyd_centroid_list has two physical regimes (driver numpy under
    the training cap, distributed rounds above it) that must be
    BIT-IDENTICAL — the q72/q130 oracles only check whichever regime
    the fixture size selects, so this pins the other one."""
    from ipes_data_pipeline_spark.operators.similarity import (
        _lloyd_centroid_list,
    )
    from pyspark.sql import functions as F

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(
            F.col("vec_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
    )
    driver = _lloyd_centroid_list(emb, n_cells=8, n_iter=3)
    with distributed_regimes():
        dist = _lloyd_centroid_list(emb, n_cells=8, n_iter=3)
    assert [c for c, _ in driver] == [c for c, _ in dist]
    for (_, dv), (_, xv) in zip(driver, dist):
        assert dv == xv  # exact float equality, not approx


def test_pq_driver_train_cap_conf_pins_regimes_equal(spark, distributed_regimes):
    """A 0 ``driver_train`` cap forces the whole PQ family to the
    distributed per-subspace path (the 100 TB regime, otherwise only
    reachable by growing the corpus past the 256 MiB cap). The forced
    regime must produce the exact rows of the default fused-driver
    regime."""
    from ipes_data_pipeline_spark.queries import REGISTRY, load_all

    load_all()
    sf_dir = "/root/testdata/sf0.001"
    name = "q159_pq_ann"
    fused = sorted(map(tuple, REGISTRY[name].spark(spark, sf_dir).collect()))
    with distributed_regimes():
        dist = sorted(
            map(tuple, REGISTRY[name].spark(spark, sf_dir).collect())
        )
    assert fused == dist


def test_pq_fused_training_collect_matches_per_subspace(spark):
    """_pq_adc_scan's round-8 fused path (one collect, all m codebooks
    from numpy slices of the full matrix) must be BIT-IDENTICAL to the
    per-subspace _lloyd_centroid_list path it short-circuits — the q159
    oracle only exercises whichever branch the fixture size selects, so
    this pins the numpy-slice == F.slice-collect claim directly."""
    from pyspark.sql import functions as F

    from ipes_data_pipeline_spark.operators.similarity import (
        _lloyd_centroid_list,
        _lloyd_driver_matrix,
    )
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    m, dsub, ksub, n_iter = 4, 16, 16, 3
    rows = emb.select("id", "v").collect()
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    mat = np.array([r["v"] for r in rows], dtype=np.float64)[order]
    for j in range(m):
        fused = _lloyd_driver_matrix(
            ids, mat[:, j * dsub : (j + 1) * dsub], ksub, n_iter
        )
        per_sub = _lloyd_centroid_list(
            emb.select("id", F.slice("v", j * dsub + 1, dsub).alias("v")),
            ksub,
            n_iter,
        )
        assert [c for c, _ in fused] == [c for c, _ in per_sub]
        for (_, fv), (_, pv) in zip(fused, per_sub):
            assert fv == pv  # exact float equality per element


def test_minhash_empty_shingle_docs_band_on_null_components(spark):
    """Documents with < shingle_n tokens have NO shingles: every MinHash
    component must be NULL (banding key concat_ws('') — they pair with
    each other as candidates, and the exact-Jaccard refine kills them
    via union = 0). Regression for the explode_outer rewrite: a naive
    explode would DROP such docs from the band table, and an unguarded
    hash would turn xxhash64(NULL) = seed into a real minimum."""
    from pyspark.sql import functions as F

    from ipes_data_pipeline_spark.operators.dedup_minhash import (
        minhash_bands,
        minhash_lsh_pairs,
        minhash_neardup_pairs,
    )

    df = spark.createDataFrame(
        [(1, "hi"), (2, "yo"), (3, "one two three four five")],
        "doc_id long, text string",
    )
    for fam in ("xxhash64", "md5"):
        bands = minhash_bands(df, "doc_id", "text", hash_fn=fam)
        per_doc = {
            r["id"]: r["n"]
            for r in bands.groupBy("id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert set(per_doc) == {1, 2, 3}  # empty-shingle docs still band
        empty_keys = {
            r["band_key"] for r in bands.where(F.col("id") < 3).collect()
        }
        assert empty_keys == {""}  # all-NULL components -> concat_ws('')
        cand = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(df, "doc_id", "text", hash_fn=fam).collect()
        }
        assert (1, 2) in cand  # empty docs are candidates of each other
        refined = minhash_neardup_pairs(df, "doc_id", "text", hash_fn=fam)
        assert (1, 2) not in {
            (r["id_a"], r["id_b"]) for r in refined.collect()
        }  # ...but the refine's union > 0 gate drops them


def test_default_bucket_cap_bounds_pairs_on_skewed_corpus(spark):
    """The API DEFAULT (bucket_cap=256) is the skew valve: on a corpus
    where one boilerplate text repeats past the cap, calling the pair
    APIs with no arguments must (a) produce strictly fewer pairs than
    the lossless bucket_cap=None form, (b) produce a SUBSET of it, and
    (c) equal an explicit bucket_cap=256 — i.e. a 100 TB user who
    takes the defaults gets bounded per-bucket work, and None is an
    explicit opt-in reserved for the oracle-pinned queries."""
    from ipes_data_pipeline_spark.operators.dedup_minhash import (
        minhash_lsh_pairs,
        simhash_neardup_pairs,
    )

    n = 300  # > 256: every band bucket of the boilerplate overflows the cap
    rows = [(i, "terms of service apply to all users of this site") for i in range(n)]
    rows += [(1000 + i, f"unique document number {i} about topic {i * 7}") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").cache()

    default_pairs = minhash_lsh_pairs(docs, "doc_id", "text")
    lossless = minhash_lsh_pairs(docs, "doc_id", "text", bucket_cap=None)
    explicit = minhash_lsh_pairs(docs, "doc_id", "text", bucket_cap=256)
    n_default, n_lossless = default_pairs.count(), lossless.count()
    assert n_lossless == n * (n - 1) // 2  # identical docs: all-pairs when uncapped
    assert n_default < n_lossless  # the default valve must bite
    assert default_pairs.exceptAll(lossless).count() == 0  # subset
    assert n_default == explicit.count()  # default IS 256

    sim_default = simhash_neardup_pairs(docs, "doc_id", "text")
    sim_lossless = simhash_neardup_pairs(docs, "doc_id", "text", bucket_cap=None)
    assert sim_default.count() < sim_lossless.count()
    assert sim_default.exceptAll(sim_lossless).count() == 0


def test_q121p_capped_twin_subset_recall_vs_q121(spark):
    """q121p (deployable, bucket_cap=64) vs q121 (lossless oracle form)
    on the real skewed fixture corpus: the capped output is a strict
    subset, pairs it keeps carry IDENTICAL hamming values, and recall
    loss is confined to oversized buckets (every surviving pair is
    still within the hamming radius)."""
    from ipes_data_pipeline_spark.queries import REGISTRY, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    full = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in REGISTRY["q121_simhash_neardup"].spark(spark, sf).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in REGISTRY["q121p_simhash_neardup_capped"].spark(spark, sf).collect()
    }
    assert set(capped) <= set(full)
    assert all(full[p] == h for p, h in capped.items())
    assert all(h <= 3 for h in capped.values())
    assert capped  # the valve doesn't empty the result


def test_with_cells_arrow_matches_hof_assignment(spark):
    """_with_cells dispatches to the numpy Arrow kernel above
    _ARROW_ASSIGN_MIN_CELLS; below it, the interpreted-HOF fold. The
    two must be VALUE-IDENTICAL (same argmin, same IEEE per-dimension
    fold, same (d2, c_id) tie-break, same NaN-loses rule) — q130p's
    sqrt(N) sizing always takes the Arrow path while the 8-cell oracle
    queries take the HOF path, so neither gate covers the other."""
    from pyspark.sql import functions as F

    from ipes_data_pipeline_spark.operators.similarity import (
        _lloyd_centroid_list,
        _with_cells,
        _with_cells_arrow,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    # 23 = ceil(sqrt(500)): q130p's sizing at this fixture, and enough
    # cells that equidistant ties + empty cells actually occur
    cent = _lloyd_centroid_list(emb, n_cells=23, n_iter=2)
    # force the HOF body for the same centroid list by moving the
    # dispatch threshold out of the way
    import ipes_data_pipeline_spark.operators.similarity as sim

    old = sim._ARROW_ASSIGN_MIN_CELLS
    try:
        sim._ARROW_ASSIGN_MIN_CELLS = 10**9  # force HOF
        hof_rows = sorted(
            (r["id"], r["c_id"]) for r in _with_cells(emb, cent).collect()
        )
    finally:
        sim._ARROW_ASSIGN_MIN_CELLS = old
    arrow_rows = sorted(
        (r["id"], r["c_id"]) for r in _with_cells_arrow(emb, cent).collect()
    )
    assert hof_rows == arrow_rows


def test_with_cells_arrow_nan_and_tie_semantics(spark):
    """Synthetic pins of the two subtle rules: a NaN-component vector
    must fall to the LOWEST c_id (every d2 NaN -> all rank +inf,
    array_min's NaN-is-greatest + c_id tie-break), and an exactly
    equidistant vector must pick the lower c_id."""
    from ipes_data_pipeline_spark.operators.similarity import (
        _with_cells_arrow,
    )

    emb = spark.createDataFrame(
        [
            (1, [float("nan"), 0.0]),   # all d2 NaN -> lowest c_id
            (2, [0.5, 0.5]),            # equidistant -> lower c_id
            (3, [0.9, 0.1]),            # plain nearest
        ],
        "id long, v array<double>",
    )
    cent = [(10, [1.0, 0.0]), (20, [0.0, 1.0])]
    got = {r["id"]: r["c_id"] for r in _with_cells_arrow(emb, cent).collect()}
    assert got == {1: 10, 2: 10, 3: 10}


def test_auto_plane_count_boundaries():
    """P = clamp(ceil(log2(N/256)), 4, 20): the clamp floor keeps small
    corpora on q118's fixed 4-plane bucketing; the growth rule holds
    E[bucket size] at ~256; the ceiling matches the plane pool."""
    from ipes_data_pipeline_spark.operators.similarity import (
        _AUTO_PLANES,
        auto_plane_count,
    )

    assert auto_plane_count(0) == 4
    assert auto_plane_count(1) == 4
    assert auto_plane_count(256 * 16) == 4        # exactly 2^4 buckets
    assert auto_plane_count(256 * 16 + 1) == 5    # first step past it
    assert auto_plane_count(200_000) == 10        # the sf10 corpus
    assert auto_plane_count(10**12) == len(_AUTO_PLANES)
    # target_bucket is a real lever, not a constant
    assert auto_plane_count(256 * 16, target_bucket=128) == 5


def test_knn_autoplanes_clamps_to_fixed_at_fixture_scale(spark, sf_dir):
    """dims=None at fixture N (< 4096 vectors) must reproduce q118's
    fixed-plane result EXACTLY — the auto pool's first four planes are
    the historical default, so the clamped twin is bit-identical."""
    from ipes_data_pipeline_spark.operators.similarity import (
        knn_graph_bucketed,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    fixed = knn_graph_bucketed(emb, "vec_id", "embedding", k=5)
    auto = knn_graph_bucketed(emb, "vec_id", "embedding", k=5, dims=None)
    key = lambda r: (r["id"], r["neighbor_id"], round(r["cos_sim"], 12))
    assert sorted(map(key, auto.collect())) == sorted(
        map(key, fixed.collect())
    )


def test_semdedup_autocells_clamps_to_fixed_at_fixture_scale(spark, sf_dir):
    """q130a's ceil(N/256) sizing clamps to the 8-cell floor for N <=
    2048, so at fixture scale the count-adaptive twin must reproduce
    q130's fixed-cell verdicts EXACTLY (same pinning argument as the
    q118a plane clamp). Above the floor the only change is n_cells —
    a lever semdedup's bit-stable Lloyd chain already value-checks at
    any count (q130p's sqrt(N) sizing)."""
    import math

    from pyspark.sql import functions as F

    from ipes_data_pipeline_spark.operators.similarity import semdedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    auto_cells = max(8, math.ceil(n / 256.0))
    assert auto_cells == 8  # fixture is under the floor by design
    fixed = semdedup(emb, "vec_id", "embedding", threshold=0.3)
    auto = semdedup(
        emb, "vec_id", "embedding", n_cells=auto_cells, threshold=0.3
    )
    key = lambda r: (r["id"], r["c_id"], r["dominator"], r["keep"])
    assert sorted(map(key, auto.collect())) == sorted(
        map(key, fixed.collect())
    )


def test_semdedup_finer_cells_verdicts_stay_internally_consistent(spark):
    """Above the floor (synthetic 600 x 4 corpus forced to 12 cells —
    the ceil(3000/256) shape scaled down): every dropped vector's
    dominator must be a SMALLER-id SAME-CELL vector, and every kept
    vector must have no such dominator — i.e. finer cells change which
    pairs are COMPARED (recall lever), never the drop rule itself."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(60, 4)
    rows = [
        (int(i), [float(x) for x in base[i % 60] + rng.randn(4) * 0.01])
        for i in range(600)
    ]
    emb = spark.createDataFrame(rows, "id long, v array<double>")

    from ipes_data_pipeline_spark.operators.similarity import semdedup

    out = semdedup(emb, "id", "v", n_cells=12, threshold=0.9).collect()
    by_cell: dict[int, list] = {}
    for r in out:
        by_cell.setdefault(r["c_id"], []).append(r)
    assert len(by_cell) > 8  # the finer sizing actually took effect
    vec = {i: np.array(v) for i, v in rows}

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return float(a @ b) / (na * nb) if na and nb else float("nan")

    for cell in by_cell.values():
        ids = sorted(r["id"] for r in cell)
        for r in cell:
            sims = [
                i
                for i in ids
                if i < r["id"] and cos(vec[i], vec[r["id"]]) >= 0.9
            ]
            if r["keep"]:
                assert r["dominator"] is None and not sims
            else:
                assert r["dominator"] == min(sims)


def test_lloyd_train_limit_is_smallest_id_prefix_and_fixture_noop(spark):
    """train_limit=L must train on exactly the L smallest-id rows (the
    SQL twin's ORDER BY id LIMIT L), and be a no-op when N <= L — the
    bit-identical-at-fixture-scale claim both production twins make."""
    import numpy as np

    from ipes_data_pipeline_spark.operators.similarity import (
        _lloyd_centroid_list,
    )

    rng = np.random.RandomState(3)
    rows = [
        (int(i), [float(x) for x in rng.randn(4)]) for i in range(400)
    ]
    emb = spark.createDataFrame(rows, "id long, v array<double>")

    limited = _lloyd_centroid_list(emb, n_cells=10, n_iter=2, train_limit=150)
    manual = _lloyd_centroid_list(
        emb.filter("id < 150"), n_cells=10, n_iter=2
    )
    assert limited == manual

    noop = _lloyd_centroid_list(emb, n_cells=10, n_iter=2, train_limit=1000)
    full = _lloyd_centroid_list(emb, n_cells=10, n_iter=2)
    assert noop == full


def test_q133a_twin_identical_at_fixture_scale(spark, sf_dir):
    """q133a (capped text bands + adaptive embedding planes) must
    reproduce q133's clusters EXACTLY at fixture scale: no band bucket
    reaches the 256 cap and the plane count clamps to q133's fixed 4,
    so both valves are provably inert — which pins the twin's semantics
    to the already-oracle-verified q133 (the q118/q118a argument)."""
    from ipes_data_pipeline_spark.queries import REGISTRY, load_all

    load_all()
    a = REGISTRY["q133_hybrid_neardup"].spark(spark, sf_dir)
    b = REGISTRY["q133a_hybrid_neardup_adaptive"].spark(spark, sf_dir)
    key = lambda r: (r["doc_id"], r["cluster_id"])  # noqa: E731
    assert sorted(map(key, a.collect())) == sorted(map(key, b.collect()))


def test_cosine_pairs_autoplanes_refine_fixed_buckets(spark):
    """dims=None takes a PREFIX of the plane pool whose first four ARE
    the fixed default, so auto buckets refine fixed buckets: the auto
    pair set must be a SUBSET of the fixed pair set (candidates only
    ever split, never merge), and every surviving pair keeps the same
    cosine value. Corpus is sized past 256*16 so auto genuinely picks
    more planes (P=5) instead of clamping."""
    import math

    from pyspark.sql import functions as F

    from ipes_data_pipeline_spark.operators.similarity import (
        auto_plane_count,
        cosine_pairs_bucketed,
    )

    n = 256 * 16 + 64  # just past the P=4 clamp boundary
    assert auto_plane_count(n) == 5
    emb = (
        spark.range(n)
        .select(
            F.col("id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(32)),
                lambda d: F.cos(F.col("id") * d * 0.37),
            ).alias("v"),
        )
    )
    fixed = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in cosine_pairs_bucketed(
            emb, "id", "v", threshold=0.99
        ).collect()
    }
    auto = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in cosine_pairs_bucketed(
            emb, "id", "v", dims=None, threshold=0.99
        ).collect()
    }
    assert set(auto) <= set(fixed)
    for k, v in auto.items():
        assert math.isclose(v, fixed[k], rel_tol=0, abs_tol=0.0)
