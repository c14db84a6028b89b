"""Similarity search on crafted vectors with known nearest neighbours."""

import math

from time_series_databse_engine_spark.operators.similarity import (
    cosine_topk,
    lsh_bucket_topk,
)

VECS = [
    (0, [1.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0]),   # closest to 0
    (2, [0.0, 1.0, 0.0]),
    (3, [0.0, 0.9, 0.1]),   # closest to 2
    (4, [-1.0, 0.0, 0.0]),  # opposite of 0
]


def _emb(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def test_cosine_topk_ranks(spark):
    emb = _emb(spark)
    out = cosine_topk(emb, emb.filter("vec_id = 0"), k=4)
    ranked = [r.cand_id for r in sorted(out.collect(), key=lambda r: r.rank)]
    assert ranked[0] == 1            # nearest
    assert ranked[-1] == 4           # antipode last
    sims = {r.cand_id: r.cosine_sim for r in out.collect()}
    assert abs(sims[1] - 0.9 / math.sqrt(0.82)) < 1e-5
    assert sims[4] == -1.0


def test_lsh_bucket_is_subset_of_exact(spark):
    emb = _emb(spark)
    q = emb.filter("vec_id = 0")
    exact = {(r.query_id, r.cand_id, r.cosine_sim) for r in cosine_topk(emb, q, k=4).collect()}
    approx = {
        (r.query_id, r.cand_id, r.cosine_sim)
        for r in lsh_bucket_topk(emb, q, dim=3, k=4, num_planes=2).collect()
    }
    assert approx  # bucket containing the query is non-trivial
    assert approx <= exact or all(s in {e[2] for e in exact} for *_, s in approx)


def test_cosine_near_dup_finds_planted_pair(spark):
    from time_series_databse_engine_spark.operators.similarity import cosine_near_dup

    base = [1.0, 2.0, 3.0, 4.0]
    near = [1.01, 2.0, 3.0, 4.0]          # cosine ~ 1
    ortho = [4.0, -3.0, 2.0, -1.5]        # low cosine vs base
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, ortho)], "vec_id long, embedding array<float>"
    )
    pairs = {(r.id1, r.id2): r.cosine_sim for r in cosine_near_dup(df, threshold=0.9).collect()}
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] > 0.999


def test_lsh_multi_recall_dominates_single_table(spark):
    """ORing independent plane sets can only ADD candidates: every pair
    the seed-42 single table surfaces is also surfaced by the multi
    variant whose first table IS that plane set, scores agree with the
    exact scorer, and with enough tables the multi result recovers the
    full exact top-k on vectors a single 2-plane table splits apart."""
    from time_series_databse_engine_spark.operators.similarity import (
        lsh_bucket_topk_multi,
    )

    emb = _emb(spark)
    q = emb.filter("vec_id = 0")
    exact = {(r.query_id, r.cand_id): r.cosine_sim for r in cosine_topk(emb, q, k=4).collect()}
    single = {
        (r.query_id, r.cand_id): r.cosine_sim
        for r in lsh_bucket_topk(emb, q, dim=3, k=4, num_planes=2).collect()
    }
    multi = {
        (r.query_id, r.cand_id): r.cosine_sim
        for r in lsh_bucket_topk_multi(
            emb, q, dim=3, k=4, num_planes=2, num_tables=12
        ).collect()
    }
    assert set(single) <= set(multi)          # OR never loses a candidate
    # 12 tables recover every exact neighbour EXCEPT the antipode: an
    # exactly-opposite vector flips every projection sign, so no number
    # of sign-LSH tables can ever bucket it with the query
    assert set(multi) == {p for p in exact if exact[p] > -1.0}
    for pair, sim in multi.items():
        assert sim == exact[pair]             # dedup max-agg kept exact scores


def test_cosine_near_dup_lsh_subset_and_agrees(spark):
    """LSH near-dup pairs are a subset of the exact n² pairs with identical
    scores, and the planted near-identical pair (same bucket with high
    probability at 2 planes) is found."""
    from time_series_databse_engine_spark.operators.similarity import (
        cosine_near_dup,
        cosine_near_dup_lsh,
    )

    base = [1.0, 2.0, 3.0, 4.0]
    near = [1.01, 2.0, 3.0, 4.0]
    ortho = [4.0, -3.0, 2.0, -1.5]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, ortho)], "vec_id long, embedding array<float>"
    )
    exact = {(r.id1, r.id2): r.cosine_sim for r in cosine_near_dup(df, threshold=0.9).collect()}
    lsh = {
        (r.id1, r.id2): r.cosine_sim
        for r in cosine_near_dup_lsh(df, threshold=0.9, num_planes=2, dim=4).collect()
    }
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]
    assert (1, 2) in lsh  # identical-direction vectors share every sign bucket


def test_kmeans_lloyd_partitions_and_is_deterministic(spark):
    from time_series_databse_engine_spark.operators.similarity import kmeans_lloyd

    vecs = [
        (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = kmeans_lloyd(df, k=4, iters=2)
    rows = out.collect()
    sizes = {r.cluster_id: r.n for r in rows}
    assert sum(sizes.values()) == 40  # every vector assigned exactly once
    dims = {}
    for r in rows:
        dims.setdefault(r.cluster_id, set()).add(r.dim)
    assert all(d == set(range(8)) for d in dims.values())  # full centroids
    again = {(r.cluster_id, r.dim): (r.c, r.n) for r in kmeans_lloyd(df, k=4, iters=2).collect()}
    assert {(r.cluster_id, r.dim): (r.c, r.n) for r in rows} == again


def test_semantic_dedup_drops_within_cell_near_dups(spark):
    """Two planted near-identical vectors land in the same cell; the
    larger id is dropped, the smaller kept.  An orthogonal vector
    survives regardless of threshold."""
    from time_series_databse_engine_spark.operators.similarity import semantic_dedup

    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.001, 0.0]),   # near-dup of 0 → dropped (larger id)
        (2, [0.0, 1.0, 0.0]),       # orthogonal → kept
        (3, [0.0, 0.998, 0.002]),   # near-dup of 2 → dropped
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    kept = sorted(r.vec_id for r in semantic_dedup(emb, threshold=0.9, n_cells=2).collect())
    assert kept == [0, 2]


def test_semantic_dedup_keep_rule_is_transitive_min_id(spark):
    """A chain a~b~c (all pairwise above threshold) keeps exactly the
    min id: every other member has a smaller matching id in-cell."""
    from time_series_databse_engine_spark.operators.similarity import semantic_dedup

    vecs = [
        (10, [1.0, 0.0]),
        (11, [0.999, 0.001]),
        (12, [0.998, 0.002]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    kept = [r.vec_id for r in semantic_dedup(emb, threshold=0.9, n_cells=1).collect()]
    assert kept == [10]


def test_semantic_dedup_guard_on_undersized_pin(spark):
    """The served-codebook guard (VERDICT r9 #1): a pinned codebook whose
    mean cell drifts past 4x the 128-row target warns (with the
    auto_n_cells re-train k in the message); past 16x it refuses with
    ValueError; a well-sized pin passes silently; guard=False bypasses.
    target_cell is shrunk here so the thresholds are testable on a
    40-row corpus."""
    import warnings

    import pytest
    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(40)], "vec_id long, embedding array<float>"
    )
    one_cell = spark.createDataFrame(
        [(0, [1.0, 0.0])], "cell_id long, cent array<double>"
    ).withColumn("cent_n", F.lit(1.0))
    # 40 rows / 1 cell = mean 40 > 16*target(2) → refuse
    with pytest.raises(ValueError, match="undersized"):
        semantic_dedup(emb, threshold=0.99, cells=one_cell, target_cell=2)
    # mean 40 in (4*8, 16*8] → warn but run
    with pytest.warns(RuntimeWarning, match="drifting undersized"):
        kept = semantic_dedup(emb, threshold=0.99, cells=one_cell, target_cell=8)
        assert kept.count() > 0
    # well-sized (mean 40 ≤ 4*64) → silent
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert semantic_dedup(emb, threshold=0.99, cells=one_cell, target_cell=64).count() > 0
    # guard=False bypasses even the refuse bound (documented escape hatch)
    assert semantic_dedup(
        emb, threshold=0.99, cells=one_cell, target_cell=2, guard=False
    ).count() > 0


def test_semantic_dedup_self_join_reuses_exchange(spark, sf_dir):
    """The within-cell pair join consumes ONE cell-keyed exchange (both
    sides ReusedExchange off the explicit repartition) — never an
    all-pairs product."""
    from time_series_databse_engine_spark.operators.similarity import semantic_dedup
    from time_series_databse_engine_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    df = semantic_dedup(emb, threshold=0.3)
    df.collect()  # reuse is wired at AQE runtime; inspect the final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "CartesianProduct" not in plan
    assert "ReusedExchange" in plan


def test_trained_centroids_feed_ivf_and_semantic_dedup(spark, sf_dir):
    """kmeans_lloyd output adapts into the cells codebook and drives both
    ivf_topk and semantic_dedup end-to-end (the production path the
    docstrings promise); cell ids come from the kmeans clusters."""
    from pyspark.sql import functions as F
    from time_series_databse_engine_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids_as_cells,
        kmeans_lloyd,
        semantic_dedup,
    )
    from time_series_databse_engine_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cells = kmeans_centroids_as_cells(kmeans_lloyd(emb, k=4, iters=1))
    assert cells.count() == 4
    out = ivf_topk(emb, emb.filter(F.col("vec_id") < 3), k=3, n_probe=2, cells=cells)
    assert out.count() > 0
    kept = semantic_dedup(emb, threshold=0.3, cells=cells)
    assert 0 < kept.count() <= emb.count()
    assert {r.cell_id for r in kept.select("cell_id").distinct().collect()} <= {
        r.cell_id for r in cells.select("cell_id").collect()
    }


def test_vectorized_cell_assignment_matches_fold(spark):
    """The BLAS pandas_udf assignment (large-codebook path) agrees with
    the exact interpreted fold on every row of the sf0.001 embeddings
    for a 40-cell codebook — ties within float noise are the only
    divergence mode and real data has none."""
    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.similarity import (
        as_double,
        assign_nearest_cell,
        assign_nearest_cell_np,
        hash_sampled_cells,
        norm,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    e = emb.select(
        F.col("vec_id").alias("id"), as_double("embedding").alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    cents = hash_sampled_cells(emb, 40)
    fold = {
        r["id"]: r["cell_id"]
        for r in assign_nearest_cell(e, cents, F.col("v"), F.col("nrm")).collect()
    }
    fast = {
        r["id"]: r["cell_id"] for r in assign_nearest_cell_np(e, cents, "v").collect()
    }
    assert fold == fast and len(fold) == emb.count()


def test_hash_sampled_cells_is_a_top_k_not_a_sort(spark, sf_dir):
    """The codebook is the n ids with the smallest md5(string(id)), taken
    with a k-heap TakeOrderedAndProject: no range exchange and no global
    sort of the corpus, whatever the norm column adds to the projection."""
    import hashlib

    from time_series_databse_engine_spark.operators.similarity import hash_sampled_cells
    from time_series_databse_engine_spark.plans import shuffle_exchanges, simple_plan

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cells = hash_sampled_cells(emb, 16)
    p = simple_plan(cells)
    assert "TakeOrderedAndProject(limit=16" in p
    assert "rangepartitioning" not in p and not shuffle_exchanges(cells)
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    want = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:16]
    got = cells.collect()
    assert sorted(r.cell_id for r in got) == sorted(want)
    for r in got:
        assert r.cent_n == math.sqrt(sum(x * x for x in r.cent))


def test_auto_bucket_sizing_holds_occupancy_constant(spark):
    """auto_n_cells scales the codebook with N so Σ|cell|² stays ~linear
    (the fix for the superlinear 10× bench measurement); at the
    2,000-row bench scale it agrees with ann_params_for (16 cells), the
    sizing rule the registry queries use."""
    from time_series_databse_engine_spark.operators.similarity import (
        ann_params_for,
        auto_n_cells,
        semantic_dedup,
    )

    # occupancy invariance: 10× rows → ~10× cells
    assert auto_n_cells(2_000) == 16 == ann_params_for(2_000)["n_cells"]
    assert auto_n_cells(20_000) == 157
    assert auto_n_cells(10) == 8  # floor

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    assert 0 < semantic_dedup(emb, threshold=0.3, n_cells=auto_n_cells(n)).count() <= n


def test_pq_encode_compression_and_reconstruction(spark):
    """Codes are m small ints; recon is the concatenation of chosen
    codebook slices; codebook rows reconstruct THEMSELVES exactly."""
    from time_series_databse_engine_spark.operators.similarity import (
        as_double,
        pq_codebook,
        pq_encode,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = pq_codebook(emb, ks=16)
    enc = pq_encode(emb, cb, m=4, dim=64)
    rows = enc.collect()
    assert all(len(r["codes"]) == 4 and len(r["recon"]) == 64 for r in rows)
    assert all(all(0 <= c < 16 for c in r["codes"]) for r in rows)
    # sampled codebook vectors quantize to themselves: recon == vector
    cb_ids = {r["code"]: r["cent"] for r in cb.collect()}
    emb_d = {
        r["vec_id"]: r["v"]
        for r in emb.select("vec_id", as_double("embedding").alias("v")).collect()
    }
    sampled_vecs = {tuple(v) for v in cb_ids.values()}
    exact = sum(
        1 for r in rows if tuple(emb_d[r["vec_id"]]) in sampled_vecs
        and list(r["recon"]) == list(emb_d[r["vec_id"]])
    )
    assert exact == 16


def test_pq_topk_recall_vs_exact_l2(spark):
    """ADC top-5 recalls a usable fraction of the exact L2 top-5 even on
    isotropic data with a 16-entry hash-sampled codebook, and is
    deterministic."""
    from time_series_databse_engine_spark.operators.similarity import (
        as_double,
        pq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter("vec_id < 10")
    approx = pq_topk(emb, q, k=5).collect()
    # exact L2 top-5 via numpy
    import numpy as np

    vecs = {r["vec_id"]: np.array(r["v"]) for r in emb.select("vec_id", as_double("embedding").alias("v")).collect()}
    ids = sorted(vecs)
    truth = {}
    for qid in range(10):
        d = sorted(
            (float(np.sum((vecs[qid] - vecs[c]) ** 2)), c) for c in ids if c != qid
        )
        truth[qid] = {c for _, c in d[:5]}

    def recall(rows):
        got_all = 0
        for qid in range(10):
            got = {r["cand_id"] for r in rows if r["query_id"] == qid}
            assert len(got) == 5
            got_all += len(truth[qid] & got)
        return got_all / 50

    r_coarse = recall(approx)
    r_fine = recall(pq_topk(emb, q, k=5, m=16, ks=64).collect())
    # isotropic 64-dim data is PQ's worst case (no low-dim structure to
    # exploit); measured here: m=4/ks=16 → 0.06, m=16/ks=64 → 0.40
    # (SCALE.md table).  Assert the theory-predicted monotone trend and
    # that the fine config is far above random (5/N ≈ 0.025).
    assert r_fine > r_coarse
    assert r_fine >= 0.3, (r_coarse, r_fine)
    again = pq_topk(emb, q, k=5).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, again))


def test_semantic_outliers_flags_planted_orthogonal_vector(spark):
    from time_series_databse_engine_spark.operators.similarity import semantic_outliers

    # 30 vectors clustered on axis 0; one orthogonal loner on axis 63
    rows = [(i, [1.0 if d == 0 else 0.01 * ((i + d) % 3) for d in range(64)])
            for i in range(30)]
    rows.append((99, [1.0 if d == 63 else 0.0 for d in range(64)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_outliers(emb, threshold=0.5, n_cells=4)
    ids = {r.vec_id for r in out.collect()}
    assert 99 in ids
    assert len(ids) <= 3  # the clustered mass sits near a centroid
    sims = {r.vec_id: r.cell_sim for r in out.collect()}
    assert sims[99] < 0.5


def test_pca_recovers_planted_dominant_direction(spark):
    import math

    import numpy as np

    from time_series_databse_engine_spark.operators.similarity import (
        pca_project,
        pca_train,
    )

    # variance 100 along axis 3, 25 along axis 10, ~1 elsewhere
    def vec(i):
        v = [0.1 * math.sin(i * 1.7 + d) for d in range(64)]
        v[3] += 10.0 * math.sin(i * 0.37)
        v[10] += 5.0 * math.cos(i * 0.53)
        return [round(x, 6) for x in v]

    emb = spark.createDataFrame(
        [(i, vec(i)) for i in range(400)], "vec_id long, embedding array<double>"
    )
    mean, comps, ev = pca_train(emb, k=4)
    # leading components align with the planted axes
    assert abs(comps[0][3]) > 0.99
    assert abs(comps[1][10]) > 0.99
    assert ev[0] > ev[1] > ev[2] >= ev[3] >= 0
    # deterministic across repeated fits (partition-order independence:
    # per-batch moments reduce exactly)
    _, comps2, _ = pca_train(emb.repartition(7), k=4)
    assert np.allclose(comps, comps2, atol=1e-9)

    proj = pca_project(emb, mean, comps)
    rows = proj.collect()
    assert len(rows) == 400 and len(rows[0].proj) == 4
    # projected variance matches the eigenvalues (sanity of the pipeline)
    p = np.stack([r.proj for r in rows])
    assert np.allclose(p.var(axis=0), ev, rtol=0.05)


def test_pca_fit_invariants_all_green(spark):
    """The bounds-oracle row (pca_fit_invariants): every invariant
    boolean holds on a well-conditioned corpus, and the exact twin
    n_vecs matches the corpus count; the booleans are tight enough to
    catch a corrupted basis (a de-normalized component flips
    orthonormal_ok and the variance bookkeeping)."""
    import math

    import numpy as np

    from time_series_databse_engine_spark.operators.similarity import (
        pca_fit_invariants,
    )

    def vec(i):
        v = [0.1 * math.sin(i * 1.7 + d) for d in range(64)]
        v[3] += 10.0 * math.sin(i * 0.37)
        return [round(x, 6) for x in v]

    emb = spark.createDataFrame(
        [(i, vec(i)) for i in range(300)], "vec_id long, embedding array<double>"
    )
    r = pca_fit_invariants(emb, k=4).collect()[0]
    assert r.n_vecs == 300 and r.k == 4
    assert r.orthonormal_ok and r.var_descending_ok
    assert r.proj_mean_zero_ok and r.proj_var_matches_eigs_ok
    assert r.captured_le_total_ok


def test_pq_encode_np_matches_exact_fold(spark, sf_dir):
    from time_series_databse_engine_spark.sources import load_table
    from time_series_databse_engine_spark.operators.similarity import (
        pq_codebook,
        pq_encode,
        pq_encode_np,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, ks=16)
    exact = {r.vec_id: (list(r.codes), r.recon) for r in pq_encode(emb, cb).collect()}
    blas = {r.vec_id: (list(r.codes), r.recon) for r in pq_encode_np(emb, cb).collect()}
    assert set(exact) == set(blas)
    same_codes = sum(exact[i][0] == blas[i][0] for i in exact)
    # identical codes everywhere except genuine float-noise distance ties
    assert same_codes >= len(exact) - 2
    for i in exact:
        if exact[i][0] == blas[i][0]:
            assert exact[i][1] == blas[i][1]


def test_multiprobe_lsh_invariants(spark, sf_dir):
    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.similarity import (
        lsh_bucket_topk,
        lsh_multiprobe_topk,
    )
    from time_series_databse_engine_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    base = {
        (r.query_id, r.cand_id)
        for r in lsh_bucket_topk(emb, q, dim=64, k=5, num_planes=4).collect()
    }
    zero = {
        (r.query_id, r.cand_id)
        for r in lsh_multiprobe_topk(
            emb, q, dim=64, k=5, num_planes=4, n_flip=0
        ).collect()
    }
    # zero flips degenerates exactly to single-probe
    assert zero == base
    # probing strictly widens the candidate set, so every query's result
    # is at least as similar: top-1 similarity is monotone in flips
    two = lsh_multiprobe_topk(emb, q, dim=64, k=5, num_planes=4, n_flip=2)
    top_base = {
        r.query_id: r.cosine_sim
        for r in lsh_multiprobe_topk(emb, q, dim=64, k=5, num_planes=4, n_flip=0)
        .filter(F.col("rank") == 1)
        .collect()
    }
    top_two = {
        r.query_id: r.cosine_sim for r in two.filter(F.col("rank") == 1).collect()
    }
    for qid, s in top_base.items():
        assert top_two[qid] >= s


def test_binarize_and_hamming_topk_hand_computed(spark):
    """4 vectors in dim 4 with means (0,0,0,0 after centering by
    construction): packing and XOR+bit_count distances verified against
    hand-computed words, nearest neighbour ordering exact, and the plan
    stays JVM-side with the query side broadcast."""
    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.similarity import (
        binarize_embeddings,
        hamming_topk,
    )

    # per-dimension means are 0 by symmetry; sign bits are the (+) entries
    rows = [
        (0, [1.0, 1.0, 1.0, 1.0]),    # bits 1111 -> w0 = 15
        (1, [1.0, 1.0, 1.0, -1.0]),   # bits 0111 -> w0 = 7
        (2, [-1.0, -1.0, 1.0, 1.0]),  # bits 1100 -> w0 = 12
        (3, [-1.0, -1.0, -1.0, -1.0]),# bits 0000 -> w0 = 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bits = binarize_embeddings(df, dim=4)
    got = {r.vec_id: list(r.bits) for r in bits.collect()}
    assert got == {0: [15], 1: [7], 2: [12], 3: [0]}

    top = hamming_topk(bits, bits.filter(F.col("vec_id") == 0), k=3)
    ranked = [(r.cand_id, r.hamming) for r in sorted(top.collect(), key=lambda r: r.rank)]
    # d(0,1)=1, d(0,2)=2, d(0,3)=4
    assert ranked == [(1, 1), (2, 2), (3, 4)]

    plan = top._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "FlatMapGroupsInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # queries broadcast, corpus streams


def test_mmr_prefers_diverse_over_redundant(spark):
    """Planted geometry: two near-identical highly-relevant vectors plus a
    moderately-relevant orthogonal one.  Pure relevance ranks the twin
    second; MMR (λ=0.5) demotes it below the orthogonal vector: the twin's
    marginal score 0.5·0.98 − 0.5·sim(≈0.998) goes negative while the
    orthogonal one keeps 0.5·0.6 − 0.5·0.594 > 0.  Also checks rank-1 is
    the pure-relevance argmax and scores are exact micro-unit arithmetic."""
    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.similarity import mmr_topk

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),          # query
        (1, [0.99, 0.141, 0.0, 0.0]),       # twin A (rel ~0.99)
        (2, [0.98, 0.199, 0.0, 0.0]),       # twin B (rel ~0.98, sim(A,B) ~1.0)
        (3, [0.6, 0.0, 0.8, 0.0]),          # diverse (rel 0.6, sim to twins ~0.59)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sorted(
        mmr_topk(df, df.filter(F.col("vec_id") == 0), k=3, pool=3, lam=0.5).collect(),
        key=lambda r: r.rank,
    )
    assert [r.cand_id for r in out] == [1, 3, 2]
    # rank-1 score is exactly lam * rel (micro-unit arithmetic, no drift)
    assert abs(out[0].mmr_score - 0.5 * round((0.99) / (0.99**2 + 0.141**2) ** 0.5, 6)) < 1e-9


def test_sq8_quantization_exact_on_lattice_and_bounded_elsewhere(spark):
    """Vectors whose coordinates sit exactly on the 255-step lattice
    roundtrip to exact codes/reconstruction; arbitrary values reconstruct
    within step/2; the asymmetric top-k agrees with exact inner-product
    ranking on well-separated data."""
    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.similarity import (
        sq8_quantize,
        sq8_topk,
    )

    # dim 2: lo=(0, 10), hi=(255, 265) -> step=1 in both dims
    rows = [(0, [0.0, 10.0]), (1, [255.0, 265.0]), (2, [7.0, 17.0]), (3, [100.0, 110.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codes = {r.vec_id: list(r.codes) for r in sq8_quantize(df, dim=2).collect()}
    assert codes[0] == [0, 0] and codes[1] == [255, 255] and codes[2] == [7, 7]
    assert codes[3] == [100, 101]  # 110.5 - 10 = 100.5 rounds HALF_UP to 101

    top = sq8_topk(df, df.filter(F.col("vec_id") == 1), k=3, dim=2)
    ranked = [r.cand_id for r in sorted(top.collect(), key=lambda r: r.rank)]
    assert ranked == [3, 2, 0]  # exact inner-product order preserved


def test_mmr_single_candidate_pool_still_ranked(spark):
    """A query whose relevance pool has exactly one candidate produces no
    c1!=c2 pair rows — the greedy must still emit that candidate at
    rank 1 with score λ·rel (the SQL-oracle semantics)."""
    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.similarity import mmr_topk

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),  # query
        (1, [0.8, 0.6, 0.0, 0.0]),  # the only candidate (rel 0.8)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = mmr_topk(
        df, df.filter(F.col("vec_id") == 0), k=3, pool=3, lam=0.7
    ).collect()
    assert [(r.cand_id, r.rank) for r in out] == [(1, 1)]
    assert abs(out[0].mmr_score - 0.7 * 0.8) < 1e-9


def test_ann_params_scale_rule():
    from time_series_databse_engine_spark.operators.similarity import ann_params_for

    assert ann_params_for(500) == {"num_planes": 4, "n_cells": 16}
    assert ann_params_for(2_000) == {"num_planes": 4, "n_cells": 16}
    assert ann_params_for(20_000) == {"num_planes": 8, "n_cells": 160}
    assert ann_params_for(200_000) == {"num_planes": 11, "n_cells": 1600}


def test_diverse_sample_quota_and_determinism(spark):
    """Every occupied cell keeps <= per_cell rows picked in md5(id)
    order; a rare mode (tiny cell) survives a quota that uniform
    sampling would statistically erase it under."""
    import hashlib

    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.similarity import (
        diverse_sample,
        norm,
    )

    # two well-separated cells on axes 0 and 1; 40 rows near e0, 3 near e1
    rows = [(i, [1.0, 0.01 * i, 0.0, 0.0]) for i in range(40)]
    rows += [(100 + i, [0.01 * i, 1.0, 0.0, 0.0]) for i in range(3)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cells = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cell_id long, cent array<double>",
    ).withColumn("cent_n", norm(F.col("cent")))
    out = diverse_sample(emb, cells, per_cell=5).collect()
    by_cell = {}
    for r in out:
        by_cell.setdefault(r.cell_id, []).append(r)
    assert len(by_cell[0]) == 5  # big cell capped at quota
    assert len(by_cell[1]) == 3  # rare mode kept whole
    # picks are 1..n in md5(id) order
    exp = sorted(
        (i for i in range(40)),
        key=lambda i: hashlib.md5(str(i).encode()).hexdigest(),
    )[:5]
    got = [r.vec_id for r in sorted(by_cell[0], key=lambda r: r.pick)]
    assert got == exp
    assert sorted(r.pick for r in by_cell[1]) == [1, 2, 3]


def test_embedding_drift_identity_shift_and_scale(spark):
    """Identical halves -> cosine 1.0, norm_ratio 1.0; a uniformly
    doubled current half keeps cosine 1.0 with norm_ratio 2.0; an
    orthogonal-direction shift drops the cosine below 1; counts are per
    group."""
    from time_series_databse_engine_spark.operators.similarity import (
        embedding_drift,
    )

    def vec(i, d0=1.0, d1=0.0):
        v = [0.0] * 8
        v[0] = d0 + 0.01 * (i % 3)
        v[1] = d1
        return v

    ref_rows = [(i, vec(i), "g") for i in range(30)]
    schema = "vec_id long, embedding array<double>, label string"
    ref = spark.createDataFrame(ref_rows, schema)

    same = embedding_drift(ref, ref).collect()[0]
    assert (same.n_ref, same.n_cur) == (30, 30)
    assert same.centroid_cosine == 1.0 and same.norm_ratio == 1.0

    doubled = spark.createDataFrame(
        [(i, [2 * x for x in v], g) for i, v, g in ref_rows], schema
    )
    r2 = embedding_drift(ref, doubled).collect()[0]
    assert r2.centroid_cosine == 1.0 and r2.norm_ratio == 2.0

    shifted = spark.createDataFrame(
        [(i, vec(i, d0=1.0, d1=1.0), g) for i, v, g in ref_rows], schema
    )
    r3 = embedding_drift(ref, shifted).collect()[0]
    assert r3.centroid_cosine is not None and r3.centroid_cosine < 1.0


def test_ranking_eval_hand_computed(spark):
    from time_series_databse_engine_spark.operators.similarity import ranking_eval

    # truth q1: docs a,b,c at ranks 1,2,3.  cand q1: b,a,x at 1,2,3.
    # hits = {a@2, b@1} -> recall 2/3, mrr = 1/1
    # dcg = 1/log2(2) + 1/log2(3) ; idcg = 1/log2(2)+1/log2(3)+1/log2(4)
    import math

    truth = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (1, "c", 3)], "query_id long, cand_id string, rank int"
    )
    cand = spark.createDataFrame(
        [(1, "b", 1), (1, "a", 2), (1, "x", 3)], "query_id long, cand_id string, rank int"
    )
    r = ranking_eval(truth, cand).collect()[0]
    assert r.k == 3 and r.hits == 2
    assert r.recall == round(2 / 3, 6) and r.mrr == 1.0
    dcg = 1 / math.log2(3) + 1 / math.log2(2)  # a hit at cand rank 2, b at 1
    idcg = 1 / math.log2(2) + 1 / math.log2(3) + 1 / math.log2(4)
    assert abs(r.ndcg - dcg / idcg) < 1e-6


def test_ranking_eval_edges(spark):
    from time_series_databse_engine_spark.operators.similarity import ranking_eval

    truth = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (2, "z", 1)], "query_id long, cand_id string, rank int"
    )
    # q1 perfect in truth order -> all metrics 1; q2 total miss -> all 0
    cand = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (2, "y", 1)], "query_id long, cand_id string, rank int"
    )
    out = {r.query_id: r for r in ranking_eval(truth, cand).collect()}
    assert out[1].recall == 1.0 and out[1].mrr == 1.0 and out[1].ndcg == 1.0
    assert out[2].recall == 0.0 and out[2].mrr == 0.0 and out[2].ndcg == 0.0
    # a hit pushed DOWN the list (a at cand rank 3, filler at 2):
    # recall/mrr unchanged, ndcg strictly drops — rank-awareness
    cand_low = spark.createDataFrame(
        [(1, "b", 1), (1, "x", 2), (1, "a", 3), (2, "z", 1)],
        "query_id long, cand_id string, rank int",
    )
    out2 = {r.query_id: r for r in ranking_eval(truth, cand_low).collect()}
    assert out2[1].recall == 1.0 and out2[1].mrr == 1.0
    assert out2[1].ndcg < 1.0 and out2[2].ndcg == 1.0
