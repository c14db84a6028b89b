"""Similarity search over embedding columns (north-star op, BASELINE.json).

Baseline: brute-force cosine top-k with a broadcast query set — JVM-side
``zip_with``/``aggregate`` expressions, no Python in the hot path.  Scale
path: LSH bucketing by random-hyperplane signs reduces candidates from N to
a bucket before exact re-scoring (same top-k shape, bucket-equi-join
instead of broadcast-nested-loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F, types as T

from ._util import _parallelize, _shuffle_width, forget, memo


def as_double(col) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a, b) -> F.Column:
    """Sequential left-to-right sum — same evaluation order as the SQL
    oracle's list functions, so doubles agree to rounding."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a) -> F.Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a, b) -> F.Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbours for each query vector.

    ``broadcast(queries)`` → each candidate partition scores all queries
    locally (the classic brute-force ANN baseline: one pass over N
    candidates, no shuffle of the big side); per-query row_number keeps k.
    Returns (query_id, cand_id, cosine_sim, rank).
    """
    # norms are per-VECTOR: computed here once, not re-folded per
    # (query, candidate) pair — same sqrt-of-fold value, 3× less work
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), as_double(vec_col).alias("qvec")
        ).withColumn("qn", norm(F.col("qvec")))
    )
    # corpus side spread: the per-candidate dot/norm folds are
    # interpreted (no codegen) and a single-file scan serializes the
    # whole brute-force pass on one core (no-op at scale)
    c = _parallelize(embeddings).select(
        F.col(id_col).alias("cand_id"), as_double(vec_col).alias("cvec")
    ).withColumn("cn", norm(F.col("cvec")))
    scored = (
        c.crossJoin(q)
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))).alias("_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", F.round("_sim", 6).alias("cosine_sim"), "rank")
    )


def cosine_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (id1 < id2) pairs with
    cosine similarity ≥ ``threshold``.

    This is the exact O(n²) baseline (broadcast-nested-loop on id1 < id2) —
    correct at any n, affordable only when one side broadcasts.  The 100 TB
    path is the same scoring over LSH-bucketed candidates
    (``lsh_bucket_topk``'s hyperplane buckets: equi-join on bucket id keeps
    candidate volume ~n²/2^bits per bucket), trading recall for the n²
    pair-join; both return the identical (id1, id2, cosine_sim) shape.
    """
    a = embeddings.select(F.col(id_col).alias("id1"), as_double(vec_col).alias("v1"))
    b = embeddings.select(F.col(id_col).alias("id2"), as_double(vec_col).alias("v2"))
    sim = F.round(cosine(F.col("v1"), F.col("v2")), 6)
    return (
        a.join(F.broadcast(b), F.col("id1") < F.col("id2"))
        .select("id1", "id2", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def hash_sampled_cells(
    embeddings: DataFrame, n_cells: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic coarse-quantizer codebook: the ``n_cells`` vectors
    with the smallest ``md5(string(id))`` — uniform over the id space
    (ordering by raw id would draw every cell from one corner of the
    keyspace), a k-heap TakeOrderedAndProject, never a full sort.  Norms
    precomputed per centroid.  Swap in trained :func:`kmeans_lloyd`
    centroids in production.

    The norm is taken of the vector column itself, in the one projection:
    a second projection reading ``cent`` is not collapsed into the first
    (it would evaluate ``cent`` twice), and the top-k strategy matches a
    limit over at most one projection over the sort, so the plan would fall
    back to a range exchange and a global sort of the whole corpus."""
    return (
        embeddings.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_cells)
        .select(
            F.col(id_col).alias("cell_id"),
            as_double(vec_col).alias("cent"),
            norm(as_double(vec_col)).alias("cent_n"),
        )
    )


def assign_nearest_cell(df, cents: DataFrame, vec, vec_n, keep_sim: bool = False):
    """Nearest cell per row via transform+fold over the broadcast
    centroid array: same (sim DESC, cell_id ASC) choice as a rank-1
    window — the tie rule is explicit so collect_list order is
    irrelevant — with no row multiplication and no exchange.  ``vec`` /
    ``vec_n`` are the column expressions for the row's vector and its
    precomputed norm."""
    cells_row = F.broadcast(
        cents.agg(F.collect_list(F.struct("cell_id", "cent", "cent_n")).alias("_cells"))
    )
    # the row's vector and norm are usually withColumn-defined fold
    # expressions; project collapsing re-inlines those definitions into
    # the lambda below and re-evaluates them PER CELL (HOFs can't CSE —
    # the minhash_signatures lesson, measured again here: the norm fold
    # alone doubles assignment cost at 16 cells).  Expand them through
    # inline/GenerateExec so the fold reads plain attributes; values are
    # bit-identical, only the duplicate evaluation goes away.
    vec_in, vec_n_in = vec, vec_n
    vec, vec_n = F.col("_anc_v"), F.col("_anc_n")
    sims = F.transform(
        "_cells",
        lambda cell: F.struct(
            (dot(vec, cell["cent"]) / (vec_n * cell["cent_n"])).alias("s"),
            cell["cell_id"].alias("cell_id"),
        ),
    )
    best = F.aggregate(
        sims,
        F.struct(F.lit(-2.0).alias("s"), F.lit(-1).cast("long").alias("cell_id")),
        lambda acc, x: F.when(
            (x["s"] > acc["s"])
            | ((x["s"] == acc["s"]) & (x["cell_id"] < acc["cell_id"])),
            x,
        ).otherwise(acc),
    )
    out = (
        df.crossJoin(cells_row)  # one-row broadcast: array column ride-along
        .select(
            "*",
            F.inline(
                F.array(
                    F.struct(vec_in.alias("_anc_v"), vec_n_in.alias("_anc_n"))
                )
            ),
        )
    )
    if keep_sim:
        # expand the fold's struct via inline — ONE evaluation inside
        # GenerateExec (plain aliasing re-evaluates the fold per field:
        # project collapsing inlines what HOFs can't CSE, the
        # minhash_signatures lesson); the winning cosine rides out for
        # outlier thresholds
        return (
            out.select("*", F.inline(F.array(best)))
            .withColumnRenamed("s", "cell_sim")
            .drop("_cells", "_anc_v", "_anc_n")
        )
    return (
        out.withColumn("cell_id", best["cell_id"])
        .drop("_cells", "_anc_v", "_anc_n")
    )


def kmeans_centroids_as_cells(kmeans_out: DataFrame) -> DataFrame:
    """Adapter: :func:`kmeans_lloyd`'s long-form output
    ``(cluster_id, dim, c, n)`` → the ``(cell_id, cent, cent_n)``
    codebook shape that :func:`ivf_topk` / :func:`semantic_dedup`
    accept via their ``cells`` parameter — the 'swap in trained
    centroids' path made concrete.  Tiny table (k rows), one k×dim
    collect_list group."""
    return (
        kmeans_out.groupBy("cluster_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "c")))
            .getField("c")
            .alias("cent")
        )
        .select(F.col("cluster_id").alias("cell_id"), "cent")
        .withColumn("cent_n", norm(F.col("cent")))
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize candidates to their
    nearest of ``n_cells`` centroids (deterministic hash-sample: the
    ``n_cells`` vectors with smallest ``md5(string(id))``, uniform over
    the id space like the k-means seed — swap in trained k-means
    centroids in production), then score each query only against its
    ``n_probe`` nearest cells.

    Scale shape: candidate table is scanned once to assign cells — the
    centroid set rides along as ONE broadcast array row and the nearest
    cell is an argmax fold over it, so assignment costs ZERO exchanges and
    never multiplies candidate rows (the old crossJoin+rank shape pushed
    n_cells× the corpus through a shuffle just to keep rank 1).  The probe
    join is an equi-join on cell id — candidate volume drops to
    ~n_probe/n_cells of N versus brute force, and the shuffle key is the
    cell id, not the pair.  Measured recall on isotropic sf0.1
    embeddings (SCALE.md "Measured recall"): 0.23 at probe=1 rising
    near-linearly to 1.00 at probe=16 of 16 cells — probe ≈ n_cells/2
    buys 0.8 recall at half the candidate volume on this worst-case
    data; trained centroids (via :func:`kmeans_lloyd` +
    :func:`kmeans_centroids_as_cells`, passed as ``cells``) raise it
    further.
    """
    # per-vector norms hoisted out of the per-pair scoring (see cosine_topk)
    cents = cells if cells is not None else hash_sampled_cells(embeddings, n_cells, id_col, vec_col)

    # corpus side spread (the cosine_topk rationale: the assignment
    # fold is interpreted and would serialize on a single-file scan)
    c = _parallelize(embeddings).select(
        F.col(id_col).alias("cand_id"), as_double(vec_col).alias("cvec")
    ).withColumn("cn", norm(F.col("cvec")))
    c_assigned = assign_nearest_cell(c, cents, F.col("cvec"), F.col("cn"))

    # query side: n_probe cells per query — tiny input, rank window is fine
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qvec")
    ).withColumn("qn", norm(F.col("qvec")))
    q_scored = q.crossJoin(F.broadcast(cents)).select(
        "*",
        (dot(F.col("qvec"), F.col("cent")) / (F.col("qn") * F.col("cent_n"))).alias(
            "_csim"
        ),
    )
    wq = W.partitionBy("query_id").orderBy(F.col("_csim").desc(), F.col("cell_id").asc())
    q_probes = (
        q_scored.withColumn("_crank", F.row_number().over(wq))
        .filter(F.col("_crank") <= n_probe)
        .drop("cent", "cent_n", "_csim", "_crank")
    )

    scored = (
        c_assigned.join(F.broadcast(q_probes), "cell_id")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))).alias("_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", F.round("_sim", 6).alias("cosine_sim"), "rank")
    )


def auto_n_cells(n_rows: int, target_cell: int = 128) -> int:
    """Cell count that holds average SemDeDup cell size at ``target_cell``:
    within-cell pair work is Σ|cell|² ≈ n·target, linear in n, which is
    what Abbas et al. 2023 do by fixing cluster count proportional to
    corpus size (100k clusters for LAION).  Sizes the committed
    per-scale codebooks (tools/gen_kmeans_cells.py) and the re-train k
    that :func:`semantic_dedup`'s guard names.
    """
    import math

    return max(8, math.ceil(n_rows / target_cell))


def random_planes(num_planes: int, dim: int, seed: int = 42):
    """Fixed random hyperplanes for sign-LSH — deterministic in (seed, shape)
    so a driver, an executor retry, and a SQL oracle all derive the same
    bucket function."""
    import numpy as np

    return np.random.default_rng(seed).standard_normal((num_planes, dim))


def hyperplane_bucket(vec, planes) -> F.Column:
    """Sign-pattern bucket id: one char per plane, '1' if the projection is
    ≥ 0.  Sequential left-to-right fold per plane (same evaluation order as
    the SQL oracle's list functions)."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(float(x)) for x in p]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for p in planes
    ]
    return F.concat(*bits)


def lsh_bucket_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    dim: int,
    k: int = 5,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH — bucket = sign pattern of
    ``num_planes`` fixed random projections; candidates equi-join queries on
    the bucket key, then exact cosine re-scoring inside the bucket.

    At 100 TB the bucket join replaces the all-pairs scoring with a
    shuffle-on-bucket; recall is tuned by ``num_planes`` (fewer planes →
    bigger buckets → higher recall, more work — measured 0.37→0.02 as
    planes go 2→8 on isotropic sf0.1 embeddings; see SCALE.md "Measured
    recall", and prefer :func:`ivf_topk` when the space is unclustered).
    ``dim`` is REQUIRED and keyword-only:
    operator construction must stay action-free (the former ``.first()``
    fallback ran a driver-side job just to build the plan), and a stale
    positional call must fail loudly rather than silently bind ``k`` as
    the vector dimension.
    """
    planes = random_planes(num_planes, dim, seed)

    c = (
        embeddings.select(
            F.col(id_col).alias("cand_id"),
            as_double(vec_col).alias("cvec"),
        )
        .withColumn("bucket", hyperplane_bucket(F.col("cvec"), planes))
        .withColumn("cn", norm(F.col("cvec")))
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double(vec_col).alias("qvec"),
        )
        .withColumn("bucket", hyperplane_bucket(F.col("qvec"), planes))
        .withColumn("qn", norm(F.col("qvec")))
    )

    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))).alias("_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", F.round("_sim", 6).alias("cosine_sim"), "rank")
    )


def lsh_bucket_topk_multi(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    dim: int,
    k: int = 5,
    num_planes: int = 4,
    num_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Multi-table sign-LSH top-k: OR the bucket match across
    ``num_tables`` INDEPENDENT plane sets (seeds ``seed .. seed+T-1``) —
    the recall mitigation for isotropic embeddings, where a single
    sign-pattern table's recall collapses (measured 0.02 at 8 planes on
    the isotropic sf0.1 embeddings; SCALE.md "Measured recall").  A true
    neighbour at angle θ collides in one b-plane table with probability
    (1-θ/π)^b; ORing T tables lifts recall to 1-(1-(1-θ/π)^b)^T at T×
    the per-table candidate volume.

    Plan shape (the part that must survive 100 TB): each side explodes
    to ``num_tables`` narrow (id, table, bucket) rows — the T×
    multiplication carries a 16-char bucket string, never the vector —
    then ONE broadcast equi-join on (table, bucket) with the exploded
    query side; the exact cosine is re-scored inside the join row
    (vectors ride along on the candidate side only, never shuffled:
    the query side is broadcast, so candidates stay where the scan put
    them); duplicate pair hits from multiple tables collapse via a
    pair-keyed max-aggregate (sims are identical across tables, so max
    is a pure dedup), and the final per-query top-k window re-uses the
    usual (sim DESC, cand_id ASC) rule.  Total exchanges: one on the
    (query_id, cand_id) pair key + the top-k window's query key — both
    over pair-sized rows, never corpus-sized.
    """
    plane_sets = [random_planes(num_planes, dim, seed + t) for t in range(num_tables)]

    def bucket_rows(df, out_id, tag):
        v = as_double(vec_col)
        return df.select(
            F.col(id_col).alias(out_id),
            v.alias(f"{tag}vec"),
            F.posexplode(
                F.array(*[hyperplane_bucket(v, ps) for ps in plane_sets])
            ).alias("tbl", "bucket"),
        ).withColumn(f"{tag}n", norm(F.col(f"{tag}vec")))

    c = bucket_rows(embeddings, "cand_id", "c")
    q = bucket_rows(queries, "query_id", "q")

    scored = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))).alias("_sim"),
        )
        # same pair may hit in several tables with an identical sim —
        # max() is a pure dedup (and map-side combines before the
        # pair-keyed exchange, unlike dropDuplicates)
        .groupBy("query_id", "cand_id")
        .agg(F.max("_sim").alias("_sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", F.round("_sim", 6).alias("cosine_sim"), "rank")
    )


def ann_params_for(
    n_vecs: int,
    base_vecs: int = 2_000,
    base_planes: int = 4,
    base_cells: int = 16,
) -> dict:
    """The ANN grow-with-corpus rule as code (the r4 SCALE.md rule the
    probes measured, now executable like ``dedup.lsh_params_for``):

    * hyperplanes: +log2(growth) — bucket count 2^planes grows ∝ N, so
      expected bucket size (and Σ|bucket|² candidate volume per row)
      stays constant; measured 18.2 s → 2.4 s at 10× data (r4 probe);
    * k-means cells: ∝ N — expected cell size constant; measured
      15.9 s → 2.6 s at 10× (r4 probe).

    With parameters FIXED, both ops' candidate volume grows ~N²/buckets
    — the same law as LSH banding.  Returns ``num_planes`` /
    ``n_cells`` kwargs.
    """
    import math

    growth = max(1.0, n_vecs / base_vecs)
    return {
        "num_planes": base_planes + math.ceil(math.log2(growth)) if growth > 1
        else base_planes,
        "n_cells": int(round(base_cells * growth)),
    }


def cosine_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.9,
    num_planes: int = 4,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH bucketing — the
    100 TB path beside :func:`cosine_near_dup`'s exact O(n²) baseline.

    Candidates are generated by a self equi-join on the hyperplane bucket
    (vectors within cosine ≥ threshold rarely disagree on many projection
    signs), then re-scored with the exact cosine and cut at ``threshold``.
    Same output shape as the exact form, but the plan is a shuffle on the
    bucket key — candidate volume ~n²/2^planes per bucket — instead of a
    broadcast-nested-loop over all pairs.  Recall < 1 by construction
    (pairs split across buckets are missed); tune ``num_planes`` down or
    OR multiple plane sets for higher recall.  Measured at sf0.1
    (SCALE.md "Measured recall"): 0.64→0.36 as planes go 1→4 at a
    stress threshold of 0.5 on isotropic vectors; at the production
    threshold (0.9) true pairs agree on nearly all signs and bucket
    recall is ~1.
    """
    planes = random_planes(num_planes, dim, seed)
    # L2 norm is a per-VECTOR quantity: compute it once here, before the
    # self-join, instead of letting cosine() re-fold both norms inside
    # every candidate pair — per-pair work drops from 3 folds to 1 (the
    # dot product), numerically identical (same sqrt-of-fold value).
    e = (
        embeddings.select(F.col(id_col).alias("id"), as_double(vec_col).alias("v"))
        .withColumn("bucket", hyperplane_bucket(F.col("v"), planes))
        .withColumn("nrm", norm(F.col("v")))
    )
    # Pre-shuffle on the join key so both sides of the self-join share one
    # Exchange and the bucket pipeline is computed once (ReusedExchange).
    # numPartitions is EXPLICIT so AQE byte-coalescing cannot put the
    # quadratic within-bucket pair term on one task (the semantic_dedup
    # lesson; measured ~0.8 s single-task at sf0.1 without it)
    width = _shuffle_width(e.sparkSession)
    e = e.repartition(width, "bucket")
    a = e.select(F.col("id").alias("id1"), F.col("v").alias("v1"), F.col("nrm").alias("n1"), "bucket")
    b = e.select(F.col("id").alias("id2"), F.col("v").alias("v2"), F.col("nrm").alias("n2"), "bucket")
    sim = F.round(dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")), 6)
    return (
        a.join(b, "bucket")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.5,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells: DataFrame | None = None,
    guard: bool = True,
    target_cell: int = 128,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space coarsely, then search
    for near-duplicate pairs ONLY within each cluster — the observation
    that makes embedding dedup tractable at corpus scale (pairwise work
    drops from n² to Σ|cell|²).

    Pipeline: cell assignment via the shared broadcast-argmax fold
    (:func:`assign_nearest_cell` — zero exchanges, same codebook helper
    as :func:`ivf_topk`; pass trained :func:`kmeans_lloyd` centroids via
    ``cells=kmeans_centroids_as_cells(...)`` in production — clustered
    cells both raise within-cell recall and even out cell sizes), one
    explicit repartition on ``cell_id`` so the
    within-cell self-join REUSES a single exchange, exact cosine ≥
    ``threshold`` inside the cell, and the deterministic keep rule: a
    row is dropped iff a SMALLER id in its cell matches it — so exactly
    one representative (the min id) survives each duplicate chain.

    Returns the KEPT rows ``(id_col, cell_id)`` — an anti-join of the
    corpus against the dropped-id set, id-keyed.  Missing cross-cell
    pairs is the documented recall trade (same geometry as
    :func:`cosine_near_dup_lsh`'s buckets; SemDeDup accepts it for the
    n²→Σ|cell|² cut).

    Served-codebook guard (``guard=True``, VERDICT r9 #1): a PINNED
    codebook trained at one corpus scale silently turns quadratic when
    the corpus outgrows it — the measured hazard is a k=8 pin at 10×
    data costing 8.6× wall (SCALE.md round-9 table), and at 100× the
    within-cell pair term is 10,000×.  So when ``cells=`` is supplied
    the mean cell size ``corpus_count / k`` is checked against the same
    ``target_cell`` that :func:`auto_n_cells` holds constant:

    * mean > 4× target  → ``warnings.warn`` — the pin is drifting; plan
      a re-train (``auto_n_cells(corpus)`` gives the right k);
    * mean > 16× target → ``ValueError`` — pair work is ≥256× the
      designed budget; refusing is cheaper than running.

    The two counts behind the check are one codebook count (tiny) and
    one id-column corpus count (a pruned scan).  Pass ``guard=False``
    only when the codebook is FRESHLY trained in the same query at a
    caller-chosen k (stale-pin drift can't apply) or when the counts
    themselves would re-trigger an expensive training lineage — both
    cases should say so in a comment.

    Assignment runs the exact interpreted fold for codebooks of up to 32
    cells (oracle parity bit for bit) and the BLAS pandas_udf
    (:func:`assign_nearest_cell_np`) past that, where the fold's
    O(N·k·d) interpretation dominates the pipeline.  The size is
    ``n_cells`` for sampled cells and the guard's count for a pinned
    codebook; with ``guard=False`` nothing counts the codebook (that
    would run its training lineage at plan-build time), so it folds.
    """
    k = n_cells if cells is None else 0
    if cells is not None and guard:
        import warnings

        k = cells.count()
        corpus = embeddings.select(id_col).count()
        mean_cell = corpus / max(1, k)
        if mean_cell > 16 * target_cell:
            raise ValueError(
                "semantic_dedup: pinned codebook is undersized for this corpus — "
                f"{corpus} rows / {k} cells = mean cell {mean_cell:.0f} vs target "
                f"{target_cell} (>16x): within-cell pair work would be "
                f">{(mean_cell / target_cell) ** 2:.0f}x the designed budget. "
                f"Re-train with n_cells≈auto_n_cells({corpus})={auto_n_cells(corpus, target_cell)} "
                "or pass guard=False if you accept the quadratic cost."
            )
        if mean_cell > 4 * target_cell:
            warnings.warn(
                "semantic_dedup: pinned codebook is drifting undersized — "
                f"{corpus} rows / {k} cells = mean cell {mean_cell:.0f} vs target "
                f"{target_cell} (>4x): pair work is ~{(mean_cell / target_cell) ** 2:.0f}x "
                f"the designed budget; schedule a re-train at "
                f"n_cells≈auto_n_cells({corpus})={auto_n_cells(corpus, target_cell)}.",
                RuntimeWarning,
                stacklevel=2,
            )
    e = embeddings.select(F.col(id_col).alias("id"), as_double(vec_col).alias("v")).withColumn(
        "nrm", norm(F.col("v"))
    )
    cents = cells if cells is not None else hash_sampled_cells(embeddings, n_cells, id_col, vec_col)
    if k > 32:
        a = assign_nearest_cell_np(e, cents, "v")
    else:
        a = assign_nearest_cell(e, cents, F.col("v"), F.col("nrm"))
    # repartition ONLY the pair-join input: both self-join sides then share
    # one cell-keyed exchange (AQE ReusedExchange), while the final
    # anti-join consumes `a` without inheriting an extra cell shuffle in
    # the output lineage.  numPartitions is EXPLICIT because the
    # within-cell self-join fans out quadratically per cell — a blow-up
    # AQE's byte-based coalescing cannot see (measured: the ~0.8 MB
    # assignment table coalesced to ONE task carrying the whole Σ|cell|²
    # pair term, ~1.3 s serialized at sf0.1)
    width = _shuffle_width(a.sparkSession)
    ar = a.repartition(width, "cell_id")
    l = ar.select(
        F.col("id").alias("id1"), F.col("v").alias("v1"), F.col("nrm").alias("n1"), "cell_id"
    )
    r = ar.select(
        F.col("id").alias("id2"), F.col("v").alias("v2"), F.col("nrm").alias("n2"), "cell_id"
    )
    dropped = (
        l.join(r, "cell_id")
        .filter(F.col("id1") < F.col("id2"))
        .filter(dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")) >= threshold)
        .select(F.col("id2").alias("id"))
        .distinct()
    )
    return (
        a.join(dropped, "id", "left_anti")
        .select(F.col("id").alias(id_col), "cell_id")
    )


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means, ``iters`` Lloyd rounds, fully deterministic:
    initial centroids are the ``k`` vectors with the smallest
    ``md5(string(id))`` — a deterministic hash-sample, so the seed pick is
    a TakeOrderedAndProject over k tiny per-partition heaps keyed by a
    value that is uniform over the id space (ordering by raw id would seed
    all centroids from one corner of the keyspace and, on a sorted table,
    one partition).  Assignment is cosine-argmax with a centroid-id
    tiebreak, and each round's centroids are element-wise means QUANTIZED
    to 6 dp — the quantization is what makes the iteration reproducible
    across engines and re-runs (raw float means differ in summation
    order; rounded ones don't).

    Scale shape per round: one broadcast of k centroids (tiny), one
    cosine-argmax over N via :func:`assign_nearest_cell`'s per-row
    transform+fold over the broadcast centroid array — ZERO row
    multiplication and zero exchange in assignment (the previous
    crossJoin + per-id rank window pushed k× the corpus through an
    exchange just to keep rank 1; at 100 TB with k=1024 that is 1024×
    the data moved for nothing) — then one posexplode + (cid, dim) mean;
    shuffle keys are (cid, dim), never pairs and never id.  Returns one
    row per (cluster_id, dim): the centroid component ``c`` plus the
    cluster size ``n``.
    """
    e = embeddings.select(F.col(id_col).alias("id"), as_double(vec_col).alias("v"))
    cents = (
        e.orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(k)
        .select(F.col("id").alias("cid"), F.col("v").alias("c"))
    )

    def assign_round(points, centroids):
        # same (sim DESC, cid ASC) argmax the old rank-1 window computed,
        # as a broadcast-array fold: one row in, one row out.  Past k≈32
        # the interpreted fold dominates the whole pipeline (O(N·k·d)
        # interpreter steps — see assign_nearest_cell_np), so it
        # switches to the BLAS pandas_udf there; training is offline
        # (never hash-gated), and the 6-dp centroid quantization absorbs
        # the two paths' float-summation-order difference except at
        # ~1e-15 argmax ties.
        codebook = centroids.select(
            F.col("cid").alias("cell_id"), F.col("c").alias("cent")
        ).withColumn("cent_n", norm(F.col("cent")))
        pts = points.withColumn("_vn", norm(F.col("v")))
        if k > 32:
            out = assign_nearest_cell_np(pts, codebook, "v")
        else:
            out = assign_nearest_cell(pts, codebook, F.col("v"), F.col("_vn"))
        return out.select("id", "v", F.col("cell_id").alias("cid"))

    assigned = None
    for _ in range(iters):
        assigned = assign_round(e, cents)
        means = (
            assigned.select("cid", F.posexplode("v").alias("dim", "x"))
            .groupBy("cid", "dim")
            .agg(F.round(F.avg("x"), 6).alias("m"))
        )
        cents = means.groupBy("cid").agg(
            F.array_sort(F.collect_list(F.struct("dim", "m")))
            .getField("m")
            .alias("c")
        )
    sizes = assigned.groupBy("cid").agg(F.count("*").alias("n"))
    out = (
        assigned.select("cid", F.posexplode("v").alias("dim", "x"))
        .groupBy("cid", "dim")
        .agg(F.round(F.avg("x"), 6).alias("c"))
        .join(F.broadcast(sizes), "cid")
    )
    # dim as long: SQL engines' generate_series/ordinality yield 64-bit
    return out.select(
        F.col("cid").alias("cluster_id"), F.col("dim").cast("long").alias("dim"), "c", "n"
    )


def assign_nearest_cell_np(
    df: DataFrame,
    cents: DataFrame,
    vec_col: str = "v",
) -> DataFrame:
    """Vectorized twin of :func:`assign_nearest_cell` for LARGE
    codebooks.  The fold is a Catalyst higher-order function —
    interpreted per element, no codegen — so assignment costs
    O(N·k·d) interpreter steps: measured 52 s for 20k rows at k=160
    (vs 2 s for the whole pipeline at k=16).  Past k ≈ 32 a BLAS
    matmul in an Arrow batch wins by orders of magnitude: this variant
    collects the k×d codebook to the driver (tiny, rides task
    serialization), then each pandas batch computes
    ``argmax((V @ C.T) / (|v|·|c|))`` with the same tie rule as the
    fold (sim DESC, cell_id ASC — centroids are pre-sorted by cell_id
    and np.argmax keeps the first maximum).

    Parity note: np.dot sums in SIMD/pairwise order, the fold sums
    sequentially — identical argmax unless two cells tie within float
    noise (~1e-15), so oracle-checked queries keep the fold and this
    is the production path for trained codebooks (k in the hundreds+).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    rows = cents.select("cell_id", "cent", "cent_n").orderBy("cell_id").collect()
    ids = np.array([r["cell_id"] for r in rows], dtype=np.int64)
    C = np.array([r["cent"] for r in rows], dtype=np.float64)
    cn = np.array([r["cent_n"] for r in rows], dtype=np.float64)

    def _nearest(vs):
        V = np.stack(vs.to_numpy())
        vn = np.sqrt((V * V).sum(axis=1))
        sims = (V @ C.T) / (vn[:, None] * cn[None, :])
        return pd.Series(ids[np.argmax(sims, axis=1)])

    # no type hints: the module's `from __future__ import annotations`
    # turns them into strings that pandas_udf can't resolve for
    # function-local imports — the explicit returnType form is exact
    nearest = pandas_udf(_nearest, "long")
    return df.withColumn("cell_id", nearest(F.col(vec_col)))


def _d2(a, b) -> F.Column:
    """Squared L2 via three dot folds, written in ONE fixed order
    (aa − 2ab + bb) so Spark and the SQL oracle execute identical float
    ops — the concatenation identity Σ_j ||a_j−b_j||² = ||a−b||² is what
    lets ADC scoring reduce to a single full-width expression."""
    return dot(a, a) - 2.0 * dot(a, b) + dot(b, b)


def pq_codebook(
    embeddings: DataFrame,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic PQ codebook source: the ``ks`` vectors with smallest
    ``md5(string(id))`` (the :func:`hash_sampled_cells` discipline),
    numbered 0..ks−1 in hash order.  Each subspace's centroid i is the
    i-th sample's slice — swap in per-subspace k-means in production."""
    w = W.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
    return (
        embeddings.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(ks)
        .select(
            (F.row_number().over(w) - 1).alias("code"),
            as_double(vec_col).alias("cent"),
        )
    )


def pq_encode(
    embeddings: DataFrame,
    codebook: DataFrame,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011): split each
    vector into ``m`` subvectors and store, per subspace, the code of the
    nearest codebook centroid — 64 doubles (512 B) become ``m`` small
    ints (``m·log2(ks)`` bits ≈ 2 B at m=4, ks=16), a ~250× compression
    of the similarity-search working set.  At 100 TB this is the
    difference between scanning embeddings from disk and scanning codes
    from memory.

    Returns (id, codes array<int>, recon array<double>) where ``recon``
    is the concatenation of the chosen centroids' slices — the
    quantized reconstruction whose distance to a query IS the ADC
    (asymmetric distance computation) estimate, by the subspace
    concatenation identity.  Encoding is a per-row argmin fold over the
    ONE broadcast codebook row per subspace: zero exchanges, zero row
    multiplication — the :func:`assign_nearest_cell` shape, m times.
    """
    sub = dim // m

    # Per-pair work is the whole encode cost (N·m·ks evaluations), so
    # everything constant across pairs is evaluated exactly once and only
    # REFERENCED inside the fold — values stay bit-identical to the naive
    # form (same float ops, same order, just deduplicated), so the SQL
    # oracle and all historical hashes are unchanged:
    #   - codebook side: each subspace's centroid slice and its
    #     self-dot (the ``+ bb`` term of _d2) live IN the broadcast row,
    #     computed once per (j, code) instead of once per pair;
    #   - row side: the row's subvector and its self-dot (the ``aa``
    #     term) are expanded through inline/GenerateExec — a bare
    #     withColumn would be re-inlined into the lambda by project
    #     collapsing and re-evaluated per pair (the minhash_signatures
    #     lesson).
    # The fold's per-pair residue is ONE sub-dim dot (the ``ab`` term).
    def _cb_for(j):
        def _mk(cell):
            c_j = F.slice(cell["cent"], j * sub + 1, sub)
            return F.struct(
                cell["code"].alias("code"),
                c_j.alias("sub"),
                dot(c_j, c_j).alias("cc"),
            )

        return _mk

    cb_row = F.broadcast(
        codebook.agg(F.collect_list(F.struct("code", "cent")).alias("_cb0")).select(
            *[F.transform("_cb0", _cb_for(j)).alias(f"_cb{j}") for j in range(m)]
        )
    )
    # ``carry`` columns ride through the fold untouched, letting callers
    # (ivfpq_topk) fuse a prior per-row stage — e.g. the IVF cell
    # assignment — into this same scan instead of re-joining by id
    e = embeddings.select(
        F.col(id_col), as_double(vec_col).alias("_v"), *[F.col(c) for c in carry]
    ).crossJoin(cb_row)
    _vjs = [F.slice(F.col("_v"), j * sub + 1, sub) for j in range(m)]
    hoist = F.struct(
        *[v_j.alias(f"_vj{j}") for j, v_j in enumerate(_vjs)],
        *[dot(v_j, v_j).alias(f"_vv{j}") for j, v_j in enumerate(_vjs)],
    )
    e = e.select("*", F.inline(F.array(hoist)))

    def _cands_for(j):
        def _mk(cell):
            return F.struct(
                (F.col(f"_vv{j}") - 2.0 * dot(F.col(f"_vj{j}"), cell["sub"]) + cell["cc"]).alias("d"),
                cell["code"].alias("code"),
                cell["sub"].alias("sub"),
            )

        return _mk

    bests = []
    for j in range(m):
        cands = F.transform(f"_cb{j}", _cands_for(j))
        best = F.aggregate(
            cands,
            F.struct(
                F.lit(float("inf")).alias("d"),
                F.lit(-1).alias("code"),
                F.array().cast("array<double>").alias("sub"),
            ),
            lambda acc, x: F.when(
                (x["d"] < acc["d"]) | ((x["d"] == acc["d"]) & (x["code"] < acc["code"])),
                x,
            ).otherwise(acc),
        )
        bests.append(best)
    return e.select(
        F.col(id_col),
        F.array(*[b["code"] for b in bests]).alias("codes"),
        F.concat(*[b["sub"] for b in bests]).alias("recon"),
        *[F.col(c) for c in carry],
    )


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k over PQ codes (Jégou et al. 2011's asymmetric distance:
    exact query vs quantized candidate): scan the ENCODED corpus —
    O(N) like brute force but over ~2-byte codes instead of 512-byte
    vectors, which is the paper's actual claim (PQ is a compression/
    bandwidth method; compose with :func:`ivf_topk`'s cell pruning for
    IVFADC when scan count itself must drop).  Candidates never
    shuffle: the query table broadcasts, and the per-query top-k is the
    same rank window as :func:`cosine_topk`.  Approximation error comes
    only from quantization — measured recall vs exact L2 in
    test_similarity."""
    enc = pq_encode(embeddings, pq_codebook(embeddings, ks, id_col, vec_col), m, dim, id_col, vec_col)
    q = queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv"))
    scored = (
        enc.withColumnRenamed(id_col, "cand_id")
        .join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", F.round(_d2(F.col("qv"), F.col("recon")), 6).alias("approx_d2"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("approx_d2").asc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "approx_d2", "rank")
    )



def _assign_and_encode(
    embeddings,
    cents: DataFrame,
    cb: DataFrame,
    m: int,
    dim: int,
    id_col: str,
    vec_col: str,
    ks: int | None = None,
) -> DataFrame:
    """The ONE corpus pass shared by :func:`ivfpq_topk`,
    :func:`ivf_index_write`, and :func:`ivf_index_append`: nearest-cell
    assignment fused through PQ encoding via ``carry`` — zero exchanges,
    no id re-join.  A single definition, because the persisted index's
    oracle-sharing contract ('layout never changes answers') requires
    append-encoded, build-encoded, and in-memory-encoded rows to be
    bit-identical.  Encode path: exact interpreted fold at small
    codebooks (oracle parity), BLAS mapInPandas past m*ks ~ 64 where
    the fold's interpretation dominates (measured 2.7-3.0x at sf0.1 —
    see pq_encode_np); mirrors semantic_dedup's k > 32 switch."""
    c = embeddings.select(
        F.col(id_col).alias("cand_id"), as_double(vec_col).alias("cvec")
    ).withColumn("cn", norm(F.col("cvec")))
    c_assigned = assign_nearest_cell(c, cents, F.col("cvec"), F.col("cn"))
    if ks is None:
        ks = cb.count()  # k-row sidecar — a trivial job, callers may pass ks
    enc_fn = pq_encode_np if m * ks > 64 else pq_encode
    return enc_fn(
        c_assigned, cb, m, dim, id_col="cand_id", vec_col="cvec", carry=("cell_id",)
    )


def _probe_cells(
    queries: DataFrame, cents: DataFrame, n_probe: int, id_col: str, vec_col: str
) -> DataFrame:
    """Query-side probe-cell selection shared by :func:`ivfpq_topk` and
    :func:`ivf_index_probe` (one definition, same contract as
    :func:`_assign_and_encode`): rank the broadcast centroids per query
    by cosine, keep the top ``n_probe`` — tiny input, rank window is
    fine."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qvec")
    ).withColumn("qn", norm(F.col("qvec")))
    q_scored = q.crossJoin(F.broadcast(cents)).select(
        "*",
        (dot(F.col("qvec"), F.col("cent")) / (F.col("qn") * F.col("cent_n"))).alias(
            "_csim"
        ),
    )
    wq = W.partitionBy("query_id").orderBy(
        F.col("_csim").desc(), F.col("cell_id").asc()
    )
    return (
        q_scored.withColumn("_crank", F.row_number().over(wq))
        .filter(F.col("_crank") <= n_probe)
        .drop("cent", "cent_n", "_csim", "_crank", "qn")
    )


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 4,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC (Jégou et al. 2011 §IV): the production ANN shape — IVF
    (body shared with the persisted index via :func:`_assign_and_encode`
    / :func:`_probe_cells` — ONE definition of the result-defining
    logic, so 'the persisted layout never changes answers' holds by
    construction, not by keeping copies in sync.)
    cell pruning cuts HOW MANY candidates are scanned (~n_probe/n_cells
    of N), PQ/ADC cuts HOW WIDE each scanned candidate is (~2-byte codes
    instead of 512-byte vectors).  :func:`ivf_topk` alone still reads
    full vectors in the probed cells; :func:`pq_topk` alone still scans
    the whole corpus.  This composition is what scales a 100 TB
    embedding store to interactive top-k.

    Simplification vs the paper: codes quantize the RAW vectors, not the
    per-cell residuals (residual encoding needs a per-cell codebook —
    the oracle would have to replay ks x n_cells argmins; recall gain is
    real but orthogonal to the plan shape being demonstrated).

    Scale shape: ONE pass over the corpus computes cell id AND PQ codes
    (the cell-assignment fold rides through :func:`pq_encode` via
    ``carry`` — zero exchanges, no id re-join); the probe equi-join on
    cell_id and the per-query rank window are exactly :func:`ivf_topk`'s.
    """
    cents = hash_sampled_cells(embeddings, n_cells, id_col, vec_col)
    cb = pq_codebook(embeddings, ks, id_col, vec_col)
    # the assign+encode fold is interpreted (HOF, no codegen) and a
    # single-file local scan serializes it on one core (measured ~1.3 s
    # single-task at sf0.1); guarded repartition, no-op at scale
    enc = _assign_and_encode(
        _parallelize(embeddings), cents, cb, m, dim, id_col, vec_col, ks=ks
    )
    q_probes = _probe_cells(queries, cents, n_probe, id_col, vec_col)

    scored = (
        enc.join(F.broadcast(q_probes), "cell_id")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(_d2(F.col("qvec"), F.col("recon")), 6).alias("approx_d2"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("approx_d2").asc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "approx_d2", "rank")
    )


def semantic_outliers(
    embeddings: DataFrame,
    threshold: float = 0.2,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells: DataFrame | None = None,
) -> DataFrame:
    """Embedding-space outlier pruning: rows whose BEST cosine to any
    coarse centroid falls below ``threshold`` — i.e. far from every
    density center the codebook knows.  This is SemDeDup's companion
    filter (Abbas 2023 prunes near-duplicates NEAR centroids; real
    pipelines also drop the garbled/off-distribution tail that sits
    near none), and doubles as an embedding-quality gate before ANN
    index build.

    Scale shape: the one zero-exchange broadcast-argmax scan
    (:func:`assign_nearest_cell` with ``keep_sim``) — no pairs, no
    window; the filter is a per-row comparison on the fold output.
    Returns (id, cell_id, cell_sim) for the outliers, 6-dp rounded so
    the SQL oracle thresholds identically.
    """
    cents = (
        cells
        if cells is not None
        else hash_sampled_cells(embeddings, n_cells, id_col, vec_col)
    )
    c = embeddings.select(
        F.col(id_col), as_double(vec_col).alias("_v")
    ).withColumn("_n", norm(F.col("_v")))
    a = assign_nearest_cell(c, cents, F.col("_v"), F.col("_n"), keep_sim=True)
    return (
        a.select(id_col, "cell_id", F.round("cell_sim", 6).alias("cell_sim"))
        .filter(F.col("cell_sim") < threshold)
    )


def pca_train(
    embeddings: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Fit a PCA basis over an embedding column — dimension reduction /
    whitening before ANN indexing or clustering (half the dimensions at
    ~none of the variance loss is the usual embedding-table win, and
    PQ/IVF both get easier in the reduced space).

    Distribution shape — the same one Spark MLlib's
    ``RowMatrix.computePrincipalComponents`` uses: the data-sized work
    is ONE ``mapInPandas`` pass emitting per-Arrow-batch moment rows
    (n, Σv, flattened Σvvᵀ — d²+d+1 doubles each); those few-KB rows
    collect to the driver (O(partitions), not O(N)), reduce exactly,
    and a d×d = 64×64 symmetric eigensolve (numpy ``eigh``, microseconds)
    finishes the job.  No iterative distributed solver, no corpus
    shuffle at all.

    Returns (mean: np.ndarray[d], components: np.ndarray[k, d],
    explained_var: np.ndarray[k]) with components in descending
    eigenvalue order, each sign-normalized so the largest-|coordinate|
    entry is positive (eigh's sign is arbitrary; this pins determinism).
    """
    import numpy as np

    def moments(pdfs):
        import pandas as pd

        for pdf in pdfs:
            m = np.stack(pdf[vec_col].to_numpy())
            d = m.shape[1]
            row = np.concatenate(
                ([float(len(m))], m.sum(axis=0), (m.T @ m).ravel())
            )
            yield pd.DataFrame({"m": [row.tolist()]})

    parts = embeddings.select(vec_col).mapInPandas(moments, "m array<double>").collect()
    acc = np.zeros(len(parts[0].m))
    for r in parts:
        acc += np.asarray(r.m)
    n = acc[0]
    d = int((-1 + (1 + 4 * (len(acc) - 1)) ** 0.5) / 2)  # len = 1 + d + d²
    mean = acc[1 : 1 + d] / n
    gram = acc[1 + d :].reshape(d, d)
    cov = gram / n - np.outer(mean, mean)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order].T
    flip = np.sign(comps[np.arange(len(order)), np.abs(comps).argmax(axis=1)])
    comps = comps * flip[:, None]
    return mean, comps, w[order]


def pca_fit_invariants(
    embeddings: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Full train+apply PCA lifecycle under an INVARIANT (bounds) oracle —
    the :func:`pca_train` eigensolve is driver-side numpy and not
    SQL-replayable, but everything a correct PCA must satisfy IS
    checkable, so instead of raw projections this emits ONE row of exact
    twins + booleans (the ``approx_stats`` bounds-oracle pattern):

    * ``n_vecs`` — exact corpus count (the oracle recomputes it);
    * ``orthonormal_ok`` — C·Cᵀ = I_k within 1e-8 (eigh output audit);
    * ``var_descending_ok`` — eigenvalues non-increasing;
    * ``proj_mean_zero_ok`` — every projected dim has |sample mean| ≤
      tol: the training mean IS the sample mean, so centered projections
      average to 0 up to fp accumulation;
    * ``proj_var_matches_eigs_ok`` — per-dim E[proj_j²] equals its
      eigenvalue (cᵀΣc = λ for the POPULATION covariance pca_train
      fits) within relative tolerance — a bug in the mean, the
      components, or the projection matmul breaks this bookkeeping;
    * ``captured_le_total_ok`` — Σ_j E[proj_j²] ≤ avg‖v−mean‖²
      (captured variance can't exceed total; their gap is the exact
      mean reconstruction error for an orthonormal basis).

    Any regression flips a boolean and fails the driver's hash gate —
    a values-level check for an operator whose training step has no SQL
    twin.  Scale shape: one mapInPandas moment pass (pca_train), then
    ONE verification scan — the BLAS-batch projection and the centered
    squared-norm fold evaluate in the same projection and feed a single
    partial aggregate of 2k+2 columns (k is 8; no posexplode of n·k
    scalar rows, no second corpus pass, no join) — a 1-row exchange is
    the only shuffle.
    """
    import numpy as np

    mean, comps, w = pca_train(embeddings, k, id_col, vec_col)
    orth = bool(np.allclose(comps @ comps.T, np.eye(len(comps)), atol=1e-8))
    desc = bool(np.all(np.diff(w) <= 1e-10))
    scale = 1.0 + float(w[0])
    kk = len(w)

    mean_lit = F.array(*[F.lit(float(x)) for x in mean])
    base = pca_project(
        embeddings.withColumn(
            "_sq",
            F.aggregate(
                F.zip_with(
                    as_double(vec_col), mean_lit, lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        ),
        mean,
        comps,
        id_col="_sq",
        vec_col=vec_col,
    )
    aggs = [F.count("*").alias("n_vecs"), F.avg("_sq").alias("_s2")]
    for j in range(kk):
        pj = F.col("proj")[j]
        aggs.append(F.avg(pj).alias(f"_mu{j}"))
        aggs.append(F.avg(pj * pj).alias(f"_p2{j}"))
    row = base.agg(*aggs)
    mus = [F.abs(F.col(f"_mu{j}")) for j in range(kk)]
    dvs = [F.abs(F.col(f"_p2{j}") - F.lit(float(w[j]))) for j in range(kk)]
    p2s = [F.col(f"_p2{j}") for j in range(kk)]
    _sum = lambda cols: cols[0] if len(cols) == 1 else sum(cols[1:], cols[0])
    totals = row.select(
        "n_vecs",
        "_s2",
        (F.greatest(*mus) if kk > 1 else mus[0]).alias("_max_mu"),
        (F.greatest(*dvs) if kk > 1 else dvs[0]).alias("_max_dv"),
        _sum(p2s).alias("_cap"),
    )
    return totals.select(
        "n_vecs",
        F.lit(int(len(w))).alias("k"),
        F.lit(orth).alias("orthonormal_ok"),
        F.lit(desc).alias("var_descending_ok"),
        (F.col("_max_mu") <= F.lit(1e-6 * scale)).alias("proj_mean_zero_ok"),
        (F.col("_max_dv") <= F.lit(1e-5 * scale)).alias("proj_var_matches_eigs_ok"),
        (F.col("_cap") <= F.col("_s2") * F.lit(1.0 + 1e-9) + F.lit(1e-9)).alias(
            "captured_le_total_ok"
        ),
    )


def pca_project(
    embeddings: DataFrame,
    mean,
    components,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project every vector onto a fitted PCA basis: (id, proj array<k>).
    The (k×d) basis and mean broadcast as a closure into one vectorized
    ``pandas_udf`` — each Arrow batch is a single BLAS matmul
    (the :func:`assign_nearest_cell_np` discipline), zero shuffles."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    mean = np.asarray(mean, dtype="float64")
    comps = np.asarray(components, dtype="float64")

    def _proj(vs):
        m = np.stack(vs.to_numpy()).astype("float64")
        out = (m - mean) @ comps.T
        return pd.Series(list(out))

    # no type hints: the module's `from __future__ import annotations`
    # turns them into strings pandas_udf can't resolve (see
    # assign_nearest_cell_np) — explicit returnType form instead
    proj = pandas_udf(_proj, "array<double>")
    return embeddings.select(F.col(id_col), proj(as_double(vec_col)).alias("proj"))


def pca_project_expr(
    embeddings: DataFrame,
    mean,
    components,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Pure-expression twin of :func:`pca_project` for PINNED bases —
    the oracle-parity serve path: (id, dim_idx, value) scalar rows with
    value[j] = round(Σ_i (v[i] − mean[i])·comp[j][i], decimals),
    left-associated in i.

    Codegen shape (VERDICT r9 #2): the obvious form — posexplode over
    ONE array expression unrolling all k·d multiply-add terms (512 for
    8×64) — is a single expression tree codegen cannot split, so the
    generated method blew janino's limits, Spark logged ``ERROR
    CodeGenerator`` and silently ran the projection INTERPRETED
    (correct, but a per-row interpreter tax at scale, invisible to
    static plan audits).  An ``aggregate(zip_with(...))`` fold per
    component compiles trivially but is WORSE: higher-order functions
    are ``CodegenFallback`` expressions — always interpreted.  The
    shape that actually compiles is two-level: a Project computing each
    output dim as its OWN d-term column (splitExpressions gives every
    column its own generated method, each far under the 64 KB method
    limit), then a posexplode over the k tiny attribute refs —
    CollapseProject does not merge a Project into a Generate's
    generator, so the split survives optimization and both nodes sit in
    one WholeStageCodegen stage.  Runtime compile (fallback disabled)
    asserted in test_plans.

    Driver-side shape (round 10): each dim column is ONE ``F.expr``
    over the unrolled SQL text, parsed JVM-side — building the same
    512-term tree through py4j Column algebra cost ~2,500 gateway
    round-trips ≈ 2.4 s of rows-independent plan-construction tax per
    invocation (measured: rep-2 at 200 rows was no faster than rep-2 at
    20k rows).  Bit-parity with the oracle's unrolled text is exact and
    now BY CONSTRUCTION: same literal text (repr + explicit exponent so
    both parsers type DOUBLE, never DECIMAL), same per-term FLOAT→fp64
    widening, same left-associated sum (" + ".join = the SQL parser's
    associativity).
    """

    def flit(v: float) -> str:
        s = repr(float(v))
        return s if "e" in s or "E" in s else s + "e0"

    def dim_col(comp) -> F.Column:
        terms = " + ".join(
            f"(element_at({vec_col}, {i + 1}) - {flit(m)}) * {flit(c)}"
            for i, (m, c) in enumerate(zip(mean, comp))
        )
        return F.expr(f"round({terms}, {decimals})")

    names = [f"_d{j}" for j in range(len(components))]
    per_dim = embeddings.select(
        F.col(id_col), *[dim_col(c).alias(n) for n, c in zip(names, components)]
    )
    return per_dim.select(
        F.col(id_col), F.posexplode(F.array(*names)).alias("dim_idx", "value")
    )


def pq_encode_np(
    embeddings: DataFrame,
    codebook: DataFrame,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """BLAS twin of :func:`pq_encode` for LARGE codebooks — same
    large-codebook cliff as cell assignment (see
    :func:`assign_nearest_cell_np`): the exact fold is interpreted
    Catalyst, costing O(m·ks·sub) interpreter steps per row, which
    dominates the pipeline once m·ks grows past ~100.  Here the
    ks×dim codebook collects to the driver (KBs), and each Arrow batch
    computes ALL subspace distance matrices as m batched matmuls +
    an argmin — identical codes except sub-1e-12 distance ties (the
    fold breaks ties by code order; so does argmin — divergence needs
    two centroids at EQUAL distance within float noise; test-asserted
    equal on real data).  Oracle-checked queries stay on the exact
    fold; this is the production encode path.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    sub = dim // m
    rows = codebook.orderBy("code").collect()
    C = np.array([r["cent"] for r in rows], dtype="float64")  # ks × dim
    subC = [C[:, j * sub : (j + 1) * sub] for j in range(m)]  # m × ks × sub
    sub_norms = [np.einsum("ij,ij->i", s, s) for s in subC]

    def _codes(vs):
        M = np.stack(vs.to_numpy()).astype("float64")
        out_codes = np.empty((len(M), m), dtype="int32")
        for j in range(m):
            X = M[:, j * sub : (j + 1) * sub]
            d2 = (
                np.einsum("ij,ij->i", X, X)[:, None]
                - 2.0 * (X @ subC[j].T)
                + sub_norms[j][None, :]
            )
            out_codes[:, j] = np.argmin(d2, axis=1)
        return pd.Series(list(out_codes))

    codes = pandas_udf(_codes, "array<int>")
    e = embeddings.select(
        F.col(id_col), as_double(vec_col).alias("_v"), *[F.col(c) for c in carry]
    ).withColumn("codes", codes(F.col("_v")))
    # reconstruction from codes via ONE broadcast codebook-array lookup
    cb_row = F.broadcast(
        codebook.agg(
            F.array_sort(F.collect_list(F.struct("code", "cent"))).alias("_cb")
        )
    )
    recon = F.concat(
        *[
            F.slice(
                F.element_at(F.col("_cb"), F.element_at(F.col("codes"), j + 1) + 1)[
                    "cent"
                ],
                j * sub + 1,
                sub,
            )
            for j in range(m)
        ]
    )
    return (
        e.crossJoin(cb_row)
        .select(
            F.col(id_col),
            "codes",
            recon.alias("recon"),
            *[F.col(c) for c in carry],
        )
    )


def lsh_multiprobe_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    dim: int,
    k: int = 5,
    num_planes: int = 8,
    n_flip: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Multi-probe sign-LSH top-k (Lv et al. 2007): instead of adding
    TABLES to recover recall (``lsh_bucket_topk_multi``: T independent
    plane sets, T× index memory), probe the SAME index at the query's
    base bucket PLUS the ``n_flip`` buckets reached by flipping the
    planes with the smallest |projection| — precisely the bits a true
    neighbour most likely disagrees on (sign flip probability per
    plane falls with margin).  Memory stays one table; candidate
    volume grows only ~(n_flip+1)× the base bucket.

    Shape: the candidate side is the single-table index (one bucket
    per row — probes multiply only the tiny QUERY side, exploded to
    n_flip+1 bucket keys before the same broadcast equi-join), so the
    100 TB cost profile is identical to single-probe with a slightly
    wider probe list.  Probe buckets are distinct by construction, so
    no pair dedup is needed.  Margin ordering breaks ties by plane
    index; projections are fixed-order folds, so the SQL oracle orders
    identically.
    """
    planes = random_planes(num_planes, dim, seed)
    c = (
        embeddings.select(
            F.col(id_col).alias("cand_id"), as_double(vec_col).alias("cvec")
        )
        .withColumn("bucket", hyperplane_bucket(F.col("cvec"), planes))
        .withColumn("cn", norm(F.col("cvec")))
    )
    projs = F.array(
        *[
            dot(F.col("qvec"), F.array(*[F.lit(float(x)) for x in p]))
            for p in planes
        ]
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), as_double(vec_col).alias("qvec")
        )
        .withColumn("qn", norm(F.col("qvec")))
        .withColumn("_pr", projs)
        .withColumn(
            "_bits",
            F.transform("_pr", lambda p: F.when(p >= 0, F.lit("1")).otherwise("0")),
        )
        .withColumn("_base", F.array_join("_bits", ""))
        .withColumn(
            # plane indices ordered by (|projection|, idx): the n_flip
            # most uncertain sign decisions
            "_flips",
            F.slice(
                F.array_sort(
                    F.zip_with(
                        "_pr",
                        F.sequence(F.lit(0), F.lit(num_planes - 1)),
                        lambda p, i: F.struct(F.abs(p).alias("a"), i.alias("i")),
                    )
                ).getField("i"),
                1,
                n_flip,
            ),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.concat(
                    F.array(F.col("_base")),
                    F.transform(
                        "_flips",
                        lambda fi: F.concat(
                            F.substring(F.col("_base"), F.lit(1), fi),
                            F.when(
                                F.substring(
                                    F.col("_base"), fi + 1, F.lit(1)
                                )
                                == "1",
                                F.lit("0"),
                            ).otherwise("1"),
                            F.substring(
                                F.col("_base"),
                                fi + 2,
                                F.lit(num_planes),
                            ),
                        ),
                    ),
                )
            ),
        )
        .select("query_id", "qvec", "qn", "bucket")
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))).alias(
                "_sim"
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", F.round("_sim", 6).alias("cosine_sim"), "rank")
    )


def binarize_embeddings(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    word_bits: int = 32,
) -> DataFrame:
    """Sign-binarize embeddings against per-dimension corpus means and
    pack the bits into ``ceil(dim/word_bits)`` BIGINT words — the binary
    embedding compaction behind Hamming-space ANN (Charikar 2002 SimHash
    applied to the raw coordinates; 32× smaller than float32 at dim=64·k).

    ``word_bits=32`` (not 64) keeps every shifted constant inside exact
    signed-int range in BOTH engines — no two's-complement edge at bit 63
    to reason about.  The mean row is a single broadcast 1-row aggregate
    (quantized to 6 dp so both engines threshold identically); the packing
    itself is ``dim`` codegen'd CASE terms — zero exchanges beyond the
    mean's own reduce.  Returns (id, bits array<long>).
    """
    n_words = (dim + word_bits - 1) // word_bits
    # the packing fold below is interpreted per row — spread a
    # single-file scan before it (no-op at scale)
    df = _parallelize(df)
    v = as_double(vec_col)
    # per-dimension means as ONE broadcast array row (64 per-column aggs
    # would also work, but the array keeps the downstream expression tree
    # tiny — the packing below is a handful of HOF nodes instead of
    # dim CASE terms, which matters for analysis/codegen time, not data)
    mu_row = df.agg(
        *[
            F.expr(f"round(avg(CAST({vec_col}[{i}] AS DOUBLE)), 6) AS _mu{i}")
            for i in range(dim)
        ]
    ).select(F.array(*[F.col(f"_mu{i}") for i in range(dim)]).alias("_mu"))
    base = df.select(F.col(id_col), v.alias("_v")).crossJoin(F.broadcast(mu_row))
    flags = F.zip_with(
        "_v", "_mu", lambda x, m: F.when(x > m, F.lit(1)).otherwise(F.lit(0)).cast("long")
    )
    # LSB-first pack: fold the REVERSED 32-flag slice with acc*2 + b, so
    # flag i lands on bit (i mod word_bits) — the same 1<<b weights the
    # oracle writes out explicitly
    words = [
        F.aggregate(
            F.reverse(F.slice(flags, j * word_bits + 1, min(word_bits, dim - j * word_bits))),
            F.lit(0).cast("long"),
            lambda acc, b: acc * 2 + b,
        )
        for j in range(n_words)
    ]
    return base.select(F.col(id_col), F.array(*words).alias("bits"))


def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    bits_col: str = "bits",
) -> DataFrame:
    """Exact top-k in Hamming space over bit-packed embeddings: distance =
    Σ_words ``bit_count(xor(c, q))`` — a handful of codegen'd integer ops
    per candidate, the reason binary embeddings are the 100 TB brute-force
    path (the full scan that is memory-bound at float32 becomes ALU-bound
    at 1 bit/dim).  Same plan shape as :func:`cosine_topk`: broadcast
    queries, one pass over the candidates, per-query k-heap; integer
    distances are association-free, so results are bit-reproducible.
    Returns (query_id, cand_id, hamming, rank).
    """
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(bits_col).alias("_qb"))
    )
    c = corpus.select(F.col(id_col).alias("cand_id"), F.col(bits_col).alias("_cb"))
    dist = F.aggregate(
        F.zip_with("_cb", "_qb", lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = W.partitionBy("query_id").orderBy(F.col("hamming").asc(), F.col("cand_id").asc())
    return (
        c.crossJoin(q)
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", dist.alias("hamming"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def mmr_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 15,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
    1998): greedily pick the candidate maximizing
    ``λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s)`` — relevance traded
    against redundancy with what's already picked, the standard diverse
    sample-selection step in training-data curation.

    Scale decomposition: the only corpus-sized work is the relevance pass
    (:func:`cosine_topk` — broadcast queries, one candidate scan) keeping a
    ``pool``-sized candidate set per query; candidate vectors ride out via
    one broadcast semi-join; pairwise candidate sims are |Q|·pool² tiny
    rows computed with the SAME JVM ``dot`` fold (quantized to 6 dp so the
    greedy's comparisons are engine-stable); the greedy itself is an
    ``applyInPandas`` over ≤pool·(pool−1) rows per query — bounded by the
    POOL parameter, never by data size.

    The greedy runs ENTIRELY in integers: rel/sim become micro-units
    (``round(x·1e6)``) and λ the weight pair ``(L, 1e6−L)`` with
    ``L = round(λ·1e6)``, so every score is the exact BIGINT
    ``L·rel_u − (1e6−L)·max_sim_u`` — no float multiply, no rounding
    step, no half-boundary for two engines to disagree on (λ·(a 6-dp
    value) lands exactly ON the 7th-decimal half boundary, where Spark's
    BigDecimal HALF_UP and a scaled-double round genuinely diverge;
    integers remove the boundary instead of arguing about it).
    ``mmr_score = score_u/1e12`` is one exact division, identical in both
    engines.  Ties break on lower cand_id.
    Returns (query_id, cand_id, mmr_score, rank).
    """
    import pandas as pd

    rel = cosine_topk(embeddings, queries, k=pool, id_col=id_col, vec_col=vec_col).select(
        "query_id", "cand_id", F.col("cosine_sim").alias("rel")
    )
    vecs = embeddings.select(
        F.col(id_col).alias("cand_id"), as_double(vec_col).alias("_v")
    ).withColumn("_n", norm(F.col("_v")))
    pool_vecs = vecs.join(F.broadcast(rel.select("query_id", "cand_id", "rel")), "cand_id")
    a = pool_vecs.select("query_id", F.col("cand_id").alias("c1"), F.col("rel").alias("rel1"),
                         F.col("_v").alias("v1"), F.col("_n").alias("n1"))
    b = pool_vecs.select("query_id", F.col("cand_id").alias("c2"),
                         F.col("_v").alias("v2"), F.col("_n").alias("n2"))
    pairs = (
        a.join(b, ["query_id"])
        .filter(F.col("c1") != F.col("c2"))
        .select(
            "query_id", "c1", "c2",
            F.round(dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")), 6).alias("sim"),
        )
    )
    # greedy input = the relevance pool LEFT-joined to the pairwise sims:
    # a query whose pool has exactly one candidate produces zero c1!=c2
    # pair rows, and must still emit that candidate at rank 1.
    pairs = a.select("query_id", "c1", "rel1").join(pairs, ["query_id", "c1"], "left")

    lam_u = int(round(lam * 1_000_000))
    one_minus_lam_u = 1_000_000 - lam_u

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf["query_id"].iloc[0]
        rel_of = {}
        sim_of = {}
        for c1, r1, c2, s in zip(pdf["c1"], pdf["rel1"], pdf["c2"], pdf["sim"]):
            rel_of[int(c1)] = int(round(float(r1) * 1_000_000))
            if pd.notna(c2):  # null when the pool is a single candidate
                sim_of[(int(c1), int(c2))] = int(round(float(s) * 1_000_000))
        selected: list[int] = []
        out = []
        remaining = set(rel_of)
        for rank in range(1, min(k, len(rel_of)) + 1):
            best = None
            for c in remaining:
                max_sim_u = max((sim_of[(c, s)] for s in selected), default=0)
                score_u = lam_u * rel_of[c] - one_minus_lam_u * max_sim_u
                cand = (score_u, -c)
                if best is None or cand > best[0]:
                    best = (cand, c, score_u)
            _, c, score_u = best
            selected.append(c)
            remaining.discard(c)
            out.append((qid, c, score_u / 1e12, rank))
        return pd.DataFrame(out, columns=["query_id", "cand_id", "mmr_score", "rank"])

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("cand_id", T.LongType()),
            T.StructField("mmr_score", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    return pairs.groupBy("query_id").applyInPandas(_greedy, schema=out_schema)


def sq8_stats(df: DataFrame, dim: int, vec_col: str = "embedding") -> DataFrame:
    """One-row per-dimension (lo, step) calibration for 8-bit scalar
    quantization: ``lo_i = min x_i``, ``step_i = (max x_i − lo_i)/255``
    (floored at 1e-12 so constant dimensions quantize to code 0 instead of
    dividing by zero).  A single partial-aggregated reduce — broadcast
    wherever codes are made or read."""
    # one F.expr per aggregate: the same plan as chained Column ops with
    # ~8x fewer py4j round-trips at plan-build time (2·dim aggregates)
    aggs = []
    for i in range(dim):
        aggs.append(F.expr(f"min(CAST({vec_col}[{i}] AS DOUBLE)) AS _lo{i}"))
        aggs.append(F.expr(f"max(CAST({vec_col}[{i}] AS DOUBLE)) AS _hi{i}"))
    return df.agg(*aggs)


def _sq8_cal_row(st: DataFrame, dim: int) -> DataFrame:
    """Collapse the (lo, hi) column pairs into one broadcast array of
    (lo, step) structs — keeps every downstream quantize/dequantize a
    single zip_with instead of dim per-column expressions."""
    terms = ", ".join(
        f"struct(_lo{i} AS lo, greatest((_hi{i} - _lo{i}) / 255.0, 1e-12) AS step)"
        for i in range(dim)
    )
    return st.select(F.expr(f"array({terms}) AS _cal"))


def sq8_quantize(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stats: DataFrame | None = None,
) -> DataFrame:
    """8-bit scalar quantization of an embedding column: per dimension
    ``code_i = round((x_i − lo_i)/step_i)`` ∈ 0..255 — 4× smaller than
    float32 (8× vs double) with the calibration riding in as ONE broadcast
    row.  Codes are exact integers, so downstream arithmetic is
    association-free.  Returns (id, codes array<int>)."""
    st = stats if stats is not None else sq8_stats(df, dim, vec_col)
    cal = _sq8_cal_row(st, dim)
    base = df.select(F.col(id_col), as_double(vec_col).alias("_v")).crossJoin(F.broadcast(cal))
    codes = F.zip_with(
        "_v", "_cal", lambda x, c: F.round((x - c["lo"]) / c["step"], 0).cast("int")
    )
    return base.select(F.col(id_col), codes.alias("codes"))


def sq8_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric top-k over 8-bit scalar-quantized candidates: queries
    stay float, candidates are dequantized ``lo_i + step_i·code_i`` and
    scored with the same JVM dot fold as :func:`cosine_topk` (inner
    product; candidates dequantize ONCE, not per query).  This is the
    storage/shuffle-compression path — at 100 TB the candidate side moves
    4× fewer bytes through every scan and exchange; the algebraic
    rearrangement ``Σ qᵢ·loᵢ + Σ (qᵢ·stepᵢ)·codeᵢ`` (classic ADC) gives
    the identical result with integer multiplies when even the dequantize
    is too hot.  Returns (query_id, cand_id, score, rank) with the same
    (score DESC, cand_id) determinism as the exact operator."""
    embeddings = _parallelize(embeddings)  # quantize/dequantize folds are interpreted
    st = sq8_stats(embeddings, dim, vec_col)
    codes = sq8_quantize(embeddings, dim, id_col, vec_col, stats=st)
    cal = _sq8_cal_row(st, dim)
    recon = F.zip_with("codes", "_cal", lambda c, s: s["lo"] + s["step"] * c)
    cands = (
        codes.crossJoin(F.broadcast(cal))
        .select(F.col(id_col).alias("cand_id"), recon.alias("_recon"))
    )
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("_qv"))
    )
    scored = (
        cands.crossJoin(q)
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", dot(F.col("_qv"), F.col("_recon")).alias("_s"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("_s").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", F.round("_s", 6).alias("score"), "rank")
    )


# ---------------------------------------------------------------------------
# persisted ANN index: build once, probe many (the repeated-query shape)
# ---------------------------------------------------------------------------

def _sidecar_table(spark, path: str) -> DataFrame:
    """The memoized lazy plan over an index sidecar (``cells``,
    ``codebook``); only :func:`ivf_index_write` rewrites them."""
    return memo(spark, (path, "sidecar"), lambda: spark.read.parquet(path))


def ivf_index_write(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 16,
    m: int = 4,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVFADC index as a cell-partitioned Parquet table —
    the build-once/probe-many production shape that :func:`ivfpq_topk`
    (which re-derives everything per query batch) cannot give you.

    Layout: ``path/index`` holds ONLY ``(cand_id, codes)`` partitioned
    by ``cell_id`` — m small ints per vector (~2 B at m=4, ks=16), the
    actual ~250x PQ compression; raw vectors are NOT copied into the
    index (storing reconstructions would undo the compression the codes
    exist to provide).  ``path/cells`` and ``path/codebook`` are the
    k-row sidecars a probe needs to pick cells and dequantize codes.

    Scale shape: ONE corpus pass computes cell id and codes together
    (the :func:`ivfpq_topk` fused fold); the single exchange is the
    repartition on ``cell_id`` so each task writes whole cell
    directories — file count stays O(cells), never O(tasks x cells).
    At 100 TB the index build is a bounded maintenance job, and every
    later probe reads ~n_probe/n_cells of the CODES, not of the corpus.
    """
    from concurrent.futures import ThreadPoolExecutor

    forget(path)  # and again after the write (see _util.memo)
    cents = hash_sampled_cells(embeddings, n_cells, id_col, vec_col)
    cb = pq_codebook(embeddings, ks, id_col, vec_col)
    enc = _assign_and_encode(embeddings, cents, cb, m, dim, id_col, vec_col, ks=ks)

    # The three outputs are independent — overlap their jobs (guide
    # §2.6) so the tiny sidecar writes back-fill the index write's task
    # tail instead of running as two extra sequential commit rounds.
    def _write_index():
        (
            enc.select("cand_id", "codes", "cell_id")
            .repartition("cell_id")
            .write.mode("overwrite")
            .partitionBy("cell_id")
            .parquet(path + "/index")
        )

    def _write_cells():
        cents.write.mode("overwrite").parquet(path + "/cells")

    def _write_codebook():
        cb.write.mode("overwrite").parquet(path + "/codebook")

    try:
        with ThreadPoolExecutor(max_workers=3) as pool:
            futures = [
                pool.submit(f) for f in (_write_index, _write_cells, _write_codebook)
            ]
            for fut in futures:
                fut.result()
    finally:
        forget(path)


def ivf_index_probe(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted :func:`ivf_index_write` index: top-k per query
    by ADC distance, reading ONLY the probed cells' partitions.

    Result-identical to :func:`ivfpq_topk` on the same parameters (same
    quantizers, same float-op order, same tie rule) — the persisted
    layout must never change answers, so the ivfpq oracle applies
    verbatim.

    Scale shape: probe cells per query come from the k-row ``cells``
    sidecar (broadcast + rank window — query-side work only); the
    distinct probed cell ids (bounded by n_cells, a few dozen ints) are
    collected to the driver ONCE to become a partition-pruning literal
    — the same driver-side file-skipping decision Delta/Iceberg make
    from stats, and the collect is O(n_cells), never O(rows).  The
    index scan then opens ~n_probe/n_cells of the partitions
    (PartitionFilters, plan-asserted in tests/test_plans.py), each row
    m small ints; dequantization to ADC reconstructions happens at
    probe time from the ONE broadcast codebook row — the index itself
    stays 250x compressed at rest.
    """
    sub = dim // m
    cents = _sidecar_table(spark, path + "/cells")
    cb = _sidecar_table(spark, path + "/codebook")

    q_probes = _probe_cells(queries, cents, n_probe, id_col, vec_col)
    probed = sorted(
        r["cell_id"] for r in q_probes.select("cell_id").distinct().collect()
    )

    # codebook as one broadcast array row ordered by code, so a row's
    # reconstruction is m dynamic element_at lookups + slice/concat —
    # exactly pq_encode's recon values, rebuilt from codes at probe time
    cb_row = F.broadcast(
        # array_sort on the (code, cent) struct, NOT orderBy+collect_list:
        # collect_list order is not guaranteed across partitions/AQE (the
        # pq_encode_np discipline) and element i must be centroid code i
        cb.agg(
            F.array_sort(F.collect_list(F.struct("code", "cent")))
            .getField("cent")
            .alias("_cbarr")
        )
    )
    idx = (
        spark.read.parquet(path + "/index")
        .filter(F.col("cell_id").isin(probed))
        .crossJoin(cb_row)
    )
    recon = F.concat(
        *[
            F.slice(
                F.element_at(F.col("_cbarr"), F.col("codes")[j] + F.lit(1)),
                j * sub + 1,
                sub,
            )
            for j in range(m)
        ]
    )
    scored = (
        idx.withColumn("recon", recon)
        .join(F.broadcast(q_probes), "cell_id")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(_d2(F.col("qvec"), F.col("recon")), 6).alias("approx_d2"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("approx_d2").asc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "approx_d2", "rank")
    )


# Maintenance machinery (lease, epoch append, crash-safe compaction,
# vacuum) was built here for the IVF index (VERDICT r6 #8, r7 hardening)
# and factored into operators/index_maintenance.py in round 9 so the
# MaxSim inverted index shares the exact same — already-tested —
# lifecycle.  The original names stay importable from this module.
from .index_maintenance import (  # noqa: E402
    MAINTENANCE_LEASE_TTL_SEC,
    MaintenanceLeaseHeld,
    compact_partitioned as _compact_partitioned,
    epoch_append as _epoch_append,
    leased as _leased,
    maintenance_lease as _maintenance_lease,
    recover_compact as _recover_compact_generic,
    vacuum_index as _vacuum_index,
)


def _recover_compact(idx: str) -> None:
    """Self-heal a crashed IVF compaction swap (see
    :func:`index_maintenance.recover_compact`)."""
    _recover_compact_generic(idx, "cell_id")


@_leased(1)
def ivf_index_append(
    spark,
    path: str,
    new_embeddings: DataFrame,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    epoch_id: int | None = None,
) -> None:
    """Incremental maintenance for an :func:`ivf_index_write` index: the
    daily-crawl shape — encode ONLY the new batch and append its rows to
    the cell-partitioned table.  Existing index rows are never read or
    rewritten; work is O(batch), independent of corpus size (the
    :func:`neardup_incremental` discipline applied to the vector side).

    The quantizers are PINNED: cell centroids and PQ codebook come from
    the index's sidecars, not re-derived from base+batch — re-deriving
    would silently re-key every existing row's cell and codes, i.e.
    corrupt the index while looking like a refresh.  Codebook drift
    under distribution shift is a rebuild decision (per cell, cells
    being the rebuild unit), never an append side effect.

    With ``epoch_id`` set the append is IDEMPOTENT (the
    :meth:`TimeSeriesStore.ingest_epoch` discipline): the batch stages
    to a temp dir, any files of a previous attempt of the same epoch
    are deleted, then the staged files move into the cell directories
    under an ``epoch{id}-`` name prefix — so a streaming foreachBatch
    replay of the same micro-batch converges to exactly one copy at any
    crash point.  Cost vs the blind append: identical distributed work
    plus O(touched cells) driver-side renames.
    """
    cents = _sidecar_table(spark, path + "/cells")
    cb = _sidecar_table(spark, path + "/codebook")
    enc = _assign_and_encode(
        new_embeddings, cents, cb, m, dim, id_col, vec_col
    ).select("cand_id", "codes", "cell_id")
    _epoch_append(enc, path, "cell_id", epoch_id)


@_leased(1)
def ivf_index_compact(
    spark, path: str, committed_through: int | None = None
) -> None:
    """Compaction for a persisted ANN index: rewrite the cell partitions
    into one large sorted file per cell — the maintenance op that keeps
    probe cost bounded after many epoch appends (each streaming
    micro-batch adds a file per touched cell; probe cost grows with
    FILE COUNT in the probed cells, not with index bytes).

    Two safety contracts beyond the basic rewrite-and-swap:

    * **Crash-safe swap.**  Each cell's old directory is MOVED ASIDE
      (``.compact-old-…``, a dot-dir Spark never reads) before the new
      one moves in, and the asides are deleted only after every swap
      completes; a crash at any point leaves all data recoverable, and
      :func:`_recover_compact` (run on the next compact or vacuum)
      restores any cell whose swap was interrupted.  Nothing is ever
      rmtree'd while it is the only copy.

    * **Replay-aware.**  ``committed_through`` is the last epoch id the
      streaming checkpoint has COMMITTED (see
      :func:`streaming.ingest.last_committed_epoch`).  Files of epochs
      beyond it keep their ``epoch{id}-`` names and are left in place,
      because :func:`ivf_index_append`'s exactly-once replay contract
      depends on finding and deleting them; absorbing an uncommitted
      epoch into anonymous compacted files would turn the replay into a
      duplication.  ``committed_through=None`` absorbs everything — only
      safe when no stream is writing (e.g. stopped after a clean
      commit).

    Rows sort by ``cand_id`` inside each cell so footer min/max stats
    stay tight; result-invisible to probes (same rows, same cells) —
    asserted in tests by probe identity before/after.
    """
    _compact_partitioned(
        spark, path, "cell_id", ["cell_id", "cand_id"], committed_through
    )


@_leased(0)
def ivf_index_vacuum(path: str) -> int:
    """Remove crashed staging state from a persisted ANN index: an
    epoch append or compaction that died mid-write leaves its
    ``index-epoch-<id>-tmp`` / ``index-compact-tmp`` sibling behind.
    Before sweeping, :func:`_recover_compact` restores any cell whose
    compaction swap was interrupted (its data lives in a
    ``.compact-old-…`` move-aside, never only in the tmp dir) — so the
    sweep removes staging copies, never the last copy of anything.
    Partially-moved epoch files INSIDE the index need no GC either: the
    next replay of that epoch deletes its own ``epoch{id}-`` prefix
    before re-moving (see :func:`ivf_index_append`).  Run from the
    maintenance owner — not concurrently with an active append/compact
    (the :meth:`TimeSeriesStore.vacuum` assumption).  O(1) directory
    checks, zero data read; returns the number of staging dirs
    removed."""
    return _vacuum_index(path, "cell_id")


def diverse_sample(
    embeddings: DataFrame,
    cells: DataFrame,
    per_cell: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "fold",
) -> DataFrame:
    """Diversity-aware coreset subsampling: stratify the corpus over the
    embedding space (nearest pinned cell, the :func:`semantic_dedup`
    serving codebook) and keep at most ``per_cell`` rows per cell in
    deterministic ``md5(id)`` order.  Uniform subsampling erases rare
    modes — a cell holding 0.1% of the corpus keeps ~0.1% of the quota;
    cluster-stratified selection keeps ``per_cell`` representatives of
    EVERY occupied region, the scalable stand-in for k-center greedy
    (which is inherently sequential: each pick depends on all prior
    picks; cell quotas give the same coverage guarantee at the cell
    granularity with zero sequential state).

    Scale shape: assignment is the shared broadcast-argmax fold
    (:func:`assign_nearest_cell` — zero exchanges, rides the scan);
    the quota is one cell-keyed ``row_number`` window — ONE exchange
    total, output ≤ k·per_cell rows.  Hash order makes the pick
    reproducible and unbiased within a cell (id order would bias toward
    old rows; the hash is the same trick as `deterministic_sample`).

    Pathological-cell guard: because the ``pick <= per_cell`` filter
    sits DIRECTLY on the row_number, Catalyst's InferWindowGroupLimit
    (Spark 3.5+) inserts a PARTIAL map-side WindowGroupLimit before the
    cell-keyed exchange — each map partition forwards at most per_cell
    rows per cell, so even a corpus that collapses into ONE cell
    shuffles ≤ per_cell·n_map_partitions rows, never the corpus
    (answer-invariant: a row outside its partition's per-cell top-k
    cannot be in the global top-k).  Do NOT refactor the filter away
    from the window — the inference, pinned in test_plans, depends on
    the adjacency.

    Returns (id_col, cell_id, pick) with pick ∈ 1..per_cell.

    ``assign="numpy"`` swaps the fold for the BLAS pandas_udf
    (:func:`assign_nearest_cell_np`) — the production path for trained
    codebooks past k≈32, where the interpreted fold dominates; keep the
    default fold for hash-gated oracle parity (small codebooks).
    """
    from pyspark.sql import Window as W

    e = embeddings.select(
        F.col(id_col).alias("id"), as_double(vec_col).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    if assign == "numpy":
        a = assign_nearest_cell_np(e, cells, "v")
    else:
        a = assign_nearest_cell(e, cells, F.col("v"), F.col("nrm"))
    w = W.partitionBy("cell_id").orderBy(
        F.md5(F.col("id").cast("string")).asc(), F.col("id").asc()
    )
    return (
        a.withColumn("pick", F.row_number().over(w))
        .where(F.col("pick") <= per_cell)
        .select(F.col("id").alias(id_col), "cell_id", "pick")
    )


def embedding_drift(
    ref: DataFrame,
    cur: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space drift between two corpus snapshots, per group —
    the representation-level companion of the value-level monitors
    (psi_drift / ks_drift watch scalar columns; a re-embedded corpus or
    an upstream encoder change moves the VECTORS while every scalar
    stays calm).  Per group: cosine between the two per-dim centroid
    vectors (1.0 = no directional drift) and the centroid norm ratio
    (magnitude drift), plus both counts.

    Determinism discipline: per-dim means are rounded 6 dp FIRST (the
    grouped float-sum boundary), then the cross-dim reductions run as
    left-to-right folds over dim-sorted arrays — identical evaluation
    order on both engines, so cosine/norm agree bit-for-bit after their
    own 6-dp round.

    Scale shape: ONE exchange keyed on (group, dim) collapses both
    snapshots to the centroid table (groups × dims rows — corpus-size
    independent); everything after is centroid-table-sized.  Raw
    vectors are never joined or sorted.
    """
    tagged = ref.select(
        F.col(group_col).alias("_g"), as_double(vec_col).alias("_v"), F.lit(1).alias("_r")
    ).unionByName(
        cur.select(
            F.col(group_col).alias("_g"), as_double(vec_col).alias("_v"), F.lit(0).alias("_r")
        )
    ).where(F.col("_g").isNotNull() & F.col("_v").isNotNull())
    per_dim = (
        tagged.select("_g", "_r", F.posexplode("_v").alias("_d", "_x"))
        .groupBy("_g", "_d")
        .agg(
            F.round(F.avg(F.when(F.col("_r") == 1, F.col("_x"))), 6).alias("_mr"),
            F.round(F.avg(F.when(F.col("_r") == 0, F.col("_x"))), 6).alias("_mc"),
            F.sum(F.when(F.col("_r") == 1, 1).otherwise(0)).alias("_nr"),
            F.sum(F.when(F.col("_r") == 0, 1).otherwise(0)).alias("_nc"),
        )
    )
    folded = per_dim.groupBy("_g").agg(
        F.array_sort(F.collect_list(F.struct("_d", "_mr", "_mc"))).alias("_a"),
        F.max("_nr").cast("long").alias("n_ref"),
        F.max("_nc").cast("long").alias("n_cur"),
    )
    dot_rc = F.aggregate(
        "_a", F.lit(0.0), lambda acc, s: acc + s["_mr"] * s["_mc"]
    )
    nrm_r = F.sqrt(
        F.aggregate("_a", F.lit(0.0), lambda acc, s: acc + s["_mr"] * s["_mr"])
    )
    nrm_c = F.sqrt(
        F.aggregate("_a", F.lit(0.0), lambda acc, s: acc + s["_mc"] * s["_mc"])
    )
    return folded.select(
        F.col("_g").alias(group_col),
        "n_ref",
        "n_cur",
        F.when(
            (nrm_r > 0) & (nrm_c > 0), F.round(dot_rc / (nrm_r * nrm_c), 6)
        ).alias("centroid_cosine"),
        F.when(nrm_r > 0, F.round(nrm_c / nrm_r, 6)).alias("norm_ratio"),
    )


def ranking_eval(
    truth: DataFrame,
    cand: DataFrame,
    query_col: str = "query_id",
    doc_col: str = "cand_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Rank-aware retrieval quality of a candidate ranking against a
    ground-truth ranking (Järvelin & Kekäläinen 2002 for NDCG) — the
    eval harness a retrieval stack runs whenever an index, quantizer,
    or fusion rule changes: recall@k says WHETHER the truth came back,
    MRR says how high the FIRST hit landed, NDCG@k says how well the
    WHOLE list is ordered (graded by binary truth membership).

    Per query (truth side drives, so queries the candidate ranking
    missed entirely still appear):

        recall = |truth ∩ cand| / |truth|
        mrr    = 1 / min candidate rank among hits     (0 if no hit)
        dcg    = Σ_hits 1 / log2(cand_rank + 1)
        idcg   = Σ_truth 1 / log2(truth_rank + 1)      (ideal: all hit,
                                                        truth order)
        ndcg   = dcg / idcg

    rounded 6 dp.  Both inputs are (query, doc, rank) tables with
    deterministic ranks (row_number with doc-id tiebreak, the
    cosine_topk contract).

    Scale shape: ONE equi-join on (query, doc) — both sides are
    top-k-sized (n_queries × k rows), never corpus-sized; the per-query
    reduce groups k-row groups.  Everything here is downstream of the
    rankers being evaluated; the eval itself adds no corpus scan.
    """
    t = truth.select(
        F.col(query_col).alias("_q"),
        F.col(doc_col).alias("_d"),
        F.col(rank_col).alias("_tr"),
    )
    c = cand.select(
        F.col(query_col).alias("_q"),
        F.col(doc_col).alias("_d"),
        F.col(rank_col).alias("_cr"),
    )
    j = t.join(c, ["_q", "_d"], "left")
    return (
        j.groupBy("_q")
        .agg(
            F.count("*").alias("k"),
            F.count("_cr").alias("hits"),
            F.round(F.count("_cr") / F.count("*"), 6).alias("recall"),
            F.coalesce(F.round(F.lit(1.0) / F.min("_cr"), 6), F.lit(0.0)).alias("mrr"),
            F.round(
                F.sum(
                    F.when(
                        F.col("_cr").isNotNull(),
                        F.lit(1.0) / F.log2(F.col("_cr") + F.lit(1)),
                    ).otherwise(F.lit(0.0))
                )
                / F.sum(F.lit(1.0) / F.log2(F.col("_tr") + F.lit(1))),
                6,
            ).alias("ndcg"),
        )
        .select(F.col("_q").alias(query_col), "k", "hits", "recall", "mrr", "ndcg")
    )
