"""Iterative graph analytics over candidate-pair edge lists.

The dedup pipeline already produces an undirected document graph (LSH
candidate pairs -> connected components in ``dedup.dedup_clusters``).
PageRank over the same edges answers the question components cannot:
WHICH member of a near-dup cluster is canonical.  Picking the
highest-centrality member (instead of min-id) keeps the version most
connected to the rest of the cluster — the template everything else was
derived from — which is the standard curation heuristic for boilerplate
families.

Scale shape: ``pagerank`` builds its edge table once (checkpointed,
hashed on the source) and then runs one equi-join + one grouped sum per
iteration, never materializing anything wider than (id, rank); its
iteration count is FIXED, with no driver-side convergence test, and at
100 TB each iteration shuffles |edges| rows of two numeric columns.
``k_core`` instead stops at its fixpoint, for one count per round.
Both end each checkpoint in a count they need anyway.  Under adaptive
query execution ``localCheckpoint(eager=False)`` is not free: building
the checkpoint's RDD already runs the plan's shuffle stages as Spark
jobs, and only the final stage waits for an action.

Determinism: ranks are rounded to 9 dp after every iteration (absorbing
grouped-float-sum ordering noise, the kmeans-oracle discipline) and the
damping terms are written symbolically (``1e0 - 0.85e0``) on both
engines so constant folding yields bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import _warn_cap


def pagerank(
    pairs: DataFrame,
    damping: float = 0.85,
    iters: int = 5,
    src_col: str = "id1",
    dst_col: str = "id2",
) -> DataFrame:
    """PageRank (Page et al. 1999) over an undirected pair list.

    ``pairs`` rows are undirected edges (the LSH candidate-pair
    contract: id1 < id2, distinct); both directions are materialized, so
    every node has out-degree >= 1 and the dangling-mass correction
    vanishes.  Returns (id, pagerank) with rank rounded to 6 dp.

    Uniform init 1/N; per iteration
    ``rank' = (1-d)/N + d * sum_in(rank/outdeg)``, rank rounded to 9 dp.
    The mirrored edge table is built once: each edge carries its
    source's ``outdeg``, the table is hashed on ``src`` and checkpointed
    by the one job that counts N, so every iteration is one join on
    ``src`` plus one grouped sum.  No node table rides along: the
    mirrored edges give every node an in-edge, so the grouped sum
    already lists every node.
    """
    edges = (
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .distinct()
    )
    edges = (
        edges.join(edges.groupBy("src").agg(F.count("*").alias("outdeg")), "src")
        .repartition("src")
        .localCheckpoint(eager=False)  # materialized by the count of N
    )
    nodes = edges.select(F.col("src").alias("id")).distinct()
    n = F.lit(nodes.count())
    d = F.lit(damping)
    ranks = nodes.select("id", F.round(F.lit(1.0) / n, 9).alias("rank"))
    for _ in range(iters):
        summed = (
            edges.join(ranks.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("s"))
        )
        # no per-iteration checkpoint: each rank table is consumed by
        # exactly ONE downstream join (a pure chain), so lineage depth is
        # linear in the fixed iteration count and nothing is recomputed
        ranks = summed.select(
            "id", F.round((F.lit(1.0) - d) / n + d * F.col("s"), 9).alias("rank")
        )
    return ranks.select("id", F.round("rank", 6).alias("pagerank"))


def triangle_count(
    pairs: DataFrame,
    src_col: str = "id1",
    dst_col: str = "id2",
) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over an
    undirected pair list (the LSH candidate-pair contract: id1 < id2,
    distinct).  Triangle density separates TIGHT template families
    (every member near-dups every other — safe to keep one canonical
    doc) from loose chains of pairwise matches that connected
    components glue together but that are NOT mutually similar — the
    classic over-merge failure of CC-based dedup.

    Scale shape (Schank & Wagner 2005 degree ordering): every edge is
    oriented from its lower-(degree, id) endpoint to the higher one,
    so out-degree is bounded by sqrt(2|E|) regardless of skew; wedges
    are generated per oriented source (sum of outdeg^2, the theoretical
    minimum for exact counting) and closed with ONE equi-join back
    against the oriented edge list.  A hub with degree d contributes
    d^2 wedges to a naive corner-join but only O(|E|) here because the
    hub sorts LAST in the order and receives edges instead of fanning
    them out.  All joins are equi-joins on (node) or (node, node) keys
    — no cross product at any step.

    Returns (id, degree, triangles, lcc) for every node in the pair
    list; lcc = 2*tri / (deg*(deg-1)), 0.0 for degree-1 nodes, rounded
    6 dp (grouped-sum-order-proof: counts are exact integers, the only
    float op is one division).
    """
    edges = (
        pairs.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .union(pairs.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .distinct()
        # cut HERE, not only on deg/oriented: those two lazy checkpoints
        # convert separate physical plans, so without this cut each one
        # replays the whole upstream pair pipeline (measured: the minhash
        # stage ran twice per triangle_count run)
        .localCheckpoint(eager=False)
    )
    deg = edges.groupBy("a").agg(F.count("*").alias("deg")).localCheckpoint(
        eager=False  # lineage cut only; materialized by the final action
    )

    # Orient each undirected edge from lower (deg, id) to higher — a
    # total order, so exactly one direction survives per edge.
    da = deg.select(F.col("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("a").alias("b"), F.col("deg").alias("deg_b"))
    lower = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        edges.join(da, "a")
        .join(db, "b")
        .where(lower)
        .select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            F.col("deg_b").alias("ord_v"),
        )
        # reused by the wedge self-join AND the closure probe; eager=False
        # defers the materialization into the final action's job
        .localCheckpoint(eager=False)
    )

    # Wedges at u: unordered out-neighbor pairs (v, w), ordered by the
    # same (deg, id) key so the closing edge, if present, is oriented
    # v -> w.  Closure = one equi-join on the composite key.
    o1 = oriented.select("u", F.col("v"), F.col("ord_v"))
    o2 = oriented.select(
        F.col("u"), F.col("v").alias("w"), F.col("ord_v").alias("ord_w")
    )
    wedge_ord = (F.col("ord_v") < F.col("ord_w")) | (
        (F.col("ord_v") == F.col("ord_w")) & (F.col("v") < F.col("w"))
    )
    wedges = o1.join(o2, "u").where(wedge_ord).select("u", "v", "w")
    closing = oriented.select(F.col("u").alias("v"), F.col("v").alias("w"))
    triangles = wedges.join(closing, ["v", "w"]).select("u", "v", "w")

    # Redistribute each closed triangle to all three corners.
    corners = triangles.select(
        F.explode(F.array("u", "v", "w")).alias("id")
    ).groupBy("id").agg(F.count("*").alias("triangles"))

    out = (
        deg.select(F.col("a").alias("id"), "deg")
        .join(corners, "id", "left")
        .select(
            "id",
            F.col("deg").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0)).cast("bigint").alias("triangles"),
            F.when(
                F.col("deg") >= 2,
                F.round(
                    2.0
                    * F.coalesce(F.col("triangles"), F.lit(0))
                    / (F.col("deg") * (F.col("deg") - F.lit(1))),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )
    return out


def label_propagation(
    pairs: DataFrame,
    iters: int = 3,
    src_col: str = "id1",
    dst_col: str = "id2",
) -> DataFrame:
    """Synchronous label propagation (Raghavan 2007) over an undirected
    pair list: each node adopts the most frequent label among its
    neighbors PLUS its own current label (one self-vote), ties to the
    SMALLEST label — with init label = id and a fixed iteration count,
    the whole run is deterministic and declaratively replayable (no
    async sweep order).  The self-vote is the standard damping that
    stops synchronous LPA's label oscillation on bipartite structures
    (an isolated pair swaps labels forever without it).

    Where connected components (``dedup.dedup_clusters``) glue any
    pairwise chain together, LPA's majority rule keeps densely-linked
    template families while letting weakly-bridged clumps keep distinct
    communities — the finer-grained view the triangle census motivates.

    Scale shape mirrors ``pagerank``: per iteration ONE edge-keyed
    equi-join delivering (dst, label) messages + one grouped count +
    one dst-keyed argmax window, nothing wider than (id, label) ever
    shuffles, and each round ends in a ``localCheckpoint`` lineage cut.
    The argmax window partitions on dst, so hub nodes cost their
    in-degree, never a global sort.
    """
    edges = (
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)  # lineage cut; materialized in-job
    )
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    from pyspark.sql import Window as W

    for i in range(iters):
        if i == 0:
            # round 1's join against identity labels is a no-op (the
            # dedup_clusters r13 fold): with label(id)=id the delivered
            # multiset IS the mirrored edge list — one edge-cardinality
            # join dropped
            delivered = edges.select(F.col("dst").alias("id"), F.col("src").alias("label"))
        else:
            delivered = edges.join(
                labels.withColumnRenamed("id", "src"), "src"
            ).select(F.col("dst").alias("id"), "label")
        msgs = delivered.unionAll(labels)  # the self-vote
        counts = msgs.groupBy("id", "label").agg(F.count("*").alias("c"))
        w = W.partitionBy("id").orderBy(F.col("c").desc(), F.col("label").asc())
        labels = (
            counts.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("id", "label")
            .localCheckpoint(eager=False)  # lineage cut; materialized in-job
        )
    return labels.select("id", F.col("label").alias("community"))


def adamic_adar(
    pairs: DataFrame,
    k: int = 100,
    max_center_degree: int | None = None,
    src_col: str = "id1",
    dst_col: str = "id2",
) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003) over an
    undirected pair list: for every NON-edge (v, w) sharing at least one
    neighbor, score = sum over common neighbors u of 1/ln(deg(u)) —
    rare shared neighbors are strong evidence, hub co-membership is
    weak.  On the LSH candidate graph this recovers near-dup pairs the
    banding missed: two docs that each collide with the same third doc
    but never with each other.

    Scale shape: wedge enumeration at each center u costs deg(u)² — the
    honest quadratic of ALL common-neighbor methods — so
    ``max_center_degree`` (when set) drops super-hub CENTERS from
    evidence entirely, the standard production cap; dropping a hub
    center only removes its (weak, 1/ln(deg)) contributions.  Every
    join is an equi-join (center key, then the canonical (v, w) key for
    the known-edge anti-join); a center's wedges never leave its
    partition before the grouped sum.  deg(u) >= 2 for any wedge
    center, so 1/ln(deg) is always finite.

    Returns the top-``k`` non-edges by (aa_score DESC, v, w) with the
    common-neighbor count, score rounded 6 dp.
    """
    # cut the INPUT pair pipeline once: it feeds both union branches AND
    # the known-edge anti-join below — three replays of an expensive
    # upstream (e.g. the co-activity window derivation) without the cut
    pairs = pairs.localCheckpoint(eager=False)
    edges = (
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)  # lineage cut; materialized in-job
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    centers = deg if max_center_degree is None else deg.where(
        F.col("deg") <= F.lit(max_center_degree)
    )
    # The center prune must land BEFORE wedge enumeration (not as a
    # post-join filter Catalyst may or may not reorder): kept is the
    # capped center's adjacency, so the self-join fans out at most
    # cap² wedges per center by construction.
    kept = edges.join(
        centers.select("src", "deg"), "src"
    ).select(F.col("src").alias("u"), F.col("dst").alias("v"), "deg")
    # r12 opt note: pinning this self-join's width (repartition(N, "u"),
    # also at 2× the session width) was implemented and MEASURED NEUTRAL
    # (3.32 vs 3.25 s min-of-4 at sf0.1) — the wedge term is honest
    # Σdeg² work, confirming the r11 anatomy probe; left unpinned.
    e1 = kept.select("u", "v", "deg")
    e2 = kept.select("u", F.col("v").alias("w"))
    wedges = e1.join(e2, "u").where(F.col("v") < F.col("w"))
    scored = wedges.groupBy("v", "w").agg(
        F.round(F.sum(F.lit(1.0) / F.log(F.col("deg"))), 6).alias("aa_score"),
        F.count("*").alias("common_neighbors"),
    )
    # canonicalize to (least, greatest): scored pairs are canonical
    # (v < w), so an input edge given as (big, small) must still be
    # suppressed — matching the symmetrization tolerance of the other
    # graph ops (ADVICE r10)
    known = pairs.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("v"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("w"),
    )
    return (
        scored.join(known, ["v", "w"], "left_anti")
        .orderBy(F.col("aa_score").desc(), "v", "w")
        .limit(k)
    )


def k_core(
    pairs: DataFrame,
    k: int = 2,
    rounds: int = 8,
    src_col: str = "id1",
    dst_col: str = "id2",
) -> DataFrame:
    """k-core decomposition at a FIXED k (Seidman 1983 "Network
    structure and minimum degree"): iteratively peel nodes of degree
    < k until fixpoint; the survivors are the maximal subgraph where
    every node keeps >= k neighbors INSIDE the subgraph.  On the LSH
    near-dup graph the 2-core separates genuinely clustered template
    families from the dangling one-off pairs that connected components
    and even triangle counts over-credit (a chain has edges but no
    core); higher k is the standard graph-sparsification pre-filter.

    Synchronous peeling that stops at its fixpoint: peeling only
    removes edges, so a round that leaves the edge count unchanged
    changed nothing, and every later round would be a no-op too.  The
    answer therefore equals the SQL oracle's ``rounds`` unrolled rounds
    (all-integer states; no float noise anywhere).  Peeling removes at
    least one node per non-converged round, so ``rounds`` >= the
    fixture diameter bound covers the gate corpus; real graphs converge
    in a handful of sweeps, and the honest worst case is a path, which
    a 2-core peels end-inward, two nodes a round.  Stopping at
    ``rounds`` while the last round still removed edges warns
    (``RuntimeWarning``): the result may keep nodes of degree < k.

    Scale shape per round: ONE grouped degree count over surviving
    directed edges + one broadcast-eligible semi-join back (the
    surviving-node table only ever shrinks), then a ``localCheckpoint``
    and one count, the convergence test.  The count is the job that
    materializes the checkpoint; an eager checkpoint would add a job of
    its own.  Returns (id, core_degree) for k-core members —
    core_degree is the node's degree within the final core.
    """
    edges = (
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_edges = edges.count()
    for _ in range(rounds):
        deg = edges.groupBy("src").agg(F.count("*").alias("_deg"))
        keep = deg.where(F.col("_deg") >= k).select("src")
        edges = (
            edges.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
        before, n_edges = n_edges, edges.count()
        if n_edges == before:
            break
    else:
        _warn_cap("k_core", rounds, "rounds", "the core may keep nodes of degree < k")
    return (
        edges.groupBy("src")
        .agg(F.count("*").alias("core_degree"))
        .select(F.col("src").alias("id"), "core_degree")
    )


def modularity(
    pairs: DataFrame,
    labels: DataFrame,
    src_col: str = "id1",
    dst_col: str = "id2",
    id_col: str = "id",
    community_col: str = "community",
) -> DataFrame:
    """Newman modularity of a node partition over an undirected pair
    list (Newman & Girvan 2004) — the number that says whether a
    community assignment (label_propagation, dedup_clusters) actually
    carves the graph at its joints or just relabels noise:

        Q = Σ_c [ m_c/m − (d_c/(2m))² ]

    with m = |edges|, m_c = within-community edges, d_c = total degree
    of community c.  Q ≈ 0 means no better than random for those
    degrees; real cluster structure typically lands 0.3–0.7; Q < 0
    means the partition is ANTI-correlated with the topology (e.g.
    labels leaked from some non-graph feature).

    ``pairs`` is the undirected candidate-pair contract (id1 < id2,
    distinct); ``labels`` maps every node to its community (nodes
    missing a label are excluded — inner join — and isolated labeled
    nodes contribute a zero term, so either convention leaves Q
    unchanged).  Returns ONE row: (n_nodes, n_edges, n_communities,
    modularity), Q rounded 6 dp.

    Scale shape: degree reduce (node-keyed), two node-keyed joins of
    the edge list onto the label map, then everything is
    community-sized — m_c and d_c re-reduce per community and Q is a
    one-row sum of per-community float terms (exact BIGINTs until the
    final divisions, the mutual_info discipline).
    """
    e = pairs.select(F.col(src_col).alias("_a"), F.col(dst_col).alias("_b"))
    lab = labels.select(
        F.col(id_col).alias("_id"), F.col(community_col).alias("_c")
    )
    deg = (
        e.select(F.col("_a").alias("_id"))
        .union(e.select(F.col("_b").alias("_id")))
        .groupBy("_id")
        .agg(F.count("*").alias("_deg"))
    )
    dc = (
        deg.join(lab, "_id")
        .groupBy("_c")
        .agg(F.sum("_deg").alias("_dc"), F.count("*").alias("_nn"))
    )
    ej = e.join(
        lab.select(F.col("_id").alias("_a"), F.col("_c").alias("_ca")), "_a"
    ).join(
        lab.select(F.col("_id").alias("_b"), F.col("_c").alias("_cb")), "_b"
    )
    mc = (
        ej.where(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("_c"))
        .agg(F.count("*").alias("_mc"))
    )
    m_row = F.broadcast(e.agg(F.count("*").alias("_m")))
    comm = (
        dc.join(mc, "_c", "left")
        .select(
            "_c",
            "_dc",
            "_nn",
            F.coalesce(F.col("_mc"), F.lit(0)).alias("_mc"),
        )
        .crossJoin(m_row)
    )
    md = F.col("_m").cast("double")
    frac = F.col("_dc").cast("double") / (F.lit(2.0) * md)
    term = F.col("_mc").cast("double") / md - frac * frac
    return comm.agg(
        F.sum("_nn").alias("n_nodes"),
        F.max("_m").alias("n_edges"),
        F.count("*").alias("n_communities"),
        F.round(F.sum(term), 6).alias("modularity"),
    )
