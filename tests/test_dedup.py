"""Dedup family on crafted documents with known duplicate structure."""

import pytest
from pyspark.sql import functions as F

from time_series_databse_engine_spark.operators.dedup import (
    exact_dedup,
    hamming64,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash64,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat"),          # near dup of 1
    (4, "lorem ipsum dolor sit amet consectetur adipiscing elit"),
    (5, "dog lazy the over jumps fox brown quick the"),          # reordered 1
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark)).collect()
    by_keeper = {r.keeper_id: r.dup_count for r in out}
    assert by_keeper[1] == 2          # docs 1,2 collapse
    assert by_keeper[3] == 1
    assert len(out) == 4


def test_jaccard_pairs(spark):
    out = jaccard_pairs(_docs(spark), threshold=0.5)
    pairs = {(r.id1, r.id2): r.jaccard for r in out.collect()}
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 5)] == 1.0       # same token set, reordered
    assert 0.5 < pairs[(1, 3)] < 1.0  # one-token difference
    assert (1, 4) not in pairs


def test_minhash_lsh_finds_near_dups(spark):
    sigs = minhash_signatures(_docs(spark), num_hashes=8, shingle_n=2)
    pairs = {(r.id1, r.id2) for r in lsh_candidate_pairs(sigs, 4, 2).collect()}
    assert (1, 2) in pairs            # identical shingle sets always collide
    assert (1, 4) not in pairs


def test_simhash_near_dup_distance(spark):
    sh = simhash64(_docs(spark))
    a = sh.alias("a").join(sh.alias("b"), F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("id1"),
        F.col("b.doc_id").alias("id2"),
        hamming64("a.simhash", "b.simhash").alias("d"),
    )
    d = {(r.id1, r.id2): r.d for r in a.collect()}
    assert d[(1, 2)] == 0             # identical
    assert d[(1, 5)] == 0             # token-set identical
    assert d[(1, 3)] < d[(1, 4)]      # near-dup closer than unrelated


def test_star_and_label_prop_components_agree(spark):
    """dedup_clusters (min-label propagation) and dedup_clusters_star
    (alternating star contraction) must produce identical components on
    random graphs — both checked against a Python union-find."""
    import random

    from time_series_databse_engine_spark.operators.dedup import (
        dedup_clusters,
        dedup_clusters_star,
    )

    rng = random.Random(7)
    for trial in range(3):
        n = 40
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(25 + trial * 10)
            }
        )
        # union-find ground truth
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        # ground truth: min node per root, over nodes that appear in edges
        nodes = sorted({v for e in edges for v in e})
        root_min = {}
        for v in nodes:
            r = find(v)
            root_min[r] = min(root_min.get(r, v), v)
        truth = {v: root_min[find(v)] for v in nodes}

        df = spark.createDataFrame(edges, "id1 long, id2 long")
        lp = {r.doc_id: r.cluster_id for r in dedup_clusters(df).collect()}
        st = {r.doc_id: r.cluster_id for r in dedup_clusters_star(df).collect()}
        assert lp == truth, f"label-prop trial {trial}"
        assert st == truth, f"star trial {trial}"


def test_star_handles_chain_graph(spark):
    """A long path graph is the star algorithm's motivating case (diameter
    ≈ n); it must still collapse to one cluster rooted at the minimum."""
    from time_series_databse_engine_spark.operators.dedup import dedup_clusters_star

    chain = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(chain, "id1 long, id2 long")
    out = {r.doc_id: r.cluster_id for r in dedup_clusters_star(df).collect()}
    assert out == {i: 0 for i in range(31)}


def test_minhash_jaccard_estimates_bounds_and_identity(spark):
    from time_series_databse_engine_spark.operators.dedup import (
        minhash_jaccard_estimates,
    )

    same = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [(1, same), (2, same), (3, "totally different words entirely here now")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    est = {(r.id1, r.id2): r.est_jaccard for r in minhash_jaccard_estimates(df).collect()}
    # identical docs agree on every band, and every minhash component matches
    assert est[(1, 2)] == 1.0
    assert all(0.0 <= v <= 1.0 for v in est.values())


def test_duplicate_spans_detects_shared_windows(spark):
    """Docs 1/2 share an 8-token run; doc 3 is disjoint; a doc shorter than
    n produces no grams and no row."""
    from time_series_databse_engine_spark.operators.dedup import duplicate_spans

    shared = "one two three four five six seven eight"
    docs = [
        (1, shared + " tail1 tail2"),
        (2, "head0 " + shared),
        (3, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (4, "too short"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in duplicate_spans(df, n=8).collect()}
    assert 4 not in out
    assert out[1].n_dup_grams == 1 and out[1].n_grams == 3
    assert out[2].n_dup_grams == 1 and out[2].n_grams == 2
    assert out[3].n_dup_grams == 0
    assert out[1].dup_frac == round(1 / 3, 6)


def test_duplicate_spans_hot_gram_cap(spark):
    from time_series_databse_engine_spark.operators.dedup import duplicate_spans

    boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    docs = [(i, boiler) for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # the boilerplate gram appears in 5 docs; cap at 4 drops it entirely
    assert duplicate_spans(df, n=8, max_gram_df=4).count() == 0
    assert duplicate_spans(df, n=8).filter("n_dup_grams = 1").count() == 5


def test_duplicate_span_ranges_merges_runs(spark):
    """A 12-token passage copied between two docs (at different offsets)
    reports as ONE maximal span per doc covering exactly the copied
    range; unique text around it is not flagged; a doc with no cross-doc
    grams yields no rows."""
    from time_series_databse_engine_spark.operators.dedup import duplicate_span_ranges

    shared = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    rows = [
        (1, "alpha beta " + shared + " gamma"),
        (2, shared + " delta epsilon zeta"),
        (3, "totally unique words only here nothing shared at all ok fine"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in duplicate_span_ranges(df, n=8).collect()}
    assert set(out) == {1, 2}
    # doc 1: shared tokens occupy positions 3..14 → gram starts 3..7
    assert (out[1].span_start, out[1].span_end) == (3, 14)
    assert out[1].span_tokens == 12 and out[1].n_dup_grams == 5
    # doc 2: shared at positions 1..12
    assert (out[2].span_start, out[2].span_end) == (1, 12)
    assert out[2].n_dup_grams == 5


def test_duplicate_span_ranges_within_doc_repeat_not_flagged(spark):
    """A doc repeating its own phrase (no other doc shares it) is NOT a
    cross-document duplicate."""
    from time_series_databse_engine_spark.operators.dedup import duplicate_span_ranges

    phrase = "p1 p2 p3 p4 p5 p6 p7 p8"
    rows = [(1, phrase + " filler " + phrase), (2, "unrelated text entirely different")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert duplicate_span_ranges(df, n=8).count() == 0


def test_chunk_dedup_removes_repeated_boilerplate_keeps_first(spark):
    """Three docs sharing an identical leading chunk: the first doc keeps
    it, later docs lose exactly that chunk, unique tails all survive, and
    reconstruction preserves token order."""
    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.dedup import chunk_dedup

    boiler = " ".join(f"b{i}" for i in range(4))
    rows = [
        (1, boiler + " " + " ".join(f"x{i}" for i in range(4))),
        (2, boiler + " " + " ".join(f"y{i}" for i in range(4))),
        (3, boiler + " " + " ".join(f"z{i}" for i in range(4))),
        (4, " ".join(f"w{i}" for i in range(8))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in chunk_dedup(df, chunk_size=4).collect()}
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["dedup_text"] == rows[0][1]
    for d in (2, 3):
        assert out[d]["n_kept"] == 1                  # boilerplate stripped
        assert not out[d]["dedup_text"].startswith("b0")
    assert out[4]["n_kept"] == 2 and out[4]["dedup_text"] == rows[3][1]
    # fully-duplicated doc -> empty reconstruction
    dup = spark.createDataFrame([(1, boiler), (2, boiler)], ["doc_id", "text"])
    out2 = {r["doc_id"]: r for r in chunk_dedup(dup, chunk_size=4).collect()}
    assert out2[2]["n_kept"] == 0 and out2[2]["dedup_text"] == ""


def test_pagerank_star_graph_center_wins(spark):
    from time_series_databse_engine_spark.operators.graph import pagerank

    # star: node 0 linked to 1..5, plus an isolated pair (10, 11)
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 6)] + [(10, 11)], "id1 int, id2 int"
    )
    out = {r.id: r.pagerank for r in pagerank(pairs, iters=10).collect()}
    assert len(out) == 8
    # probability mass conserved (symmetric graph, no dangling nodes)
    assert abs(sum(out.values()) - 1.0) < 1e-4
    # the hub dominates every leaf; leaves are symmetric hence equal
    assert all(out[0] > out[i] for i in range(1, 6))
    assert len({out[i] for i in range(1, 6)}) == 1
    # the isolated pair's members split their component's mass equally
    assert out[10] == out[11]


def test_triangle_count_known_graph(spark):
    from time_series_databse_engine_spark.operators.graph import triangle_count

    # K4 on 0..3 (4 triangles, each corner in 3), a pendant node 4 on 0,
    # a triangle 10-11-12, and an isolated edge (20, 21).
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    pairs = spark.createDataFrame(
        k4 + [(0, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id1 int, id2 int",
    )
    out = {r.id: r for r in triangle_count(pairs).collect()}
    assert len(out) == 10
    assert all(out[i].triangles == 3 for i in range(4))  # K4 corners
    assert out[0].degree == 4 and out[1].degree == 3
    # lcc: node 1 sees all 3 of its neighbor pairs closed; node 0's
    # pendant edge dilutes it to 3 closed of C(4,2)=6
    assert out[1].lcc == 1.0 and out[0].lcc == 0.5
    assert out[4].triangles == 0 and out[4].lcc == 0.0 and out[4].degree == 1
    assert all(out[i].triangles == 1 and out[i].lcc == 1.0 for i in (10, 11, 12))
    assert out[20].triangles == 0 and out[21].lcc == 0.0
    # global triangle count: corner sum / 3
    assert sum(r.triangles for r in out.values()) == 3 * 5


def test_dedup_incremental_planted(spark):
    """New batch vs corpus: an exact copy of a corpus doc is dropped, a
    within-batch duplicate pair keeps only the lower id, and fresh text
    survives."""
    from time_series_databse_engine_spark.operators.dedup import dedup_incremental

    corpus = spark.createDataFrame(
        [(1, "the old doc"), (2, "another old doc")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (10, "the old doc"),      # exact corpus dup -> dropped
            (11, "a brand new doc"),  # fresh -> kept
            (12, "twin text"),        # batch dup, lower id -> kept
            (13, "twin text"),        # batch dup, higher id -> dropped
        ],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in dedup_incremental(new, corpus).collect()}
    assert kept == {11, 12}


def test_neardup_incremental_flags_shingle_overlap(spark):
    """A new doc sharing its shingles with a corpus doc collides in every
    band (band_hits = 4); disjoint text collides in none."""
    from time_series_databse_engine_spark.operators.dedup import neardup_incremental

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta eta theta"),  # identical
            (11, "one two three four five six seven eight"),        # disjoint
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in neardup_incremental(new, corpus).collect()}
    assert out[10].is_neardup and out[10].band_hits == 4
    assert not out[11].is_neardup and out[11].band_hits == 0


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Near-duplicate docs (same shingles) must land in ONE split; the
    split key is the cluster's min doc id, and unclustered docs key on
    their own id (hash_split digit rule either way)."""
    from time_series_databse_engine_spark.operators.dedup import leakage_safe_split

    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, dup), (2, dup), (3, dup), (4, "totally different words here entirely")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in leakage_safe_split(df).collect()}
    assert {out[i].split_key for i in (1, 2, 3)} == {1}  # whole cluster keyed by min id
    assert len({out[i].split for i in (1, 2, 3)}) == 1   # -> one side
    assert out[4].split_key == 4                          # singleton keeps own id


def test_lsh_params_scale_rule():
    """+2 rows/band per 10x corpus growth; bands fixed; num_hashes
    consistent with bands*rows."""
    from time_series_databse_engine_spark.operators.dedup import lsh_params_for

    assert lsh_params_for(5_000) == {"num_hashes": 8, "bands": 4, "rows_per_band": 2}
    assert lsh_params_for(50_000) == {"num_hashes": 16, "bands": 4, "rows_per_band": 4}
    assert lsh_params_for(500_000) == {"num_hashes": 24, "bands": 4, "rows_per_band": 6}
    assert lsh_params_for(100) == lsh_params_for(5_000)  # never below base


def test_purge_dup_spans_keeper_and_coverage(spark):
    """Lee-2021-style purge: the min-id doc sharing a window keeps it;
    every other doc loses the full covered range (union of overlapping
    windows), within-doc repetition is untouched, and whitespace
    normalizes to single spaces."""
    from time_series_databse_engine_spark.operators.dedup import purge_dup_spans

    base = "a b c d e f g h"
    docs = spark.createDataFrame(
        [
            (1, f"{base} unique one tail"),
            (2, f"prefix two {base} suffix two"),  # copies doc 1's 8-gram
            (3, f"{base} i j"),  # copies AND extends: 3 dup starts merge
            (4, "rep rep rep rep rep rep rep rep rep rep"),  # within-doc only
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in purge_dup_spans(docs, n=8).collect()}
    assert got[1].clean_text == f"{base} unique one tail"  # keeper untouched
    assert got[1].n_removed == 0
    assert got[2].clean_text == "prefix two suffix two"
    assert got[2].n_removed == 8 and got[2].n_kept == 4
    # doc 3 shares exactly one window with doc 1 (start 0: "a..h");
    # its other windows contain "i j" which doc 1 lacks — so coverage
    # is [0..7] and the extension survives
    assert got[3].clean_text == "i j" and got[3].n_removed == 8
    # within-doc repetition is not cross-doc: untouched
    assert got[4].n_removed == 0 and got[4].n_kept == 10


def test_purge_dup_spans_short_docs_no_grams(spark):
    from time_series_databse_engine_spark.operators.dedup import purge_dup_spans

    docs = spark.createDataFrame(
        [(1, "same short text"), (2, "same short text")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in purge_dup_spans(docs, n=8).collect()}
    # both docs are shorter than one window: nothing to purge
    assert got[1].n_removed == 0 and got[2].n_removed == 0
    assert got[2].clean_text == "same short text"


def test_purge_dup_spans_all_docs_identical(spark):
    """N identical docs: the min-id doc keeps everything, every other
    doc is fully purged (empty clean_text, not NULL)."""
    from time_series_databse_engine_spark.operators.dedup import purge_dup_spans

    text = "a b c d e f g h i j"
    docs = spark.createDataFrame(
        [(i, text) for i in range(1, 4)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in purge_dup_spans(docs, n=8).collect()}
    assert got[1].clean_text == text and got[1].n_removed == 0
    for i in (2, 3):
        assert got[i].clean_text == "" and got[i].n_removed == 10 and got[i].n_kept == 0


def test_purge_dup_spans_no_gram_keyed_window(spark):
    """VERDICT r8 #3 scale pin: the cross-doc duplicate test must NOT
    be a window partitioned on the gram key — WindowExec gets no
    map-side partial aggregation, so a boilerplate gram present in 10^8
    docs would shuffle 10^8 raw rows into one sorted partition on one
    task.  The shape that survives a 100 TB corpus, pinned here:

    (a) the ONLY window in the plan is the doc-keyed rolling coverage
        window (partitioned on _id, never on h0..h7);
    (b) per-gram (min, max) comes from an aggregate with a PARTIAL
        (map-side) mode before its exchange, so a hot gram collapses to
        one row per map partition before any data moves;
    (c) the join back to positions is a plain equi-join on the gram
        key — AQE-skew-splittable because the build side carries one
        row per gram."""
    from time_series_databse_engine_spark.operators.dedup import purge_dup_spans
    from time_series_databse_engine_spark.plans import formatted_plan

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(12))) for i in range(1, 6)],
        "doc_id long, text string",
    )
    plan = formatted_plan(purge_dup_spans(docs, n=8))
    # every window spec in the plan must partition on _id, never h0..h7
    specs = [l for l in plan.splitlines() if "windowspecdefinition(" in l]
    assert specs, "expected the doc-keyed coverage window in the plan"
    for spec in specs:
        assert "h0#" not in spec and "h1#" not in spec, (
            "gram-keyed window reintroduced — scale-killer: " + spec
        )
        assert "windowspecdefinition(_id#" in spec
    # per-gram min/max must be a partial-aggregating groupBy: the
    # partial_min/partial_max pair exists and sits BEFORE the final-mode
    # min/max in detail order (map side of the same aggregate)
    assert "partial_min(_id" in plan and "partial_max(_id" in plan, (
        "per-gram min/max must be a partial-aggregating groupBy"
    )
    assert plan.index("partial_min(_id") < plan.index("[min(_id")


def test_label_propagation_communities(spark):
    from time_series_databse_engine_spark.operators.graph import label_propagation

    # two K3 cliques bridged by one edge, plus an isolated pair
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (10, 11), (10, 12), (11, 12), (2, 10),
         (20, 21)],
        "id1 int, id2 int",
    )
    out = {r.id: r.community for r in label_propagation(pairs, iters=4).collect()}
    assert len(out) == 8
    # each clique converges to its own min label despite the bridge
    assert out[0] == out[1] == out[2] == 0
    assert out[11] == out[12]
    # the isolated pair: the self-vote breaks the swap oscillation and
    # both converge to the min label
    assert out[20] == out[21] == 20
    # cliques never merge across the bridge
    assert out[0] != out[11]


def test_adamic_adar_rare_neighbor_wins(spark):
    from time_series_databse_engine_spark.operators.graph import adamic_adar

    import math

    # (1, 2) share a degree-2 neighbor 0; (3, 4) share hub 10 (degree 5)
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (10, 3), (10, 4), (10, 5), (10, 6), (10, 7)],
        "id1 int, id2 int",
    )
    out = {(r.v, r.w): r for r in adamic_adar(pairs, k=100).collect()}
    # existing edges are never predicted
    assert (0, 1) not in out and (10, 3) not in out
    rare = out[(1, 2)]
    assert rare.common_neighbors == 1
    assert abs(rare.aa_score - round(1 / math.log(2), 6)) < 1e-9
    hub = out[(3, 4)]
    assert abs(hub.aa_score - round(1 / math.log(5), 6)) < 1e-9
    # rare shared neighbor beats hub co-membership
    assert rare.aa_score > hub.aa_score
    # center cap drops the hub's evidence entirely
    capped = {(r.v, r.w) for r in adamic_adar(pairs, k=100, max_center_degree=4).collect()}
    assert (1, 2) in capped and (3, 4) not in capped


def test_adamic_adar_reversed_known_edge_suppressed(spark):
    """ADVICE r10: an input edge given as (big, small) must still
    suppress the canonical (small, big) scored pair."""
    from time_series_databse_engine_spark.operators.graph import adamic_adar

    # triangle legs via center 0, with the known edge (2, 1) REVERSED
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (2, 1)], "id1 int, id2 int"
    )
    out = {(r.v, r.w) for r in adamic_adar(pairs, k=100).collect()}
    assert (1, 2) not in out


def test_lsh_recall_planted_pairs(spark):
    """Planted near-identical docs: banding at base params catches the
    true >=0.5 shingle-Jaccard pairs (recall 1.0 on an easy corpus);
    unrelated docs contribute no truth; counts are consistent."""
    from time_series_databse_engine_spark.operators.dedup import lsh_recall

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = []
    for i in range(40):
        if i % 4 == 0:
            rows.append((i, base))                       # replica family
        else:
            rows.append((i, f"doc {i} " + " ".join(f"u{i}w{j}" for j in range(12))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # sample everything (16/16) so the planted family is fully in truth
    r = lsh_recall(df, threshold=0.5, sample_16ths=16).collect()[0]
    # 10 replicas -> C(10,2)=45 true pairs, identical docs band together
    assert r.n_true == 45
    assert r.n_hit == 45 and r.recall == 1.0
    assert r.n_cand >= 45
    assert 0.0 < r.precision <= 1.0


def test_lsh_recall_empty_truth_null_recall(spark):
    from time_series_databse_engine_spark.operators.dedup import lsh_recall

    rows = [(i, " ".join(f"u{i}w{j}" for j in range(12))) for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = lsh_recall(df, threshold=0.5, sample_16ths=16).collect()[0]
    assert r.n_true == 0 and r.recall is None


def test_lsh_recall_shingle_df_cap(spark):
    """The truth-join hot-shingle cap: at the default (no cap) the truth
    set is invariant (n_dropped_shingles == 0, identical summary row to
    the pre-cap operator); with a planted stop-shingle shared by every
    doc and a low cap, the hot shingle is dropped from the truth index
    (n_dropped_shingles > 0) and the boilerplate-only "true" pairs it
    manufactured disappear."""
    from time_series_databse_engine_spark.operators.dedup import lsh_recall

    # every doc shares the same 5-token boilerplate prefix (3 shingles of
    # it appear in ALL docs); bodies are unique -> without the prefix no
    # pair reaches 0.5 Jaccard
    boiler = "terms of service apply here"
    rows = [
        (i, boiler + " " + " ".join(f"u{i}w{j}" for j in range(4)))
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = lsh_recall(df, threshold=0.2, sample_16ths=16).collect()[0]
    assert uncapped.n_dropped_shingles == 0
    assert uncapped.n_true > 0  # boilerplate manufactures "true" pairs

    # cap below the corpus size: the all-doc shingles get cut
    capped = lsh_recall(
        df, threshold=0.2, sample_16ths=16, max_shingle_df=6
    ).collect()[0]
    assert capped.n_dropped_shingles > 0
    assert capped.n_true < uncapped.n_true

    # a cap no shingle reaches is a no-op: same row as uncapped
    high = lsh_recall(
        df, threshold=0.2, sample_16ths=16, max_shingle_df=1000
    ).collect()[0]
    assert (high.n_true, high.n_cand, high.n_hit) == (
        uncapped.n_true,
        uncapped.n_cand,
        uncapped.n_hit,
    )
    assert high.n_dropped_shingles == 0


def test_k_core_matches_bruteforce_peeling(spark):
    """k_core vs a Python reference peel on random graphs; plus the
    canonical shapes: a chain's 2-core is empty, a triangle with a tail
    keeps exactly the triangle (degree 2 each)."""
    import random

    from time_series_databse_engine_spark.operators.graph import k_core

    def brute(edges, k):
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        changed = True
        while changed:
            changed = False
            for v in list(adj):
                if len(adj[v]) < k:
                    for u in adj[v]:
                        adj[u].discard(v)
                    del adj[v]
                    changed = True
        return {v: len(ns) for v, ns in adj.items()}

    rng = random.Random(12)
    for trial in range(3):
        n = 30
        edges = sorted(
            {tuple(sorted(rng.sample(range(n), 2))) for _ in range(30 + 10 * trial)}
        )
        df = spark.createDataFrame(edges, "id1 long, id2 long")
        got = {r.id: r.core_degree for r in k_core(df, k=2, rounds=12).collect()}
        assert got == brute(edges, 2), f"trial {trial}"

    chain = spark.createDataFrame([(i, i + 1) for i in range(12)], "id1 long, id2 long")
    assert k_core(chain, k=2, rounds=12).count() == 0

    tri_tail = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)], "id1 long, id2 long"
    )
    got = {r.id: r.core_degree for r in k_core(tri_tail, k=2, rounds=6).collect()}
    assert got == {0: 2, 1: 2, 2: 2}


def test_source_overlap_planted_mirror(spark):
    """Two sources share a 10-token passage (8 shared 3-grams); a third
    source is disjoint; the coefficient is containment-style (shared /
    smaller side); the hot-gram cap drops universal boilerplate."""
    from time_series_databse_engine_spark.operators.dedup import source_overlap

    passage = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"
    rows = [
        (1, passage + " a1 a2 a3", "mirror_a"),
        (2, "b0 " + passage, "mirror_b"),
        (3, "c1 c2 c3 c4 c5 c6 c7 c8", "clean"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r.source_a, r.source_b): r for r in source_overlap(df, n=3).collect()}
    assert set(out) == {("mirror_a", "mirror_b")}
    r = out[("mirror_a", "mirror_b")]
    # mirror_a: 13 tokens -> 11 grams; mirror_b: 11 tokens -> 9 grams;
    # shared = the 8 grams fully inside the passage
    assert (r.shared_grams, r.grams_a, r.grams_b) == (8, 11, 9)
    assert r.overlap_coef == round(8 / 9, 6)

    # universal boilerplate in all three sources pairs everything; the
    # source-df cap cuts it back to the true mirror pair
    rows_b = [(i, "terms of service apply " + t, s) for i, (_, t, s) in enumerate(rows)]
    df_b = spark.createDataFrame(rows_b, "doc_id long, text string, source string")
    assert source_overlap(df_b, n=3).count() == 3
    capped = source_overlap(df_b, n=3, max_gram_sources=2)
    pairs = {(r.source_a, r.source_b) for r in capped.collect()}
    # grams in >2 sources dropped; only true-shared content remains
    assert ("mirror_a", "mirror_b") in pairs and ("clean", "mirror_a") not in pairs


def test_prefix_filter_jaccard_equals_plain_join(spark):
    """Prefix filtering is lossless: output row-identical to
    jaccard_pairs on random corpora at several thresholds (the Bayardo
    2007 guarantee), and the prefix index is provably smaller than the
    full inverted index."""
    import random

    from time_series_databse_engine_spark.operators.dedup import (
        jaccard_pairs,
        prefix_filter_jaccard,
    )

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(60):
        k = rng.randint(4, 12)
        rows.append((i, " ".join(rng.sample(vocab, k))))
    # plant exact + near duplicates
    rows.append((100, rows[0][1]))
    rows.append((101, rows[0][1] + " extraword"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for t in (0.5, 0.8):
        plain = {(r.id1, r.id2): r.jaccard for r in jaccard_pairs(df, t).collect()}
        pf = {(r.id1, r.id2): r.jaccard
              for r in prefix_filter_jaccard(df, t).collect()}
        assert pf == plain, f"threshold {t}"
    assert (0, 100) in pf or (0, 100) in plain  # the planted exact dup survives


def test_prefix_filter_jaccard_prunes_candidates(spark):
    """The point of the filter: docs sharing only FREQUENT tokens never
    become candidates.  A corpus where every doc shares one universal
    token (but nothing else) yields zero candidate pairs at t=0.5 —
    the universal token sorts to the end of every doc's order and never
    enters any prefix — while the plain inverted index would fan out
    C(n,2) pairs on it."""
    from time_series_databse_engine_spark.operators.dedup import (
        prefix_filter_jaccard,
    )

    rows = [(i, f"common u{i}a u{i}b u{i}c") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = prefix_filter_jaccard(df, threshold=0.5)
    assert out.count() == 0
    # sanity: the result agrees with the exact join (also empty)
    from time_series_databse_engine_spark.operators.dedup import jaccard_pairs

    assert jaccard_pairs(df, threshold=0.5).count() == 0


def test_modularity_two_cliques_vs_brute_force(spark):
    from time_series_databse_engine_spark.operators.graph import modularity

    # two triangles joined by one bridge edge; communities = the triangles
    edges = [(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5), (2, 3)]
    labs = [(i, 0) for i in range(3)] + [(i, 1) for i in range(3, 6)]
    pairs = spark.createDataFrame(edges, "id1 long, id2 long")
    labels = spark.createDataFrame(labs, "id long, community long")
    r = modularity(pairs, labels).collect()[0]
    m = len(edges)
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    com = dict(labs)
    q = 0.0
    for c in (0, 1):
        mc = sum(1 for a, b in edges if com[a] == c and com[b] == c)
        dc = sum(d for i, d in deg.items() if com[i] == c)
        q += mc / m - (dc / (2 * m)) ** 2
    assert r.n_nodes == 6 and r.n_edges == 7 and r.n_communities == 2
    assert abs(r.modularity - q) < 1e-6
    assert r.modularity > 0.3  # real structure


def test_modularity_single_community_is_zero(spark):
    from time_series_databse_engine_spark.operators.graph import modularity

    # everything in one community: Q = m/m - (2m/2m)^2 = 0 exactly
    edges = [(0, 1), (1, 2), (0, 3)]
    pairs = spark.createDataFrame(edges, "id1 long, id2 long")
    labels = spark.createDataFrame(
        [(i, 7) for i in range(4)], "id long, community long"
    )
    r = modularity(pairs, labels).collect()[0]
    assert r.modularity == 0.0 and r.n_communities == 1


def test_modularity_anti_correlated_partition_negative(spark):
    from time_series_databse_engine_spark.operators.graph import modularity

    # bipartite-style labels that cut every edge -> Q < 0
    edges = [(0, 1), (2, 3), (4, 5)]
    labels = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 0), (3, 1), (4, 0), (5, 1)],
        "id long, community long",
    )
    pairs = spark.createDataFrame(edges, "id1 long, id2 long")
    r = modularity(pairs, labels).collect()[0]
    assert r.modularity < 0.0


def _min_label_rounds(pairs, rounds=None):
    """Reference for dedup_clusters: synchronous min-label propagation for
    ``rounds`` rounds; ``None`` runs to the fixpoint, where every label is
    its union-find component's minimum."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    if rounds is None:
        return {n: find(n) for n in adj}
    label = {n: n for n in adj}
    for _ in range(rounds):
        label = {n: min([label[n]] + [label[m] for m in adj[n]]) for n in adj}
    return label


@pytest.mark.parametrize("id_type", ["long", "double", "decimal(10,2)", "string"])
def test_dedup_clusters_matches_union_find(spark, id_type):
    """Property test against union-find over random graphs plus a 12-node
    chain, for integral, fractional and string ids.  Fractional ids must
    not take the label-sum convergence shortcut: a real label change from
    0.12 to 0.01 leaves the decimal(38,0) sum unchanged.  With a small
    ``max_iters`` the chain cannot converge, so the result must be exactly
    that many propagation rounds — not an early stop."""
    import random
    from decimal import Decimal

    from time_series_databse_engine_spark.operators.dedup import dedup_clusters

    as_id = {
        "long": lambda k: k,
        "double": lambda k: (k + 1) / 1000,
        "decimal(10,2)": lambda k: Decimal(k + 1) / 100,
        "string": lambda k: f"doc{k:03d}",
    }[id_type]
    rng = random.Random(7)
    nodes = rng.sample(range(12, 60), 40)
    edges = [tuple(rng.sample(nodes, 2)) for _ in range(30)]
    edges += [(k, k + 1) for k in range(11)]  # chain 0-1-…-11, diameter 11
    pairs = [(as_id(a), as_id(b)) for a, b in edges]
    df = spark.createDataFrame(pairs, f"id1 {id_type}, id2 {id_type}")

    def run(max_iters):
        out = dedup_clusters(df, max_iters=max_iters).collect()
        return {r.doc_id: r.cluster_id for r in out}

    assert run(25) == _min_label_rounds(pairs)
    want = _min_label_rounds(pairs, rounds=4)
    assert want != _min_label_rounds(pairs)  # the chain needs > 4 rounds
    assert run(4) == want
