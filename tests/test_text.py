"""Text-analysis operators."""

from time_series_databse_engine_spark.operators.text import (
    doc_fingerprint,
    lang_id,
    text_stats,
    token_count,
)


def test_text_stats(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42 times.")], "doc_id long, text string")
    r = text_stats(df).collect()[0]
    assert r.n_chars == 23
    assert r.n_tokens == 4
    assert r.n_words == 3           # Hello, world, times
    assert r.n_punct == 3           # , ! .


def test_token_count(spark):
    df = spark.createDataFrame([(1, "foo bar-baz 12x")], "doc_id long, text string")
    r = token_count(df).collect()[0]
    assert r.ws_tokens == 3
    assert r.bpe_tokens == 6        # foo, bar, -, baz, 12, x


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "der hund und die katze ist gut"),
            (3, "el perro y la casa de que"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.lang_guess for r in lang_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "es"}


def test_fingerprint_order_invariant(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta"), (3, "alpha beta delta")],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.fingerprint for r in doc_fingerprint(df).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_winnow_fingerprint_shared_run(spark):
    from time_series_databse_engine_spark.operators.text import winnow_fingerprint

    # docs 1 and 2 share a 7-token run (>= k+w-1 = 6) -> guaranteed common
    # fingerprint entry; doc 3 is disjoint vocabulary
    shared = "alpha beta gamma delta epsilon zeta eta"
    df = spark.createDataFrame(
        [
            (1, f"intro words {shared} trailing bits here"),
            (2, f"{shared} completely different ending tokens now"),
            (3, "unrelated content about something else entirely ok"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: set(r.fingerprint.split("|")) for r in winnow_fingerprint(df).collect()}
    assert got[1] & got[2], "docs sharing a long run must share a fingerprint hash"
    assert not (got[1] & got[3])
    for r in winnow_fingerprint(df).collect():
        assert r.n_fp == len(set(r.fingerprint.split("|")))


def test_redact_pii_planted_fixtures(spark):
    from time_series_databse_engine_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "contact jane.doe+x@example.co.uk for details"),
            (2, "see https://example.com/a?b=1 and http://foo.io"),
            (3, "call +1 (555) 123-4567 now"),
            (4, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in redact_pii(df).collect()}
    assert got[1].clean_text == "contact [EMAIL] for details"
    assert got[2].clean_text == "see [URL] and [URL]"
    assert got[3].clean_text == "call [PHONE] now"
    assert got[4].clean_text == "nothing sensitive here"
    assert [got[i].was_redacted for i in (1, 2, 3, 4)] == [True, True, True, False]


def test_winnow_oracle_replay_matches_on_planted_docs(spark):
    """The DuckDB oracle of the winnow_fingerprint query must agree with
    text.winnow_fingerprint on the docs where tokenizing and windowing go
    wrong first: an empty text (one empty token), fewer than k tokens
    (one shingle of all of them), fewer shingles than a window, repeated
    shingles (equal window minima collapse), and case and whitespace
    runs the lowered ``\\s+`` split must fold."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry_mod
    from time_series_databse_engine_spark.operators.text import winnow_fingerprint

    rows = [
        (1, ""),                                   # empty text
        (2, "two words"),                          # fewer than k tokens
        (3, "one two three four"),                 # 2 shingles < one window
        (4, "a b c a b c a b c a b c a b c"),     # repeated shingles
        (5, "Mixed  CASE\tand   tabs mixed case"),  # case + whitespace runs
        (6, "the quick brown fox jumps over the lazy dog again and again"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {tuple(r) for r in winnow_fingerprint(df).collect()}

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    sql = entry_mod.oracle_sql()["winnow_fingerprint"]
    want = {
        (int(r.doc_id), int(r.n_fp), r.fingerprint)
        for r in con.execute(sql).df().itertuples()
    }
    assert got == want
    fp = {r[0]: r for r in got}
    assert fp[1][1] == fp[2][1] == fp[3][1] == 1
    # every window of 4 shingles holds all 3 distinct ones: one minimum
    assert fp[4][1] == 1


def test_lang_id_ngram_planted_fixtures(spark):
    from time_series_databse_engine_spark.operators.text import lang_id_ngram

    df = spark.createDataFrame(
        [
            (1, "The weather there is rather pleasant in the north"),
            (2, "Ich schreibe ein schönes Beispiel und scheue nichts"),
            (3, "El niño pequeño añora los árboles del barrio"),
            (4, "Beaucoup d'amour et de bonheur heureux autour de nous"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.lang_guess for r in lang_id_ngram(df).collect()}
    assert got == {1: "en", 2: "de", 3: "es", 4: "fr"}


def test_repetition_stats_planted(spark):
    from time_series_databse_engine_spark.operators.text import repetition_stats

    rows = [
        (1, "a a a a"),            # 4 words, 1 distinct → dup 0.75, top 1.0
        (2, "a b c d"),            # all unique words AND bigrams
        (3, "x y x y x y"),        # bigrams: "x y"×3, "y x"×2 → dup 3/5... see below
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert got[1].dup_word_frac == 0.75 and got[1].top_word_frac == 1.0
    # doc1 bigrams: "a a"×3 → dup 1 - 1/3
    assert abs(got[1].dup_bigram_frac - (1 - 1 / 3)) < 1e-6
    assert got[2].dup_word_frac == 0.0 and got[2].dup_bigram_frac == 0.0
    # doc3: 6 words {x,y} → dup 4/6; bigrams 5 total 2 distinct → 3/5
    assert abs(got[3].dup_word_frac - 4 / 6) < 1e-6
    assert abs(got[3].dup_bigram_frac - 3 / 5) < 1e-6


def test_tfidf_rare_term_wins(spark):
    from time_series_databse_engine_spark.operators.text import tfidf_top_terms

    rows = [
        (1, "rare rare common"),
        (2, "common common common"),
        (3, "common other words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_top_terms(df, k=1).collect()
    top = {r.doc_id: r.term for r in out}
    # tf(rare)=2/3 with idf ln(4/2)+1 beats tf(common)=1/3 with idf 1
    assert top[1] == "rare"
    assert top[2] == "common"
    # doc3: "other"/"words" tie on score → lexicographic tiebreak
    assert top[3] == "other"
    assert all(r.rank == 1 for r in out)


def test_contamination_overlap_planted(spark):
    from time_series_databse_engine_spark.operators.text import contamination_overlap

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps somewhere else entirely now"),
            (2, "completely different words with no shared fivegram at all"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in contamination_overlap(train, bench, n=5).collect()}
    # doc1 shares exactly one 5-gram: "the quick brown fox jumps"
    assert got[1].n_contaminated == 1 and got[1].n_grams == 5
    assert got[2].n_contaminated == 0


def test_unigram_logprob_ranks_rare_below_common(spark):
    """Docs of corpus-common tokens outscore docs of one-off tokens; all
    log-probs are negative and deterministic."""
    from time_series_databse_engine_spark.operators.text import unigram_logprob

    docs = [(i, "the cat sat on the mat") for i in range(5)]
    docs.append((5, "zyzzyva qwertyuiop"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in unigram_logprob(df).collect()}
    assert out[0].n_tokens == 6 and out[5].n_tokens == 2
    assert all(r.avg_logprob < 0 for r in out.values())
    assert out[0].avg_logprob > out[5].avg_logprob
    again = {r.doc_id: r for r in unigram_logprob(df).collect()}
    assert {k: (v.n_tokens, v.avg_logprob) for k, v in out.items()} == {
        k: (v.n_tokens, v.avg_logprob) for k, v in again.items()
    }


def test_top_ngrams_counts_and_order(spark):
    from time_series_databse_engine_spark.operators.text import top_ngrams

    docs = [
        (1, "a b a b c"),      # "a b" x2, "b a" x1, "b c" x1
        (2, "a b x y"),        # "a b" x1
        (3, "z"),              # too short for bigrams
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = top_ngrams(df, n=2, k=3).collect()
    assert [r.g for r in out] == ["a b", "a b x", "b a"] or out[0].g == "a b"
    top = out[0]
    assert top.g == "a b" and top.total_count == 3 and top.doc_freq == 2
    # deterministic tie order: count desc, gram asc
    ties = [r.g for r in out[1:]]
    assert ties == sorted(ties)


def test_dsir_weights_rank_in_domain_docs_higher(spark):
    """Docs made of target-domain tokens get higher importance weights
    than out-of-domain docs; weights are finite for tokens absent from
    the target vocabulary (smoothed floor, not dropped)."""
    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.text import dsir_importance_weights

    rows = [
        (1, "cats cats dogs cats", "en"),      # target exemplar
        (2, "cats dogs cats cats", "en"),      # target exemplar
        (3, "cats dogs", "xx"),                # raw, in-domain tokens
        (4, "zebra quark lambda", "xx"),       # raw, fully out-of-domain
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    w = {
        r.doc_id: r.importance_weight
        for r in dsir_importance_weights(df, F.col("lang") == "en").collect()
    }
    assert set(w) == {1, 2, 3, 4}
    assert w[3] > w[4]                  # in-domain tokens outrank unseen ones
    assert all(v == v and abs(v) < 100 for v in w.values())  # finite
    # every token of doc 4 is absent from the target LM → strictly negative
    assert w[4] < 0


def test_bpe_pair_counts_weighted_by_word_frequency(spark):
    """Pair counts weight each distinct word by its corpus frequency —
    'th' from three 'the's counts 3 — and the top-k cut breaks count
    ties by pair text deterministically."""
    from time_series_databse_engine_spark.operators.text import bpe_pair_counts

    df = spark.createDataFrame(
        [(1, "the the"), (2, "the ab"), (3, "ba")],
        "doc_id long, text string",
    )
    out = [(r.pair, r.cnt) for r in bpe_pair_counts(df, k=3).collect()]
    # 'the'×3 → th:3, he:3 ; 'ab'×1 → ab:1 ; 'ba'×1 → ba:1
    assert out == [("he", 3), ("th", 3), ("ab", 1)]


def test_bm25_ranks_term_dense_docs_and_length_normalizes(spark):
    """A doc with more query-term mass ranks higher; between two docs
    with identical tf, the shorter one wins (length normalization)."""
    from time_series_databse_engine_spark.operators.text import bm25_search

    rows = [
        (1, "data data data other words here"),
        (2, "data other words here filler filler filler filler filler"),
        (3, "data other words here"),
        (4, "nothing relevant at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = [r.doc_id for r in bm25_search(df, "data", k=4).collect()]
    assert out[0] == 1            # highest tf
    assert out.index(3) < out.index(2)  # same tf, shorter doc first
    assert 4 not in out           # no query terms → no row


def test_bm25_many_matches_single_query_form(spark):
    """Batch BM25 reproduces the single-query scores exactly per query
    and never leaks rows across queries."""
    from time_series_databse_engine_spark.operators.text import (
        bm25_search,
        bm25_search_many,
    )

    rows = [
        (1, "data data other words"),
        (2, "hash join here"),
        (3, "data hash words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qs = spark.createDataFrame(
        [(10, "data"), (20, "hash join")], "query_id long, query string"
    )
    many = bm25_search_many(docs, qs, k=3).collect()
    for qid, qtext in [(10, "data"), (20, "hash join")]:
        single = {(r.doc_id, r.bm25) for r in bm25_search(docs, qtext, k=3).collect()}
        got = {(r.doc_id, r.bm25) for r in many if r.query_id == qid}
        assert got == single, (qid, got, single)


def test_fuzzy_match_join_blocks_and_scores(spark):
    """Blocked fuzzy join finds within-distance pairs (including a
    first-character edit via the second-char block), rejects
    out-of-distance keys, and never degenerates to a cross product."""
    from time_series_databse_engine_spark.operators.text import fuzzy_match_join

    l = spark.createDataFrame([("click",), ("view",), ("alpha",)], "name string")
    r = spark.createDataFrame(
        [("clik",), ("lick",), ("vew",), ("beta",)], "typo string"
    )
    out = {(x.name, x.typo): x.edit_dist for x in fuzzy_match_join(l, r, "name", "typo", 2).collect()}
    assert out[("click", "clik")] == 1
    assert out[("click", "lick")] == 1   # leading-char deletion → second-char block
    assert out[("view", "vew")] == 1
    assert all(k[0] != "alpha" for k in out)
    plan = fuzzy_match_join(l, r, "name", "typo", 2)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_bigram_logprob_prefers_fluent_order_and_handles_tiny_docs(spark):
    """Docs built from the same unigram bag: the doc whose bigrams repeat
    corpus-wide scores higher than the doc with unique bigrams; a
    single-token doc gets n_bigrams=0 and NULL score."""
    from time_series_databse_engine_spark.operators.text import bigram_logprob

    common = "the cat sat on the mat"
    rows = [
        (1, common), (2, common), (3, common),
        (4, "mat the on sat cat the"),       # same tokens, novel order
        (5, "solo"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in bigram_logprob(df).collect()}
    assert out[1]["avg_logprob"] == out[2]["avg_logprob"]
    assert out[1]["avg_logprob"] > out[4]["avg_logprob"]
    assert out[5]["n_bigrams"] == 0 and out[5]["avg_logprob"] is None
    assert out[1]["n_bigrams"] == 5


def test_c4_rule_filter_planted_fixtures(spark):
    """Each rule fires on its own planted violation; a clean doc keeps."""
    from time_series_databse_engine_spark.operators.text import c4_rule_filter

    good = "the quick brown fox jumps over the lazy dog near the old stone " \
           "bridge while rain falls softly on quiet fields tonight."
    docs = [
        (0, good),                                     # keeps
        (1, "too short."),                             # f_min_words
        (2, good[:-1]),                                # no terminal punct
        (3, good.replace("bridge", "bridge {x}")),     # brace
        (4, good.replace("fox", "lorem ipsum fox")),   # bad phrase
        (5, ("a " * 30).strip() + "."),                # mean word len < 3
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    r = {x["doc_id"]: x for x in c4_rule_filter(df).collect()}
    assert r[0]["keep"]
    assert not r[1]["f_min_words"] and not r[1]["keep"]
    assert not r[2]["f_terminal_punct"] and not r[2]["keep"]
    assert not r[3]["f_no_brace"] and not r[3]["keep"]
    assert not r[4]["f_no_bad_phrase"] and not r[4]["keep"]
    assert not r[5]["f_word_len_band"] and not r[5]["keep"]
    # every failing doc fails ONLY its planted rule (plus keep)
    assert r[1]["f_no_brace"] and r[1]["f_no_bad_phrase"]
    assert r[5]["f_min_words"] and r[5]["f_terminal_punct"]


def test_rrf_fuse_known_lists(spark):
    """Hand-computed fusion: agreement on one id dominates; rank order and
    n_lists are right; determinism via id tiebreak."""
    from time_series_databse_engine_spark.operators.text import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank int")
    b = spark.createDataFrame([(3, 1), (4, 2), (1, 3)], "doc_id long, rank int")
    out = rrf_fuse([a, b], k=60, top=4).collect()
    scores = {r["doc_id"]: (r["rrf_score"], r["n_lists"]) for r in out}
    assert scores[1] == (round(1 / 61 + 1 / 63, 6), 2)
    assert scores[3] == (round(1 / 63 + 1 / 61, 6), 2)
    assert scores[2] == (round(1 / 62, 6), 1)
    assert scores[4] == (round(1 / 62, 6), 1)
    # 1 and 3 tie exactly -> id order; 2 and 4 tie -> id order
    assert [r["doc_id"] for r in out] == [1, 3, 2, 4]


def test_bpe_learn_matches_sennrich_example(spark):
    from time_series_databse_engine_spark.operators.text import bpe_apply, bpe_learn

    # Sennrich 2016's worked corpus: the first merges fuse the frequent
    # 'es'/'est' inside newest/widest
    corpus = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    df = spark.createDataFrame([(1, corpus)], "doc_id long, text string")
    merges = bpe_learn(df, num_merges=4)
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t")
    assert ("l", "o") in merges

    out = bpe_apply(df, merges).collect()[0]
    assert out.n_words == 16
    # with ('e','s'),('es','t'),('l','o') (+1 more) learned:
    # low -> [lo,w]=2, lower -> [lo,w,e,r]=4 (or 3 if ('lo','w') learned),
    # newest -> [n,e,w,est]=4, widest -> [w,i,d,est]=4 — strictly fewer
    # tokens than characters, more than words
    assert out.n_words < out.n_bpe_tokens < len(corpus.replace(" ", ""))

    # priority rule: merges apply by RANK, not left-to-right — 'est' wins
    # inside 'newest' even though 'ne' appears earlier in the word
    df2 = spark.createDataFrame([(2, "newest")], "doc_id long, text string")
    n = bpe_apply(df2, [("e", "s"), ("es", "t"), ("n", "e")]).collect()[0]
    assert n.n_bpe_tokens == 3  # ne + w + est


def test_bpe_apply_no_merges_is_char_count(spark):
    from time_series_databse_engine_spark.operators.text import bpe_apply

    df = spark.createDataFrame([(1, "ab cde")], "doc_id long, text string")
    r = bpe_apply(df, []).collect()[0]
    assert r.n_words == 2 and r.n_bpe_tokens == 5


def test_hashing_vectorize_unit_norm_and_determinism(spark):
    import math

    from time_series_databse_engine_spark.operators.text import hashing_vectorize

    df = spark.createDataFrame(
        [(1, "alpha beta alpha gamma"), (2, "alpha"), (3, "")],
        "doc_id long, text string",
    )
    rows = hashing_vectorize(df, dim=16).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # empty doc contributes no entries; single-token doc is a unit vector
    assert 3 not in by_doc
    assert len(by_doc[2]) == 1 and by_doc[2][0].weight == 1.0
    # unit L2 norm (up to 6-dp rounding)
    norm1 = math.sqrt(sum(r.weight**2 for r in by_doc[1]))
    assert abs(norm1 - 1.0) < 1e-4
    # same token always lands in the same bucket: doc1's 'alpha' bucket
    # (the n=2 entry) equals doc2's only bucket
    a1 = [r.bucket for r in by_doc[1] if r.n == 2]
    assert a1 == [by_doc[2][0].bucket]


def test_hashing_vectors_feed_cosine_dedup(spark):
    """The model-free-embedding claim, end to end: densified hashed
    vectors through cosine_near_dup find the planted duplicate pair at
    similarity 1.0 while unrelated docs score far lower."""
    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.similarity import cosine_near_dup
    from time_series_databse_engine_spark.operators.text import hashing_vectorize

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words about spark engines and parquet"),
        ],
        "doc_id long, text string",
    )
    sparse = hashing_vectorize(docs, dim=32)
    dense = (
        sparse.groupBy("doc_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("bucket", "weight"))).alias("m"))
        .select(
            F.col("doc_id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(31)),
                lambda b: F.coalesce(F.element_at(F.col("m"), b), F.lit(0.0)),
            ).alias("embedding"),
        )
    )
    pairs = {(r.id1, r.id2): r.cosine_sim for r in cosine_near_dup(dense, threshold=0.0).collect()}
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] < 0.5


def test_maxsim_topk_hand_computed(spark):
    """ColBERT-shape scoring on hand-checkable docs (md5 buckets of the
    test words verified collision-free at dim=64): score = Σ over query
    tokens of max chunk weight at the token's bucket."""
    from time_series_databse_engine_spark.operators.text import maxsim_topk

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple apple"),  # chunks: [apple banana], [apple apple]
            (2, "apple cherry"),
        ],
        "doc_id long, text string",
    )
    q = spark.createDataFrame(
        [(1, "apple"), (2, "apple apple"), (3, "banana")],
        "q_id int, q_text string",
    )
    got = {
        (r.q_id, r.doc_id): (r.score, r.rank)
        for r in maxsim_topk(docs, q, k=10, dim=64, chunk_size=2).collect()
    }
    # doc 1 chunk [apple banana]: w_apple = 1/sqrt(2); chunk [apple apple]:
    # w_apple = 2/2 = 1.0 -> maxsim(apple) = 1.0
    assert got[(1, 1)] == (1.0, 1)
    assert got[(1, 2)] == (0.707107, 2)  # 1/sqrt(2) rounded 6dp
    # duplicate query token counts twice (multiplicity m)
    assert got[(2, 1)] == (2.0, 1)
    # doc 2 has no banana chunk: absent (inner join = implicit 0)
    assert got[(3, 1)] == (0.707107, 1)
    assert (3, 2) not in got


def test_maxsim_topk_k_and_tiebreak(spark):
    from time_series_databse_engine_spark.operators.text import maxsim_topk

    docs = spark.createDataFrame(
        [(i, "apple") for i in range(1, 6)], "doc_id long, text string"
    )
    q = spark.createDataFrame([(1, "apple")], "q_id int, q_text string")
    rows = maxsim_topk(docs, q, k=3, dim=64, chunk_size=2).collect()
    # all five docs tie at score 1.0 -> doc_id ascending breaks the tie
    assert [(r.doc_id, r.rank) for r in sorted(rows, key=lambda r: r.rank)] == [
        (1, 1), (2, 2), (3, 3)
    ]


def test_kn_bigram_logprob_matches_reference_and_backoff_semantics(spark):
    """Exact match vs a literal Python KN implementation, plus the
    discriminating property vs add-one smoothing: a word that is frequent
    but occurs after only ONE context ("francisco") gets a LOW
    continuation probability, while an equally-frequent word spread over
    many contexts gets a high one."""
    import math

    from time_series_databse_engine_spark.operators.text import kn_bigram_logprob

    rows = [
        (1, "san francisco san francisco san francisco"),
        (2, "go west go east go north go south"),
        (3, "san francisco go west"),
        (4, "solo"),  # < 2 tokens: no bigram, dropped
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in kn_bigram_logprob(df).collect()}

    # literal reference (Chen & Goodman 1999 eq. 4.21, D = 0.75)
    docs = {i: t.split() for i, t in rows}
    bigs = [(v, w) for t in docs.values() for v, w in zip(t, t[1:])]
    c_vw: dict = {}
    for b in bigs:
        c_vw[b] = c_vw.get(b, 0) + 1
    c_v: dict = {}
    fwd: dict = {}
    bwd: dict = {}
    for (v, w), c in c_vw.items():
        c_v[v] = c_v.get(v, 0) + c
        fwd[v] = fwd.get(v, 0) + 1
        bwd[w] = bwd.get(w, 0) + 1
    tot = len(c_vw)
    D = 0.75

    def p_kn(v, w):
        return (max(c_vw[(v, w)] - D, 0.0) + D * fwd[v] * bwd[w] / tot) / c_v[v]

    for i, toks in docs.items():
        pairs = list(zip(toks, toks[1:]))
        if not pairs:
            assert i not in got
            continue
        want = sum(math.log(p_kn(v, w)) for v, w in pairs) / len(pairs)
        assert got[i]["n_bigrams"] == len(pairs)
        assert abs(got[i]["kn_logprob"] - want) < 1e-6

    # continuation backoff: "francisco" only ever follows "san" (bwd=1);
    # direction words follow "go" but each also appears just once — the
    # KN point is P_cont ranks by DISTINCT contexts, not raw frequency
    assert bwd["francisco"] == 1
    # doc 1 is three repeats of one burned-in collocation; its KN score is
    # driven by the high c_vw term, yet francisco's backoff mass is minimal:
    # p_kn("west"|"go") backoff term > p_kn("francisco"|"san") backoff term
    back_fran = D * fwd["san"] * bwd["francisco"] / tot
    back_west = D * fwd["go"] * bwd["west"] / tot
    assert back_west > back_fran

    import pytest

    with pytest.raises(ValueError):
        kn_bigram_logprob(df, discount=1.5)


def test_bpe_oracle_replay_matches_on_adversarial_merges(spark):
    """The SQL replay oracle (__spark_entry__._bpe_oracle_sql) must agree
    with bpe_learn+bpe_apply on the two constructions that break naive
    encodings: back-to-back occurrences of the winning pair ("abab" —
    a single-separator replace() merges only every second one) and
    overlapping runs ("aaa" — non-overlap left-to-right must keep the
    tail)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry_mod
    from time_series_databse_engine_spark.operators.text import bpe_apply, bpe_learn

    rows = [
        (1, "abab abab ab"),          # back-to-back winning pair
        (2, "aaa aaaa aa"),           # overlap runs
        (3, "abab cd cd cd"),         # second-rank pair
        (4, "x"),                     # single char, nothing to merge
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    merges = bpe_learn(df, num_merges=16)
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_apply(df, merges).collect()
    }

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = {
        int(r.doc_id): (int(r.n_words), int(r.n_bpe_tokens))
        for r in con.execute(entry_mod._bpe_oracle_sql(16)).df().itertuples()
    }
    assert got == want
    # sanity on the fixture itself: "abab" must compress to ≤ 2 tokens
    # (a+b -> ab, then ab+ab -> abab requires rank order to hold)
    assert got[1][1] < got[1][0] * 4


def test_classifier_score_planted_weight_bucket(spark):
    """A weight vector hot on exactly one token's hash bucket separates
    docs containing that token; logit_micro is the exact integer the
    micro-unit arithmetic predicts; empty weights raise."""
    import hashlib

    import pytest

    from time_series_databse_engine_spark.operators.text import classifier_score

    def bucket(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:2], 16) % 64

    b = bucket("goodtoken")
    weights = [0.0] * 64
    weights[b] = 20.0
    fillers = [t for t in ("w%d" % i for i in range(40)) if bucket(t) != b][:3]
    rows = [(1, "goodtoken"), (2, " ".join(fillers)), (3, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in classifier_score(df, weights, bias=-10.0).collect()}

    # doc 1: phi[b] = 1.0 -> lu = -10e12 + 20e6*1e6 = 10e12 -> 10_000_000
    assert out[1]["logit_micro"] == 10_000_000
    assert out[1]["keep"] and out[1]["prob"] > 0.99
    assert out[2]["logit_micro"] == -10_000_000
    assert not out[2]["keep"] and out[2]["prob"] < 0.01
    assert 3 not in out  # zero tokens -> no feature rows -> dropped

    with pytest.raises(ValueError):
        classifier_score(df, [])


def test_vocab_coverage_planted_oov(spark):
    """Top-k vocab covers the frequent types; the rare token is OOV with
    exact counts/rate; tiebreak at the boundary is (count DESC, token
    ASC); vocab_size guard raises."""
    import pytest

    from time_series_databse_engine_spark.operators.text import vocab_coverage

    rows = [
        (1, "aa aa aa bb bb rare1", "s1"),
        (2, "aa bb cc cc zz", "s2"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    # freq: aa=4, bb=3, cc=2, rare1=1, zz=1 -> vocab_size=3 keeps aa,bb,cc
    got = {r["source"]: r for r in vocab_coverage(df, vocab_size=3).collect()}
    assert got["s1"]["n_tokens"] == 6 and got["s1"]["oov_tokens"] == 1
    assert abs(got["s1"]["oov_rate"] - 1 / 6) < 1e-6
    assert got["s1"]["n_types"] == 3 and got["s1"]["oov_types"] == 1
    assert got["s2"]["oov_tokens"] == 1 and got["s2"]["oov_types"] == 1

    # boundary tie: vocab_size=4 must pick rare1 over zz (token ASC)
    got4 = {r["source"]: r for r in vocab_coverage(df, vocab_size=4).collect()}
    assert got4["s1"]["oov_tokens"] == 0
    assert got4["s2"]["oov_tokens"] == 1  # zz still out

    with pytest.raises(ValueError):
        vocab_coverage(df, vocab_size=0)


def test_pmi_collocations_planted_pair(spark):
    """'san francisco' always co-occurs (high PMI); 'the the' is frequent
    but statistically independent filler (PMI ~ 0); sub-min_count pairs
    are dropped."""
    from time_series_databse_engine_spark.operators.text import pmi_collocations

    # 20 docs: filler words rotate so no filler bigram repeats enough to
    # bind, while 'san francisco' is frozen in every doc
    fill = ["alpha", "beta", "gamma", "delta", "eps"]
    docs = []
    for i in range(20):
        a, b, c = fill[i % 5], fill[(i + 1) % 5], fill[(i + 2) % 5]
        docs.append((i, f"the {a} the {b} san francisco the {c}"))
    docs.append((100, "rare pair"))  # 1 occurrence < min_count
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = pmi_collocations(df, min_count=5, k=100).collect()
    pmi = {(r.w1, r.w2): r for r in out}
    assert ("rare", "pair") not in pmi
    sf = pmi[("san", "francisco")]
    assert sf.pair_count == 20
    # P(san)=P(francisco)=20/N_tok; P(pair)=20/N_bi -> strongly positive
    assert sf.pmi > 2.0
    # frozen pair outranks every filler pair
    assert out[0].w1 == "san" and out[0].w2 == "francisco"
    assert all(sf.pmi >= r.pmi for r in out)


def test_token_entropy_repetition_vs_prose(spark):
    import math

    from time_series_databse_engine_spark.operators.text import token_entropy

    docs = [
        (1, "spam spam spam spam"),              # entropy 0, TTR 1/4
        (2, "alpha beta gamma delta"),           # uniform: entropy ln(4)
        (3, "a a b b"),                          # ln(4) - (2ln2+2ln2)/4 = ln2
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in token_entropy(df).collect()}
    assert out[1].entropy == 0.0 and out[1].type_token_ratio == 0.25
    assert out[2].entropy == round(math.log(4), 6) and out[2].n_types == 4
    assert out[3].entropy == round(math.log(2), 6)
    assert out[1].n_tokens == 4


def test_corpus_report_dup_rate_and_lang_mode(spark):
    from time_series_databse_engine_spark.operators.text import corpus_report

    docs = [
        (1, "web", "same text", "en"),
        (2, "web", "same text", "en"),      # exact dup
        (3, "web", "other text", "de"),
        (4, "web", "third text", "en"),     # en wins 3-1
        (5, "book", "unique here", "fr"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, source string, text string, lang string")
    out = {r.source: r for r in corpus_report(df).collect()}
    web = out["web"]
    assert web.n_docs == 4 and web.exact_dup_frac == 0.25
    assert web.top_lang == "en" and web.n_tokens == 8
    book = out["book"]
    assert book.exact_dup_frac == 0.0 and book.top_lang == "fr"
