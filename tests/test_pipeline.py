"""clean_corpus composition: each gate actually removes what it should."""

from pyspark.sql import functions as F

from time_series_databse_engine_spark.pipeline import clean_corpus

GOOD = (
    "the quick brown fox jumps over the lazy dog and then the fox runs to "
    "the river where the dog waits for the other animals of the forest"
)


def _docs(spark):
    rows = [
        (1, GOOD, "en"),
        (2, GOOD, "en"),                       # exact dup of 1 → dropped
        (3, GOOD.replace("river", "creek"), "en"),  # near dup of 1 → clustered, dropped
        (4, "zz!!@@##", "xx"),                 # low quality → dropped
        (5, "the cat and the dog sat on the mat with the hat and the bat "
            "while the rat ran past the flat", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_gates_remove_planted_docs(spark):
    out = clean_corpus(
        _docs(spark), quality_threshold=0.3, rate_16ths=16  # sample keeps all
    )
    ids = {r.doc_id for r in out.collect()}
    assert 2 not in ids          # exact dup
    assert 3 not in ids          # near dup (clustered with 1)
    assert 4 not in ids          # low quality
    assert 1 in ids and 5 in ids
    row = {r.doc_id: r for r in out.collect()}[1]
    assert row.lang == "en" and row.n_tokens > 0 and row.quality > 0.3


def test_sample_gate_and_determinism(spark):
    full = clean_corpus(_docs(spark), quality_threshold=0.0, rate_16ths=16)
    sampled = clean_corpus(_docs(spark), quality_threshold=0.0, rate_16ths=4)
    full_ids = {r.doc_id for r in full.collect()}
    samp_ids = {r.doc_id for r in sampled.collect()}
    assert samp_ids <= full_ids  # sampling only removes
    again = {r.doc_id for r in clean_corpus(_docs(spark), quality_threshold=0.0, rate_16ths=4).collect()}
    assert samp_ids == again     # reproducible membership


def test_clean_corpus_with_given_pairs_equals_computed_pairs(spark):
    """``pairs=`` (the caller's LSH pair table) gives the same survivors
    as clean_corpus computing the pairs itself."""
    from time_series_databse_engine_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = _docs(spark)
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    assert pairs.count() > 0  # the near dup (1, 3) is a candidate
    for q in (0.0, 0.3):
        own = clean_corpus(docs, quality_threshold=q, rate_16ths=16)
        given = clean_corpus(docs, quality_threshold=q, rate_16ths=16, pairs=pairs)
        assert sorted(given.collect()) == sorted(own.collect())


def test_clean_crawl_cascade(spark):
    from time_series_databse_engine_spark.pipeline import clean_crawl

    mk = (
        "<html><head><script>junk({js});</script></head>"
        "<body><p>{body}</p></body></html>"
    )
    pages = [
        # 1: clean prose, passes everything
        (1, mk.format(js="x", body="the quick brown fox of the house and a dog is here to stay")),
        # 2: exact duplicate of 1 AFTER stripping (different script junk)
        (2, mk.format(js="y" * 40, body="the quick brown fox of the house and a dog is here to stay")),
        # 3: boilerplate-dominated (huge script, tiny body) -> ppm gate
        (3, mk.format(js="z" * 4000, body="the and of a short")),
        # 4: junk prose (no stopwords, heavy punct) -> quality gate
        (4, mk.format(js="x", body="@@@ ### $$$ %%% ^^^ &amp;&amp;&amp; !!!")),
    ]
    df = spark.createDataFrame(pages, "doc_id long, html string")
    out = {
        r.doc_id: r
        for r in clean_crawl(
            df, min_visible_ppm=300_000, quality_threshold=0.45
        ).collect()
    }
    assert set(out) == {1}          # 2 deduped, 3 ppm-gated, 4 quality-gated
    assert out[1].n_tokens == 14
    assert out[1].visible_ppm > 300_000
    assert out[1].quality >= 0.45


def test_clean_crawl_dedup_keeps_min_id(spark):
    from time_series_databse_engine_spark.pipeline import clean_crawl

    html = (
        "<html><body><p>the quick brown fox of the house and a dog is"
        " here to stay</p></body></html>"
    )
    df = spark.createDataFrame(
        [(9, html), (5, html), (7, html)], "doc_id long, html string"
    )
    out = clean_crawl(df, min_visible_ppm=100_000, quality_threshold=0.45).collect()
    assert [r.doc_id for r in out] == [5]
