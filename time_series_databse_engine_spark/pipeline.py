"""End-to-end training-data preparation pipeline (north-star tier).

Composes the individual operators into the shape every LLM data pipeline
runs over its raw corpus:

    exact dedup → near-dup cluster purge → quality gate → deterministic
    sample

Every stage is a set-membership decision keyed on content/id hashes
(md5), so the pipeline is reproducible across retries, AQE re-plans, and
incremental reruns, and the whole composition is exactly reproducible in
ANSI SQL — the `clean_corpus` driver query hash-compares against a single
DuckDB oracle that re-derives all four gates.

Scale shape: the corpus is scanned once for each derived table (keeper
set, near-dup purge list, per-doc quality) — each of which is small or
id-keyed — then filtered with semi/anti joins; no stage ever shuffles
document text by anything other than its id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .operators import dedup as dedup_ops, sampling as sampling_ops, text as text_ops


def clean_corpus(
    docs: DataFrame,
    quality_threshold: float = 0.5,
    rate_16ths: int = 4,
    num_hashes: int = 8,
    shingle_n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """The standard corpus-cleaning cascade, one DataFrame in → one out.

    1. **Exact dedup**: keep only each text's keeper (min id per md5).
    2. **Near-dup purge**: MinHash→LSH→connected components; drop every
       cluster member except the cluster minimum.
    3. **Quality gate**: composite heuristic score ≥ ``quality_threshold``
       (gate on the 6-dp ROUNDED score so the boundary is engine-exact).
    4. **Deterministic sample**: md5-of-id gate at ``rate_16ths``/16.

    Returns every non-text column of the input plus (n_tokens, quality)
    for surviving documents (text is dropped — downstream tokenization
    re-reads it by id; keeping it out of the result avoids shuffling
    payloads through the joins).

    ``pairs`` is the corpus's LSH candidate pair table (id1, id2), when
    the caller already has it; step 2 then clusters it instead of
    computing signatures and banding from ``docs`` (the MinHash and
    banding arguments are unused).
    """
    keepers = dedup_ops.exact_dedup(docs, text_col, id_col).select(
        F.col("keeper_id").alias(id_col)
    )
    if pairs is None:
        sigs = dedup_ops.minhash_signatures(docs, num_hashes, shingle_n, text_col, id_col)
        pairs = dedup_ops.lsh_candidate_pairs(sigs, bands, rows_per_band, id_col)
    clusters = dedup_ops.dedup_clusters(pairs)
    purge = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(id_col)

    quality = text_ops.quality_score(docs, text_col, id_col).select(
        id_col, "n_tokens", "quality"
    )

    survivors = (
        sampling_ops.deterministic_sample(docs, rate_16ths, id_col)
        .join(keepers, id_col, "semi")
        .join(purge, id_col, "anti")
        .join(quality, id_col)
        .filter(F.col("quality") >= quality_threshold)
    )
    meta_cols = [c for c in docs.columns if c not in (id_col, text_col)]
    return survivors.select(id_col, *meta_cols, "n_tokens", "quality")


def clean_crawl(
    pages: DataFrame,
    min_visible_ppm: int = 100_000,
    quality_threshold: float = 0.5,
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """Raw crawl pages (id, html) → clean text corpus — the crawl-side
    prequel to :func:`clean_corpus`:

    1. **Extract**: ``web.strip_html`` — visible text + boilerplate
       density (integer ``visible_ppm`` = visible_len·10⁶ div raw_len,
       so the gate boundary is engine-exact, no float rounding).
    2. **Boilerplate gate**: ``visible_ppm >= min_visible_ppm`` — a page
       that is mostly markup is navigation chrome, not prose.
    3. **Quality gate**: the composite heuristic score ≥ threshold
       (gate on the 6-dp ROUNDED score, same rule as clean_corpus).
    4. **Exact dedup on the EXTRACTED text**: crawl mirrors and
       boilerplate-differing copies of the same article collapse to the
       smallest id once markup is gone — dedup *after* extraction is
       the whole point of running strip first.

    Scale shape: stages 1–3 are pure codegen'd projections riding the
    scan (0 exchanges); stage 4 shuffles (md5, id) pairs only — page
    text never moves except inside the initial scan's partitions.
    Returns (id, n_tokens, quality, visible_ppm) for survivors.
    """
    from .operators import web as web_ops
    from .operators._util import _parallelize

    # strip_html's per-row expression work replays once per downstream
    # branch (quality, survivors, keepers) — a single-file scan would
    # serialize every replay on one core (4 × ~0.45 s at sf0.1); the
    # guarded repartition spreads each replay, and is a no-op at scale
    pages = _parallelize(pages)
    stripped = web_ops.strip_html(pages, html_col, id_col).withColumn(
        "visible_ppm",
        F.expr("CAST(visible_len * 1000000 div raw_len AS BIGINT)"),
    )
    gated = stripped.filter(F.col("visible_ppm") >= min_visible_ppm)
    scored = text_ops.quality_score(gated, "text", id_col).select(
        id_col, "n_tokens", "quality"
    )
    survivors = (
        gated.select(id_col, "text", "visible_ppm")
        .join(scored, id_col)
        .filter(F.col("quality") >= quality_threshold)
    )
    keepers = dedup_ops.exact_dedup(survivors, "text", id_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return survivors.join(keepers, id_col, "semi").select(
        id_col, "n_tokens", "quality", "visible_ppm"
    )
