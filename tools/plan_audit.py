"""Generate PLANS.md: physical-plan evidence for every queries() entry.

For each query the audit records the properties that decide 100 TB
behaviour — shuffle-exchange count, broadcast usage, cartesian products,
whether filters were pushed to the scan, whole-stage codegen presence, and
any Python (Arrow) boundary.  Run after operator changes:

    python tools/plan_audit.py  [sf_dir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod
from time_series_databse_engine_spark import get_spark
from time_series_databse_engine_spark.plans import (
    num_shuffle_exchanges,
    pushed_filters,
    simple_plan,
)

HEADER = """# PLANS — physical-plan audit of every driver query

Generated by `tools/plan_audit.py` (re-run after operator changes).
Columns: shuffle exchanges in the static plan (hash, range, round-robin and
single; broadcast/reused excluded), broadcast join present, cartesian
product present (bad), filters pushed to the Parquet scan, whole-stage
codegen in the final plan, runtime exchange reuse (AQE), Arrow/Python
stage present.

| query | shuffles | broadcast | cartesian | pushed filters | codegen | reuse | python |
|---|---|---|---|---|---|---|---|
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(shuffle_partitions=16)
    rows = []
    for name, fn in entry_mod.queries().items():
        try:
            df = fn(spark, sf_dir)
            # static plan first: exchange counts are not double-printed
            # inside query stages there
            n_shuffles = num_shuffle_exchanges(df)
            pushed = bool(pushed_filters(df))
            # then execute THIS df (not a separate write job) so its own AQE
            # plan finalizes: codegen markers and runtime exchange reuse
            # only exist in the final plan
            df.collect()
            p = simple_plan(df)
            rows.append(
                (
                    name,
                    n_shuffles,
                    "y" if "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p else "",
                    "CARTESIAN" if "CartesianProduct" in p else "",
                    "y" if pushed else "",
                    "y" if "*(" in p or "WholeStageCodegen" in p else "",
                    "y" if "ReusedExchange" in p else "",
                    "y" if ("ArrowEvalPython" in p or "MapInPandas" in p
                            or "FlatMapGroupsInPandas" in p or "FlatMapCoGroupsInPandas" in p) else "",
                )
            )
        except Exception as e:  # streaming/stateful entries may not plan batch-side
            rows.append((name, "-", "-", "-", "-", "-", "-", f"error: {type(e).__name__}"))
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(HEADER)
        for r in rows:
            f.write("| " + " | ".join(str(x) for x in r) + " |\n")
        shuffly = [r for r in rows if isinstance(r[1], int) and r[1] > 2]
        f.write(
            f"\n{len(rows)} queries audited; "
            f"{sum(1 for r in rows if r[3] == 'CARTESIAN')} cartesian products; "
            f"queries with >2 shuffles: {', '.join(r[0] for r in shuffly) or 'none'}.\n"
            "\nExpected >2-shuffle queries: `jaccard_pairs` (inverted-index"
            " token join → pair count → size joins), `minhash_lsh` (band"
            " repartition + pair distinct; the band exchange is computed once"
            " and AQE-reused for both join sides), `ivf_ann_topk` (cell"
            " assignment is a zero-exchange broadcast-array argmax fold —"
            " the 16-row codebook is a TakeOrderedAndProject top-k with no"
            " exchange; the three exchanges are `_parallelize`'s round-robin"
            " spread of the one-file candidate side, the 5-row query probe"
            " rank, and the final top-k rank over probed candidates),"
            " `minhash_jaccard_est` (banding + two pair⋈signature joins),"
            " `clean_corpus` (the composed end-to-end pipeline — it inherits"
            " the LSH banding exchanges plus one doc-keyed gate join;"
            " every stage's own audit row is ≤ its standalone shape),"
            " `clean_crawl` (the crawl-side composition: the strip +"
            " ppm-gate stages are shuffle-free projections; the three"
            " exchanges are the id-keyed quality join, the md5-keyed"
            " exact-dedup groupBy and the id-keyed keeper semi-join —"
            " all narrow (id, hash, score) rows, page HTML never moves),"
            " `kmeans` (per-Lloyd-round assignment rank + (cluster, dim) mean"
            " — every shuffle is id- or centroid-keyed, k×dim-sized),"
            " `tfidf_top_terms` / `unigram_logprob` (ONE corpus-sized"
            " exchange each — the id repartition / doc-mean groupBy; the"
            " others carry vocab partials or a scalar),"
            " `ewma_chunked` / `holt_chunked` (the bounded-memory price:"
            " a (series, chunk)-keyed fold exchange plus carry-join over"
            " the SAME persisted fold output — the extra exchanges move"
            " per-chunk summary rows; the 1-exchange ewma/holt_smoothing"
            " remain for series that fit a worker),"
            " `semantic_dedup` (static plan re-derives the cell-assignment"
            " subtree per consumer — the reuse column shows AQE collapses"
            " them at runtime (ReusedExchange, test-asserted); the real"
            " data-sized exchanges are ONE cell-keyed repartition reused by"
            " both self-join sides plus the id-keyed distinct/anti-join;"
            " each 16-row codebook is a top-k with no exchange),"
            " `resample_1m_expr` (series-keyed bounds agg + grid-union"
            " window + the dedup pre-step — each keyed by series, grid"
            " rows are |series|×buckets, never the raw corpus),"
            " `dsir_weights` / `dsir_sample` (the unigram_logprob shape doubled: the"
            " corpus explode feeds raw-vocab, target-vocab, and scoring"
            " subtrees — all joins broadcast vocab-sized tables, and only"
            " the final per-doc mean shuffles corpus-order rows),"
            " `sketch_percentile` (sketch build + bin merge + one window"
            " over ≤bins rows per series — the last two exchanges move"
            " sketch rows, thousands of times smaller than the raw table),"
            " `funnel` / `funnel_rates` (k−1 user-keyed join+min rounds over step tables"
            " that shrink at every stage; the static plan re-derives the"
            " filtered event scan per round, AQE reuse collapses it),"
            " `bm25` / `bm25_many` (postings build + doc-length window +"
            " query-df agg"
            " + final per-doc sum — query terms pre-filter postings"
            " BEFORE any exchange, so every shuffle moves only matching"
            " postings rows),"
            " `fuzzy_join` (block-signature explode + equi-join +"
            " levenshtein cut — exchanges carry block-keyed key rows,"
            " candidate volume is per-block, never |L|×|R|),"
            " `lsh_recall` (a measurement op composing THREE pipelines —"
            " exact shingle-Jaccard truth, the production banding, and"
            " their intersection — on the md5-gated doc sample; the"
            " static plan re-derives the sample scan per pipeline (AQE"
            " reuse collapses them) and every exchange is shingle-,"
            " band- or pair-keyed over sampled docs; the three finish"
            " crossJoins move ONE row each),"
            " `source_overlap` (distinct (source, gram) index build +"
            " gram-keyed pair join + per-pair count — the only"
            " corpus-sized exchange is the first distinct; pair-join"
            " fan-out is bounded by sources-per-gram),"
            " `mutual_info` / `pca_fit_project` (ONE corpus-sized"
            " exchange each — the (x, y) cell groupBy / the projected"
            " n·k explode-agg; every other exchange in their static"
            " plans moves the cell/stats table, cells- or k-sized,"
            " and the mutual_info cell table sits behind a"
            " localCheckpoint so consumers re-reduce FROM it)"
            " — each shuffle carries narrow keyed rows, never payloads.\n"
        )
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
