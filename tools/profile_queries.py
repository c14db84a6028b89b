"""Per-query optimization profiler (round 12).

For each named query: N timed noop-sink runs in ONE warm session (min +
mean recorded — the min isolates position tax / GC noise), the
``explain("formatted")`` plan written to plans/r12/<q>_<tag>.txt, and a
plan-shape summary (Exchange count, Python-eval nodes, join strategies,
scan count) printed as one JSON line per query.

Usage:
  python tools/profile_queries.py before q1,q2,...   # writes plans/r12/<q>_before.txt
  python tools/profile_queries.py after  q1,q2,...   # writes plans/r12/<q>_after.txt
  python tools/profile_queries.py none   q1,q2,...   # timing only, no plan files
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import lookup
from time_series_databse_engine_spark import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("PROFILE_REPS", "3"))
PLANS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("PROFILE_PLANS_TAG", "r13"))


def plan_shape(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "py_eval": len(re.findall(r"BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "shj": len(re.findall(r"ShuffledHashJoin", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "sorts": len(re.findall(r"\bSort\b", plan)),
        "scans": len(re.findall(r"Scan parquet|Scan ExistingRDD|Scan json|Scan csv", plan)),
        "expand": len(re.findall(r"\bExpand\b", plan)),
        "window": len(re.findall(r"\bWindow\b", plan)),
        "aqe": len(re.findall(r"AdaptiveSparkPlan", plan)),
    }


def main() -> None:
    tag = sys.argv[1]
    names = [n for n in sys.argv[2].split(",") if n]
    spark = get_spark(app_name=f"profile-{tag}")
    os.makedirs(PLANS_DIR, exist_ok=True)

    # warm-up: identical to bench.py (pays codegen + python worker spawn)
    for name in names:
        try:
            lookup(name)(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            print(json.dumps({"query": name, "warmup_error": str(e)[:200]}))

    out = {}
    for name in names:
        # one failing query must not abort the batch or lose collected
        # timings (advisor r12): record the error, write incrementally
        try:
            fn = lookup(name)
            ts = []
            for _ in range(REPS):
                spark.sparkContext.setJobDescription(f"profile:{name}")
                t0 = time.perf_counter()
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                ts.append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
            df = fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            if tag != "none":
                with open(os.path.join(PLANS_DIR, f"{name}_{tag}.txt"), "w") as fh:
                    fh.write(plan)
            rec = {
                "query": name,
                "min_sec": round(min(ts), 3),
                "mean_sec": round(sum(ts) / len(ts), 3),
                "runs": [round(t, 3) for t in ts],
                **plan_shape(plan),
            }
        except Exception as e:  # noqa: BLE001
            rec = {"query": name, "error": str(e)[:500]}
        out[name] = rec
        print(json.dumps(rec), flush=True)
        with open(f"/tmp/profile_{tag}.json", "w") as fh:
            json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
