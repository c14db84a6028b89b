"""Take a BENCH_LOCAL record only when the host cooperates.

This box is a shared host with intermittent multi-minute load bursts
(SCALE.md "Round-8 environment"); a record whose suite or ingest phase
catches one is evidence-poisoned.  This wrapper automates the accepted
protocol:

1. wait until 1-minute loadavg < ``--max-load`` (default 1.5);
2. run ``bench.py`` with the detail file pointed at a TEMP path;
3. accept the take only if ``extra.ingest_points_per_sec`` >=
   ``--min-ingest`` (default 700k — the idle-baseline tell) AND the
   end-of-run ``ctx_loadavg_5m`` stayed under ``--max-load-after``
   (default 6.0) AND the run's hypervisor-steal fraction
   ``ctx_steal_frac`` stayed under ``--max-steal`` (default 0.004 —
   r13: the first two gates miss a steal burst that starts after the
   ingest phase) AND the query-time steal stayed under the same bound
   (:func:`query_steal`: a burst that lands on the timed queries can
   hide in a run-wide fraction diluted by set-up and the stream legs;
   a refused take prints its five largest contributors); on acceptance
   move the temp detail into place,
   otherwise retry up to ``--attempts`` times (default 4), keeping the
   best rejected take's summary on stderr for the post-mortem.

    python tools/record_bench.py BENCH_LOCAL_sf0.1_rN.json \
        [--sf /root/testdata/sf0.1] [--attempts 4]

Exit 0 = accepted record written; exit 1 = every attempt contended
(nothing written — keep the previous record and annotate, the round-8
resolution).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def wait_idle(max_load: float, timeout_s: int = 1800) -> bool:
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        if os.getloadavg()[0] < max_load:
            return True
        time.sleep(30)
    return False


def query_steal(layers: dict[str, dict]) -> tuple[float, list[tuple[str, float]]]:
    """Steal over the timed queries: each ``layers`` row's ``steal_frac``
    weighted by its ``build_ms + run_ms``, summed over the rows, over the
    summed time.  One row's fraction is tick-quantized (a sub-second
    query reads 0 or a multiple of 0.008 on 4 CPUs); the weighted sum
    over a suite is not.  Also returns the five rows with the most
    stolen ms, as (query, stolen ms), largest first."""
    stolen = {
        q: r.get("steal_frac", 0.0) * (r["build_ms"] + r["run_ms"]) for q, r in layers.items()
    }
    total = sum(r["build_ms"] + r["run_ms"] for r in layers.values())
    top = sorted(stolen.items(), key=lambda kv: kv[1], reverse=True)[:5]
    return (sum(stolen.values()) / total if total else 0.0), [(q, round(ms, 1)) for q, ms in top]


def judge(d: dict, args: argparse.Namespace) -> dict:
    """The gates over one take's detail dict ``d``; the returned report's
    ``accepted`` is the verdict."""
    x = d.get("extra", {})
    q_steal, top = query_steal(d.get("layers", {}))
    report = {
        "suite_sec": d.get("value"),
        "n_queries": len(d.get("queries", {})),
        "ingest_points_per_sec": x.get("ingest_points_per_sec", 0),
        "ctx_loadavg_5m": x.get("ctx_loadavg_5m", 99.0),
        # r13: reject steal-poisoned takes.  The loadavg/ingest gates miss
        # a hypervisor steal burst that starts AFTER the ingest phase (the
        # r13 attempt-2 take: ingest 807k yet steal_frac 0.0247 ≈ 0.8 of
        # 32 cores stolen on average — suite 159 s vs ~131 s clean).
        # 0.004 ≈ an eighth of one core over the run; idle takes measure
        # ~0.000-0.001.
        "ctx_steal_frac": x.get("ctx_steal_frac", 0.0),
        "query_steal_frac": round(q_steal, 5),
    }
    report["accepted"] = (
        report["ingest_points_per_sec"] >= args.min_ingest
        and report["ctx_loadavg_5m"] <= args.max_load_after
        and report["ctx_steal_frac"] <= args.max_steal
        and q_steal <= args.max_steal
    )
    if q_steal > args.max_steal:
        report["top_steal_ms"] = top
    return report


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("out", help="detail-file destination (e.g. BENCH_LOCAL_sf0.1_r9.json)")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--attempts", type=int, default=4)
    ap.add_argument("--max-load", type=float, default=1.5)
    # r13: the end-of-run loadavg gate was the only contention proxy
    # before ctx_steal_frac existed; this box reports phantom loadavg
    # (D-state/virtio workers) of 4-7 while CPUs sit idle and steal is
    # ~0.001, so with the direct steal gate in place the loadavg bound
    # is relaxed to a sanity backstop (it rejected a clean
    # steal_frac=0.0014 take in the r13 retake, attempt 3).
    ap.add_argument("--max-load-after", type=float, default=12.0)
    ap.add_argument("--min-ingest", type=float, default=700_000)
    ap.add_argument("--max-steal", type=float, default=0.004)
    return ap.parse_args(argv)


def main() -> int:
    args = parse_args()

    for attempt in range(1, args.attempts + 1):
        if not wait_idle(args.max_load):
            print(f"attempt {attempt}: host never went idle", file=sys.stderr)
            continue
        fd, tmp = tempfile.mkstemp(prefix="bench_detail_", suffix=".json")
        os.close(fd)  # bench.py (re)writes the path; mkstemp just claims it
        env = dict(
            os.environ,
            SPARK_GRAFT_SF_DIR=args.sf,
            SPARK_GRAFT_BENCH_DETAIL=tmp,
        )
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            env=env,
            capture_output=True,
            text=True,
        )
        if proc.returncode != 0 or not os.path.exists(tmp):
            print(
                f"attempt {attempt}: bench failed rc={proc.returncode}\n"
                + proc.stderr[-1500:],
                file=sys.stderr,
            )
            continue
        report = judge(json.load(open(tmp)), args)
        print(json.dumps({"attempt": attempt, **report}), file=sys.stderr)
        if report["accepted"]:
            shutil.move(tmp, os.path.join(REPO, args.out))
            print(json.dumps({"accepted": True, "out": args.out, "attempt": attempt}))
            return 0
        os.remove(tmp)
    print(json.dumps({"accepted": False}))
    return 1


if __name__ == "__main__":
    sys.exit(main())
