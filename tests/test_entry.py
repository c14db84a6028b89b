"""Driver-contract smoke: entry() runs, queries()/oracle_sql() are aligned."""

import difflib
import hashlib
import json
import os
import sys
import textwrap

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

_PIN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "registry_pin.json")


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"bucket_ms", "event_type", "n"}


def test_oracle_keys_subset_of_queries():
    q = set(entry_mod.queries())
    o = set(entry_mod.oracle_sql())
    assert o <= q
    # every query has an oracle except these, which DuckDB cannot replay
    assert q - o == {
        "column_profile_fast",  # xxhash64 HLL — anchored by column_profile (md5)
        "frame_sample",       # binary container payloads — exactness in tests
        "multimodal_features",  # binary mapInPandas, fake decoder
        "multimodal_decode",  # binary construction — codec exactness in tests
        "multimodal_resize",  # binary payloads — pixel exactness in tests
        "image_neardup",      # binary payloads; planted twins — pHash tests
        "audio_neardup",      # binary payloads; planted twins — BER tests
        "video_neardup",      # binary payloads; planted twins — frame-hash tests
    }


def test_three_representative_queries_run(spark, sf_dir):
    qs = entry_mod.queries()
    for name in ["range_scan", "downsample_1h", "cosine_topk"]:
        df = qs[name](spark, sf_dir)
        assert df.count() >= 0


def test_driver_window_rows_only_entries_are_the_designated_rotation():
    """The first 50 queries() keys are the driver's correctness window.
    A rows-only query can never hash-match, so none sits there."""
    q = list(entry_mod.queries())
    o = set(entry_mod.oracle_sql())
    rows_only_in_window = {k for k in q[:50] if k not in o}
    assert not rows_only_in_window, f"no-oracle queries in the window: {rows_only_in_window}"


def test_docs_count_memo_distinguishes_scale_factors(spark):
    """Regression (round 7): the _docs_count memo keyed on the logical
    plan STRING alone — which prints identically for read.parquet of
    different directories — so a tiny-SF warm-up poisoned the corpus
    size for every later SF in the session, silently reverting the LSH
    banding rule to base parameters at scale (edit_verify 8 s -> 44 s at
    sf1).  The key must resolve the scan's actual input files."""
    small = entry_mod._t(spark, "/root/testdata/sf0.001", "documents")
    big = entry_mod._t(spark, "/root/testdata/sf0.1", "documents")
    n_small = entry_mod._docs_count(small)
    n_big = entry_mod._docs_count(big)
    assert n_small == small.count()
    assert n_big == big.count()
    assert n_small != n_big


def test_pair_consumers_share_one_lsh_pair_build(spark, sf_dir, monkeypatch):
    """k_core and dedup_clusters in one session sign the corpus once:
    the second reads the first's pair fixture, which equals the pairs
    computed directly from the documents."""
    from time_series_databse_engine_spark.operators import _util, dedup as dedup_ops

    monkeypatch.setattr(_util, "_MEMO", {})  # this test's session starts unbuilt
    calls = []
    sign = dedup_ops.minhash_signatures

    def counted(*args, **kwargs):
        calls.append(kwargs)
        return sign(*args, **kwargs)

    monkeypatch.setattr(dedup_ops, "minhash_signatures", counted)
    for name in ("k_core", "dedup_clusters"):
        assert entry_mod.queries()[name](spark, sf_dir).count() > 0
    assert len(calls) == 1, calls

    docs = entry_mod._t(spark, sf_dir, "documents")
    p = dedup_ops.lsh_params_for(docs.count())
    direct = dedup_ops.lsh_candidate_pairs(
        sign(docs, num_hashes=p["num_hashes"], shingle_n=3),
        bands=p["bands"], rows_per_band=p["rows_per_band"],
    )
    shared = entry_mod._scaled_banded_pairs(spark, sf_dir)
    assert len(calls) == 1
    assert shared.columns == ["id1", "id2"]
    assert sorted(shared.collect()) == sorted(direct.collect())


def _snapshot() -> dict:
    """The pinned facts: the key order of ``queries()`` and the first 16
    hex digits of each ``oracle_sql()`` string's sha256."""
    oracles = entry_mod.oracle_sql()
    return {
        "keys": list(entry_mod.queries()),
        "oracle_sha256_16": {
            k: hashlib.sha256(oracles[k].encode()).hexdigest()[:16]
            for k in sorted(oracles)
        },
    }


def _write_pin() -> None:
    """Re-take the snapshot: ``python tests/test_entry.py``.  Only for a
    change that means to reorder keys or edit an oracle."""
    snap = _snapshot()

    def block(items):
        return textwrap.fill(", ".join(items), 76, initial_indent="  ",
                             subsequent_indent="  ", break_long_words=False)

    keys = block(json.dumps(k) for k in snap["keys"])
    digests = block(
        f"{json.dumps(k)}:{json.dumps(v)}" for k, v in snap["oracle_sha256_16"].items()
    )
    with open(_PIN, "w") as fh:
        fh.write(f'{{\n"keys": [\n{keys}\n],\n"oracle_sha256_16": {{\n{digests}\n}}\n}}\n')


def test_registry_matches_the_pinned_snapshot():
    """``list(queries())`` is the driver order and ``oracle_sql()`` the
    answers; both are pinned in registry_pin.json so a refactor of the
    registry cannot reorder a key or touch an oracle unnoticed."""
    with open(_PIN) as fh:
        pin = json.load(fh)
    snap = _snapshot()
    if snap["keys"] != pin["keys"]:
        diff = difflib.unified_diff(
            pin["keys"], snap["keys"], "pinned", "queries()", lineterm=""
        )
        pytest.fail("queries() key order differs from the pin:\n" + "\n".join(diff))
    want, got = pin["oracle_sha256_16"], snap["oracle_sha256_16"]
    changed = sorted(k for k in want.keys() | got.keys() if want.get(k) != got.get(k))
    assert not changed, f"oracle_sql() strings differ from the pin: {changed}"


def test_bench_list_resolves_through_the_shared_lookup():
    """bench.py times exactly the registry rows flagged ``bench``, in
    registry order, and keeps no builders of its own: the production
    profiler variant is a registry row, outside the driver window."""
    import bench

    names = bench.BENCH_QUERIES
    assert names == [q.name for q in entry_mod.REGISTRY if q.bench]
    assert len(names) == len(set(names)) == 150
    assert names[-1] == "column_profile_fast"
    assert "column_profile_fast" not in list(entry_mod.queries())[:50]
    assert not hasattr(bench, "OVERRIDES") and not hasattr(bench, "lookup")


def _emit_line(monkeypatch, tmp_path, capsys, times, extra, layers=None):
    """``bench.emit`` into a private detail file; its last stdout line."""
    import bench

    monkeypatch.setattr(bench, "DETAIL_PATH", str(tmp_path / "detail.json"))
    bench.emit(times, extra, {"q000": "ValueError('warm-up')"}, layers or {})
    return capsys.readouterr().out.strip().splitlines()[-1]


def _r14_extra() -> dict:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH_LOCAL_sf0.01_r14.json")) as fh:
        return json.load(fh)["extra"]


_TIMES = {f"q{i:03d}": round(0.5 + 0.01 * i, 3) for i in range(150)}


def test_bench_summary_fits_with_150_queries_and_the_r14_extras(monkeypatch, tmp_path, capsys):
    import bench

    line = _emit_line(monkeypatch, tmp_path, capsys, _TIMES, _r14_extra())
    assert len(line) <= bench.SUMMARY_LIMIT
    assert json.loads(line)["n_queries"] == 150


def test_bench_summary_fits_when_the_extras_alone_are_over_the_cap(monkeypatch, tmp_path, capsys):
    """The summary sheds extras once no query is left to shed; the
    detail file keeps every one of them."""
    import bench

    extra = {**_r14_extra(), **{f"padding_extra_{i:03d}": 123456.789 for i in range(40)}}
    assert len(json.dumps(extra)) > bench.SUMMARY_LIMIT
    line = _emit_line(monkeypatch, tmp_path, capsys, _TIMES, extra)
    assert len(line) <= bench.SUMMARY_LIMIT
    summary = json.loads(line)
    assert summary["n_queries"] == 150
    assert summary["extra"].items() <= extra.items()
    with open(tmp_path / "detail.json") as fh:
        assert json.load(fh)["extra"] == extra


def test_bench_detail_holds_every_time_warmup_errors_and_layers(monkeypatch, tmp_path, capsys):
    layers = {n: {"build_ms": 1.5, "run_ms": 10.0, "steal_frac": 0.0, "jobs": 2} for n in _TIMES}
    _emit_line(monkeypatch, tmp_path, capsys, _TIMES, _r14_extra(), layers)
    with open(tmp_path / "detail.json") as fh:
        detail = json.load(fh)
    assert detail["queries"] == _TIMES
    assert detail["warmup_errors"] == {"q000": "ValueError('warm-up')"}
    assert detail["layers"] == layers


def test_bench_hot_cold_percentile_rows_keep_their_values():
    """Nearest-rank, as the rows were before they used the harness's
    ``percentile``: over 1..40 p50 is 20 and p99 is 40; over 1..20 p99
    is 20."""
    import random

    import bench

    forty = [float(i) for i in range(1, 41)]
    random.Random(0).shuffle(forty)
    assert bench.pct_extras("query_hot_1h", forty) == {
        "query_hot_1h_p50": 20.0, "query_hot_1h_p99": 40.0,
    }
    twenty = [float(i) for i in range(1, 21)]
    assert bench.pct_extras("query_cold_24h", twenty) == {
        "query_cold_24h_p50": 10.0, "query_cold_24h_p99": 20.0,
    }


if __name__ == "__main__":
    _write_pin()


_TWO_SESSIONS = """
import json, os, sys, tempfile
sys.path.insert(0, sys.argv[1])
import __spark_entry__ as entry
from time_series_databse_engine_spark import get_spark

names = ("bucketed_join_storage", "ann_index_probe", "maxsim_index_probe", "tsdb_roundtrip",
         "dedup_clusters")
for session in (0, 1):
    spark = get_spark(app_name=f"session-{session}", master="local[2]", shuffle_partitions=2)
    for name in names:
        try:
            out = entry.queries()[name](spark, sys.argv[2]).count()
        except Exception as e:
            out = f"{type(e).__name__}: {str(e)[:300]}"
        print(json.dumps({"session": session, "query": name, "rows": out}), flush=True)
    spark.stop()
print(json.dumps({"tmp": tempfile.gettempdir(), "dirs": sorted(os.listdir(tempfile.gettempdir()))}))
"""

_FIXTURE_PREFIXES = ("tsdb_store_", "ann_index_", "maxsim_index_", "lsh_pairs_")


@pytest.fixture(scope="module")
def two_sessions(tmp_path_factory, sf_dir):
    """One subprocess that builds five fixture-backed queries in a
    session, stops it, and builds them again in a second session; its
    temp dir and Spark warehouse are private to the run."""
    import subprocess

    work = tmp_path_factory.mktemp("two_sessions")
    tmp = work / "tmp"
    tmp.mkdir()
    env = dict(os.environ, TMPDIR=str(tmp), SPARK_GRAFT_DRIVER_MEM="1g")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _TWO_SESSIONS, root, sf_dir],
        cwd=work, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = [json.loads(ln) for ln in proc.stdout.splitlines() if ln.startswith("{")]
    return proc, lines, tmp


def test_second_session_in_one_process_rebuilds_its_fixtures(two_sessions):
    """A fixture memoized in a stopped session (the bucketed catalog
    tables, an index dir, the store, the LSH pairs) must be rebuilt for
    the next session: both sessions answer every query with the same
    rows."""
    proc, lines, _ = two_sessions
    assert proc.returncode == 0, proc.stderr[-2000:]
    rows = {(r["session"], r["query"]): r["rows"] for r in lines if "query" in r}
    assert len(rows) == 10
    for (session, name), n in rows.items():
        assert isinstance(n, int) and n > 0, (session, name, n)
        assert n == rows[(0, name)], (name, rows[(0, name)], n)


def test_fixture_dirs_are_removed_at_process_exit(two_sessions):
    """The first session's store, index and pair dirs are removed once the
    second session builds its own, so one of each is left before exit,
    and none after it."""
    proc, lines, tmp = two_sessions
    left = [d for d in os.listdir(tmp) if d.startswith(_FIXTURE_PREFIXES)]
    assert not left, left
    assert lines[-1]["tmp"] == str(tmp)
    made = [d for d in lines[-1]["dirs"] if d.startswith(_FIXTURE_PREFIXES)]
    assert sorted(p for d in made for p in _FIXTURE_PREFIXES if d.startswith(p)) == sorted(
        _FIXTURE_PREFIXES
    ), made
