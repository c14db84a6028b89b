"""Spark-free tests of the commit protocols: plant the file states a crash
leaves behind and check that re-running the commit converges to exactly
one copy of the data."""

import os

import pytest

from time_series_databse_engine_spark import commit


def _touch(path, text="x"):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)


def _read(path):
    with open(path) as fh:
        return fh.read()


def _names(dirs):
    return [os.path.basename(d) for d in dirs]


def _files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
    )


def test_epoch_dirs_compares_epochs_as_integers(tmp_path):
    for n in (1, 9, 10, 11):
        os.makedirs(tmp_path / "counts" / f"epoch={n}")
    assert _names(commit.epoch_dirs(str(tmp_path / "counts"))) == [
        "epoch=1", "epoch=9", "epoch=10", "epoch=11",
    ]
    ep = commit.EpochDirs(str(tmp_path), 10)
    assert _names(ep.prior("counts")) == ["epoch=1", "epoch=9"]
    assert _names(commit.EpochDirs(str(tmp_path), 2).prior("counts")) == ["epoch=1"]
    assert commit.EpochDirs(str(tmp_path), 1).prior("counts") == []
    assert commit.EpochDirs(str(tmp_path), 5).prior("missing") == []


def test_epoch_replay_over_published_dir_and_leftover_staging(tmp_path):
    """Crash after epoch 3 published but before the checkpoint commit,
    plus a crashed later attempt's staging left in ``_tmp/epoch-3``: the
    replay clears the staging, replaces the published dir and removes
    the staging root."""
    out = str(tmp_path)
    _touch(f"{out}/counts/epoch=3/part-old.parquet", "first attempt")
    _touch(f"{out}/metrics/epoch=3/part-old.parquet", "first attempt")
    _touch(f"{out}/_tmp/epoch-3/counts/part-stale.parquet", "crashed staging")
    _touch(f"{out}/counts/epoch=2/part-0.parquet", "epoch 2")

    ep = commit.EpochDirs(out, 3)
    assert not os.path.exists(f"{out}/_tmp/epoch-3")  # stale staging gone
    for name in ("counts", "metrics"):
        _touch(os.path.join(ep.tmp, name, "part-new.parquet"), "replay")
    ep.publish("counts", "metrics")

    assert _files(out) == [
        "counts/epoch=2/part-0.parquet",
        "counts/epoch=3/part-new.parquet",
        "metrics/epoch=3/part-new.parquet",
    ]
    assert _read(f"{out}/counts/epoch=3/part-new.parquet") == "replay"


def test_epoch_publish_per_partition(tmp_path):
    """A partitioned table publishes one ``epoch=N`` dir per touched
    partition; untouched partitions keep their older epochs."""
    out = str(tmp_path)
    _touch(f"{out}/current/part=0/epoch=1/a.parquet")
    _touch(f"{out}/current/part=1/epoch=1/a.parquet")
    ep = commit.EpochDirs(out, 2)
    _touch(os.path.join(ep.tmp, "current", "part=1", "b.parquet"))
    ep.publish("current/part=1")
    assert _files(out) == [
        "current/part=0/epoch=1/a.parquet",
        "current/part=1/epoch=1/a.parquet",
        "current/part=1/epoch=2/b.parquet",
    ]


def test_move_in_replaces_epoch_leftovers_in_two_partitions(tmp_path):
    """``epoch7-*`` files of an earlier attempt in two partitions are
    deleted before the staged files move in; other epochs' files, files
    without the prefix and ``epoch70-*`` stay."""
    table, staged = str(tmp_path / "t"), str(tmp_path / "t.epoch-7-tmp")
    for part in ("b=1", "b=2"):
        _touch(f"{table}/{part}/epoch7-part-0.parquet", "old attempt")
    _touch(f"{table}/b=2/epoch7-part-9.parquet", "partial old attempt")
    _touch(f"{table}/b=1/epoch70-part-0.parquet", "epoch 70")
    _touch(f"{table}/b=2/part-0.parquet", "compacted")
    _touch(f"{staged}/b=1/part-0.parquet", "new")
    _touch(f"{staged}/b=3/part-1.parquet", "new")
    _touch(f"{staged}/_SUCCESS", "")

    commit.move_in(staged, table, "b", prefix="epoch7-")

    assert not os.path.exists(staged)
    assert _files(table) == [
        "b=1/epoch7-part-0.parquet",
        "b=1/epoch70-part-0.parquet",
        "b=2/part-0.parquet",
        "b=3/epoch7-part-1.parquet",
    ]
    assert _read(f"{table}/b=1/epoch7-part-0.parquet") == "new"


def test_move_in_unpartitioned_and_unprefixed(tmp_path):
    dest = str(tmp_path / "features")
    _touch(f"{dest}/epoch4-part-0.parquet", "old attempt")
    _touch(f"{tmp_path}/s1/part-0.parquet", "new")
    commit.move_in(str(tmp_path / "s1"), dest, prefix="epoch4-")
    assert _files(dest) == ["epoch4-part-0.parquet"]
    assert _read(f"{dest}/epoch4-part-0.parquet") == "new"
    # no prefix (a plain publish): nothing is deleted
    _touch(f"{tmp_path}/s2/part-1.parquet", "appended")
    commit.move_in(str(tmp_path / "s2"), dest)
    assert _files(dest) == ["epoch4-part-0.parquet", "part-1.parquet"]


def test_recover_restores_aside_without_live_partition(tmp_path):
    """A swap that crashed between the move-aside and the move-in: the
    aside holds the partition's only copy and is moved back."""
    table = str(tmp_path)
    _touch(f"{table}/.compact-old-b=1/part-0.parquet", "only copy")
    assert commit.recover_compact(table, "b")
    assert _files(table) == ["b=1/part-0.parquet"]
    assert _read(f"{table}/b=1/part-0.parquet") == "only copy"
    assert not commit.recover_compact(table, "b")


def test_recover_drops_aside_of_completed_swap(tmp_path):
    table = str(tmp_path)
    _touch(f"{table}/.compact-old-b=1/part-0.parquet", "old")
    _touch(f"{table}/b=1/part-9.parquet", "rewritten")
    _touch(f"{table}/.compact-old-c=1/part-0.parquet", "other table column")
    assert commit.recover_compact(table, "b")
    assert _files(table) == [".compact-old-c=1/part-0.parquet", "b=1/part-9.parquet"]
    assert not commit.recover_compact(str(tmp_path / "missing"), "b")


def test_swap_partitions_replaces_drops_and_carries(tmp_path):
    table, staged = str(tmp_path / "t"), str(tmp_path / "t.compact-tmp")
    _touch(f"{table}/b=1/part-0.parquet", "old")
    _touch(f"{table}/b=1/epoch9-part-0.parquet", "uncommitted")
    _touch(f"{table}/b=2/part-0.parquet", "purged away")
    _touch(f"{table}/b=3/part-0.parquet", "untouched")
    _touch(f"{staged}/b=1/part-5.parquet", "new")
    _touch(f"{staged}/b=4/part-6.parquet", "new partition")

    commit.swap_partitions(
        staged, table, "b", touched=["b=1", "b=2"],
        carry=lambda f: f.startswith("epoch9-"),
    )

    assert not os.path.exists(staged)
    assert _files(table) == [
        "b=1/epoch9-part-0.parquet",
        "b=1/part-5.parquet",
        "b=3/part-0.parquet",
        "b=4/part-6.parquet",
    ]


def test_swap_interrupted_then_recovered_loses_nothing(tmp_path, monkeypatch):
    """The move-in of the second partition fails: the first partition is
    already swapped, the second exists only as its aside.  Recovery
    restores it and removes the completed swap's aside."""
    import shutil

    table, staged = str(tmp_path / "t"), str(tmp_path / "t.compact-tmp")
    for part in ("b=1", "b=2"):
        _touch(f"{table}/{part}/part-0.parquet", "old " + part)
        _touch(f"{staged}/{part}/part-1.parquet", "new " + part)
    real_move, calls = shutil.move, []

    def move_once(src, dst, *a, **k):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("simulated crash")
        return real_move(src, dst, *a, **k)

    monkeypatch.setattr(shutil, "move", move_once)
    with pytest.raises(OSError, match="simulated crash"):
        commit.swap_partitions(staged, table, "b")
    monkeypatch.setattr(shutil, "move", real_move)
    swapped = os.path.basename(calls[0])
    other = "b=2" if swapped == "b=1" else "b=1"
    assert not os.path.exists(f"{table}/{other}")  # only the aside has it

    assert commit.recover_compact(table, "b")
    assert _files(table) == [f"{other}/part-0.parquet", f"{swapped}/part-1.parquet"]
