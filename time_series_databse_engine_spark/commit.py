"""The engine's three commit protocols — the only code that stages,
publishes or swaps files on disk.

Every write the engine makes visible goes through one of them, and each
converges to exactly one copy of its data whatever point a crash
interrupts it at, provided the caller re-runs the same write (a
streaming replay re-fires the same epoch id):

* **Directory per epoch** (:class:`EpochDirs`) — an exactly-once
  ``foreachBatch`` sink stages each table under ``<out>/_tmp/epoch-N/``,
  reads its running state from the STRICTLY-PRIOR ``<out>/<name>/epoch=*``
  dirs only (later epochs' dirs exist while an epoch replays, and counting
  them would make a replay differ from the first attempt), then publishes
  with delete-then-rename: a replay removes its previous attempt's dir.
* **Prefixed file move-in** (:func:`move_in`) — an append into a
  partitioned table: the batch stages to a sibling dir, then every file of
  a previous attempt (the ``epoch{id}-`` name prefix) is deleted and the
  staged files move in under that prefix.  Existing data is never
  replaced, so only the epoch's own files are ever deleted.
* **Partition swap** (:func:`swap_partitions`) — a rewrite of whole
  partitions (compaction, upsert, purge): each live partition dir is
  first MOVED ASIDE to ``.compact-old-<part>`` (a dot-dir readers
  skip), then the rewritten dir moves in, and the asides are deleted only
  after every swap completed.  Nothing is deleted while it is the only
  copy; :func:`recover_compact` heals an interrupted swap.

Local POSIX paths only (renames are metadata operations there); a Hadoop
filesystem commit would replace this module and nothing else.
"""

from __future__ import annotations

import glob
import os
import shutil

ASIDE = ".compact-old-"


def _epoch_of(path: str) -> int:
    """Epoch id of an ``.../epoch=N`` directory."""
    return int(path.rsplit("=", 1)[1])


def epoch_dirs(root: str, before: int | None = None) -> list[str]:
    """``<root>/epoch=N`` dirs in epoch order (compared as integers, so
    ``epoch=9`` precedes ``epoch=10``); with ``before``, only N < before."""
    dirs = glob.glob(os.path.join(root, "epoch=*"))
    return sorted(
        (d for d in dirs if before is None or _epoch_of(d) < before), key=_epoch_of
    )


class EpochDirs:
    """One epoch of a directory-per-epoch sink: stage tables under
    ``<out>/_tmp/epoch-N/<name>``, read strictly-prior state, publish to
    ``<out>/<name>/epoch=N``.  Creating it clears a crashed attempt's
    staging; :meth:`publish` is the commit point."""

    def __init__(self, out: str, epoch_id: int):
        self.out, self.eid = out, int(epoch_id)
        self.tmp = os.path.join(out, "_tmp", f"epoch-{self.eid}")
        shutil.rmtree(self.tmp, ignore_errors=True)

    def stage(self, name: str, df, *partition_cols: str) -> str:
        """Write ``df`` to the staging dir ``name``; returns its path."""
        path = os.path.join(self.tmp, name)
        w = df.write.mode("overwrite")
        (w.partitionBy(*partition_cols) if partition_cols else w).parquet(path)
        return path

    def staged(self, name: str, df):
        """:meth:`stage` and read the files back, so later steps of the
        epoch reuse them instead of recomputing ``df``."""
        return df.sparkSession.read.parquet(self.stage(name, df))

    def prior(self, name: str) -> list[str]:
        """Published dirs of ``<out>/<name>`` from strictly-prior epochs."""
        return epoch_dirs(os.path.join(self.out, name), before=self.eid)

    def with_prior(self, name: str, fresh):
        """``fresh`` ∪ every strictly-prior epoch of table ``name``."""
        prior = self.prior(name)
        if not prior:
            return fresh
        old = fresh.sparkSession.read.parquet(*prior).select(fresh.columns)
        return fresh.unionByName(old)

    def publish(self, *names: str) -> None:
        """Move each staged ``name`` to ``<out>/<name>/epoch=N``, replacing
        a previous attempt's dir, then drop the staging root."""
        for name in names:
            dst = os.path.join(self.out, name, f"epoch={self.eid}")
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.rmtree(dst, ignore_errors=True)
            os.rename(os.path.join(self.tmp, name), dst)
        shutil.rmtree(self.tmp, ignore_errors=True)


def move_in(
    staged: str, dest: str, part_col: str | None = None, prefix: str = ""
) -> None:
    """Move the ``.parquet`` files of ``staged`` into ``dest`` (into its
    matching ``<part_col>=`` dirs when partitioned) under ``prefix``.
    With a prefix, every ``dest`` file already carrying it — a previous
    attempt of the same epoch, complete or partial — is deleted first."""
    parts = [""]
    if part_col is not None:
        parts = [e for e in os.listdir(staged) if e.startswith(part_col + "=")]
    if prefix:
        pattern = os.path.join(dest, f"{part_col}=*" if part_col else "", prefix + "*")
        for leftover in glob.glob(pattern):
            os.remove(leftover)
    for part in parts:
        src_dir, dst_dir = os.path.join(staged, part), os.path.join(dest, part)
        os.makedirs(dst_dir, exist_ok=True)
        for fname in os.listdir(src_dir):
            if fname.endswith(".parquet"):
                shutil.move(
                    os.path.join(src_dir, fname), os.path.join(dst_dir, prefix + fname)
                )
    shutil.rmtree(staged, ignore_errors=True)


def recover_compact(table: str, part_col: str) -> bool:
    """Heal a :func:`swap_partitions` that crashed: an aside whose live
    partition dir is MISSING is moved back; the others are leftovers of
    completed swaps and are removed.  Run before reading a table for a
    rewrite and before sweeping staging dirs.  Returns whether any aside
    was found."""
    if not os.path.isdir(table):
        return False
    found = False
    for entry in os.listdir(table):
        if not entry.startswith(f"{ASIDE}{part_col}="):
            continue
        found = True
        live, aside = os.path.join(table, entry[len(ASIDE):]), os.path.join(table, entry)
        if os.path.isdir(live):
            shutil.rmtree(aside, ignore_errors=True)
        else:
            os.rename(aside, live)
    return found


def swap_partitions(
    staged: str, table: str, part_col: str, touched=(), carry=None
) -> None:
    """Replace each partition of ``table`` that ``staged`` holds with the
    staged dir (move-aside protocol, see the module docstring); partitions
    of ``touched`` that ``staged`` lacks were emptied by the rewrite and
    are dropped.  ``carry(fname)`` selects files of a replaced partition
    to COPY into its new dir — a copy taken after the move-aside, so the
    aside keeps the only complete copy until every swap is done.  Callers
    run :func:`recover_compact` before reading the table."""
    entries = []
    if os.path.isdir(staged):
        entries = [e for e in os.listdir(staged) if e.startswith(part_col + "=")]
    asides = []
    for entry in entries:
        src, live = os.path.join(staged, entry), os.path.join(table, entry)
        if os.path.isdir(live):
            aside = os.path.join(table, ASIDE + entry)
            os.rename(live, aside)
            asides.append(aside)
            for fname in os.listdir(aside) if carry else ():
                if carry(fname):
                    shutil.copy2(os.path.join(aside, fname), os.path.join(src, fname))
        shutil.move(src, live)
    for entry in set(touched) - set(entries):
        shutil.rmtree(os.path.join(table, entry), ignore_errors=True)
    for aside in asides:
        shutil.rmtree(aside, ignore_errors=True)
    shutil.rmtree(staged, ignore_errors=True)
