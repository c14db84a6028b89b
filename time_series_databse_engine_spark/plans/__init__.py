"""Plan-inspection utilities: programmatic checks that a DataFrame compiled
to the physical plan we want (broadcast where intended, filters pushed to
the scan, partitions pruned).  Used by tests and perf audits — the 100 TB
posture is only real if the plan proves it.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_cartesian_product(df: DataFrame) -> bool:
    """True when the plan contains an un-broadcast cross product — almost
    always a bug at scale."""
    return "CartesianProduct" in formatted_plan(df)


def pushed_filters(df: DataFrame) -> list[str]:
    """Predicates that reached the Parquet scan (row-group pruning)."""
    out = []
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("PushedFilters:"):
            body = line.split(":", 1)[1].strip().strip("[]")
            if body:
                out.extend(p.strip() for p in body.split(","))
    return out


def partition_filters(df: DataFrame) -> list[str]:
    """Predicates applied at partition-pruning time (directory-level)."""
    out = []
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("PartitionFilters:"):
            body = line.split(":", 1)[1].strip().strip("[]")
            if body:
                out.extend(p.strip() for p in body.split(","))
    return out


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def num_shuffles(df: DataFrame) -> int:
    """Count of exchange operators — the scale-limiting resource.
    Uses the simple plan string (formatted mode lists every node twice)."""
    return simple_plan(df).count("Exchange")


_SHUFFLE = re.compile(
    r"(?:^|- )Exchange (hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)",
    re.M,
)


def shuffle_exchanges(df: DataFrame) -> list[str]:
    """The partitioning of each shuffle exchange in the plan that runs, in
    plan order: ``hashpartitioning``, ``rangepartitioning``,
    ``RoundRobinPartitioning`` (``repartition(n)``) or ``SinglePartition``.
    A BroadcastExchange (the small side moved whole) and a ReusedExchange
    (one exchange's output read again, free) are not shuffles; only a node
    that is itself an Exchange counts, not the exchange a ReusedExchange
    line names.  Once AQE has run the query, the initial plan printed under
    its final plan is not counted."""
    return _SHUFFLE.findall(simple_plan(df).split("== Initial Plan ==")[0])


def num_shuffle_exchanges(df: DataFrame) -> int:
    """Count of :func:`shuffle_exchanges`."""
    return len(shuffle_exchanges(df))


def has_reused_exchange(df: DataFrame) -> bool:
    """True when Spark wired one computed Exchange into multiple consumers
    (self-join both sides computed once)."""
    return "ReusedExchange" in simple_plan(df)
