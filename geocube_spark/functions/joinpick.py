"""Deliberate join-strategy selection helpers (guide §3.1).

Iterative operators (pagerank, label propagation, flow accumulation) re-join
a small evolving frame (O(nodes)/O(cells)) against a large static one
(O(edges)) every round.  The evolving frame is cut with localCheckpoint,
which erases size statistics and partitioning — the planner then falls back
to a sort-merge join and re-shuffles the LARGE side every round.  The
driver, however, holds the evolving frame's exact row count; when the
estimated frame size fits the session's own autoBroadcastJoinThreshold, an
explicit broadcast hint removes the large side's per-round shuffle
entirely.  Above the threshold (billion-node graphs / continental rasters)
the hint is withheld and the planner keeps the shuffle join — the decision
input is a measured count and the session's threshold, never a constant
tuned for the local test scale.

The same rule (:func:`fits_broadcast`) decides when a graph is small
enough to solve in one task instead of in distributed rounds
(``graph.pagerank``, ``dedup.connected_components``): a state that fits a
broadcast fits one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}


def parse_bytes(raw: str | None) -> int:
    """Parse a Spark byte-size conf value ('67108864', '64m', '10MB')."""
    s = str(raw if raw is not None else "-1").strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    try:
        if s and s[-1] in _UNITS:
            return int(float(s[:-1]) * _UNITS[s[-1]])
        return int(s)
    except (TypeError, ValueError):
        return -1


def fits_broadcast(spark: SparkSession, n_rows: int, bytes_per_row: int) -> bool:
    """True when ``n_rows * bytes_per_row`` fits under the session's
    autoBroadcastJoinThreshold (never when the threshold is disabled)."""
    thr = parse_bytes(spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "-1"))
    return thr > 0 and n_rows * bytes_per_row <= thr


def maybe_broadcast(df: DataFrame, n_rows: int, bytes_per_row: int) -> DataFrame:
    """Broadcast-hint ``df`` when it :func:`fits_broadcast`; otherwise
    return it unchanged."""
    if fits_broadcast(df.sparkSession, n_rows, bytes_per_row):
        return F.broadcast(df)
    return df
