"""Write path (W1) and the events→state snapshot.

The reference's ``/incr`` mutates three Redis keys atomically
(``goforget/redis_utils.go:222-233``: ZINCRBY + INCRBY _Z + SETNX _T).
Event-sourced equivalent: an increment is **one appended row**; the
snapshot (Redis ZSET + _T analogue) is a derived aggregation, and _Z is
never materialized at all (always ``sum(count) over distribution``).
"""

from __future__ import annotations

from datetime import datetime

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

#: forget_events schema (FIXTURES.md A1).
FORGET_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("distribution", T.StringType(), False),
        T.StructField("bin", T.StringType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)
_ARROW_SCHEMA = to_arrow_schema(FORGET_EVENTS_SCHEMA)


def events_frame(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Driver-side ``(distribution, bin, n, ts)`` rows as a ``forget_events``
    DataFrame held in the JVM.

    The rows go over as one Arrow table, which Spark keeps as a
    ``LocalRelation`` (planned as a ``LocalTableScan``, no Python stage)
    below ``spark.sql.execution.arrow.localRelationThreshold``. Arrow
    reads a naive ``ts`` as UTC, as ``api._to_us`` reads a naive ``now``;
    pyspark's row conversion would read it in the host's local zone.
    """
    table = pa.table(list(zip(*rows)) or [()] * len(_ARROW_SCHEMA), schema=_ARROW_SCHEMA)
    return spark.createDataFrame(table, FORGET_EVENTS_SCHEMA)


def incr_events(
    spark: SparkSession,
    distribution: str,
    fields: list[str],
    ts: datetime,
    n: int = 1,
) -> DataFrame:
    """Rows for one ``/incr?distribution=d&field=f…&N=n`` call.

    One row per field, each of weight ``n`` — the reference adds ``n`` to
    every named field and ``n·len(fields)`` to Z (``goforget/forget.go:
    31-69``); here Z is derived so only the per-bin rows exist.

    Arrow, not a list: ``createDataFrame(list)`` makes a pickled Python
    RDD of ``defaultParallelism`` partitions, so every later read of the
    grown log scans one more Python RDD per write and starts Python
    workers to unpickle it. A ``LocalRelation`` (:func:`events_frame`)
    lets Catalyst fold a read's ``distribution = d`` filter into each
    increment at plan time and drop the increments of other
    distributions, so a read touches only the writes to its own
    distribution.
    """
    return events_frame(spark, [(distribution, f, n, ts) for f in fields])


def incr(events: DataFrame, new_events: DataFrame) -> DataFrame:
    """Append increments to the log. Pure union — the snapshot picks up the
    new mass on next evaluation; no read-repair needed (SURVEY.md §2.1 D4)."""
    return events.unionByName(new_events.select("distribution", "bin", "n", "ts"))


def snapshot(events: DataFrame) -> DataFrame:
    """Derive ``forget_state``: (distribution, bin, count, t).

    ``count = Σ n`` per (distribution, bin); ``t = max(ts)`` per
    *distribution* — the reference keeps one ``_T`` per distribution and
    decays all bins against it (``goforget/distribution.go:153-175``).

    Scale shape: the groupBy shuffles **partially aggregated** (distribution,
    bin) pairs (map-side combine collapses the raw log), and the per-
    distribution ``t`` window then reshuffles only that much smaller
    snapshot. Hot distributions skew the window's hash — acceptable because
    the snapshot is already collapsed to unique bins; AQE handles residual
    skew.
    """
    snap = events.groupBy("distribution", "bin").agg(
        F.sum("n").alias("count"),
        F.max("ts").alias("t_bin"),
    )
    w = Window.partitionBy("distribution")
    return snap.select(
        "distribution",
        "bin",
        "count",
        F.max("t_bin").over(w).alias("t"),
    )
