"""Structured Streaming operators over the events stream.

The reference is batch-only (SURVEY.md §2.11) — its incrementality is
Luigi task-completeness plus delete-then-repopulate. The Spark-native
incremental path is Structured Streaming: the same bounded pipeline runs as
``readStream → window agg → writeStream`` with ``Trigger.AvailableNow``,
which processes everything currently in the source and stops — giving
batch-identical, deterministic results (what the oracle checks) while the
identical code keeps running incrementally on an unbounded source in
production.

Two sink paths with different state stories:

* :func:`windowed_event_counts` — memory sink, ``complete`` output mode:
  the bounded **oracle path**. In complete mode Spark retains all window
  state and the driver holds the full result; the watermark is inert. Only
  correct for bounded AvailableNow runs (where it exactly equals the batch
  GROUP BY), never for an unbounded stream.
* :func:`windowed_event_counts_to_files` — file (parquet) sink, ``append``
  output mode: the **production path**. Only watermark-closed windows are
  emitted, state is dropped as the watermark passes, and results land in a
  distributed table instead of driver memory — the configuration that runs
  unbounded. On a bounded source the final (never-closed) windows are
  intentionally *not* emitted; that is append-mode semantics, not a bug.
"""

from __future__ import annotations

import contextlib
import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_spark.session import local_df


@contextlib.contextmanager
def _state_partitions(spark: SparkSession, n: int | None):
    """Temporarily size ``spark.sql.shuffle.partitions`` for a streaming
    query's STATE layout.

    A streaming aggregation's state-store partition count is fixed by the
    shuffle-partition conf at first start (it persists in the checkpoint).
    State volume is O(open windows × types) — unrelated to scan width — so
    a tiny-state query over a wide session pays per-micro-batch task
    overhead for dozens of near-empty state partitions (measured 2.4× on
    the bounded oracle query at local[32]). Size state to the state, not
    to the scan.
    """
    if n is None:
        yield
        return
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def windowed_event_counts(
    spark: SparkSession,
    events_path: str,
    window_length: str = "1 day",
    watermark_delay: str = "1 hour",
    state_partitions: int | None = None,
) -> DataFrame:
    """Tumbling-window event counts per type, computed via a real
    streaming query (file source → memory sink, AvailableNow).

    Returns a bounded DataFrame ``(w_start, event_type, n)`` equal to the
    batch ``GROUP BY date_trunc(window), event_type``. Oracle path only —
    see the module docstring; production uses
    :func:`windowed_event_counts_to_files`.
    """
    schema = spark.read.parquet(events_path).schema
    name = "win_counts_" + hashlib.md5(
        f"{events_path}:{window_length}".encode()
    ).hexdigest()[:10]

    # a previous run of the same query in this session holds the sink name
    for q in spark.streams.active:
        if q.name == name:
            q.stop()

    # the file-stream source wants a directory; point it at the parent and
    # glob-filter down to the one table file
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", os.path.basename(events_path))
        .parquet(os.path.dirname(events_path) or ".")
    )
    # event-time ops require TIMESTAMP (parquet yields TIMESTAMP_NTZ);
    # session TZ is pinned to UTC so the cast is value-preserving
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_length).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    with _state_partitions(spark, state_partitions):
        query = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(name).select(
        F.col("w.start").alias("w_start"), "event_type", "n"
    )


def windowed_event_counts_to_files(
    spark: SparkSession,
    events_path: str,
    out_dir: str,
    checkpoint_dir: str,
    window_length: str = "1 day",
    watermark_delay: str = "1 hour",
    state_partitions: int | None = None,
) -> DataFrame:
    """Production sink: append-mode windowed counts to a parquet table.

    Emits only watermark-closed windows (so state is bounded and dropped as
    the watermark advances) into ``out_dir`` — no driver materialization.
    The checkpoint directory makes the query restartable exactly-once.
    Returns the written table (empty if no window closed yet — on a bounded
    source the trailing windows stay open by design).
    """
    schema = spark.read.parquet(events_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", os.path.basename(events_path))
        .parquet(os.path.dirname(events_path) or ".")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_length).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )
    with _state_partitions(spark, state_partitions):
        query = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    try:
        return spark.read.parquet(out_dir)
    except Exception:  # no window closed → sink dir has no parquet yet
        return local_df(
            spark, [], "w_start timestamp, event_type string, n long"
        )
