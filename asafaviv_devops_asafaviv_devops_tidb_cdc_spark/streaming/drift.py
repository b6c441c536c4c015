"""Streaming distribution-drift monitoring (the stream twin of
queries/profiling.py::q_event_drift).

Per-(day, event_type) counts are SUM-DECOMPOSABLE: each micro-batch's
counts fold into the exact batch totals by addition, so the streamed
census hash-matches the batch SQL oracle (epoch partials:
delta.drain_partials).

Why stream it: distribution shift is most damaging in the hours before
anyone looks at a nightly report. Folding counts per micro-batch gives
the detector one-batch latency, and the per-epoch state is ONE tiny row
per (day, type) key seen in that batch — state tracks the key grid, not
the event volume, so at 100 TB/day the partials stay kilobytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import delta as D


def _day_counts(batch_df: DataFrame) -> DataFrame:
    return (
        batch_df.select(
            F.expr("unix_millis(ts) div 86400000").cast("long").alias("day_num"),
            "event_type",
        )
        .groupBy("day_num", "event_type")
        .agg(F.count("*").cast("long").alias("o"))
    )


def run_drift_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: str,
    partials_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
    fresh: bool = True,
) -> None:
    """Drain a file backlog, folding each micro-batch's (day, type)
    counts into an epoch partial."""
    stream = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    D.drain_partials(stream, partials_dir, checkpoint_dir, _day_counts, fresh)
    # the fold is a pure integer-sum monoid: compact the epoch
    # partials into one crash-safe base (no-op when nothing new)
    D.compact_generic(spark, partials_dir, ["day_num", "event_type"], ["o"])


def folded_counts(spark: SparkSession, partials_dir: str) -> DataFrame:
    """Serving view: the (day_num, event_type, o) obs frame summed
    across all epochs — feed to queries.profiling.drift_census."""
    return D.folded_generic(spark, partials_dir, ["day_num", "event_type"], ["o"])
