"""Streaming hourly-series maintenance for the gap-fill dashboard (the
stream twin of queries/advanced_ops.py::q_gapfill_interpolate).

Per-(event_type, hour) cent-sums are SUM-DECOMPOSABLE: each
micro-batch's sums fold into the exact batch totals by addition, so
the streamed series — and therefore the gap-filled, interpolated chart
served from it — hash-matches the batch SQL oracle (epoch partials:
delta.drain_partials).

At 100 TB/day the per-epoch state is one tiny row per (type, hour) key
seen in that batch — the key grid, not the event volume — and the
serving-side fill recomputes over the bounded type x hour grid each
refresh, never over raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import delta as D


def run_gapfill_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: str,
    partials_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
    fresh: bool = True,
) -> None:
    """Drain a file backlog, folding each micro-batch's (type, hour)
    cent-sums into an epoch partial."""
    stream = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    # the SAME aggregation as the batch query (one definition — the
    # twin contract cannot drift)
    from ..queries.advanced_ops import _hourly_obs

    D.drain_partials(stream, partials_dir, checkpoint_dir, _hourly_obs, fresh)
    # the fold is a pure integer-sum monoid: compact the epoch
    # partials into one crash-safe base (no-op when nothing new)
    D.compact_generic(spark, partials_dir, ["event_type", "hr"], ["cents"])


def folded_obs(spark: SparkSession, partials_dir: str) -> DataFrame:
    """Serving view: the (event_type, hr, cents) obs frame summed
    across all epochs — feed to queries.advanced_ops.gapfill_series."""
    return D.folded_generic(spark, partials_dir, ["event_type", "hr"], ["cents"])
