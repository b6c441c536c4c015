"""Streaming PII compliance monitor (the stream twin of
queries/training_io.py::q_pii_census).

Every census statistic is a per-source SUM over disjoint doc sets
(functions/pii.py::rollup — flagged-doc counts included, since each
doc lands in exactly one micro-batch), so the monitor folds each
micro-batch's census into an epoch partial (delta.drain_partials) and
serves the exact batch census by addition — hash-matching the batch
oracle.

Why stream it: PII exposure is an ingest-time property — a feed that
starts leaking contact data should be flagged within one micro-batch,
not at the next corpus-wide audit. Per-epoch state is ONE row per
source seen in that batch; state tracks the source grid, never the
document volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions import pii as P
from . import delta as D


def run_pii_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: str,
    partials_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
    fresh: bool = True,
) -> None:
    """Drain a documents backlog, folding each micro-batch's per-source
    PII census into an epoch partial. ``fresh=False`` resumes from the
    existing checkpoint: an already-drained backlog is an empty pass
    and the committed partials keep serving (the resumable-workdir
    posture)."""
    stream = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    D.drain_partials(
        stream,
        partials_dir,
        checkpoint_dir,
        lambda batch_df: P.rollup(P.doc_metrics(P.with_planted_pii(batch_df))),
        fresh,
    )
    # bound the serving read at O(sources): the census is a pure sum
    # monoid, so the shared crash-safe compaction folds the epoch
    # partials into one base (no-op when no new epochs landed)
    D.compact_with(spark, partials_dir, P.fold_rollups)


def folded_census(spark: SparkSession, partials_dir: str) -> DataFrame:
    """Serving view: the exact per-source census summed over the live
    partials (base + epochs past it)."""
    return D.folded_with(spark, partials_dir, P.fold_rollups)
