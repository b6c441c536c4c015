"""Streaming fixed-size sampling (the stream twin of
queries/training_io.py::q_sample_fixed).

Bottom-k by a salted sha key is a COMMUTATIVE, IDEMPOTENT fold:
bottom-k(S1 ∪ S2) = bottom-k(bottom-k(S1) ∪ bottom-k(S2)), so keeping
each micro-batch's local bottom-k as an epoch partial
(delta.drain_partials; <= k tiny rows per epoch) and taking bottom-k
over the union at serving time yields EXACTLY the batch answer — the
streamed sample hash-matches the batch oracle. This is the classical
distributed-reservoir replacement that stays deterministic:
membership is a pure function of doc_id, so re-running the stream,
reordering batches, or re-sharding the source cannot change the
sample.

At 100 TB the state is k rows per micro-batch epoch (compactable to a
single k-row base exactly like streaming/delta.py), and each batch's
work is a local TakeOrderedAndProject — no shuffle of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.sampling import SAMPLE_K, SAMPLE_SALT, salted_key
from . import delta as D


def _keyed(df: DataFrame) -> DataFrame:
    # the SAME draw key as q_sample_fixed and its oracle
    # (functions/sampling.py) — the twin contract cannot drift
    return df.select("doc_id", "source", salted_key(SAMPLE_SALT).alias("h"))


def run_sample_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: str,
    partials_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
    fresh: bool = True,
) -> None:
    """Drain a file backlog, folding each micro-batch's local bottom-k
    into an epoch partial. ``fresh=False`` resumes from the existing
    checkpoint (the resumable-workdir posture)."""
    stream = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    D.drain_partials(
        stream,
        partials_dir,
        checkpoint_dir,
        lambda batch_df: _bottom_k(_keyed(batch_df)),
        fresh,
    )
    # bottom-k is a refold-idempotent monoid: compact the epoch
    # partials into one crash-safe base (no-op when nothing new)
    D.compact_with(spark, partials_dir, _bottom_k)


def _bottom_k(parts: DataFrame) -> DataFrame:
    """The sample family's serving/compaction monoid."""
    return parts.orderBy("h").limit(SAMPLE_K).select("doc_id", "source", "h")


def folded_sample(spark: SparkSession, partials_dir: str) -> DataFrame:
    """Serving view: exact global bottom-k over the live partials
    (base + epochs past it)."""
    return D.folded_with(spark, partials_dir, _bottom_k)
