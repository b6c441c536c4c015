"""Streaming training-corpus ingest (E1 stream form): maintain the
exact-dedup survivor set while documents arrive in micro-batches.

A naive streaming ``dropDuplicates(content_hash)`` keeps the FIRST
ARRIVAL per hash — which copy that is depends on shuffle timing, so
the survivor set is not deterministic under retries. This maintainer
keeps the MIN-doc_id survivor instead (the batch dedup's rule): each
micro-batch folds into per-hash state via min-by-id — commutative and
idempotent, so any batch split / delivery order / retry converges to
the same survivors, and the streamed result hash-matches the BATCH
oracle (q_dedup_exact's SQL).

Durability follows streaming/merge.py: hash-bucketed copy-on-write
state (per-bucket ``v<epoch>`` chains), overwrite-by-epoch idempotent,
pruned to two.

Scale posture: state is one row per DISTINCT document (the deduped
corpus itself — the thing you're building anyway); each batch costs
one hash-key shuffle of (touched-bucket state ∪ batch), and only the
buckets the batch's content hashes land in are rewritten
(``merge.apply_bucketed_fold``) — per-batch I/O bounded by batch key
spread, not corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import ingest
from .merge import N_STATE_BUCKETS, apply_bucketed_fold, read_state


def run_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int = 2,
    fresh: bool = True,
) -> None:
    """Drain a document backlog maintaining min-id-per-content-hash
    survivor state. ``fresh=False`` resumes from the existing
    checkpoint (the resumable-workdir posture)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    def fold(existing: DataFrame | None, batch: DataFrame) -> DataFrame:
        combined = batch if existing is None else existing.unionByName(batch)
        # min-by-id per hash: commutative across batches, so arrival
        # order cannot change the survivor set
        w_cols = [c for c in combined.columns if c != "_h"]
        return (
            combined.groupBy("_h")
            .agg(F.min(F.struct(id_col, *[c for c in w_cols if c != id_col])).alias("_s"))
            .select("_h", "_s.*")
        )

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.withColumn("_h", F.sha2(F.col(text_col), 256))
        apply_bucketed_fold(
            spark,
            batch,
            state_dir,
            epoch_id,
            # bucket on the content hash — the fold's grouping key, so
            # every row of one group lands in exactly one bucket
            lambda: F.pmod(F.xxhash64(F.col("_h")), F.lit(N_STATE_BUCKETS)).cast(
                "int"
            ),
            fold,
        )

    ingest.drain(
        spark,
        stream.writeStream.foreachBatch(apply),
        checkpoint_dir,
        state_dir,
        fresh=fresh,
    )


def survivors(spark: SparkSession, state_dir: str) -> DataFrame:
    return read_state(spark, state_dir).drop("_h")
