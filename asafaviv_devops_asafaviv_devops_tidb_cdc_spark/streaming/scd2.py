"""Streaming SCD2 maintenance (J9 stream form): keep the full
[valid_from, valid_to) version history current while change events
arrive in micro-batches.

Incrementality is KEYED RECOMPUTE — the standard streaming recipe for
order-sensitive per-key state (same family as the merge path's
last-writer-wins): each micro-batch touches only the keys it contains;
their version chains are rebuilt from (existing state ∪ batch) while
every untouched key's rows are carried over verbatim. Late or
out-of-order events therefore SPLICE into the affected key's history
correctly — an interval that a late event lands inside is re-cut, which
no append-only scheme can do.

State rows are COMPUTED version rows (intervals materialized), with
delete events persisted alongside them — a delete is not a version but
it CLOSES one, so the tombstone must survive exactly like the merge
path's; the rebuild uses the same ``operators/replay.py::scd2_versions``
the batch query uses — one code path, two execution modes, which is
why the streamed result can hash-match the batch oracle. Serving is a
tombstone filter over precomputed intervals, no window at read time.

Durability follows streaming/merge.py: hash-bucketed copy-on-write
state (per-bucket ``v<epoch>`` chains), overwrite-by-epoch idempotent
on retry, pruned to the last two versions per bucket.

Scale posture: the recompute cost per batch is O(events of touched
keys), not O(state), and the rewrite is partition-pruned
(``merge.apply_bucketed_fold``): only buckets the batch's keys hash
into are read and rewritten — the carry-over copy of untouched keys is
bounded by the touched buckets, and untouched buckets' files are not
touched at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import parse as P
from ..operators.replay import scd2_versions
from . import ingest
from .merge import apply_bucketed_fold, bucket_of, read_state

SCD2_KEYS = ["table_name", "row_id"]
_INTERVAL_COLS = ["valid_from_ms", "valid_to_ms", "is_current"]


def rebuild_state(existing: DataFrame | None, batch: DataFrame) -> DataFrame:
    """One keyed-recompute step: untouched keys carry their COMPUTED
    intervals verbatim; keys present in the batch strip intervals and
    rebuild their chains from (their persisted events ∪ the batch) —
    a late event splices in correctly because the closing tombstone is
    still in state."""
    if existing is None:
        return scd2_versions(batch, drop_deletes=False)
    touched = batch.select(*SCD2_KEYS).distinct()
    carried = existing.join(touched, SCD2_KEYS, "left_anti")
    rebuilt_events = (
        existing.join(touched, SCD2_KEYS, "left_semi")
        .drop(*_INTERVAL_COLS)
        .unionByName(batch)
    )
    return carried.unionByName(scd2_versions(rebuilt_events, drop_deletes=False))


def run_scd2_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
    fresh: bool = True,
) -> None:
    """Drain the envelope backlog maintaining the per-key event state
    the SCD2 view derives from. ``fresh=False`` resumes from existing
    state + checkpoint (see merge.run_replay_stream)."""
    stream = (
        spark.readStream.schema(ingest.SOURCE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )
    stream = stream.repartition(spark.sparkContext.defaultParallelism)
    typed = P.typed_rows(P.normalized_events(stream))

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        # apply_bucketed_fold handles retry idempotence (a retried epoch
        # never reads its own partial v<epoch> write — the SCD2 fold is
        # order-sensitive and folding the batch twice would double every
        # touched key's version rows) and rewrites only touched buckets
        apply_bucketed_fold(
            spark,
            batch_df,
            state_dir,
            epoch_id,
            lambda: bucket_of(SCD2_KEYS),
            rebuild_state,
        )

    ingest.drain(
        spark,
        typed.writeStream.foreachBatch(apply),
        checkpoint_dir,
        state_dir,
        fresh=fresh,
    )


def history(spark: SparkSession, state_dir: str) -> DataFrame:
    """Serving view: the maintained SCD2 version table — intervals are
    PRE-COMPUTED in state, so serving is a tombstone filter, O(rows
    read), no window. The interval semantics come from the same
    ``scd2_versions`` operator the batch query uses — one code path,
    two execution modes."""
    return read_state(spark, state_dir).filter(F.col("operation") != "delete")
