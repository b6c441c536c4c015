"""Incremental CDC current-state materialization (operator J6, stream
form): a ``foreachBatch`` MERGE that upserts each micro-batch of typed
row events into a keyed state table — the streaming twin of
``operators/replay.py::current_state`` (reference transports DML but
never materializes it; ES just accumulates one doc per event,
reference node-consumer/index.js:278-281).

Unlike watermarked dedupe, the merge is order-robust: every row carries
its full event-time order key (ts, offset, rownum) and the merge
recomputes last-writer-wins over (existing state ∪ batch), so late or
out-of-order batches converge to the same state.

Scale posture: the state table is hash-partitioned into key buckets
(``b0000/ .. bNNNN/``), each bucket with its own copy-on-write version
chain. A micro-batch rewrites ONLY the buckets its keys hash into —
per-batch I/O is bounded by the batch's key spread, not by total state
size — exactly the key-partitioned upsert a transactional table format
(Delta/Iceberg ``MERGE INTO``) productionizes. The semantics — last
writer wins, DELETE tombstones remove the key, tombstones expire after
the source's replay horizon — are what the batch oracle checks.
"""

from __future__ import annotations

import shutil
from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators import parse as P
from . import ingest

STATE_KEYS = ["table_name", "user_id"]
STATE_ORDER = ["ts", "offset", "rownum"]
N_STATE_BUCKETS = 16


def bucket_of(keys: Sequence[str] = STATE_KEYS, n_buckets: int = N_STATE_BUCKETS):
    """Deterministic state bucket for a key tuple. Recomputed on read
    (never stored), so bucket files stay pure row data."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")


def latest_events(
    events: DataFrame, keys: Sequence[str], order_by: Sequence[str]
) -> DataFrame:
    """Latest event per key — DELETEs retained (they are tombstones the
    merge still needs; ``current_state`` drops them, this keeps them)."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_by])
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_state(
    existing: DataFrame | None,
    batch: DataFrame,
    keys: Sequence[str] = STATE_KEYS,
    order_by: Sequence[str] = STATE_ORDER,
    tombstone_horizon_ms: int | None = None,
    watermark_ms: int | None = None,
) -> DataFrame:
    """(state ∪ batch) -> new state. State rows keep their op + order
    columns so the comparison against late events stays total, and
    DELETE rows are persisted as TOMBSTONES — discarding them would let
    an out-of-order older event in a later batch resurrect a deleted
    key. Readers drop tombstones via ``live_state``.

    Tombstone GC: with ``tombstone_horizon_ms`` + ``watermark_ms`` set,
    tombstones whose event time is older than
    ``watermark_ms - tombstone_horizon_ms`` are dropped. The horizon
    must be >= the source's maximum replay window (checkpoint retention
    / Kafka topic retention): an event older than that can never arrive
    to be wrongly revived, so expiry cannot resurrect a deleted key
    (property-pinned in tests/test_streaming.py)."""
    combined = batch if existing is None else existing.unionByName(batch)
    state = latest_events(combined, keys, order_by)
    if tombstone_horizon_ms is not None and watermark_ms is not None:
        cutoff = watermark_ms - tombstone_horizon_ms
        expired = (F.col("operation") == "delete") & (
            F.unix_millis(F.col(order_by[0])) < F.lit(cutoff)
        )
        state = state.filter(~expired)
    return state


def live_state(
    state: DataFrame, op_col: str = "operation", delete_op: str = "delete"
) -> DataFrame:
    """The queryable view of the state table: tombstones removed."""
    return state.filter(F.col(op_col) != delete_op)


def _versions(state_dir: str) -> list[Path]:
    base = Path(state_dir)
    if not base.is_dir():
        return []
    return sorted(p for p in base.iterdir() if p.name.startswith("v"))


def latest_state_path(state_dir: str, before_epoch: int | None = None) -> str | None:
    """Newest committed state version (copy-on-write dir layout).

    ``before_epoch``: a foreachBatch maintainer MUST pass its own epoch
    id here — on a micro-batch RETRY (crash between the state write and
    the checkpoint commit) the retried epoch's own ``v<epoch>`` dir
    already exists, and reading it would fold this batch's events in
    twice. Restricting to versions strictly older than the current
    epoch makes every maintainer retry-idempotent regardless of whether
    its fold tolerates duplicates."""
    vs = _versions(state_dir)
    if before_epoch is not None:
        cut = f"v{before_epoch:09d}"
        vs = [p for p in vs if p.name < cut]
    return str(vs[-1]) if vs else None


def _prune_versions(state_dir: str, keep: int = 2) -> None:
    # keep >= 2: the previous version stays until the new one is fully
    # written and read at least once — crash-safe without a manifest
    for old in _versions(state_dir)[:-keep]:
        shutil.rmtree(old, ignore_errors=True)


def _bucket_dirs(state_dir: str) -> list[Path]:
    base = Path(state_dir)
    if not base.is_dir():
        return []
    return sorted(p for p in base.iterdir() if p.name.startswith("b") and p.is_dir())


def latest_bucket_paths(
    state_dir: str, before_epoch: int | None = None
) -> dict[int, str]:
    """Newest committed version PER BUCKET. Buckets evolve
    independently: a micro-batch only writes a new version for buckets
    its keys hash into, so different buckets are generally at different
    epochs. ``before_epoch`` has the same retry-idempotence contract as
    ``latest_state_path``."""
    out: dict[int, str] = {}
    for bdir in _bucket_dirs(state_dir):
        p = latest_state_path(str(bdir), before_epoch)
        if p is not None:
            out[int(bdir.name[1:])] = p
    return out


def read_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Read the newest state (tombstones included — wrap with
    ``live_state`` for the queryable view). Bucketed layout reads the
    union of each bucket's newest version; the flat ``v*`` layout is
    still accepted for single-chain maintainers (scd2/corpus)."""
    buckets = latest_bucket_paths(state_dir)
    if buckets:
        return spark.read.parquet(*buckets.values())
    latest = latest_state_path(state_dir)
    if latest is None:
        raise FileNotFoundError(f"no state versions under {state_dir}")
    return spark.read.parquet(latest)


def touched_buckets(batch_df: DataFrame, bucket_expr) -> list[int]:
    """Bucket ids a batch's keys hash into: ONE scalar driver action,
    <= n_buckets ints. Maintainers that fold a batch into SEVERAL
    state tables on the same key (e.g. the join view's side state +
    view) compute this once and pass it to each fold instead of
    re-running the scan per table."""
    return sorted(
        batch_df.select(bucket_expr().alias("_b")).agg(F.collect_set("_b")).collect()[
            0
        ][0]
    )


def apply_bucketed_fold(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    epoch_id: int,
    bucket_expr,
    fold,
    n_buckets: int = N_STATE_BUCKETS,
    touched: list[int] | None = None,
) -> None:
    """Generic partition-pruned state maintenance: fold one micro-batch
    into the hash-bucketed state table, reading and rewriting ONLY the
    buckets the batch's keys hash into — every other bucket's files are
    untouched (byte-identity pinned in tests/test_streaming.py).

    ``bucket_expr()`` -> Column assigning each row its bucket id
    (must be a pure function of the row's key columns);
    ``fold(existing, batch)`` -> the new state for the touched buckets
    (must be commutative/total-ordered so late batches converge).

    Copy-on-write per bucket: read bucket version N, write version N+1
    to a NEW directory (named by epoch — a micro-batch retry overwrites
    its own version, idempotent via ``before_epoch``), then prune old
    versions. The write job reads old parquet + batch directly
    (different paths, no overwrite-while-read hazard); on a cluster an
    executor loss just recomputes from those durable inputs. This is
    the table-format recipe Delta/Iceberg productionize: immutable data
    files + per-partition version pointers."""
    # persist only if the caller hasn't: a maintainer driving several
    # folds over one persisted batch keeps its cache alive across them
    own_cache = not batch_df.is_cached
    if own_cache:
        batch_df = batch_df.persist()
    try:
        if touched is None:
            touched = touched_buckets(batch_df, bucket_expr)
        if not touched:
            return
        prior = latest_bucket_paths(state_dir, before_epoch=epoch_id)
        prior_paths = [prior[b] for b in touched if b in prior]
        existing = spark.read.parquet(*prior_paths) if prior_paths else None
        merged = fold(existing, batch_df).withColumn("_bucket", bucket_expr())
        # one write job for all touched buckets; the partition column is
        # recomputable from the keys so it is never stored in the rows.
        # repartition ON the bucket id first: one task (one file) per
        # touched bucket instead of |tasks| x |buckets| small files —
        # bucket count is the size-scaled parallelism unit anyway
        # (plans/scale.py::state_buckets)
        stage = Path(state_dir) / f"_stage_v{epoch_id:09d}"
        merged.repartition(len(touched), "_bucket").write.mode(
            "overwrite"
        ).partitionBy("_bucket").parquet(str(stage))
        empty = merged.drop("_bucket").limit(0)
        for b in touched:
            dst = Path(state_dir) / f"b{b:04d}" / f"v{epoch_id:09d}"
            if dst.exists():  # micro-batch retry: replace our own version
                shutil.rmtree(dst)
            src = stage / f"_bucket={b}"
            if src.is_dir():
                dst.parent.mkdir(parents=True, exist_ok=True)
                src.rename(dst)
            else:
                # bucket folded to zero rows (e.g. all tombstones
                # expired): commit an empty version so the stale one
                # isn't read
                empty.write.mode("overwrite").parquet(str(dst))
            _prune_versions(str(dst.parent), keep=2)
        shutil.rmtree(stage, ignore_errors=True)
    finally:
        if own_cache:
            batch_df.unpersist()


def apply_merge_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    epoch_id: int,
    keys: Sequence[str] = STATE_KEYS,
    order_by: Sequence[str] = STATE_ORDER,
    n_buckets: int = N_STATE_BUCKETS,
    tombstone_horizon_ms: int | None = None,
    bucket_keys: Sequence[str] | None = None,
    touched: list[int] | None = None,
) -> None:
    """MERGE one micro-batch into the bucketed CDC state table:
    last-writer-wins fold with tombstone retention + replay-horizon
    expiry, partition-pruned via ``apply_bucketed_fold``.

    ``bucket_keys`` (default: ``keys``) picks the bucketing columns
    independently of the merge key — a state table co-bucketed with a
    downstream consumer (e.g. a maintained join view bucketed on the
    join key, streaming/join_view.py) lets that consumer read exactly
    the state buckets it refreshes. Must be a subset of ``keys`` so a
    key's rows always land in one bucket."""

    def fold(existing: DataFrame | None, batch: DataFrame) -> DataFrame:
        # batch is persisted by apply_bucketed_fold, so the watermark
        # scan (a scalar) doesn't recompute the parse chain
        watermark_ms = None
        if tombstone_horizon_ms is not None:
            watermark_ms = batch.agg(
                F.max(F.unix_millis(F.col(order_by[0])))
            ).collect()[0][0]
        return merge_state(
            existing,
            batch,
            keys,
            order_by,
            tombstone_horizon_ms=tombstone_horizon_ms,
            watermark_ms=watermark_ms,
        )

    apply_bucketed_fold(
        spark,
        batch_df,
        state_dir,
        epoch_id,
        lambda: bucket_of(bucket_keys or keys, n_buckets),
        fold,
        n_buckets=n_buckets,
        touched=touched,
    )


def run_replay_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
    n_buckets: int = N_STATE_BUCKETS,
    tombstone_horizon_ms: int | None = None,
    fresh: bool = True,
) -> None:
    """Drain a canal-json envelope backlog through P1->P6 and MERGE each
    micro-batch into the bucketed state table at ``state_dir``.

    ``fresh=False`` keeps existing state + checkpoint and RESUMES: an
    already-drained backlog becomes an empty drain (the steady-state
    trigger cost a production stream pays), a crashed one continues
    exactly-once. Callers pass a fingerprint-keyed workdir
    (streaming/ingest.py::resumable_workdir) so stale state can never
    outlive a source or logic change."""
    stream = (
        spark.readStream.schema(ingest.SOURCE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )
    stream = stream.repartition(spark.sparkContext.defaultParallelism)
    typed = P.typed_rows(P.normalized_events(stream))

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        apply_merge_batch(
            spark,
            batch_df,
            state_dir,
            epoch_id,
            n_buckets=n_buckets,
            tombstone_horizon_ms=tombstone_horizon_ms,
        )

    ingest.drain(
        spark,
        typed.writeStream.foreachBatch(apply),
        checkpoint_dir,
        state_dir,
        fresh=fresh,
    )
