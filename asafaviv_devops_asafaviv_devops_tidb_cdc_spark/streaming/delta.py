"""The epoch-partial lifecycle every folded stream family shares.

``serve_partials(stream, base, batch_fold, fold)`` is the one
lifecycle: drain the stream into idempotent per-epoch partials
(``batch_fold`` of each micro-batch under ``base/partials``,
checkpoint at ``base/ckpt``), compact them into a versioned base with
the family's monoid ``fold``, then serve ``fold`` over what is live.
This is the Structured Streaming exactly-once recipe (SIGMOD 2018):

- Idempotence: ``drain_partials`` writes each epoch's partial to an
  ``epoch=<id>`` directory with mode=overwrite, so a micro-batch retry
  after a crash rewrites its own partial instead of double-counting.
- Bounded serving: partials are O(groups x batches) rows;
  ``compact_with`` folds them into a versioned base with the SAME
  monoid, bounding the serving read at O(groups + batches since the
  last compaction). The base is copy-on-write (``base_v<epoch>``) and
  serving ignores epoch partials at or below the base's version, so a
  crash anywhere in compaction — before the base commit, or before the
  folded epoch dirs are removed — never double-counts or drops a batch.
- Exactness: ``fold`` must satisfy fold(fold(A) ∪ fold(B)) ==
  fold(A ∪ B), so the served answer is independent of batch
  boundaries and arrival order, and hash-compares against the BATCH
  oracle. Each family's monoid states why it qualifies next to its
  definition.

``run_delta_stream`` is the uncompacted drain of the retraction-fold
family (operators/replay.py::retraction_totals), kept separate because
the compaction crash tests and q_compact_partials start from
uncompacted epoch dirs.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import parse as P
from ..operators.replay import retraction_totals
from . import ingest

_BASE_PREFIX = "base_v"


def drain_partials(
    stream: DataFrame, partials_dir: str, checkpoint_dir: str, batch_fold
) -> None:
    """Drain ``stream`` (ingest.drain), writing each micro-batch's
    ``batch_fold(batch_df)`` as the idempotent partial
    ``epoch=<id>`` under ``partials_dir``. The write is mode=overwrite,
    so a retried epoch rewrites its own partial instead of adding a
    second one. Resumes from the committed offsets in
    ``checkpoint_dir``: an already-drained backlog is an empty pass."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_fold(batch_df).write.mode("overwrite").parquet(
            f"{partials_dir}/epoch={epoch_id}"
        )

    ingest.drain(
        stream.sparkSession,
        stream.writeStream.foreachBatch(write),
        checkpoint_dir,
    )


def serve_partials(stream: DataFrame, base: Path, batch_fold, fold) -> DataFrame:
    """The epoch-partial lifecycle (module docstring): drain ``stream``
    into ``base/partials`` (checkpoint ``base/ckpt``, resuming from
    existing state), compact the live partials under the monoid
    ``fold`` (a no-op when no new epoch landed), and return ``fold``
    over the live partials."""
    spark = stream.sparkSession
    partials_dir = str(Path(base) / "partials")
    drain_partials(stream, partials_dir, str(Path(base) / "ckpt"), batch_fold)
    compact_with(spark, partials_dir, fold)
    return folded_with(spark, partials_dir, fold)


def run_delta_stream(
    spark: SparkSession,
    source_dir: str,
    partials_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
) -> None:
    """Drain the envelope backlog, folding each micro-batch into
    retraction partials, without compacting. Order-robust (unlike the
    watermarked dedupe path): the fold never inspects event order, so
    multi-file sources replaying in any interleaving converge to the
    same totals. Resumes from existing partials + checkpoint."""
    stream = (
        spark.readStream.schema(ingest.SOURCE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )
    stream = stream.repartition(spark.sparkContext.defaultParallelism)
    drain_partials(
        P.normalized_events(stream),
        partials_dir,
        checkpoint_dir,
        lambda batch_df: retraction_totals(P.typed_rows(batch_df)),
    )


def fold_totals(parts: DataFrame) -> DataFrame:
    """The retraction family's monoid: per-table integer sums of the
    +new/-old deltas (see fold_generic)."""
    return fold_generic(parts, ["table_name"], ["net_rows", "net_sum_micro"])


def _base_version(partials_dir: str) -> tuple[int, Path | None]:
    """(version, path) of the newest COMMITTED base; (-1, None) if none.

    Committed means the rename in ``compact_with`` completed: the
    fold is staged under a ``_tmp`` name and renamed into place only
    after the write job (and its ``_SUCCESS`` marker) finished, so a
    crash mid-write leaves no ``base_v*`` dir at all. The ``_SUCCESS``
    check is belt-and-braces against a base produced by an older writer
    or a copy that raced the marker."""
    root = Path(partials_dir)
    if not root.exists():
        return -1, None
    bases = sorted(
        p
        for p in root.iterdir()
        if p.name.startswith(_BASE_PREFIX) and (p / "_SUCCESS").exists()
    )
    if not bases:
        return -1, None
    newest = bases[-1]
    return int(newest.name[len(_BASE_PREFIX):]), newest


def _epoch_dirs(partials_dir: str) -> list[tuple[int, Path]]:
    root = Path(partials_dir)
    if not root.exists():
        return []
    out = []
    for p in root.iterdir():
        if p.name.startswith("epoch="):
            out.append((int(p.name.split("=", 1)[1]), p))
    return sorted(out)


def _live_paths(partials_dir: str) -> list[str]:
    """The partial set serving must fold: newest base + every epoch
    partial NEWER than the base's version. Epoch dirs at or below the
    base version are already folded in — leftovers from an interrupted
    compaction are ignored, never double-counted."""
    ver, base = _base_version(partials_dir)
    paths = [str(base)] if base is not None else []
    paths += [str(p) for e, p in _epoch_dirs(partials_dir) if e > ver]
    return paths


def fold_generic(
    df: DataFrame, group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """The integer-sum monoid of every SUM-DECOMPOSABLE family: group
    by the grid columns, SUM the delta columns (kept as int64). When
    each source row contributes to exactly one micro-batch's sums,
    per-batch sums add up to the exact batch totals in any order or
    grouping. Using ONE fold expression for the serving read and the
    compaction base is what makes serve(compact(partials)) ==
    serve(partials) an identity instead of a hope."""
    return df.groupBy(*group_cols).agg(
        *[F.sum(c).cast("long").alias(c) for c in sum_cols]
    )


def folded_with(
    spark: SparkSession, partials_dir: str, fold_fn
) -> DataFrame:
    """Serving view under an arbitrary commutative idempotent-on-
    refold monoid: apply ``fold_fn`` to the live partials (newest base
    + epochs above its version). ``fold_fn`` must satisfy
    fold(fold(A) ∪ fold(B)) == fold(A ∪ B) — integer sums
    (fold_generic), per-key argmax (funnel), bottom-k (KMV) all do."""
    return fold_fn(spark.read.parquet(*_live_paths(partials_dir)))


def compact_with(
    spark: SparkSession, partials_dir: str, fold_fn
) -> None:
    """Fold every live partial into one new base (copy-on-write,
    versioned by the newest folded epoch), then drop what it folded.
    ``fold_fn`` is the family's serving monoid (see folded_with).

    Crash safety without a manifest: the base commit is the atomic
    point. Before it, serving sees the old base + epochs (complete);
    after it, serving sees the new base and IGNORES epoch dirs <= its
    version, so interrupted cleanup leaves garbage, not wrong answers.
    Re-running compaction is idempotent. The same recipe at 100 TB —
    compaction is a background fold, never a correctness event."""
    root = Path(partials_dir)
    if not root.exists():  # zero batches ever folded — nothing to do
        return
    for p in root.iterdir():  # sweep crash debris: staged folds and
        # uncommitted bases (no _SUCCESS) are garbage by construction
        if p.name.startswith("_tmp_") or (
            p.name.startswith(_BASE_PREFIX) and not (p / "_SUCCESS").exists()
        ):
            shutil.rmtree(p, ignore_errors=True)
    epochs = _epoch_dirs(partials_dir)
    old_ver, old_base = _base_version(partials_dir)
    new_ver = max((e for e, _ in epochs), default=old_ver)
    if new_ver <= old_ver:
        return  # nothing newer than the base — no-op
    folded = fold_fn(spark.read.parquet(*_live_paths(partials_dir)))
    # Stage the fold under a _tmp name, then rename into place: the
    # rename is the atomic commit point. A crash during the write
    # leaves only a _tmp dir (invisible to _base_version and cleaned
    # up below on the next run), never a partial base that would make
    # serving skip un-folded epochs.
    tmp = Path(partials_dir) / f"_tmp_{_BASE_PREFIX}{new_ver:09d}"
    shutil.rmtree(tmp, ignore_errors=True)
    folded.write.mode("overwrite").parquet(str(tmp))
    tmp.rename(Path(partials_dir) / f"{_BASE_PREFIX}{new_ver:09d}")
    # post-commit cleanup: anything the new base covers
    for e, p in epochs:
        if e <= new_ver:
            shutil.rmtree(p, ignore_errors=True)
    if old_base is not None:
        shutil.rmtree(old_base, ignore_errors=True)
