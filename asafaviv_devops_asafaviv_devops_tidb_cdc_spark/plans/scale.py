"""Cluster-sizing math: the knobs that change between local[32]/sf0.1
and a 1000-executor cluster over ~100 TB, and why.

The engine's query code never hard-codes parallelism — partition counts
flow from these formulas via SparkSession conf, so the same DataFrame
plans scale by configuration, not rewrite. The reference pipeline has
exactly one parallelism knob (Kafka partition-num=1, reference
docker-compose.yml:102) and a single-threaded consumer; here parallelism
is (input splits) x (shuffle partitions), both derived from data size.

Sizing rules implemented below:
- scan:    ~128 MiB per input split (`files.maxPartitionBytes`) — large
           enough to amortize task overhead, small enough that a split's
           decompressed columns fit executor memory.
- shuffle: partitions ~= shuffled_bytes / 200 MiB, floored at 2x total
           cores (keep every core busy), capped at 100k (scheduler
           pressure). With AQE on, this is an upper bound — runtime
           coalescing shrinks it to the advisory target per stage.
- join:    broadcast anything under ~256 MiB on a 1000-node cluster
           (dims in a star schema); beyond that, shuffle hash / sort-
           merge with AQE skew splitting.
- stream:  `maxOffsetsPerTrigger` sized so one micro-batch's rows fit
           the same 200 MiB/partition envelope across Kafka partitions.
"""

from __future__ import annotations

MIB = 1 << 20
GIB = 1 << 30
TIB = 1 << 40

TARGET_SPLIT_BYTES = 128 * MIB
TARGET_SHUFFLE_PARTITION_BYTES = 200 * MIB
MAX_SHUFFLE_PARTITIONS = 100_000
BROADCAST_THRESHOLD_BYTES = 256 * MIB


def shuffle_partitions(shuffled_bytes: int, total_cores: int) -> int:
    """Upper-bound shuffle partition count for a given shuffle volume."""
    by_size = shuffled_bytes // TARGET_SHUFFLE_PARTITION_BYTES + 1
    return int(min(max(by_size, 2 * total_cores), MAX_SHUFFLE_PARTITIONS))


def recommended_conf(
    input_bytes: int,
    executors: int = 1000,
    cores_per_executor: int = 4,
    shuffle_fraction: float = 0.5,
) -> dict[str, str]:
    """Spark conf for a batch suite over ``input_bytes`` of parquet.

    ``shuffle_fraction`` is the expected shuffled-to-scanned ratio —
    ~0.5 for this suite because the P-chain is map-only (zero shuffle)
    and the aggregation layer shuffles pre-aggregated partials only.
    At the 100 TB / 1000-executor design point this yields ~262k input
    splits and 100k (capped) shuffle partitions, both well inside
    scheduler limits.
    """
    cores = executors * cores_per_executor
    parts = shuffle_partitions(int(input_bytes * shuffle_fraction), cores)
    return {
        "spark.sql.files.maxPartitionBytes": str(TARGET_SPLIT_BYTES),
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            TARGET_SHUFFLE_PARTITION_BYTES
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(BROADCAST_THRESHOLD_BYTES),
    }


def max_offsets_per_trigger(
    kafka_partitions: int, avg_event_bytes: int, total_cores: int
) -> int:
    """Micro-batch size cap: rows per trigger such that each core's
    share stays within the shuffle-partition envelope (backpressure —
    the reference has none and relies on one-message-at-a-time await,
    reference index.js:353)."""
    batch_bytes = total_cores * TARGET_SHUFFLE_PARTITION_BYTES
    return max(batch_bytes // max(avg_event_bytes, 1), kafka_partitions)


def state_buckets(state_bytes: int, expected_batch_keys: int) -> int:
    """Bucket count for the hash-bucketed streaming state table
    (streaming/merge.py). Two pressures trade off:

    - rewrite amplification: a batch rewrites every bucket one of its
      keys hashes into, so per-batch I/O ~= touched_buckets x
      (state_bytes / n_buckets). More buckets -> finer pruning, until
      touched_buckets saturates at the batch's distinct-key count.
    - file-count pressure: each bucket keeps its own version chain;
      beyond ~100k live bucket dirs the metadata layer (listing,
      checkpoint manifests) becomes the bottleneck.

    Sizing rule: make one bucket ~= one shuffle-partition envelope
    (state_bytes / 200 MiB), then cap so a typical batch still touches
    a minority of buckets (n <= 4 x expected distinct batch keys keeps
    expected touched fraction under ~1 - e^-1/4 ~ 22%)."""
    by_size = state_bytes // TARGET_SHUFFLE_PARTITION_BYTES + 1
    return int(min(max(by_size, 1), max(4 * expected_batch_keys, 1), 100_000))


def cosine_blocks(corpus_bytes: int, executor_task_memory_bytes: int) -> int:
    """Block count for the distributed all-pairs cosine
    (functions/similarity.py::allpairs_cosine_x10k). A block-pair task
    holds two blocks as dense int64 matrices (~2x the float32 parquet
    footprint each), so per-task memory ~= 4 x corpus_bytes / n_blocks;
    pick the smallest n_blocks that fits the task budget. Task count
    grows as n(n+1)/2 — quadratic, like the work itself — so n_blocks
    only ever needs to be as large as memory demands."""
    need = (4 * corpus_bytes) // max(executor_task_memory_bytes, 1) + 1
    return int(max(need, 2))


def streaming_conf(state_bytes: int, total_cores: int) -> dict[str, str]:
    """Spark conf for the stateful-streaming layer at scale.

    The default (HDFS-backed, in-memory map) state store holds every
    store's working set on-heap — at 100 TB-class state that is the
    first thing to fall over. RocksDB (bundled with Spark) spills
    state to local disk with bounded memory, and CHANGELOG
    checkpointing ships per-batch deltas instead of full SST snapshots
    — commit cost tracks batch size, not state size (the same
    bounded-by-touched-data property the bucketed parquet fold gives
    the foreachBatch maintainers). Shuffle partitions are sized DOWN
    to the state volume: each partition is one state store instance
    paying a per-batch commit, so thousands of near-empty stores are
    pure fixed overhead (measured ~2x on the replay harness — every
    drain runs in that sized-down domain, see streaming/ingest.py::drain)."""
    parts = int(
        min(
            max(state_bytes // TARGET_SHUFFLE_PARTITION_BYTES + 1, total_cores),
            MAX_SHUFFLE_PARTITIONS,
        )
    )
    return {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
            "true"
        ),
        "spark.sql.shuffle.partitions": str(parts),
    }


def ivf_cells(n_vectors: int, nprobe: int = 4) -> int:
    """Cell count for the IVF index (sources/ann_store.py). Per-query
    work = centroid scoring (~cells rows) + probed-cell scan
    (~nprobe x n/cells rows); the sum is minimized at
    cells = sqrt(nprobe x n) — the sqrt-scaling every IVF deployment
    converges on. Capped so the centroid table stays a comfortable
    broadcast and the cell directories stay within metadata limits."""
    import math

    if n_vectors <= 0:
        return 1
    return int(min(max(math.isqrt(nprobe * n_vectors), 1), 100_000))
