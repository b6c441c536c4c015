"""K-minimum-values (KMV / bottom-k) distinct sketch, shared by the
batch query (queries/advanced_ops.py::q_kmv_distinct), its DuckDB
oracle string, and the streaming fold (queries/advanced_ops.py::
_kmv_partial / _kmv_fold, served by streaming/delta.py::serve_partials) — the
sampling.py single-definition rule applied to a cardinality sketch.

KMV (Bar-Yossef et al. 2002, "Counting distinct elements in a data
stream"; the bottom-k / theta-sketch family every warehouse ships) keeps
the K smallest values of a uniform hash of the member ids. The k-th
smallest hash h_k estimates the distinct count as (K-1) * M / h_k where
M is the hash-space size; with fewer than K distinct hashes the sketch
IS the distinct set and the count is exact.

Why this spelling is engine-portable and streaming-exact:

- The hash is the house salted sha (48-bit hex prefix as BIGINT) — a
  pure function of the member, identical in Spark and DuckDB, so the
  sketch (and therefore the ESTIMATE, an integer floor-division over
  the k-th hash) hash-matches cross-engine. No float, no rand().
- bottom-k of a set union = bottom-k of the union of per-part
  bottom-k's: the sketch is a commutative, idempotent, bounded-size
  monoid. That one identity is the whole 100 TB story — per-partition
  (or per-micro-batch) local sketches fold into the global sketch
  without rescanning members, and sketches of different groups merge
  into the sketch of the group union (set algebra without re-reading
  data).

Unlike HLL (q_hll_distinct, whose engine-specific estimates reduce to
in-engine bound predicates for its hash verdict), KMV is exactly
reproducible across engines, so the estimator itself gets a hash-green
driver verdict, with the error bound asserted in-engine like
q_hll_error_bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# sketch size: stderr ~ 1/sqrt(K-2) ~ 13%; verdict gate at 3 sigma
K = 64
SALT = "kmv1_"
HEX_DIGITS = 12           # 48-bit hash space
M48 = 1 << 48             # its size, for the (K-1)*M/h_k estimator
ERR_GATE_PPM = 400_000    # ~3 sigma at K=64

# tournament shard count for the distributed bottom-k (see bottom_k)
SHARDS = 256


def hash_key(col: Column) -> Column:
    """48-bit integer hash of a member id — the Spark side."""
    return (
        F.conv(
            F.substring(
                F.sha2(F.concat(F.lit(SALT), col.cast("string")), 256),
                1,
                HEX_DIGITS,
            ),
            16,
            10,
        )
        .cast("long")
    )


def hash_key_sql(expr: str) -> str:
    """The DuckDB spelling of :func:`hash_key`."""
    return (
        f"('0x' || substr(sha256('{SALT}' || CAST({expr} AS VARCHAR)), "
        f"1, {HEX_DIGITS}))::BIGINT"
    )


def bottom_k(hashed: DataFrame, group_col: str = "member_set",
             hash_col: str = "hv") -> DataFrame:
    """Per-group bottom-K over a DISTINCT (group, hash) frame, as a
    two-level tournament so no per-group sort ever sees more than a
    bounded frame:

    level 1 — window partitioned by (group, hv % SHARDS): each shard
    keeps its local bottom-K (shard membership is a pure function of
    the hash, so the plan is deterministic under any input split);
    level 2 — window partitioned by group over the surviving
    <= SHARDS*K rows picks the global bottom-K and ranks it.

    Returns (group, hv, rk) with rk in 1..K ascending by hv.
    """
    w1 = Window.partitionBy(
        group_col, F.pmod(F.col(hash_col), F.lit(SHARDS))
    ).orderBy(hash_col)
    local = (
        hashed.withColumn("_lrk", F.row_number().over(w1))
        .filter(F.col("_lrk") <= K)
        .drop("_lrk")
    )
    w2 = Window.partitionBy(group_col).orderBy(hash_col)
    return (
        local.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= K)
    )


def summarize(sketch: DataFrame, group_col: str = "member_set") -> DataFrame:
    """Collapse a ranked sketch to (group, n_sketch, kth_hash)."""
    return sketch.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_sketch"),
        F.max(F.when(F.col("rk") == K, F.col("hv"))).alias("kth_hash"),
    )


def estimate(col_n: str = "n_sketch", col_kth: str = "kth_hash") -> Column:
    """The KMV estimator as an exact-integer Column: saturated sketch
    -> (K-1)*M48 div h_k; undersized sketch -> the sketch size itself
    (exact)."""
    return (
        F.when(F.col(col_n) < K, F.col(col_n))
        .otherwise(F.expr(f"{(K - 1) * M48} div {col_kth}"))
        .cast("long")
    )


def estimate_sql(col_n: str = "n_sketch", col_kth: str = "kth_hash") -> str:
    """DuckDB spelling of :func:`estimate`."""
    return (
        f"CAST(CASE WHEN {col_n} < {K} THEN {col_n} "
        f"ELSE {(K - 1) * M48} // {col_kth} END AS BIGINT)"
    )
