"""Deterministic salted-sha draw keys shared by every sampling/export
surface: the batch queries, their DuckDB oracle strings, and the
streaming folds.

One definition per (salt, k) pair — the batch query, its oracle
constant, and the stream twin all consume the SAME expression, so the
hash-match contract between a query and its stream twin can only break
loudly (an edit here changes all three together), never silently (the
round-5 hazard: ``fix1_``/``shuf1_`` and k were inlined at three sites
and the twins' oracles are attached by name).

Why salted sha and not rand(): membership must be a pure function of
the row id so retries, resharding and stream re-delivery reproduce the
identical draw — the house determinism rule (SURVEY §5.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# exact-k uniform sample (q_sample_fixed / its stream twin q_stream_sample)
SAMPLE_K = 100
SAMPLE_SALT = "fix1_"

# exact-k-per-group sample (q_sample_per_group)
GROUP_SAMPLE_K = 5
GROUP_SAMPLE_SALT = "grp1_"

# training-shard shuffle key (q_shard_manifest / q_stream_manifest)
SHARD_SALT = "shuf1_"


def salted_key(salt: str, id_col: str = "doc_id") -> Column:
    """sha256(salt || id) — the Spark side of the draw key."""
    return F.sha2(F.concat(F.lit(salt), F.col(id_col).cast("string")), 256)


def salted_key_sql(salt: str, id_col: str = "doc_id") -> str:
    """The DuckDB spelling of :func:`salted_key` — interpolated into
    oracle strings so both engines share one definition."""
    return f"sha256('{salt}' || CAST({id_col} AS VARCHAR))"


# ---------------------------------------------------------------------------
# Shard-export census (the manifest every trainer checksums)
# ---------------------------------------------------------------------------

def with_shard_cols(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_bytes, h, shard) from a (doc_id, text) frame: the
    deterministic shuffle key plus the 16-way shard id (first hex
    nibble). Map-only — the shared staging step of the batch shard
    writer and every manifest fold."""
    return df.select(
        id_col,
        F.octet_length("text").cast("long").alias("n_bytes"),
        salted_key(SHARD_SALT, id_col).alias("h"),
    ).withColumn("shard", F.substring("h", 1, 1))


def shard_census(rows: DataFrame) -> DataFrame:
    """Per-shard manifest row from per-doc shard rows (doc/byte counts,
    id checksum, key range). Every statistic is a commutative monoid,
    which is what lets the stream twin fold per-batch partials with
    :func:`fold_manifests` and land on the identical answer."""
    return rows.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bytes").cast("long").alias("n_bytes"),
        F.sum("doc_id").cast("long").alias("sum_doc_id"),
        F.min("h").alias("first_key"),
        F.max("h").alias("last_key"),
    )


def fold_manifests(parts: DataFrame) -> DataFrame:
    """Monoid fold of per-epoch manifest partials: + for the counts and
    checksums, min/max for the key ranges — associative + commutative,
    so partials fold in any order/grouping to the batch answer."""
    return parts.groupBy("shard").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_bytes").cast("long").alias("n_bytes"),
        F.sum("sum_doc_id").cast("long").alias("sum_doc_id"),
        F.min("first_key").alias("first_key"),
        F.max("last_key").alias("last_key"),
    )


def manifest_select(df: DataFrame) -> DataFrame:
    """Final manifest projection (shard forced to string — partition-
    column type inference must never leak into the compared schema)."""
    return df.select(
        F.col("shard").cast("string").alias("shard"),
        "n_docs",
        "n_bytes",
        "sum_doc_id",
        "first_key",
        "last_key",
    )
