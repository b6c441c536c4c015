"""Deduplication operators (north-star E1/E2): exact hash-dedup,
MinHash-LSH, SimHash, and n-gram-Jaccard near-dup detection.

Scale posture:
- Exact dedup is one shuffle on the 256-bit content hash; survivors
  picked with min-id row_number (deterministic, no arbitrary-first).
- All near-dup detectors follow the same three-stage shape:
  (1) SIGNATURE: one map-only pass computes every band/salt of the
      signature in a single projection (posexplode over a transform
      array — never a union-of-salts, which would recompute the whole
      signature expression once per salt);
  (2) CANDIDATES: per-bucket pair generation over NARROW (band, key,
      doc_id) rows — MinHash uses 2-row bands (collision prob J^2, so
      no single boilerplate shingle can key a corpus-wide bucket) plus
      a deterministic bucket-size cap applied BEFORE any per-bucket
      list materializes; emission is bounded by buckets * cap^2/2,
      never the n² pair space, and shingle arrays never shuffle;
  (3) VERIFY: exact Jaccard / hamming on candidate pairs only, with the
      heavy shingle sets attached late by joining the (small) pair list
      back to the corpus — at scale the pair side broadcasts, so the
      arrays are never shuffled at all.
"""

from __future__ import annotations

import os
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, Window, functions as F

from .text import shingles_from_tokens

N_HASHES = 4  # single-row bands (legacy per-salt signature helper)

# MinHash-LSH banding (r8): 4 bands x 2 rows. With 1-row bands a
# single near-universal shingle — boilerplate, or the planted
# ' zzz zzz zzz' mutant suffix, whose salted sha happens to sort tiny —
# becomes the corpus-wide minimum and packs every such doc into ONE
# bucket: candidates grow quadratically with corpus size (measured by
# scripts/scale_stress.py at 10x sf0.1: a 2,725-doc bucket, 4.3 M
# candidates for 10 k true pairs, 72 s build). A 2-row band collides
# only when BOTH independent minima match (probability J^2 per band),
# which breaks single-shingle dominance; MAX_BUCKET is the deterministic
# backstop on PAIRWISE emission. Oversized buckets are NOT dropped
# wholesale (r8 did, which silently zeroed recall for any true-duplicate
# cluster with > MAX_BUCKET members — e.g. templated docs): each member
# instead pairs with the bucket's OVERSIZE_REPS smallest doc_ids, a star
# topology that keeps emission LINEAR in bucket size while connected
# components still collapse the whole cluster through the hub. A star
# pair must agree with its hub in >= MIN_STAR_BANDS of the 4 bands
# before it reaches the Jaccard verify. Rationale, with the counts
# measured on the doc-skew stress corpus (one boilerplate suffix on
# half of 57 k docs -> 5 oversized buckets, largest 644): identical
# docs share EVERY band key (always kept), while a boilerplate-bucket
# member collides with a hub where a globally-hot shingle owns a
# band's both minima — a coincidence whose probability an independent
# second band SQUARES. Ungated, the star added 6,684 junk candidates
# (49,318 vs 42,634 base) that all died in the Jaccard verify; the
# 2-band gate removes 6,530 of them (42,788) as a narrow-int
# aggregation BEFORE any shingle array is attached, while a 3-band
# gate removes only 154 more and would halve star recall for J ~ 0.8
# clusters (P(>=2 of 4) = 0.86 vs P(>=3) = 0.55 at J^2 = 0.64 per
# band). Uniform corpora are untouched — the r8 2-row banding already
# leaves them with ZERO oversized buckets, so the star never fires
# there. Remaining recall bound: a J < 1 member of an oversized
# bucket stars at P(>=2 of 4 bands); its small-bucket collisions in
# other bands still pair it the normal way.
MINHASH_BANDS = 4
MINHASH_ROWS_PER_BAND = 2
MAX_BUCKET = 64
OVERSIZE_REPS = 4
MIN_STAR_BANDS = 2

SIMHASH_BITS = 64
SIMHASH_BANDS = 4  # 16 bits/band; hamming<=3 pairs always share a band


# signature stages must not run on one core when the input is a single
# split (measured: 10 s single-core vs <1 s spread for 5 k-doc SimHash)
from ..sources.tables import rebalance as _balanced  # noqa: E402


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per exact content hash."""
    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _with_shingles(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, sh) with the distinct-shingle array MATERIALIZED AND
    PERSISTED (memory-and-disk). Every near-dup detector reads this
    frame from at least three plan subtrees (signature side A, side B,
    verify attach) and Spark does not share scan subtrees across a
    self-join, so without the persist the interpreted shingle/sha256
    HOFs — the single most expensive expression in the repo — run 3-4x
    per query. One cached pass is also the right cluster posture: the
    cache is per-executor local (spills to disk, never shuffles), and
    recomputing sha256 over ~20 shingles/doc x 100 TB three times dwarfs
    the cache's storage cost."""
    from pyspark import StorageLevel

    return (
        _balanced(df.select(F.col(id_col).alias("doc_id"), F.col(text_col)))
        .withColumn("_toks", F.split(F.col(text_col), " "))
        .select("doc_id", shingles_from_tokens("_toks").alias("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n_hashes: int = N_HASHES
) -> DataFrame:
    """(doc_id, k, minhash_k) — one row per salt k, all salts computed
    in one pass over the shingle set (stage 1 of the pipeline above)."""
    sig_arr = (
        f"transform(sequence(0, {n_hashes - 1}), "
        f"k -> array_min(transform(sh, x -> sha2(concat(cast(k as string), x), 256))))"
    )
    return _with_shingles(df, text_col, id_col).select(
        "doc_id", F.posexplode(F.expr(sig_arr)).alias("k", "h")
    )


def minhash_band_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = MINHASH_BANDS,
    rows_per_band: int = MINHASH_ROWS_PER_BAND,
) -> DataFrame:
    """(doc_id, k, h) — one row per LSH band, where the band key is the
    sha256 of the CONCATENATED per-salt minima of its ``rows_per_band``
    salts (salts 2b and 2b+1 for band b at r=2). All salts and all band
    keys are computed in ONE map pass over the persisted shingle frame.
    Band collision probability is J^r, so no single common shingle can
    key a corpus-wide bucket."""
    n_salts = n_bands * rows_per_band
    mins = (
        f"transform(sequence(0, {n_salts - 1}), "
        f"k -> array_min(transform(sh, x -> sha2(concat(cast(k as string), x), 256))))"
    )
    concat_rows = " , ".join(
        f"element_at(_mins, {rows_per_band} * b + {j + 1})"
        for j in range(rows_per_band)
    )
    bands = (
        f"transform(sequence(0, {n_bands - 1}), "
        f"b -> sha2(concat({concat_rows}), 256))"
    )
    return (
        _with_shingles(df, text_col, id_col)
        .withColumn("_mins", F.expr(mins))
        .select("doc_id", F.posexplode(F.expr(bands)).alias("k", "h"))
    )


def banded_candidates(
    sigs: DataFrame,
    max_bucket: int = MAX_BUCKET,
    oversize_reps: int = OVERSIZE_REPS,
    min_star_bands: int = MIN_STAR_BANDS,
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from banded signatures, generated
    PER BUCKET instead of a signature self-join. Bucket sizes are
    counted first; buckets of 2..max_bucket emit all pairs (bounded by
    n_buckets * max_bucket^2 / 2 — never the n^2 pair space), while
    OVERSIZED buckets emit a STAR: every member against the bucket's
    ``oversize_reps`` smallest doc_ids (linear in bucket size), kept
    only when member and hub co-bucket in >= ``min_star_bands`` bands.
    The star keeps >max_bucket true-duplicate clusters connected —
    identical docs share every band key, so each member verifies
    against a hub and connected components collapse the cluster —
    without reopening the quadratic path, and the band-agreement gate
    drops boilerplate-bucket junk pairs as a narrow-int aggregation
    before any shingle array is attached. Per-task memory stays
    bounded by max_bucket regardless of input skew (the only
    per-bucket list collected is for capped buckets; the star path is
    a window rank plus joins/aggregations over narrow rows)."""
    counts = sigs.groupBy("k", "h").count()
    sized = (
        counts.filter((F.col("count") >= 2) & (F.col("count") <= max_bucket))
        .select("k", "h")
    )
    buckets = (
        sigs.join(sized, ["k", "h"])
        .groupBy("k", "h")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
    )
    pair_expr = (
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "b -> struct(a AS doc_a, b AS doc_b))))"
    )
    small = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )
    oversized = counts.filter(F.col("count") > max_bucket).select("k", "h")
    over_rows = sigs.join(oversized, ["k", "h"])
    rep_w = Window.partitionBy("k", "h").orderBy("doc_id")
    reps = (
        over_rows.withColumn("_rn", F.row_number().over(rep_w))
        .filter(F.col("_rn") <= oversize_reps)
        .select("k", "h", F.col("doc_id").alias("_rep"))
    )
    star = (
        over_rows.join(reps, ["k", "h"])
        .filter(F.col("doc_id") != F.col("_rep"))
        .select(
            "k",
            F.least("doc_id", "_rep").alias("doc_a"),
            F.greatest("doc_id", "_rep").alias("doc_b"),
        )
        .distinct()  # one row per (band, pair)
        .groupBy("doc_a", "doc_b")
        .count()
        .filter(F.col("count") >= min_star_bands)
        .select("doc_a", "doc_b")
    )
    return small.unionByName(star).dropDuplicates(["doc_a", "doc_b"])


def _attach_shingles(
    pairs: DataFrame, corpus: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """VERIFY-stage helper: join the narrow (doc_a, doc_b) pair list
    back to the corpus for both sides' shingle sets. The pair side is
    orders of magnitude smaller than the corpus, so these resolve as
    broadcast joins — shingle arrays never shuffle."""
    sh = _with_shingles(corpus, text_col, id_col)
    return (
        pairs.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
    )


def _jaccard_verified(with_sh_pairs: DataFrame, jaccard_ppm_threshold: int) -> DataFrame:
    # materialize the intersection size ONCE per pair: the ppm formula
    # uses it in both numerator and denominator, and array_intersect
    # (a hash-set build over both arrays) is the whole verify cost —
    # inlining it twice doubles the work on every candidate pair
    return (
        with_sh_pairs.withColumn(
            "_inter", F.expr("size(array_intersect(sh_a, sh_b))")
        )
        .withColumn(
            "jaccard_ppm",
            F.expr(
                "(_inter * 1000000) div (size(sh_a) + size(sh_b) - _inter)"
            ).cast("long"),
        )
        .filter(F.col("jaccard_ppm") >= jaccard_ppm_threshold)
        .select("doc_a", "doc_b", "jaccard_ppm")
    )


def neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_ppm_threshold: int = 500_000,
) -> DataFrame:
    """MinHash-LSH near-dup: salted-minhash band collision candidates,
    verified with exact Jaccard over distinct shingles (integer ppm).
    Returns (doc_a, doc_b, jaccard_ppm) with doc_a < doc_b."""
    from pyspark import StorageLevel

    # persist: the size-count pass and the bucket-collect pass both
    # read the signature rows (n_docs x n_bands, narrow); without it
    # the sha256-per-shingle signature expression re-runs per consumer
    sigs = minhash_band_signatures(df, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # EAGER materialization: AQE submits sibling jobs concurrently;
    # with a lazy cache they race to compute the same partitions under
    # the cache's per-block locks — duplicated interpreted-HOF work
    # plus lock serialization. One count() builds the cache once.
    sigs.count()
    return _jaccard_verified(
        _attach_shingles(banded_candidates(sigs), df, text_col, id_col),
        jaccard_ppm_threshold,
    )


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash as a bitstring column.

    Dimension d is hex digit d of sha256(token): a token votes +1 on
    bit d iff that digit's high bit is set (char >= '8'), else -1; the
    sign of the vote sum is the bit.

    Shape matters here: the whole signature is ONE ``aggregate`` fold
    over the token-hash array, accumulating all 64 vote sums as an
    int array, then mapped to bits. The naive form — materialize the
    hash array in one projection, then 64 per-dimension aggregates in
    the next — is a CollapseProject trap: the optimizer inlines the
    hash-array expression into the per-dimension lambda and sha256 runs
    64x per token (measured ~10x the query). A single fold references
    the hash array exactly once, so sha256 runs once per token no
    matter what the optimizer collapses. Map-only, portable to any
    engine with sha256 (integer vote addition is associative, so the
    fold order doesn't change results)."""
    votes = (
        f"aggregate(transform(split({text_col}, ' '), t -> sha2(t, 256)), "
        f"array_repeat(0, {SIMHASH_BITS}), "
        f"(acc, h) -> zip_with(acc, sequence(1, {SIMHASH_BITS}), "
        f"(a, d) -> a + (CASE WHEN substring(h, d, 1) >= '8' THEN 1 ELSE -1 END)))"
    )
    sim = F.expr(
        f"concat_ws('', transform({votes}, s -> CASE WHEN s >= 0 THEN '1' ELSE '0' END))"
    )
    return _balanced(df).withColumn("simhash", sim)


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup: band the 64-bit signature into 4×16-bit keys
    (single posexplode pass — the signature is computed once per doc);
    candidates are pairs sharing any band (pigeonhole: hamming<=3 can
    dirty at most 3 of 4 bands, so no true pair is missed); verify
    exact hamming distance on the candidate pairs only."""
    band_w = SIMHASH_BITS // SIMHASH_BANDS
    # PERSIST the signature frame: it is tiny (doc_id + 64-char string)
    # but feeds both sides of the band self-join, and AQE broadcasts one
    # side — the two sides then plan as DIFFERENT subtrees with no
    # ReusedExchange, recomputing the interpreted 64-bit vote aggregate
    # (the most expensive expression in this file) once per subtree
    # (observed: 6 parquet scans in the physical plan, 20 s at sf0.1 vs
    # 5 s cached). One cached map pass is also the cluster posture: the
    # signature is O(corpus) to compute and O(doc_id) to store.
    from pyspark import StorageLevel

    # Materialize the RAW signature frame FIRST, then derive the packed
    # ints / band keys from the cache. Deriving them in the same
    # projection is a trap: CollapseProject inlines the interpreted
    # 64-dim vote aggregate — the most expensive expression in the repo
    # — into EVERY derived column, evaluating it once per output column
    # (measured 3x = 13.5 s vs 4.5 s single-eval at sf0.1). The cache
    # boundary pins exactly one evaluation; everything after reads the
    # 64-char string. The eager count also keeps AQE's two concurrent
    # join-side jobs from racing to build the same cache under the
    # block locks.
    sig_only = (
        with_simhash(df.select(F.col(id_col).alias("doc_id"), text_col), text_col)
        .select("doc_id", "simhash")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sig_only.count()
    # packed 2x32-bit form: hamming distance in the verify stage becomes
    # xor + bit_count — whole-stage-codegen integer ops instead of a
    # 64-iteration interpreted substring lambda per candidate pair
    # (~80M interpreted calls / 15-70 s at sf0.1's 620k pairs)
    bands = sig_only.select(
        "doc_id",
        F.expr("cast(conv(substring(simhash, 1, 32), 2, 10) as bigint)").alias("hi"),
        F.expr("cast(conv(substring(simhash, 33, 32), 2, 10) as bigint)").alias("lo"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {SIMHASH_BANDS - 1}), "
                f"b -> substring(simhash, 1 + {band_w} * b, {band_w}))"
            )
        ).alias("band", "key"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.hi").alias("hi_a"),
            F.col("a.lo").alias("lo_a"),
            F.col("b.hi").alias("hi_b"),
            F.col("b.lo").alias("lo_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ham = F.expr("bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b)")
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def default_checkpoint_dir() -> str:
    """Default reliable-checkpoint location: tmpfs when present (fast
    local iteration), else the system temp dir. A cluster deployment
    points this at HDFS/S3 via ``ensure_checkpoint_dir``."""
    base = "/dev/shm" if os.access("/dev/shm", os.W_OK) else tempfile.gettempdir()
    return os.path.join(base, "tidb_cdc_spark_ckpt")


def ensure_checkpoint_dir(df: DataFrame, checkpoint_dir: str | None = None) -> None:
    """Make reliable ``df.checkpoint()`` usable: set the SparkContext
    checkpoint dir if the caller (or a previous call) hasn't already.
    An explicit ``checkpoint_dir`` always wins."""
    sc = df.sparkSession.sparkContext
    if checkpoint_dir is not None or sc.getCheckpointDir() is None:
        sc.setCheckpointDir(checkpoint_dir or default_checkpoint_dir())


def reliable_checkpoint(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Eagerly materialize ``df`` to the checkpoint dir and truncate
    lineage. Unlike ``localCheckpoint`` (blocks live only on executors
    — one executor loss kills an iterative job with no recompute path),
    a reliable checkpoint survives executor loss: on a cluster, point
    the dir at HDFS/S3; locally it is a tmpfs/tmp write.

    ``checkpoint(eager=True)`` runs the action first and THEN a second
    job that re-traverses the lineage to write the checkpoint files —
    an un-cached input is computed twice. Persist around the checkpoint
    so the write job reads the cached blocks, then release the cache
    (the checkpoint files own the data from here)."""
    from pyspark import StorageLevel

    ensure_checkpoint_dir(df, checkpoint_dir)
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return df.checkpoint(eager=True)
    finally:
        df.unpersist()


@contextmanager
def _scoped_shuffle_partitions(spark, n: int):
    """Run the scope under an ``n``-partition shuffle domain. When the
    domain was sized DOWN from the session setting — i.e. the caller
    measured the data and found it small — adaptive execution is
    disabled inside the scope too (r16): AQE re-plans and re-optimizes
    every query stage, which on a KB-scale iterative loop is pure
    driver overhead with nothing to win (measured 1.45x on the web CC
    loop at sf0.1: 4.53 -> 3.12 s median of 3 interleaved reps,
    fixpoint identical). At real cardinality the formula hits the
    session cap (n == session setting) and AQE stays on, so skew/
    coalesce handling at scale is untouched. The log-round doubling
    loops (queries/advanced_ops.py) share the same per-round shape and
    use this scope too. NOTE: mutates shared session conf — safe only
    while queries execute serially (the driver/bench contract); revisit
    before any concurrent-query feature."""
    p_key = "spark.sql.shuffle.partitions"
    a_key = "spark.sql.adaptive.enabled"
    # read both old values before changing anything, and set inside
    # the try: a set that fails half-way still restores both
    old_p = spark.conf.get(p_key)
    old_a = spark.conf.get(a_key)
    try:
        spark.conf.set(p_key, str(n))
        if n < int(old_p):
            spark.conf.set(a_key, "false")
        yield
    finally:
        spark.conf.set(p_key, old_p)
        spark.conf.set(a_key, old_a)


def _cc_partitions(spark, n_edges: int) -> int:
    """Shuffle domain for the label-propagation rounds: the label/edge
    frames are NARROW (two longs), so at small graph sizes the
    per-round cost is task + checkpoint overhead, not data — the same
    finding as queries/advanced_ops._doubling_partitions (paying the
    session default for a few-thousand-edge graph made each round
    ~2x slower, measured at sf0.1 in r15). Size partitions from the
    materialized edge count (~50k rows each, floor 2, never above the
    session setting): at 10^10 edges the formula asks for far more
    than the session cap and the cap governs — the loop scales by
    configuration, not rewrite."""
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(2, min(cur, n_edges // 50_000 + 2))


def neardup_clusters(
    pairs: DataFrame, max_iter: int = 15, checkpoint_dir: str | None = None
) -> DataFrame:
    """Connected components over near-dup pairs -> (doc_id, cluster_id)
    with cluster_id = min doc_id in the component. This is the step
    that turns pair detection into corpus dedup: keep one canonical doc
    (doc_id == cluster_id) per cluster, drop the rest.

    Distributed iterative min-label propagation: each round every node
    takes the min of its own label and its neighbors' labels; converges
    within the component diameter (near-dup clusters are shallow — a
    template and its variants form a star). Each round is one join +
    one aggregation; lineage is truncated per round with a RELIABLE
    checkpoint (``reliable_checkpoint``): localCheckpoint blocks live
    only on executors, so one executor loss mid-iteration would kill a
    cluster-scale run with no recompute path. Convergence test:
    sum(label) is strictly decreasing until fixpoint, so an unchanged
    sum terminates — one scalar action per round, no full-table
    comparison.

    r15 optimization (measured, bit-identical output): (1) the init
    FOLDS the first propagation hop — label_0 = min(node, min
    neighbor) is exactly what round 0 of the old loop produced from
    label = node, computed here by one aggregation over the
    checkpointed edges instead of a distinct + a full join round;
    (2) the rounds run under a scale-adaptive shuffle domain sized
    from the materialized edge count (``_cc_partitions``) — narrow
    label frames at the session's partition count paid pure task
    overhead per round. Web-graph build: 6.7 s -> 3.0 s at sf0.1;
    fixpoint (and therefore every consumer hash) unchanged — the
    sum-convergence certificate still applies, it just starts one
    hop further in."""
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = reliable_checkpoint(
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ),
        checkpoint_dir,
    )
    spark = edges.sparkSession
    n_edges = edges.count()  # cheap: reads the checkpoint files
    with _scoped_shuffle_partitions(spark, _cc_partitions(spark, n_edges)):
        labels = reliable_checkpoint(
            edges.groupBy(F.col("src").alias("node")).agg(
                F.least(F.first("src"), F.min("dst")).alias("label")
            ),
            checkpoint_dir,
        )
        prev_sum = labels.agg(F.sum("label")).collect()[0][0]
        converged = False
        for _ in range(max_iter):
            nbr = (
                edges.join(labels.withColumnRenamed("node", "dst"), "dst")
                .groupBy("src")
                .agg(F.min("label").alias("nbr_min"))
                .withColumnRenamed("src", "node")
            )
            labels = reliable_checkpoint(
                labels.join(nbr, "node", "left")
                .select(
                    "node",
                    F.least(F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))).alias(
                        "label"
                    ),
                ),
                checkpoint_dir,
            )
            cur_sum = labels.agg(F.sum("label")).collect()[0][0]
            if cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
    if not converged:
        # returning part-propagated labels would silently split real
        # clusters (duplicates leak through the canonical filter)
        raise RuntimeError(
            f"neardup_clusters did not converge in {max_iter} rounds — "
            "component diameter exceeds max_iter; raise max_iter"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_ppm_threshold: int = 500_000,
) -> DataFrame:
    """N-gram Jaccard near-dup via fingerprint blocking: candidates are
    pairs sharing the one-permutation-MinHash fingerprint (a single
    narrow equi-join on the min-shingle-hash — the cheapest blocking
    scheme), verified with exact Jaccard over distinct 3-gram shingles
    in integer ppm."""
    # fp = min sha256 over the DISTINCT shingle set == min over the full
    # shingle multiset (fingerprint_from_tokens semantics), so it can be
    # derived from the cached shingle frame — the expensive shingle
    # materialization then runs exactly once for blocking AND verify
    from pyspark import StorageLevel

    # persist: the fingerprint (one sha256 per shingle, reduced to a
    # min) feeds both self-join sides — cache the narrow (doc_id, fp)
    # frame so the hash pass runs once, not once per side
    fp = (
        _with_shingles(df, text_col, id_col)
        .select(
            "doc_id",
            F.expr("array_min(transform(sh, x -> sha2(x, 256)))").alias("fp"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # eager build — see neardup_pairs
    fp.count()
    cand = (
        fp.alias("a")
        .join(
            fp.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    return _jaccard_verified(
        _attach_shingles(cand, df, text_col, id_col), jaccard_ppm_threshold
    )
