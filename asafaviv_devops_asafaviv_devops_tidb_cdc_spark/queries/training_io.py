"""Training-data export + census operators (round 5, late block).

Closes the gap between "filtered corpus" and "bytes a trainer mounts":
the deterministic global shuffle + shard layout + manifest every
training run consumes, curriculum staging, epoch-aware source mixing
(upsampling — the complement of functions/mixture.py's down-weighting),
asymmetric containment dedup (quote/inclusion detection, the case
symmetric Jaccard misses), and a two-pass Misra-Gries heavy-hitter
census (the bounded-memory frequent-items primitive; same
sketch-prunes-exact-verifies posture as functions/bloom.py).

Cross-engine determinism follows the house rules (queries/_money.py,
SURVEY §5.2): no rand() — salted sha256 prefixes; no floats in compared
aggregates — integer ppm/byte units; `div` floor-division only over
non-negative integers.

Reference parity note: the reference engine (node-consumer/index.js)
ships rows; it has no corpus-export layer. These operators are part of
the mandated north-star extension surface (SURVEY §2.11), not ports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import sampling as SK, text as TX
from ..functions.dedup import _with_shingles
from ..registry import ORACLES, register
from ..sources import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# E14 — training shard writer + manifest
# ---------------------------------------------------------------------------

@register(
    "q_shard_manifest",
    oracle=f"""
WITH s AS (
  SELECT doc_id,
         CAST(strlen(text) AS BIGINT) AS nb,
         {SK.salted_key_sql(SK.SHARD_SALT)} AS h
  FROM documents)
SELECT substr(h, 1, 1) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nb) AS BIGINT) AS n_bytes,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       MIN(h) AS first_key,
       MAX(h) AS last_key
FROM s
GROUP BY 1
""",
)
def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E14 — training-shard export: deterministic global shuffle +
    shard layout + manifest. Shuffle key = salted sha256(doc_id) (a
    pure function of the id: re-runs, retries and resharding reproduce
    the same order — rand() would not); shard = first hex nibble (16
    shards), intra-shard read order = ascending key. The write is ONE
    hash-partitioned exchange + a local sort per shard — at 100 TB
    there is no global sort anywhere, and trainers stream shard files
    in name order to get the full deterministic permutation. The shard
    layout is a committed once-per-corpus-fingerprint ARTIFACT
    (sources/artifact.py — a shard export is a pipeline landing, not a
    per-report scratch write; re-invocations and plan dumps must not
    destructively rewrite it). The manifest (doc/byte counts, id
    checksum, first/last key per shard) is aggregated FROM THE
    COMMITTED FILES, not the input — it certifies the landing the way
    a trainer's data loader would checksum it; the oracle recomputes
    the same census from the raw table, so a doc dropped or duplicated
    by the writer is a gate hash miss. Read-back declares the schema
    explicitly (partition-column type inference never decides the
    manifest's shard type)."""
    from ..sources.artifact import input_fingerprint, materialized_path

    docs = _docs(spark, sf_dir).select("doc_id", "text")

    def write(dest: str) -> None:
        (
            SK.with_shard_cols(docs)
            .repartition("shard")
            .sortWithinPartitions("h")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(dest)
        )

    src = materialized_path(
        "train_shards", input_fingerprint(sf_dir, "documents", "shards-v1"), write
    )
    written = spark.read.schema(
        "doc_id bigint, n_bytes bigint, h string, shard string"
    ).parquet(src)
    return SK.manifest_select(SK.shard_census(written))


# ---------------------------------------------------------------------------
# E15 — curriculum staging (distributed exact ntile)
# ---------------------------------------------------------------------------

@register(
    "q_curriculum",
    oracle="""
WITH m AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST((length(text) - (len(string_split(text, ' ')) - 1)) * 100
              // len(string_split(text, ' ')) AS BIGINT) AS d
  FROM documents),
t AS (SELECT *, ntile(4) OVER (ORDER BY d, doc_id) AS stage FROM m)
SELECT CAST(stage AS INTEGER) AS stage,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       MIN(d) AS d_min,
       MAX(d) AS d_max
FROM t
GROUP BY 1
""",
)
def q_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 — curriculum staging: docs ranked easy->hard by mean token
    length (x100, exact integer — the difficulty proxy) and cut into 4
    equal training stages with EXACT ntile semantics, computed
    distributively. A bare ntile() window has no PARTITION BY, which
    Catalyst executes on a single task — the classic window-function
    scale trap. Instead: (1) a difficulty histogram (bounded distinct
    values — tiny), (2) a prefix-sum over that tiny frame gives each
    difficulty value its global rank offset, (3) each doc's exact
    global rank = broadcast offset + row_number within its difficulty
    (a window PARTITIONED on difficulty — fully parallel), (4) ntile's
    tile formula applied to the rank. Identical output to the oracle's
    plain ntile, but every per-doc stage is a partitioned window + a
    broadcast join at 100 TB."""
    m = TX.with_quality_metrics(_docs(spark, sf_dir)).select(
        "doc_id",
        "n_tokens",
        F.col("mean_token_len_x100").alias("d"),
    )
    hist = m.groupBy("d").agg(F.count("*").alias("cnt"))
    wh = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    offsets = hist.withColumn(
        "cum_before", F.coalesce(F.sum("cnt").over(wh), F.lit(0))
    ).select("d", "cum_before")
    tot = m.agg(F.count("*").alias("n_total"))
    ranked = (
        # broadcast-bounded: offsets has one row per distinct d =
        # quantized x100 mean-token-length — value-domain-bounded
        # (~1e3 distinct), independent of corpus size
        m.join(F.broadcast(offsets), "d")
        .withColumn(
            "rank",
            F.col("cum_before")
            + F.row_number().over(Window.partitionBy("d").orderBy("doc_id")),
        )
        .crossJoin(F.broadcast(tot))
    )
    # ntile(4): first (n % 4) tiles hold ceil(n/4) rows, the rest floor
    stage = F.expr(
        """
        CASE WHEN rank <= (n_total % 4) * (n_total div 4 + 1)
             THEN (rank - 1) div (n_total div 4 + 1) + 1
             ELSE (n_total % 4)
                  + (rank - (n_total % 4) * (n_total div 4 + 1) - 1)
                    div (n_total div 4) + 1
        END
        """
    )
    return (
        ranked.withColumn("stage", stage.cast("int"))
        .groupBy("stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("d").alias("d_min"),
            F.max("d").alias("d_max"),
        )
    )


# ---------------------------------------------------------------------------
# E16 — Misra-Gries heavy hitters (two-pass: bounded sketch -> exact verify)
# ---------------------------------------------------------------------------

_MG_CAPACITY = 64  # per-partition counters; guarantees share > 1/65 retained


def _mg_candidates(items: DataFrame) -> DataFrame:
    """Per-partition Misra-Gries summaries (capacity 64). Python is the
    right tool here: MG keeps algorithmic state (a bounded counter map
    folded across Arrow batches) that no SQL aggregate expresses
    without a full-domain shuffle — and the whole point is to never
    shuffle the item domain. Vectorized: each batch contributes a
    value_counts() (C-speed), merged into the summary with the MG
    merge rule (sum, then subtract the (k+1)-th largest and drop
    non-positives). Output is <= 64 rows per partition regardless of
    input size — the driver-side candidate set is bounded by
    construction, like streaming/merge.py's touched-bucket list."""

    def mg(batches):
        import pandas as pd

        counters = pd.Series(dtype="int64")
        for pdf in batches:
            vc = pdf["item"].value_counts()
            # keep the counters integral by construction: Series.add
            # with fill_value promotes to float64, which is exact only
            # below 2^53 — cast back so the superset contract never
            # silently depends on that bound
            counters = counters.add(vc, fill_value=0).astype("int64")
            if len(counters) > _MG_CAPACITY:
                cut = counters.nlargest(_MG_CAPACITY + 1).iloc[-1]
                counters = counters - cut
                counters = counters[counters > 0]
        yield pd.DataFrame({"item": counters.index.astype(str)})

    return items.mapInPandas(mg, "item string")


@register(
    "q_heavy_hitters",
    oracle="""
WITH it AS (
  SELECT CASE WHEN event_id % 3 = 0 THEN 'hot_' || CAST(event_id % 2 AS VARCHAR)
              ELSE 'cold_' || CAST(event_id % 1000 AS VARCHAR) END AS item
  FROM events),
c AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_occ FROM it GROUP BY 1),
t AS (SELECT CAST(SUM(n_occ) AS BIGINT) AS n_total FROM c)
SELECT item, n_occ,
       CAST(n_occ * 1000000 // n_total AS BIGINT) AS share_ppm
FROM c, t
WHERE n_occ * 50 > n_total
""",
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16 — frequent-items census over a skewed item stream (phi =
    1/50), the bounded-memory primitive behind vocab truncation, hot-
    key detection and popularity filters. Exact groupBy over an
    unbounded item domain is a full-domain shuffle; instead: pass 1
    runs per-partition Misra-Gries(64) summaries (if count(w) > n/50
    globally then some partition has share > 1/50 > 1/65, so the
    candidate union is a SUPERSET of every true heavy hitter — the
    same prune-never-drop contract as the Bloom decontaminator); pass
    2 re-scans counting ONLY candidates — non-candidates collapse into
    one __other__ bucket map-side, so the shuffle domain is <= 64 x
    n_partitions + 1 whatever the item cardinality. False candidates
    are filtered by the exact threshold, so the output is EXACT and
    hash-matches the oracle's full count. The skew is planted (hot_0/
    hot_1 at ~1/6 each over a ~1000-key cold tail) — deterministic in
    both engines, like the near-dup planted copies."""
    items = (
        load_table(spark, sf_dir, "events")
        .select(
            F.when(
                F.col("event_id") % 3 == 0,
                F.concat(F.lit("hot_"), (F.col("event_id") % 2).cast("string")),
            )
            .otherwise(
                F.concat(F.lit("cold_"), (F.col("event_id") % 1000).cast("string"))
            )
            .alias("item")
        )
    )
    cand = _mg_candidates(items).distinct().withColumn("is_cand", F.lit(True))
    counted = (
        # broadcast-bounded: cand = Misra-Gries summaries, <= 64 rows
        # per partition by construction (bounded counter map)
        items.join(F.broadcast(cand), "item", "left")
        .groupBy(
            F.when(F.col("is_cand"), F.col("item")).alias("item")
        )
        .agg(F.count("*").alias("n_occ"))
    )
    tot = counted.agg(F.sum("n_occ").cast("long").alias("n_total"))
    return (
        counted.filter(F.col("item").isNotNull())
        .crossJoin(F.broadcast(tot))
        .filter(F.col("n_occ") * 50 > F.col("n_total"))
        .select(
            "item",
            "n_occ",
            F.expr("n_occ * 1000000 div n_total").cast("long").alias("share_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# E17 — asymmetric containment dedup (quote / inclusion detection)
# ---------------------------------------------------------------------------

_CONTAIN_CORPUS_CTE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         array_to_string(
           string_split(text, ' ')[1:greatest(len(string_split(text, ' ')) // 3, 5)],
           ' ')
  FROM documents WHERE doc_id % 7 = 0
)
"""


def _contain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + planted 'quote' docs (the leading third of every
    7th doc, >= 5 tokens) — deterministic containment cases both
    engines derive identically."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    quotes = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .withColumn("_toks", TX.tokens())
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.expr(
                "array_join(slice(_toks, 1, greatest(size(_toks) div 3, 5)), ' ')"
            ).alias("text"),
        )
    )
    return docs.unionByName(quotes)


@register(
    "q_containment",
    oracle=_CONTAIN_CORPUS_CTE
    + """,
toks AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM corpus),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN
           list_distinct(list_transform(range(0, len(t) - 2),
             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
         ELSE [text] END AS s
  FROM toks),
hs AS (SELECT doc_id, list_transform(s, x -> sha256(x)) AS hh, s FROM sh),
inv AS (SELECT doc_id AS doc_b, unnest(hh) AS key FROM hs),
probe AS (SELECT doc_id AS doc_a, list_aggregate(hh, 'min') AS key FROM hs),
cand AS (
  SELECT doc_a, doc_b FROM probe JOIN inv USING (key) WHERE doc_a <> doc_b)
SELECT doc_a, doc_b,
       CAST(len(list_intersect(a.s, b.s)) * 1000000 // len(a.s) AS BIGINT)
         AS containment_ppm
FROM cand
JOIN hs a ON a.doc_id = cand.doc_a
JOIN hs b ON b.doc_id = cand.doc_b
WHERE len(list_intersect(a.s, b.s)) * 1000000 // len(a.s) >= 900000
""",
)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17 — asymmetric containment near-dup: flag doc A whose shingle
    set is >= 90% inside doc B (quotes, excerpts, page-in-page
    inclusions — invisible to symmetric Jaccard when B is much larger,
    which is exactly the training-data case: a short doc wholesale
    inside a long one). Blocking is an inverted shingle index probed
    with each doc's MIN shingle hash: a contained doc's shingles are a
    subset of its container's, so its min-shingle is BY CONSTRUCTION
    one of the container's index keys — subset containments are never
    missed by the prune (same never-drop contract as the MG/Bloom
    prunes; partial overlaps below ~100% recall through this single
    probe are verified identically in both engines). One equi-join on
    the shingle hash (the E7 decontamination gram-join shape), then
    exact integer-ppm verify on the candidate pairs only."""
    corpus = _contain_corpus(spark, sf_dir)
    sh = _with_shingles(corpus, "text", "doc_id")
    inv = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.explode(F.expr("transform(sh, x -> sha2(x, 256))")).alias("key"),
    )
    probe = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.expr("array_min(transform(sh, x -> sha2(x, 256)))").alias("key"),
    )
    cand = (
        probe.join(inv, "key")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    # attach both sides' shingle arrays from the SAME persisted frame
    # the blocking read (candidate side is broadcast-small vs corpus)
    attached = cand.join(
        sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
        "doc_a",
    ).join(
        sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
        "doc_b",
    )
    return (
        attached
        .withColumn("_inter", F.expr("size(array_intersect(sh_a, sh_b))"))
        .withColumn(
            "containment_ppm",
            F.expr("(_inter * 1000000) div size(sh_a)").cast("long"),
        )
        .filter(F.col("containment_ppm") >= 900000)
        .select("doc_a", "doc_b", "containment_ppm")
    )


# ---------------------------------------------------------------------------
# E18 — epoch-aware corpus mixing (upsampling)
# ---------------------------------------------------------------------------

@register(
    "q_mix_epochs",
    oracle="""
WITH d AS (
  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars,
         CAST(substr(source, 4) AS INTEGER) AS sn,
         substr(sha256('mix1_' || CAST(doc_id AS VARCHAR)), 1, 4) AS h
  FROM documents),
c AS (
  SELECT source, n_chars,
         CASE WHEN sn < 5 THEN 2 WHEN sn < 10 THEN 1 ELSE 0 END
         + CASE WHEN sn < 5 AND h < '8000' THEN 1
                WHEN sn >= 10 AND h < '6666' THEN 1
                ELSE 0 END AS n_copies
  FROM d),
e AS (SELECT source, n_chars, unnest(range(n_copies)) AS epoch FROM c)
SELECT source, CAST(epoch AS INTEGER) AS epoch,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM e
GROUP BY 1, 2
""",
)
def q_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E18 — epoch-aware source mixing with UPSAMPLING: high-value
    sources repeat across training epochs (weight 2.5x: two full
    copies + a half-sampled third epoch), mid sources run once, bulk
    sources are 0.4x-downsampled — the multi-epoch data recipe
    published LLM runs use, and the complement of
    functions/mixture.py's pure down-weighting. The fractional epoch
    keeps a doc iff a salted sha prefix clears the weight's hex
    threshold: a doc's epoch fate is a pure function of (doc_id,
    epoch) — map-only, shuffle-free, reproducible under retries, and
    every epoch's membership is decided without materializing any
    copy (the explode here only feeds the census; a writer would
    stream epoch e by re-evaluating the same predicate)."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.length("text").cast("long").alias("n_chars"),
        F.expr("CAST(substring(source, 4) AS INT)").alias("sn"),
        F.substring(
            F.sha2(F.concat(F.lit("mix1_"), F.col("doc_id").cast("string")), 256),
            1,
            4,
        ).alias("h"),
    )
    n_copies = F.expr(
        """
        CASE WHEN sn < 5 THEN 2 WHEN sn < 10 THEN 1 ELSE 0 END
        + CASE WHEN sn < 5 AND h < '8000' THEN 1
               WHEN sn >= 10 AND h < '6666' THEN 1
               ELSE 0 END
        """
    )
    return (
        d.withColumn("n_copies", n_copies)
        .select(
            "source",
            "n_chars",
            F.explode(
                F.expr("filter(sequence(0, 3), x -> x < n_copies)")
            ).alias("epoch"),
        )
        .groupBy("source", "epoch")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .select(
            "source", F.col("epoch").cast("int").alias("epoch"), "n_docs", "n_chars"
        )
    )


# ---------------------------------------------------------------------------
# E19 — fixed-SIZE deterministic samples (exact-k, global and per-group)
# ---------------------------------------------------------------------------

@register(
    "q_sample_fixed",
    oracle=f"""
WITH s AS (
  SELECT doc_id, source,
         {SK.salted_key_sql(SK.SAMPLE_SALT)} AS h
  FROM documents)
SELECT doc_id, source, h FROM s ORDER BY h LIMIT {SK.SAMPLE_K}
""",
)
def q_sample_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19a — exact-k uniform sample (k=100): the fixed-SIZE
    counterpart to the fixed-RATE sha split (q_split_assign) — eval
    sets and human-review batches need exactly k docs, not a rate.
    Bottom-k by salted sha256 = a uniform draw that is a pure function
    of doc_id (stable under retries/resharding; adding docs only
    perturbs membership at the k-th boundary, unlike rand() which
    redraws everything). Plan: TakeOrderedAndProject — each partition
    keeps its local k, the driver merges k-sized heaps; no global
    sort ever materializes at 100 TB. Key + k live in
    functions/sampling.py, shared with the stream twin's fold and the
    oracle string — one definition, three consumers."""
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "source", SK.salted_key(SK.SAMPLE_SALT).alias("h"))
        .orderBy("h")
        .limit(SK.SAMPLE_K)
    )


def _sample_partial(docs: DataFrame) -> DataFrame:
    """One micro-batch's local bottom-k by the q_sample_fixed draw key
    (<= k rows: a local TakeOrderedAndProject, no corpus shuffle)."""
    return _sample_fold(
        docs.select("doc_id", "source", SK.salted_key(SK.SAMPLE_SALT).alias("h"))
    )


def _sample_fold(parts: DataFrame) -> DataFrame:
    """Bottom-k by the salted sha key is a commutative, REFOLD-
    IDEMPOTENT monoid: bottom-k(S1 ∪ S2) = bottom-k(bottom-k(S1) ∪
    bottom-k(S2)), so folding per-batch samples is EXACTLY the batch
    sample. Membership is a pure function of doc_id, so re-running,
    reordering or re-sharding the stream cannot change it — the
    deterministic replacement for reservoir sampling."""
    return parts.orderBy("h").limit(SK.SAMPLE_K).select("doc_id", "source", "h")


@register(
    "q_sample_per_group",
    oracle=f"""
WITH s AS (
  SELECT doc_id, source,
         {SK.salted_key_sql(SK.GROUP_SAMPLE_SALT)} AS h
  FROM documents),
r AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
  FROM s)
SELECT source, doc_id, CAST(rn AS INTEGER) AS rn
FROM r WHERE rn <= {SK.GROUP_SAMPLE_K}
""",
)
def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19b — exact-k-PER-GROUP sample (k=5 per source): balanced
    eval/inspection sets from unbalanced corpora (the per-source twin
    of q_sample_fixed). One window PARTITIONED on source ordered by
    the salted sha — fully parallel, the per-group sort touches only
    that group's rows; no group ever routes through a single global
    task."""
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id", "source", SK.salted_key(SK.GROUP_SAMPLE_SALT).alias("h")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SK.GROUP_SAMPLE_K)
        .select("source", "doc_id", F.col("rn").cast("int").alias("rn"))
    )


# ---------------------------------------------------------------------------
# E20 — link-graph quality rank (integer fixed-point PageRank)
# ---------------------------------------------------------------------------

def _link_rank_oracle() -> str:
    from .llm_pipeline import _NEARDUP_CORPUS_CTE, _NGRAM_PAIRS_CTES

    step = """
r{t} AS (
  SELECT e.v AS u,
         CAST(150000 + (850 * SUM(r{p}.r // d.dg)) // 1000 AS BIGINT) AS r
  FROM edges e JOIN r{p} ON r{p}.u = e.u JOIN deg d ON d.u = e.u
  GROUP BY e.v)"""
    steps = ",".join(step.format(t=t, p=t - 1) for t in (1, 2, 3))
    return (
        _NEARDUP_CORPUS_CTE.rstrip()
        + ",\n"
        + _NGRAM_PAIRS_CTES.strip()
        + """,
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS dg FROM edges GROUP BY 1),
r0 AS (SELECT u, CAST(1000000 AS BIGINT) AS r FROM deg),"""
        + steps
        + """
SELECT u AS doc_id, r AS rank_ppm
FROM r3
ORDER BY r DESC, u
LIMIT 100
"""
    )


@register("q_link_rank", oracle=_link_rank_oracle())
def q_link_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20 — link-based quality rank: 3 rounds of PageRank (d=0.85)
    over the undirected near-dup pair graph, the graph-centrality
    family of quality signals (web-scale corpora weigh pages by link
    rank before sampling). All arithmetic is FIXED-POINT INTEGER
    (scores in ppm units, floor division over non-negative ints, the
    damping as 850/1000) so three unrolled iterations are bit-exact in
    both engines — float PageRank would diverge across summation
    orders and never hash-match. Edges come from the materialized
    verified-pair artifact (sources/cluster_store.py — built once per
    corpus fingerprint, shared with the CC/cluster reports). Each
    iteration is the Pregel-on-DataFrame shape: one join of the edge
    list against the rank state on the SAME key (co-partitioned under
    AQE), one aggregation on the destination — per-iteration cost is
    O(edges), never O(n^2), and the iteration count is a fixed
    constant, not data-dependent. r15: the rank rounds execute inside
    webgraph.scoped_graph_result (shuffle domain sized from the pair
    artifact's row count, result reliably materialized — the conf is
    read at action time); rows identical; the plan-shape tests pin
    the inner ``_link_rank_frame``."""
    from ..functions import webgraph as WG

    df, n_rows = _link_rank_frame(spark, sf_dir)
    return WG.scoped_graph_result(spark, n_rows, lambda: df)


def _link_rank_frame(spark: SparkSession, sf_dir: str):
    """The un-materialized rank composition + its sizing row count —
    tests/test_plan_shape.py pins THIS frame's plan."""
    from ..sources.cluster_store import ngram_pair_table

    pairs = ngram_pair_table(spark, sf_dir).select("doc_a", "doc_b")
    n_pairs = pairs.count()  # artifact scan — metadata-cheap
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    deg = edges.groupBy("u").agg(F.count("*").alias("dg"))
    state = deg.withColumn("r", F.lit(1_000_000).cast("long"))  # (u, dg, r)
    for _ in range(3):
        contrib = edges.join(state, "u").select(
            F.col("v").alias("u"), F.expr("r div dg").alias("c")
        )
        new_r = contrib.groupBy("u").agg(
            F.expr("CAST(150000 + (850 * SUM(c)) div 1000 AS BIGINT)").alias("r")
        )
        state = deg.join(new_r, "u").select("u", "dg", "r")
    df = (
        state.orderBy(F.desc("r"), "u")
        .limit(100)
        .select(F.col("u").alias("doc_id"), F.col("r").alias("rank_ppm"))
    )
    return df, n_pairs * 2


# ---------------------------------------------------------------------------
# E3c — filtered vector search (metadata predicate + exact top-k)
# ---------------------------------------------------------------------------

def _ann_filtered_oracle() -> str:
    def lsum(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, 65), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
        )

    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         {lsum('e.embedding', 'q.qv')} AS dot,
         {lsum('e.embedding', 'e.embedding')} AS na,
         {lsum('q.qv', 'q.qv')} AS nb
  FROM embeddings e, q WHERE e.vec_id <> 0 AND e.label = 7
),
ranked AS (
  SELECT vec_id, dot / sqrt(na * nb) AS cos_raw,
         row_number() OVER (ORDER BY dot / sqrt(na * nb) DESC, vec_id) AS rank
  FROM scored
)
SELECT vec_id,
       CAST(floor(cos_raw * 10000 + 0.5) AS BIGINT) AS cosine_x10k,
       rank
FROM ranked WHERE rank <= 10
"""


@register("q_ann_filtered", oracle=_ann_filtered_oracle())
def q_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3c — FILTERED vector search: metadata predicate + exact cosine
    top-k in one pass (the production retrieval shape — "nearest docs
    WHERE label = X"). Post-filtering an unfiltered top-k can starve
    to fewer than k survivors; the correct plan pushes the predicate
    INTO the scan (label = 7 lands in PushedFilters, plan-pinned) so
    ranking only ever scores qualifying vectors — at 100 TB the
    selectivity multiplies directly into scan+score cost, and with a
    label-partitioned layout it becomes partition pruning. Query side
    broadcast, top-k via TakeOrderedAndProject."""
    from ..functions import similarity
    from ..functions.similarity import _topk_ranked
    from ..sources.tables import rebalance

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cand = emb.filter((F.col("label") == 7) & (F.col("vec_id") != 0))
    scored = (
        rebalance(cand)
        # broadcast-bounded: q = the single vec_id == 0 row
        .crossJoin(F.broadcast(q))
        .select("vec_id", similarity.cosine("embedding", "qv").alias("cos_raw"))
    )
    return _topk_ranked(scored, "vec_id", 10)


# ---------------------------------------------------------------------------
# E21 — cross-modal paired census (documents x embeddings)
# ---------------------------------------------------------------------------

@register(
    "q_text_embedding_stats",
    oracle="""
WITH v AS (
  SELECT vec_id,
         list_sum(list_transform(CAST(embedding AS DOUBLE[]),
           x -> CAST(floor(x * x * 1e9 + 0.5) AS BIGINT))) AS nsq_nano
  FROM embeddings
)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(v.nsq_nano) AS BIGINT) AS sum_nsq_nano,
       CAST(SUM(d.n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(v.nsq_nano) // COUNT(*) AS BIGINT) AS mean_nsq_nano
FROM documents d JOIN v ON v.vec_id = d.doc_id
GROUP BY 1
""",
)
def q_text_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21 — the paired text x vector census: documents joined 1:1 to
    their embedding rows (doc_id = vec_id) and profiled together per
    language — the alignment sanity check run after every embedding
    backfill (a lang whose mean squared norm diverges = that slice
    went through a different encoder version). Norms in exact integer
    nano-units (the E3b recipe) so the aggregate hash-matches. Scale
    posture: a 1:1 key join between two corpus-sized tables — both
    sides shuffle once on the shared id (co-partitioned under AQE; at
    100 TB you bucket both tables on the id and this join goes
    exchange-free like q_bucketed_join), then a tiny lang aggregation."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    vecs = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id"),
        F.expr(
            "aggregate(transform(CAST(embedding AS ARRAY<DOUBLE>), "
            "x -> CAST(floor(x * x * 1e9 + 0.5) AS BIGINT)), 0L, (a, b) -> a + b)"
        ).alias("nsq_nano"),
    )
    return (
        docs.join(vecs, docs.doc_id == vecs.vec_id)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nsq_nano").cast("long").alias("sum_nsq_nano"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .withColumn(
            "mean_nsq_nano",
            F.expr("sum_nsq_nano div n_docs").cast("long"),
        )
    )


@register("q_stream_sample", oracle=None)  # batch oracle attached below
def q_stream_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19c — fixed-size sample STREAM TWIN: each micro-batch keeps
    its local bottom-k by the salted sha key (an idempotent epoch
    partial of <= k tiny rows — a local TakeOrderedAndProject, no
    corpus shuffle), and serving takes bottom-k over the union.
    Bottom-k is a commutative idempotent fold, so the streamed sample
    is EXACTLY the batch sample and hash-matches q_sample_fixed's
    oracle — the deterministic replacement for streaming reservoir
    sampling (whose membership depends on arrival order and RNG)."""
    from ..sources.artifact import input_fingerprint, materialized_path
    from ..streaming import delta as D
    from ..streaming.ingest import resumable_workdir

    base = resumable_workdir(sf_dir, "documents", "sample", "sample-v2")
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    src = materialized_path(
        "documents_sample_src",
        input_fingerprint(sf_dir, "documents", "sample-src-v1"),
        lambda dest: docs.repartition(6).write.mode("overwrite").parquet(dest),
    )
    stream = (
        spark.readStream.schema("doc_id bigint, source string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    return D.serve_partials(stream, base, _sample_partial, _sample_fold)


# bottom-k folding is exact, so the batch sample's SQL IS the oracle
ORACLES["q_stream_sample"] = ORACLES["q_sample_fixed"]


def _manifest_partial(docs: DataFrame) -> DataFrame:
    """One micro-batch's per-shard manifest rows, from the SAME staging
    + census expressions as the batch writer (functions/sampling.py) —
    the twins cannot drift apart. Folded by SK.fold_manifests."""
    return SK.shard_census(SK.with_shard_cols(docs))


@register("q_stream_manifest", oracle=None)  # batch oracle attached below
def q_stream_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E14b — shard-manifest STREAM TWIN: every manifest statistic is
    a commutative monoid (counts/byte-sums/id-checksums fold by +,
    key ranges by min/max), so a streaming ingest maintains the
    training-export manifest incrementally: per micro-batch ONE tiny
    per-shard summary row lands as an idempotent epoch partial, and
    serving folds partials with the same operators — hash-identical
    to the batch manifest built from the written files
    (q_shard_manifest's oracle). At 100 TB/day this is how the
    manifest stays current without ever rescanning the corpus: the
    fold state is n_shards rows per epoch, COMPACTED after each drain
    through the shared crash-safe base protocol and resumed across
    invocations (provider-keyed workdir)."""
    from ..sources.artifact import input_fingerprint, materialized_path
    from ..streaming import delta as D
    from ..streaming.ingest import resumable_workdir

    base = resumable_workdir(sf_dir, "documents", "manifest", "manifest-v2")
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    src = materialized_path(
        "documents_manifest_src",
        input_fingerprint(sf_dir, "documents", "manifest-src-v1"),
        lambda dest: docs.repartition(6).write.mode("overwrite").parquet(dest),
    )
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    served = D.serve_partials(stream, base, _manifest_partial, SK.fold_manifests)
    return SK.manifest_select(served)


# every manifest stat folds commutatively, so the batch manifest's
# SQL IS the stream's oracle
ORACLES["q_stream_manifest"] = ORACLES["q_shard_manifest"]


# ---------------------------------------------------------------------------
# E22 — source-concentration census (exact integer Gini)
# ---------------------------------------------------------------------------

@register(
    "q_source_gini",
    oracle="""
WITH c AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2),
r AS (
  SELECT n, row_number() OVER (ORDER BY n, source, lang) AS i FROM c),
t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS total,
         CAST(SUM(i * n) AS BIGINT) AS weighted
  FROM r)
SELECT k AS n_cells, total AS n_docs,
       CAST((2 * weighted - (k + 1) * total) * 1000000 // (k * total)
            AS BIGINT) AS gini_ppm
FROM t
""",
)
def q_source_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 — acquisition-concentration census: the exact-integer Gini
    coefficient over (source, lang) cell counts — the one-number
    answer to "is the corpus dominated by a few feed/language slices?"
    that mixture policy (functions/mixture.py, q_mix_epochs) is tuned
    against. Formula: G = (2*sum(i*n_i) - (K+1)*sum(n)) / (K*sum(n))
    over counts sorted ascending with a total tie-break — pure integer
    arithmetic in ppm, engine-identical. The only window runs over the
    per-cell count frame (K rows, bounded by sources x languages —
    kilobytes at any corpus size); the corpus itself sees one
    groupBy."""
    c = _docs(spark, sf_dir).groupBy("source", "lang").agg(
        F.count("*").alias("n")
    )
    r = c.withColumn(
        "i", F.row_number().over(Window.orderBy("n", "source", "lang"))
    )
    return r.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("total"),
        F.sum(F.col("i") * F.col("n")).cast("long").alias("weighted"),
    ).select(
        F.col("k").alias("n_cells"),
        F.col("total").alias("n_docs"),
        F.expr("(2 * weighted - (k + 1) * total) * 1000000 div (k * total)")
        .cast("long")
        .alias("gini_ppm"),
    )


# ---------------------------------------------------------------------------
# E23 — PII detection / redaction census (round 6)
# ---------------------------------------------------------------------------

# one definition for the patterns + planting + census expressions,
# shared with the streaming monitor (functions/pii.py)
from ..functions import pii as PII  # noqa: E402

_PII_EMAIL = PII.PII_EMAIL
_PII_PHONE = PII.PII_PHONE
_PII_IP = PII.PII_IP


@register(
    "q_pii_census",
    oracle=f"""
WITH c AS (
  SELECT doc_id, source,
         text
         || CASE WHEN doc_id % 11 = 0
              THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
              ELSE '' END
         || CASE WHEN doc_id % 13 = 0
              THEN ' call +1555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END
         || CASE WHEN doc_id % 17 = 0
              THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                   || '.' || CAST(doc_id % 100 AS VARCHAR)
              ELSE '' END AS text
  FROM documents),
m AS (
  SELECT source,
         len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_em,
         len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_ph,
         len(regexp_extract_all(text, '{_PII_IP}')) AS n_ip,
         length(text) - length(
           regexp_replace(regexp_replace(regexp_replace(text,
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g'),
             '{_PII_IP}', '<IP>', 'g')) AS delta
  FROM c)
SELECT source,
       CAST(COUNT(*) FILTER (WHERE n_em + n_ph + n_ip > 0) AS BIGINT)
         AS n_docs_flagged,
       CAST(SUM(n_em) AS BIGINT) AS n_emails,
       CAST(SUM(n_ph) AS BIGINT) AS n_phones,
       CAST(SUM(n_ip) AS BIGINT) AS n_ips,
       CAST(SUM(delta) AS BIGINT) AS chars_redacted
FROM m GROUP BY 1
""",
)
def q_pii_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E23 — PII detection + redaction census: per source, how many
    docs carry an email / phone / IPv4 pattern, how many instances of
    each, and exactly how many characters a redaction pass would
    remove — the compliance scrub every published training corpus
    runs before release, sized here before committing to it (the same
    report-before-scrub posture as the boilerplate detector). The
    corpus plants deterministic PII (synthetic contact strings derived
    from doc_id on every 11th/13th/17th doc) so both engines derive an
    identical ground truth at any SF. All three patterns evaluate in
    ONE map-only pass per doc (regexp_count + a chained
    regexp_replace length delta, whole-stage codegen — no UDF, no
    shuffle before the tiny source aggregation); at 100 TB this is a
    pure scan-rate workload, and the real scrub writes the redacted
    text with the same per-row expression. Expressions live in
    functions/pii.py, shared verbatim with the streaming monitor
    (q_stream_pii) and this oracle string."""
    return PII.rollup(
        PII.doc_metrics(PII.with_planted_pii(_docs(spark, sf_dir)))
    )


def _pii_partial(docs: DataFrame) -> DataFrame:
    """One micro-batch's per-source census — the q_pii_census
    expressions, folded across batches by PII.fold_rollups (every
    statistic is a per-source SUM over disjoint doc sets, flagged-doc
    counts included: each doc lands in exactly one micro-batch)."""
    return PII.rollup(PII.doc_metrics(PII.with_planted_pii(docs)))


@register("q_stream_pii", oracle=None)  # batch oracle attached below
def q_stream_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E23b — PII compliance monitor STREAM TWIN: each micro-batch's
    per-source census lands as an idempotent epoch partial (every
    statistic is a per-source SUM over disjoint doc sets, flagged-doc
    counts included — _pii_partial), and serving folds partials by
    addition into EXACTLY the batch census, hash-matched against
    q_pii_census's oracle. This is how the scrub gate deploys at
    100 TB/day: a feed that starts leaking contact data is flagged
    within one micro-batch, with per-epoch state one row per source —
    never proportional to document volume."""
    from ..sources.artifact import input_fingerprint, materialized_path
    from ..streaming import delta as D
    from ..streaming.ingest import resumable_workdir

    # resumable: the first call drains the 3 micro-batches into epoch
    # partials, later calls are an empty drain + a partials fold
    base = resumable_workdir(sf_dir, "documents", "pii", "pii-v2")
    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    src = materialized_path(
        "documents_pii_src",
        input_fingerprint(sf_dir, "documents", "pii-src-v1"),
        lambda dest: docs.repartition(6).write.mode("overwrite").parquet(dest),
    )
    stream = (
        spark.readStream.schema("doc_id bigint, source string, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    return D.serve_partials(stream, base, _pii_partial, PII.fold_rollups)


# every census statistic folds commutatively over disjoint doc sets,
# so the batch census's SQL IS the stream's oracle
ORACLES["q_stream_pii"] = ORACLES["q_pii_census"]


# ---------------------------------------------------------------------------
# E2i — edit-distance near-dup (character-level verify; round 6)
# ---------------------------------------------------------------------------

_EDIT_MAX = 15


@register(
    "q_edit_neardup",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' zzz zzz zzz'
  FROM documents WHERE doc_id % 7 = 0),
toks AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM corpus),
fp AS (
  SELECT doc_id, text,
         CASE WHEN len(t) >= 3 THEN
           list_aggregate(list_transform(range(0, len(t) - 2),
             i -> sha256(t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])), 'min')
         ELSE sha256(text) END AS fp
  FROM toks)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_dist
FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
WHERE levenshtein(a.text, b.text) <= {_EDIT_MAX}
""",
)
def q_edit_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2i — CHARACTER-level near-dup: pairs within edit distance
    {_EDIT_MAX}, the detector that catches typo/OCR/punctuation
    variants token-level Jaccard and SimHash treat as far apart (one
    character edit changes a whole token). Blocking is the
    one-permutation min-shingle fingerprint (the cheapest equi-join
    scheme, shared with the n-gram family); verify runs Levenshtein
    ONLY on the blocked candidates — never all-pairs — with Spark's
    threshold variant, which banded-bounds the DP to O(k·n) per pair
    instead of O(n²) (the oracle's plain levenshtein agrees on every
    kept pair by definition). Texts attach to the narrow candidate
    list late, after blocking (the detach/attach recipe of
    functions/dedup.py). Planted suffix mutants (+' zzz zzz zzz' =
    edit distance 12) are the deterministic catches. Served from a
    once-per-corpus-fingerprint pair artifact (the detector doctrine
    shared with the MinHash/SimHash/n-gram families)."""
    from ..sources.artifact import input_fingerprint, materialized
    from ..sources.cluster_store import mutant_corpus

    def build() -> DataFrame:
        from pyspark import StorageLevel

        corpus = mutant_corpus(spark, sf_dir)
        toks = corpus.withColumn("t", F.split("text", " "))
        # persist the narrow (doc_id, fp) frame: the per-shingle sha256
        # fold — the expensive expression — runs once, not once per
        # self-join side (the functions/dedup.py recipe)
        fp = (
            toks.select(
                "doc_id",
                F.when(
                    F.size("t") >= 3,
                    F.expr(
                        "array_min(transform(sequence(0, size(t) - 3), "
                        "i -> sha2(concat_ws(' ', t[i], t[i+1], t[i+2]), 256)))"
                    ),
                )
                .otherwise(F.sha2(F.col("text"), 256))
                .alias("fp"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        fp.count()  # eager build
        cand = (
            fp.alias("a")
            .join(
                fp.alias("b"),
                (F.col("a.fp") == F.col("b.fp"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
        )
        attached = cand.join(
            corpus.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta")),
            "doc_a",
        ).join(
            corpus.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb")),
            "doc_b",
        )
        return (
            attached.withColumn(
                "edit_dist", F.levenshtein("ta", "tb", _EDIT_MAX).cast("int")
            )
            .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= _EDIT_MAX))
            .select("doc_a", "doc_b", "edit_dist")
        )

    fp_key = input_fingerprint(sf_dir, "documents", "edit-pairs-v1")
    return materialized(spark, "edit_neardup_pairs", fp_key, build)


# ---------------------------------------------------------------------------
# E24 — content-defined chunking + shared-chunk dedup census (round 6)
# ---------------------------------------------------------------------------

@register(
    "q_content_chunks",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000, 'PFX ' || text
  FROM documents WHERE doc_id % 9 = 0),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
tok AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) + 1),
                i -> {'pos': i, 'tok': t[i]}), recursive := true)
  FROM toks),
fl AS (
  SELECT doc_id, pos, tok,
         CASE WHEN substr(sha256(tok), 1, 1) = '0' THEN 1 ELSE 0 END AS b
  FROM tok),
ch AS (
  SELECT doc_id, pos, tok,
         SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS cno
  FROM fl),
chunk AS (
  SELECT doc_id, cno, sha256(string_agg(tok, ' ' ORDER BY pos)) AS h
  FROM ch GROUP BY 1, 2),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
         CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique_chunks
  FROM chunk),
res AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS resync_shared_chunks
  FROM chunk c
  WHERE c.doc_id >= 3000000 AND EXISTS (
    SELECT 1 FROM chunk o
    WHERE o.doc_id = c.doc_id - 3000000 AND o.h = c.h))
SELECT n_chunks, n_unique_chunks,
       CAST((n_chunks - n_unique_chunks) * 1000000 // n_chunks AS BIGINT)
         AS dup_chunk_ppm,
       resync_shared_chunks
FROM tot, res
""",
)
def q_content_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E24 — CONTENT-DEFINED chunking + shared-chunk census: documents
    split at token positions where the token's hash clears a 1/16
    threshold (a gear/rolling-hash boundary at word granularity — the
    rsync/LBFS/casync storage-dedup primitive), then chunks are
    content-hashed and the corpus-wide duplicate-chunk rate measured.
    Why content-defined beats fixed-size: boundaries depend only on
    LOCAL content, so a shifted copy re-synchronizes — the planted
    copies (every 9th doc re-ingested with a 'PFX ' prefix) share
    every chunk after their first boundary with the original, which
    fixed-size chunking would entirely miss; `resync_shared_chunks`
    counts exactly those re-synced chunks (a semi-join of each copy's
    chunk hashes against its original's). Plan: one explode, ONE
    per-doc-partitioned running-sum window (fully parallel — never a
    global window), a (doc, chunk) aggregation with deterministic
    in-chunk order, and a global distinct on the chunk hash — which at
    100 TB IS the dedup store build (the chunk-hash table a
    deduplicating blob store maintains)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") + 3_000_000).alias("doc_id"),
            F.concat(F.lit("PFX "), F.col("text")).alias("text"),
        )
    )
    # chunking is PER-DOC array math — boundary detection, chunk
    # slicing and chunk hashing all run inside one map stage (no
    # token-level shuffle, no window: a doc's chunks depend only on
    # its own tokens, so nothing leaves the row until the tiny
    # chunk-hash table explodes out at ~1/16 the token count)
    chunk = (
        corpus.withColumn("t", F.split("text", " "))
        .withColumn(
            "starts",
            F.expr(
                "array_distinct(concat(array(1), filter("
                "sequence(1, size(t)), "
                "i -> substring(sha2(element_at(t, i), 256), 1, 1) = '0')))"
            ),
        )
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(starts, (s, j) -> sha2(concat_ws(' ', "
                    "slice(t, s, IF(j + 1 < size(starts), "
                    "element_at(starts, j + 2) - s, size(t) - s + 1))), 256))"
                )
            ).alias("cno", "h"),
        )
    )
    tot = chunk.agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.countDistinct("h").cast("long").alias("n_unique_chunks"),
    )
    copies = chunk.filter(F.col("doc_id") >= 3_000_000).select(
        (F.col("doc_id") - 3_000_000).alias("orig_id"), "doc_id", "cno", "h"
    )
    originals = chunk.select(
        F.col("doc_id").alias("orig_id"), F.col("h").alias("h")
    )
    res = (
        copies.join(originals, ["orig_id", "h"], "left_semi")
        .agg(F.count("*").cast("long").alias("resync_shared_chunks"))
    )
    return (
        tot.crossJoin(res)
        .select(
            "n_chunks",
            "n_unique_chunks",
            F.expr(
                "(n_chunks - n_unique_chunks) * 1000000 div n_chunks"
            ).cast("long").alias("dup_chunk_ppm"),
            "resync_shared_chunks",
        )
    )


# ---------------------------------------------------------------------------
# E20b — near-dup graph triangle census (degree-oriented; round 6)
# ---------------------------------------------------------------------------

def _triangle_oracle() -> str:
    from .llm_pipeline import _NEARDUP_CORPUS_CTE, _NGRAM_PAIRS_CTES

    return (
        _NEARDUP_CORPUS_CTE.rstrip()
        + ",\n"
        + _NGRAM_PAIRS_CTES.strip()
        + """,
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t
  FROM pairs p1
  JOIN pairs p2 ON p2.doc_a = p1.doc_a AND p2.doc_b > p1.doc_b
  JOIN pairs p3 ON p3.doc_a = p1.doc_b AND p3.doc_b = p2.doc_b),
deg AS (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT doc_a AS u FROM pairs UNION ALL SELECT doc_b FROM pairs)
  GROUP BY 1),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS wedges
  FROM deg),
e AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pairs)
SELECT n_nodes, n_edges, t AS n_triangles,
       CAST(CASE WHEN wedges > 0 THEN 3 * t * 1000000 // wedges
            ELSE 0 END AS BIGINT) AS closure_ppm
FROM g, e, tri
"""
    )


@register("q_graph_triangles", oracle=_triangle_oracle())
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20b — triangle census of the verified near-dup pair graph:
    triangle count + global closure (transitivity) in exact integer
    ppm — the structural diagnostic of a dedup graph (high closure =
    coherent duplicate families safe for CC collapse; low closure =
    chains of borderline matches where transitive collapse
    over-merges). The planted corpus guarantees triangles: every doc
    divisible by 70 has both an exact copy and a mutant, pairwise
    similar. Scale posture: the classic DEGREE-ORIENTED algorithm —
    every edge points from its (degree, id)-smaller endpoint to the
    larger, each triangle counted exactly once at its smallest
    vertex; wedge fan-out per node is then bounded by out-degree,
    which orientation caps near sqrt(edges) for any skew (a
    popularity hub stops being a wedge bomb — the id-ordered oracle
    join would blow up on it at 100 TB). One artifact scan, a degree
    agg, two equi-joins on the oriented edge list, O(wedges) work."""
    from ..sources.cluster_store import ngram_pair_table

    pairs = ngram_pair_table(spark, sf_dir).select("doc_a", "doc_b")
    und = pairs.select(F.col("doc_a").alias("u")).unionByName(
        pairs.select(F.col("doc_b").alias("u"))
    )
    deg = und.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    att = (
        pairs.join(deg.select(F.col("u").alias("doc_a"), F.col("d").alias("da")), "doc_a")
        .join(deg.select(F.col("u").alias("doc_b"), F.col("d").alias("db")), "doc_b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("doc_a") < F.col("doc_b"))
    )
    oriented = att.select(
        F.when(a_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
        F.when(a_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dd"),
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (
            (F.col("o1.dd") < F.col("o2.dd"))
            | (
                (F.col("o1.dd") == F.col("o2.dd"))
                & (F.col("o1.dst") < F.col("o2.dst"))
            )
        ),
    ).select(F.col("o1.dst").alias("src"), F.col("o2.dst").alias("dst"))
    tri = wedges.join(oriented.select("src", "dst"), ["src", "dst"], "inner").agg(
        F.count("*").cast("long").alias("t")
    )
    g = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("wedges"),
    )
    e = pairs.agg(F.count("*").cast("long").alias("n_edges"))
    return (
        g.crossJoin(e)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            F.col("t").alias("n_triangles"),
            F.expr(
                "CAST(CASE WHEN wedges > 0 THEN 3 * t * 1000000 div wedges "
                "ELSE 0 END AS BIGINT)"
            ).alias("closure_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# E25 — positional phrase search over an inverted-index artifact (round 6)
# ---------------------------------------------------------------------------

def phrase_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (term, doc_id, pos) positional inverted index, built once
    per documents fingerprint, range-partitioned + sorted on term so a
    literal term predicate prunes via per-file parquet min/max stats
    (plan-pinned in tests/test_plan_shape.py)."""
    from ..sources.artifact import input_fingerprint, materialized

    docs = _docs(spark, sf_dir).select("doc_id", "text")

    def build() -> DataFrame:
        return (
            docs.select(
                "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
            )
            .repartitionByRange(8, "term")
            .sortWithinPartitions("term", "doc_id", "pos")
            .select("term", "doc_id", "pos")
        )

    return materialized(
        spark,
        "phrase_index",
        input_fingerprint(sf_dir, "documents", "phrase-index-v1"),
        build,
    )


@register(
    "q_phrase_search",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
           AS bigram
  FROM toks),
top AS (SELECT bigram FROM bg GROUP BY 1 ORDER BY COUNT(*) DESC, bigram LIMIT 1),
occ AS (
  SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM bg JOIN top USING (bigram)
  GROUP BY 1)
SELECT (SELECT bigram FROM top) AS phrase,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS n_occurrences
FROM occ
""",
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E25 — exact PHRASE search served from a positional inverted
    index: the search-engine primitive the TF-IDF ranker
    (q_doc_search) cannot express — "these words ADJACENT, in this
    order". The index is a (term, doc_id, pos) artifact built once per
    corpus fingerprint, range-partitioned and sorted on term, so
    per-file parquet min/max stats prune a literal term lookup to a
    handful of files at 100 TB (the sorted-layout cousin of the
    Z-order scan). A phrase query is then POSITIONS INTERSECTION: one
    narrow broadcast-join per phrase word against the index and an
    adjacency join (p2 = p1 + 1) — never a text rescan. The probe
    phrase is the corpus's global top bigram (count DESC, bigram ASC —
    deterministic in both engines); the oracle recomputes occurrences
    by brute-force text scan, so a position dropped or shifted by the
    index build is a hash miss."""
    from ..sources.artifact import input_fingerprint, materialized

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    index = phrase_index(spark, sf_dir)

    # the probe phrase (global top bigram) is itself a tiny derived
    # artifact: a production caller passes a literal phrase, so the
    # corpus-wide bigram count must not be repaid per query
    def build_probe() -> DataFrame:
        bigrams = docs.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(split(text, ' ')) - 1, 0)), "
                    "i -> concat(element_at(split(text, ' '), i), ' ', "
                    "element_at(split(text, ' '), i + 1)))"
                )
            ).alias("bigram")
        )
        return (
            bigrams.groupBy("bigram")
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("bigram"))
            .limit(1)
            .select(
                "bigram",
                F.element_at(F.split("bigram", " "), 1).alias("w1"),
                F.element_at(F.split("bigram", " "), 2).alias("w2"),
            )
        )

    top = materialized(
        spark,
        "phrase_probe",
        input_fingerprint(sf_dir, "documents", "phrase-probe-v1"),
        build_probe,
    )
    a = index.join(
        F.broadcast(top.select(F.col("w1").alias("term"))), "term"
    ).select("doc_id", F.col("pos").alias("p1"))
    b = index.join(
        F.broadcast(top.select(F.col("w2").alias("term"))), "term"
    ).select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("p2"))
    occ = a.join(
        b, (a.doc_id == b.doc_b) & (F.col("p2") == F.col("p1") + 1)
    ).groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    return (
        occ.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("n_occurrences"),
        )
        .crossJoin(F.broadcast(top.select(F.col("bigram").alias("phrase"))))
        .select("phrase", "n_docs", "n_occurrences")
    )


# ---------------------------------------------------------------------------
# E7c — graded train/eval overlap profile (round 6)
# ---------------------------------------------------------------------------

@register(
    "q_overlap_profile",
    oracle="""
WITH d AS (
  SELECT doc_id,
         string_split(text, ' ') AS t,
         substr(sha256('split1_' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
           AS is_train
  FROM documents
),
g AS (
  SELECT doc_id, is_train,
         unnest(list_transform(range(1, len(t) - 3),
                               i -> array_to_string(t[i:i+4], ' '))) AS gram
  FROM d WHERE len(t) >= 5
),
eg AS (SELECT DISTINCT doc_id, gram FROM g WHERE NOT is_train),
tg AS (SELECT DISTINCT gram FROM g WHERE is_train),
tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_own FROM eg GROUP BY 1),
sh AS (
  SELECT eg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
  FROM eg JOIN tg USING (gram) GROUP BY 1),
p AS (
  SELECT t.doc_id, COALESCE(n_sh, 0) * 1000000 // n_own AS ppm
  FROM tot t LEFT JOIN sh USING (doc_id))
SELECT CAST(ppm // 100000 AS INTEGER) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(ppm) AS BIGINT) AS ppm_min,
       CAST(MAX(ppm) AS BIGINT) AS ppm_max
FROM p GROUP BY 1
""",
)
def q_overlap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7c — GRADED train/eval overlap: the binary decontamination
    flag (q_decontaminate) answers "is this eval doc contaminated?";
    this answers "how contaminated is the eval SET" — each held-out
    doc's distinct-5-gram overlap with the train split in exact
    integer ppm, folded into a decile histogram (with min/max per
    decile). The mass at decile 0 is the honestly-clean fraction; a
    fat tail near 10 means the eval set leaks and its scores are
    memorization, not generalization — the graded readout memorization
    studies report. Same salted-sha split and distinct'd gram join as
    E7 (one gram-key shuffle; hash grams to 128 bits at 100 TB), plus
    a LEFT join so zero-overlap docs are counted, never dropped."""
    docs = _docs(spark, sf_dir)
    is_train = (
        F.substring(
            F.sha2(F.concat(F.lit("split1_"), F.col("doc_id").cast("string")), 256),
            1,
            4,
        )
        < "e666"
    )
    d = docs.select(
        "doc_id", F.split("text", " ").alias("t"), is_train.alias("is_train")
    ).filter(F.size("t") >= 5)
    g = d.select(
        "doc_id",
        "is_train",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 4), "
                "i -> concat_ws(' ', slice(t, i, 5)))"
            )
        ).alias("gram"),
    )
    eval_grams = g.filter(~F.col("is_train")).select("doc_id", "gram").distinct()
    train_grams = g.filter("is_train").select("gram").distinct()
    tot = eval_grams.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_own"))
    sh = (
        eval_grams.join(train_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_sh"))
    )
    p = tot.join(sh, "doc_id", "left").select(
        F.expr("coalesce(n_sh, 0) * 1000000 div n_own").alias("ppm")
    )
    return (
        p.groupBy(F.expr("ppm div 100000").cast("int").alias("decile"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("ppm").cast("long").alias("ppm_min"),
            F.max("ppm").cast("long").alias("ppm_max"),
        )
    )


# ---------------------------------------------------------------------------
# E26 — BM25-shaped ranked retrieval (integer fixed-point; round 6)
# ---------------------------------------------------------------------------

@register(
    "q_bm25_search",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY 1),
consts AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) * 1000 // COUNT(*) AS BIGINT) AS avgdl_milli
  FROM dl),
probe AS (
  SELECT term, df FROM df WHERE df >= 10
  ORDER BY df ASC, term ASC LIMIT 3),
scored AS (
  SELECT tf.doc_id,
         (n_docs * 1000000 // p.df) * tf.tf * 2200
         // (tf.tf * 1000
             + 1200 * (250 + 750 * (dl.dl * 1000000 // avgdl_milli) // 1000)
               // 1000) AS contrib
  FROM tf
  JOIN probe p USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN consts),
ranked AS (
  SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score_micro
  FROM scored GROUP BY 1)
SELECT doc_id, score_micro,
       CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS INTEGER)
         AS rank
FROM ranked
ORDER BY score_micro DESC, doc_id
LIMIT 20
""",
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E26 — BM25-shaped ranked retrieval, the standard lexical
    ranking function, in EXACT FIXED-POINT INTEGER arithmetic so both
    engines rank identically: k1=1.2 / b=0.75 as 1200/750 milli,
    length norm (1 - b + b*dl/avgdl) in milli-units, idf as the
    house integer convention (N*1e6 div df — a log-free monotone
    surrogate; float ln would never hash-match across libms, the
    q_doc_search precedent). Probe = the 3 most SELECTIVE terms with
    df >= 10 (df ASC, term ASC — deterministic), i.e. the terms BM25
    actually rewards. Plan: tf/df/dl all derive from one tokenize
    pass; df probe is 3 rows -> broadcast; per-doc scores are a
    partial-agg sum; top-20 is TakeOrderedAndProject. At 100 TB the
    tf table is the positional index's (term, doc) rollup — the same
    artifact family as E25, built once and served by scans."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    tok = toks.select("doc_id", F.explode("t").alias("term"))
    dl = toks.select("doc_id", F.size("t").cast("long").alias("dl"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").cast("long").alias("tf"))
    df = tok.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    consts = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("CAST(SUM(dl) * 1000 div COUNT(*) AS BIGINT)").alias(
            "avgdl_milli"
        ),
    )
    probe = (
        df.filter(F.col("df") >= 10)
        .orderBy(F.asc("df"), F.asc("term"))
        .limit(3)
    )
    scored = (
        tf.join(F.broadcast(probe), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(consts))
        .select(
            "doc_id",
            F.expr(
                "(n_docs * 1000000 div df) * tf * 2200"
                " div (tf * 1000"
                " + 1200 * (250 + 750 * (dl * 1000000 div avgdl_milli) div 1000)"
                " div 1000)"
            ).alias("contrib"),
        )
    )
    ranked = scored.groupBy("doc_id").agg(
        F.sum("contrib").cast("long").alias("score_micro")
    )
    w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return (
        ranked.orderBy(F.desc("score_micro"), "doc_id")
        .limit(20)
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )
