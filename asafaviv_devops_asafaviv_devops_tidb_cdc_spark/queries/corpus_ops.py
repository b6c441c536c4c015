"""Training-corpus construction + CDC-state operators (round 3).

Extends the north-star block (SURVEY §2.11) with the remaining
operations a production LLM-data pipeline runs between "raw corpus"
and "training shards", plus two CDC-state operators every warehouse
consumer of a changefeed eventually builds (SCD2 history, incremental
aggregate maintenance — the materialized-view-maintenance semantics
Flink calls retraction, reference index.js:255-333 transports exactly
the +new/-old images required for it).

Cross-engine determinism rules (see queries/_money.py and SURVEY §5.2):
floats enter integer micro/pico units via ``floor(x * 1eN + 0.5)``
before any SUM (float addition is not associative; IEEE multiply /
divide / floor are bit-identical in both engines); hex-prefix
comparisons of sha256 replace rand(); `div`-style floor division is
only applied to non-negative integers, negatives go through
``floor(CAST(a AS DOUBLE) / b)``.

Scale posture is documented per query; the shared theme: everything is
either map-only + tiny agg, or exactly one shuffle on a declared key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators import parse as P
from ..operators.replay import retraction_totals, scd2_versions
from ..registry import ORACLES, register
from ..sources import load_table
from ..sources.event_sink import normalized_sink
from .cdc import CDC_ROWS_CTE, _OP_CASE, _TABLE_CASE


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pin float->double once so every downstream arithmetic step is
    # IEEE double in BOTH engines (DuckDB promotes FLOAT[] lazily)
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )


# ---------------------------------------------------------------------------
# E7 — eval-set decontamination (train/eval 5-gram overlap)
# ---------------------------------------------------------------------------

@register(
    "q_decontaminate",
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
tg AS (SELECT DISTINCT gram FROM g WHERE is_train)
SELECT eg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
FROM eg JOIN tg USING (gram)
GROUP BY 1
ORDER BY n_shared_grams DESC, doc_id
LIMIT 100
""",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — benchmark decontamination: flag held-out docs sharing any
    word 5-gram with the train split (the standard n-gram-overlap
    check run before every evaluation). Split is the same salted
    sha-prefix as q_split_assign, so train/eval membership is a pure
    function of doc_id. Both sides are DISTINCT'd before the join, so
    the count is exact distinct-shared-grams. One shuffle on the gram
    key; at 100 TB replace the gram string with xxhash64(gram) twice
    (128 bits) to shrink shuffle width ~10x — counts are unchanged at
    any realistic collision rate. Top-100 is TakeOrderedAndProject."""
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
    return (
        eval_grams.join(train_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
        .orderBy(F.desc("n_shared_grams"), "doc_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# E8 — sequence packing (concat-and-chop into fixed token budgets)
# ---------------------------------------------------------------------------

PACK_BUDGET = 2048


@register(
    "q_pack_sequences",
    oracle=f"""
WITH d AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS n_toks
  FROM documents
),
c AS (
  SELECT source, n_toks,
         SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_toks AS prior
  FROM d
)
SELECT source,
       CAST(prior // {PACK_BUDGET} AS BIGINT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS pack_tokens
FROM c
GROUP BY 1, 2
""",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8 — training-shard sequence packing: documents are concatenated
    per source in doc_id order and chopped every PACK_BUDGET tokens;
    a doc belongs to the pack where it starts (exclusive running sum
    div budget — deterministic first-fit in arrival order). One hash
    shuffle on source + per-partition sorted scan; the token counts
    are exact integers so the running sum is associative-safe. At
    100 TB this runs per output shard after a range repartition by
    (source, doc_id) — the window never sees more than one source."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "source", "doc_id", F.size(F.split("text", " ")).alias("n_toks")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.select(
        "source",
        "n_toks",
        (F.sum("n_toks").over(w) - F.col("n_toks")).alias("prior"),
    )
    return (
        c.select(
            "source",
            F.expr(f"prior div {PACK_BUDGET}").cast("long").alias("pack_id"),
            "n_toks",
        )
        .groupBy("source", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("pack_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# E9 — corpus mixture rebalance (downsample every source to the min share)
# ---------------------------------------------------------------------------

@register(
    "q_corpus_mix",
    oracle="""
WITH n AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
thr AS (
  SELECT source, n,
         lower(lpad(hex(least((SELECT MIN(n) FROM n) * 268435456 // n,
                              268435455)), 7, '0')) AS thr_hex
  FROM n
),
kept AS (
  SELECT d.source,
         substr(sha256('mix1_' || CAST(d.doc_id AS VARCHAR)), 1, 7)
           < t.thr_hex AS keep
  FROM documents d JOIN thr t USING (source)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_orig,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM kept
GROUP BY 1
""",
)
def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 — mixture rebalancing: deterministically downsample every
    source to the smallest source's share (the flat-mix baseline of
    corpus-mixing recipes). Per-source keep-rate becomes a 7-hex-digit
    threshold; membership is a salted-sha prefix compare per doc —
    retry-stable and engine-portable like q_split_assign. The rate for
    the min source caps at 0xFFFFFFF/0x10000000 (~99.9999996%) so the
    equal-length string compare stays valid. Plan: tiny per-source
    count agg joined back BROADCAST (sources are few); the doc pass is
    map-only — at 100 TB this is one scan + one 8-row broadcast."""
    docs = _docs(spark, sf_dir)
    n = docs.groupBy("source").agg(F.count("*").alias("n"))
    m = n.agg(F.min("n").alias("m"))
    thr = n.crossJoin(F.broadcast(m)).select(
        "source",
        F.lower(
            F.lpad(
                F.hex(F.least(F.expr("m * 268435456 div n"), F.lit(268435455))),
                7,
                "0",
            )
        ).alias("thr_hex"),
    )
    kept = docs.join(F.broadcast(thr), "source").select(
        "source",
        (
            F.substring(
                F.sha2(
                    F.concat(F.lit("mix1_"), F.col("doc_id").cast("string")), 256
                ),
                1,
                7,
            )
            < F.col("thr_hex")
        ).alias("keep"),
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_orig"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# E10 — int8 scalar quantization round-trip (per-vector min/max codec)
# ---------------------------------------------------------------------------

@register(
    "q_vec_quantize",
    oracle="""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
s AS (
  SELECT vec_id, e,
         list_aggregate(e, 'min') AS mn,
         list_aggregate(e, 'max') AS mx
  FROM v
),
q AS (
  SELECT vec_id, mn, mx,
         list_transform(e, x -> CASE WHEN mx = mn THEN 0
             ELSE CAST(floor((x - mn) / (mx - mn) * 255 + 0.5) AS BIGINT)
             END) AS codes,
         e
  FROM s
)
SELECT vec_id,
       CAST(floor(mn * 1000000 + 0.5) AS BIGINT) AS qmin_micro,
       CAST(floor(mx * 1000000 + 0.5) AS BIGINT) AS qmax_micro,
       CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_sum,
       CAST(list_aggregate(
         list_transform(range(1, len(e) + 1),
           i -> CAST(floor(
                  (e[i] - (mn + codes[i] * (mx - mn) / 255))
                  * (e[i] - (mn + codes[i] * (mx - mn) / 255))
                  * 1e12 + 0.5) AS BIGINT)),
         'sum') AS BIGINT) AS err_pico
FROM q
""",
)
def q_vec_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 — int8 scalar quantization (the memory codec ANN indexes
    ship vectors in): per-vector min/max affine map to 0..255 codes,
    then dequantize and report the squared reconstruction error. All
    arithmetic is IEEE double (multiply/divide/floor are bit-identical
    cross-engine); error terms enter integer picounits BEFORE the sum
    so accumulation order can't matter. Entirely map-only higher-order
    functions — zero shuffles at any scale; the same expressions write
    the codes column at ingest time."""
    v = _vecs(spark, sf_dir)
    s = v.select(
        "vec_id",
        "e",
        F.array_min("e").alias("mn"),
        F.array_max("e").alias("mx"),
    )
    q = s.withColumn(
        "codes",
        F.expr(
            "transform(e, x -> CASE WHEN mx = mn THEN 0L "
            "ELSE CAST(floor((x - mn) / (mx - mn) * 255 + 0.5) AS BIGINT) END)"
        ),
    )
    return q.select(
        "vec_id",
        F.expr("CAST(floor(mn * 1000000 + 0.5) AS BIGINT)").alias("qmin_micro"),
        F.expr("CAST(floor(mx * 1000000 + 0.5) AS BIGINT)").alias("qmax_micro"),
        F.expr("aggregate(codes, 0L, (acc, x) -> acc + x)").alias("code_sum"),
        F.expr(
            "aggregate(transform(sequence(1, size(e)), i -> CAST(floor("
            "  (e[i-1] - (mn + codes[i-1] * (mx - mn) / 255))"
            "  * (e[i-1] - (mn + codes[i-1] * (mx - mn) / 255))"
            "  * 1e12 + 0.5) AS BIGINT)), 0L, (acc, x) -> acc + x)"
        ).alias("err_pico"),
    )


# ---------------------------------------------------------------------------
# E11 — one Lloyd iteration of k-means (IVF coarse-quantizer training step)
# ---------------------------------------------------------------------------

KMEANS_K = 8


@register(
    "q_kmeans_iter",
    oracle=f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
cent AS (SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < {KMEANS_K}),
dist AS (
  SELECT v.vec_id, cent.cid,
         list_aggregate(list_transform(range(1, len(v.e) + 1),
           i -> CAST(floor((v.e[i] - cent.c[i]) * (v.e[i] - cent.c[i])
                           * 1e12 + 0.5) AS BIGINT)), 'sum') AS d2_pico
  FROM v, cent
),
assigned AS (
  SELECT vec_id, cid
  FROM (SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2_pico, cid) AS rn
        FROM dist)
  WHERE rn = 1
),
ex AS (
  SELECT a.cid,
         unnest(list_transform(range(1, len(v.e) + 1),
           i -> {{'dim': i, 'val': CAST(floor(v.e[i] * 1000000 + 0.5)
                                        AS BIGINT)}})) AS u
  FROM assigned a JOIN v USING (vec_id)
)
SELECT cid AS cluster_id,
       CAST(u.dim AS INTEGER) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(floor(CAST(SUM(u.val) AS DOUBLE) / COUNT(*)) AS BIGINT)
         AS mean_micro
FROM ex
GROUP BY 1, 2
""",
)
def q_kmeans_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11 — one Lloyd iteration (assign + recenter), the training step
    behind q_ivf_topk's coarse quantizer. Seeds are the first K vectors
    (deterministic); distances accumulate in integer picounits with
    ties broken by centroid id, so the argmin is total-ordered.
    Plan: K=8 centroids BROADCAST against the corpus (map-only score +
    per-row argmin via min_by — no per-vector window), then posexplode
    to (cluster, dim) cells and one tiny 8x64 agg. Means divide as
    exact-integer-in-double then floor (integer `div` truncates toward
    zero and embeddings go negative — floor is the cross-engine-safe
    choice). At 100 TB: identical shape, the shuffle is K*dims cells."""
    v = _vecs(spark, sf_dir)
    cent = v.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("c")
    )
    dist = v.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        F.expr(
            "aggregate(transform(sequence(1, size(e)), "
            "i -> CAST(floor((e[i-1] - c[i-1]) * (e[i-1] - c[i-1]) * 1e12 + 0.5)"
            " AS BIGINT)), 0L, (acc, x) -> acc + x)"
        ).alias("d2_pico"),
    )
    assigned = dist.groupBy("vec_id").agg(
        F.min_by("cid", F.struct("d2_pico", "cid")).alias("cid")
    )
    ex = (
        assigned.join(v, "vec_id")
        .select(
            "cid",
            F.posexplode(
                F.expr(
                    "transform(e, x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))"
                )
            ).alias("dim0", "val"),
        )
        .select("cid", (F.col("dim0") + 1).cast("int").alias("dim"), "val")
    )
    return ex.groupBy(
        F.col("cid").alias("cluster_id"), "dim"
    ).agg(
        F.count("*").alias("n_members"),
        F.floor(F.sum("val").cast("double") / F.count("*"))
        .cast("long")
        .alias("mean_micro"),
    )


# ---------------------------------------------------------------------------
# J9 — SCD2 dimension history from the CDC stream
# ---------------------------------------------------------------------------

_SCD2_CTE = CDC_ROWS_CTE + f""",
typed AS (
  SELECT es,
         {_TABLE_CASE} AS table_name,
         {_OP_CASE} AS operation,
         row_id,
         user_id,
         row_value AS value,
         event_id AS offset_,
         rownum
  FROM cdc_rows
)
"""


@register(
    "q_scd2_history",
    oracle=_SCD2_CTE
    + """
SELECT table_name, row_id, user_id, value, valid_from_ms, valid_to_ms,
       CAST(CASE WHEN valid_to_ms IS NULL THEN 1 ELSE 0 END AS INTEGER)
         AS is_current
FROM (
  SELECT table_name, row_id, user_id, value, operation,
         es AS valid_from_ms,
         LEAD(es) OVER (PARTITION BY table_name, row_id
                        ORDER BY offset_, rownum) AS valid_to_ms
  FROM typed
)
WHERE operation <> 'delete'
""",
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 — slowly-changing-dimension type-2 history: every non-delete
    change event becomes a version row with [valid_from, valid_to)
    millisecond bounds; a delete closes the last version without
    opening a new one; open versions are is_current. This is the
    standard warehouse materialization of exactly the changefeed the
    reference transports (index.js:255-333 — before/after images in
    event order). One shuffle on (table_name, row_id) then a
    per-key sorted LEAD — the same shape at any scale; version counts
    per key are bounded by that key's change rate, not corpus size."""
    typed = P.typed_rows(normalized_sink(spark, sf_dir))
    return scd2_versions(typed).select(
        "table_name",
        "row_id",
        "user_id",
        "value",
        "valid_from_ms",
        "valid_to_ms",
        "is_current",
    )


@register("q_stream_scd2", oracle=None)
def q_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 stream form — SCD2 history maintained by a REAL Structured
    Streaming query: keyed-recompute foreachBatch (touched keys rebuild
    their version chains from persisted tombstone-inclusive state ∪
    batch; untouched keys carry computed intervals verbatim —
    streaming/scd2.py). Out-of-order batches splice correctly. The
    oracle is the SAME SQL as the batch q_scd2_history — the driver
    hash-compares the STREAMED version table against it."""
    from ..streaming import ingest as I
    from ..streaming import scd2 as S

    # resumable: first call drains, later calls are an empty drain +
    # state read (bump the version on any scd2-fold change)
    base = I.resumable_workdir(sf_dir, "events", "scd2", "scd2-v1")
    src = I.envelope_files(spark, sf_dir, None, n_files=4)
    S.run_scd2_stream(
        spark, src, str(base / "state"), str(base / "ckpt"), fresh=False
    )
    return S.history(spark, str(base / "state")).select(
        "table_name",
        "row_id",
        "user_id",
        "value",
        "valid_from_ms",
        "valid_to_ms",
        "is_current",
    )


ORACLES["q_stream_scd2"] = ORACLES["q_scd2_history"]


# ---------------------------------------------------------------------------
# J10 — time-travel (as-of) lookup over the SCD2 history
# ---------------------------------------------------------------------------

_ASOF_OFFSETS_MS = (21_600_000, 43_200_000, 86_400_000)  # +6 h, +12 h, +24 h


@register(
    "q_scd2_asof",
    oracle=_SCD2_CTE
    + f""",
v AS (
  SELECT table_name, row_id, value, operation,
         es AS valid_from_ms,
         LEAD(es) OVER (PARTITION BY table_name, row_id
                        ORDER BY offset_, rownum) AS valid_to_ms
  FROM typed
),
versions AS (SELECT * FROM v WHERE operation <> 'delete'),
probes AS (
  SELECT off, (SELECT MIN(es) FROM typed) + off AS t_ms
  FROM (VALUES {", ".join(f"({o})" for o in _ASOF_OFFSETS_MS)}) AS o(off)
)
SELECT p.off AS probe_offset_ms, vv.table_name,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(SUM(CAST(floor(vv.value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_micro
FROM versions vv
JOIN probes p
  ON vv.valid_from_ms <= p.t_ms
 AND (vv.valid_to_ms IS NULL OR vv.valid_to_ms > p.t_ms)
GROUP BY 1, 2
""",
)
def q_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 — time-travel: reconstruct each table's state AS OF three
    probe instants (stream start +6/+12/+24 h) from the SCD2 interval
    table — the query shape that justifies keeping history at all
    ("what did the dimension look like when this model trained?").
    Plan: the probe set is tiny and BROADCAST, so the interval filter
    is a nested-loop over 3 rows per version — map-only against the
    versions table; the versions window itself is the single
    (table, row_id) shuffle shared with q_scd2_history. At 100 TB the
    probes stay O(1) and nothing else changes."""
    typed = P.typed_rows(normalized_sink(spark, sf_dir))
    versions = scd2_versions(typed)
    t0 = typed.agg(F.min(F.unix_millis("ts")).alias("t0"))
    probes = (
        spark.createDataFrame([(o,) for o in _ASOF_OFFSETS_MS], "off long")
        .crossJoin(F.broadcast(t0))
        .select("off", (F.col("t0") + F.col("off")).alias("t_ms"))
    )
    live = versions.join(
        F.broadcast(probes),
        (F.col("valid_from_ms") <= F.col("t_ms"))
        & (F.col("valid_to_ms").isNull() | (F.col("valid_to_ms") > F.col("t_ms"))),
    )
    return live.groupBy(
        F.col("off").alias("probe_offset_ms"), "table_name"
    ).agg(
        F.count("*").alias("n_live"),
        F.sum(F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("sum_micro"),
    )


# ---------------------------------------------------------------------------
# A10 — incremental aggregate maintenance (retraction semantics)
# ---------------------------------------------------------------------------

@register(
    "q_delta_agg",
    oracle=CDC_ROWS_CTE
    + f"""
SELECT {_TABLE_CASE} AS table_name,
       CAST(SUM(CASE WHEN e = 8 THEN -1 WHEN e = 7 THEN 0 ELSE 1 END)
            AS BIGINT) AS net_rows,
       CAST(SUM(CASE
         WHEN e = 8 THEN -CAST(floor(row_value * 1000000 + 0.5) AS BIGINT)
         WHEN e = 7 THEN CAST(floor(row_value * 1000000 + 0.5) AS BIGINT)
                       - CAST(floor((value + 1) * 1000000 + 0.5) AS BIGINT)
         ELSE CAST(floor(row_value * 1000000 + 0.5) AS BIGINT)
       END) AS BIGINT) AS net_sum_micro
FROM cdc_rows
GROUP BY 1
""",
)
def q_delta_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — incremental materialized-view maintenance over the
    changefeed: each event contributes its retraction delta (+new for
    insert, -old for delete, new-old for update) to per-table SUM and
    COUNT — the Flink/Materialize semantics that turn a CDC stream
    into an always-fresh aggregate without replaying state. Values
    enter integer micros before summing. Map-side partial agg + one
    tiny shuffle on table_name; at 100 TB this runs per micro-batch
    and folds into the serving table with a keyed upsert (the
    streaming twin is q_stream_cdc_replay's foreachBatch MERGE)."""
    typed = P.typed_rows(normalized_sink(spark, sf_dir))
    return retraction_totals(typed)


@register("q_stream_delta_agg", oracle=None)
def q_stream_delta_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 stream form — the retraction fold executed by a REAL
    Structured Streaming query (epoch partials —
    streaming/delta.py::drain_partials). Deltas commute, so the
    folded totals equal the batch q_delta_agg independent of batch
    boundaries; the oracle is attached right after this definition
    (same SQL text as q_delta_agg) and the driver hash-compares the
    STREAMED result against the BATCH oracle — true stream/batch
    equivalence, checked end to end."""
    from ..streaming import delta as D
    from ..streaming import ingest as I

    # resumable: first call drains into epoch partials, later calls are
    # an empty drain + the monoid fold over the committed partials
    # (bump the version on any retraction-fold change)
    base = I.resumable_workdir(sf_dir, "events", "delta", "delta-v1")
    src = I.envelope_files(spark, sf_dir, None, n_files=4)
    D.run_delta_stream(spark, src, str(base / "partials"), str(base / "ckpt"))
    return D.folded_with(spark, str(base / "partials"), D.fold_totals)


# stream/batch equivalence IS the claim: the streamed fold must
# hash-match the batch oracle exactly (deltas commute across batches)
ORACLES["q_stream_delta_agg"] = ORACLES["q_delta_agg"]


# ---------------------------------------------------------------------------
# E12 — cross-document boilerplate detection (shared-n-gram prevalence)
# ---------------------------------------------------------------------------

BOILER_MIN_DOCS = 3


@register(
    "q_boilerplate_grams",
    oracle=f"""
WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> array_to_string(t[i:i+2], ' '))) AS gram
  FROM d WHERE len(t) >= 3
),
boiler AS (
  SELECT source, gram
  FROM g GROUP BY 1, 2
  HAVING COUNT(*) >= {BOILER_MIN_DOCS}
)
SELECT g.source,
       CAST(COUNT(DISTINCT g.gram) AS BIGINT) AS n_boiler_grams,
       CAST(COUNT(DISTINCT g.doc_id) AS BIGINT) AS n_docs_affected
FROM g JOIN boiler b ON g.source = b.source AND g.gram = b.gram
GROUP BY 1
""",
)
def q_boilerplate_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12 — cross-document boilerplate detection (the C4/RefinedWeb
    "repeated across documents" filter, generalized from lines to word
    3-grams since the corpus has no line structure): a gram occurring
    in >= {BOILER_MIN_DOCS} distinct docs of the SAME source is
    boilerplate (headers, footers, nav chrome). Per source: how many
    boilerplate grams and how many docs carry at least one — the
    report that sizes a scrub pass before committing to it.
    Plan: doc-distinct gram pairs (one explode + distinct), prevalence
    agg on (source, gram), self-join back on the same key — the
    partitioning from the distinct is REUSED by both the agg and the
    join (one logical shuffle key end to end). At 100 TB hash grams
    to 128 bits and the shuffles narrow 10x; counts are unchanged.
    """
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id", "source", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 3)
    from pyspark import StorageLevel

    g = (
        d.select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 2), "
                    "i -> concat_ws(' ', slice(t, i, 3)))"
                )
            ).alias("gram"),
        )
        .distinct()
        # both the prevalence agg and the flag join read this frame;
        # without the persist the explode+distinct runs twice (the
        # same reuse posture as dedup._with_shingles)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    boiler = (
        g.groupBy("source", "gram")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
        .select("source", "gram")
    )
    flagged = g.join(boiler, ["source", "gram"])
    return flagged.groupBy("source").agg(
        F.countDistinct("gram").alias("n_boiler_grams"),
        F.countDistinct("doc_id").alias("n_docs_affected"),
    )


# ---------------------------------------------------------------------------
# E13 — canonical-document selection per near-dup cluster
# ---------------------------------------------------------------------------

def _canonical_oracle() -> str:
    from .llm_pipeline import _CORPUS_BODY, _NGRAM_PAIRS_CTES

    return (
        f"WITH RECURSIVE corpus AS ({_CORPUS_BODY}),\n"
        + _NGRAM_PAIRS_CTES.strip()
        + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT src AS node, src AS r FROM edges
  UNION
  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
),
clusters AS (
  SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY 1
),
ranked AS (
  SELECT c.cluster_id, c.doc_id, length(co.text) AS n_chars,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY length(co.text) DESC, c.doc_id) AS rn
  FROM clusters c JOIN corpus co ON c.doc_id = co.doc_id
)
SELECT cluster_id,
       MAX(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       CAST(SUM(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
         AS chars_dropped
FROM ranked
GROUP BY 1
"""
    )


@register("q_canonical_pick", oracle=None)
def q_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13 — canonical selection: after near-dup clustering, KEEP one
    document per cluster — the longest (keep-longest is the standard
    near-dup survivor heuristic; ties break to the smallest doc_id) —
    and account the chars the dedup pass drops. Completes the dedup
    story: detect (E2), cluster (E2d), now CHOOSE + measure yield.
    Plan: cluster ids join the corpus on doc_id (one shuffle), then a
    per-cluster window — partitioned by cluster_id, so parallelism is
    #clusters; no global sort. At 100 TB the cluster table is tiny
    relative to the corpus and broadcast-joins back for the final
    keep-filter at write time. Cluster ids come from the materialized
    artifact (sources/cluster_store.py) — one CC build per corpus
    fingerprint serves this report, the listing, the size histogram
    and the yield attribution."""
    from ..sources.cluster_store import neardup_cluster_table, neardup_corpus

    corpus = neardup_corpus(spark, sf_dir)
    clusters = neardup_cluster_table(spark, sf_dir)
    ranked = clusters.join(
        corpus.select("doc_id", F.length("text").alias("n_chars")), "doc_id"
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(
                F.desc("n_chars"), "doc_id"
            )
        ),
    )
    return ranked.groupBy("cluster_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("canonical_doc"),
        F.count("*").alias("cluster_size"),
        F.sum(F.when(F.col("rn") > 1, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("chars_dropped"),
    )


ORACLES["q_canonical_pick"] = _canonical_oracle()


@register("q_stream_doc_dedup", oracle=None)
def q_stream_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 stream form — exact dedup maintained by a REAL Structured
    Streaming query: documents arrive in micro-batches, each folds
    into min-doc_id-per-content-hash survivor state
    (streaming/corpus.py — commutative fold, so arrival order and
    batch boundaries cannot change the survivor set, unlike a naive
    streaming dropDuplicates which keeps the nondeterministic first
    arrival). The oracle is the SAME SQL as batch q_dedup_exact — the
    driver hash-compares the STREAMED survivor set against it."""
    from ..sources.artifact import input_fingerprint, materialized_path
    from ..streaming import corpus as C
    from ..streaming.ingest import resumable_workdir
    from .llm_pipeline import _doubled_docs

    # 4 source files -> multiple micro-batches; file split is arbitrary
    # (the fold is order-robust by construction). Resumable (r7): the
    # drain + survivor-state build runs once per corpus fingerprint.
    src = materialized_path(
        "documents_docdedup_src",
        input_fingerprint(sf_dir, "documents", "docdedup-src-v1"),
        lambda dest: _doubled_docs(spark, sf_dir)
        .repartition(4)
        .write.mode("overwrite")
        .parquet(dest),
    )
    base = resumable_workdir(sf_dir, "documents", "docdedup", "docdedup-v2")
    C.run_dedup_stream(
        spark,
        src,
        str(base / "state"),
        str(base / "ckpt"),
        schema="doc_id long, text string, lang string, source string, n_chars long",
        fresh=False,
    )
    return C.survivors(spark, str(base / "state")).select(
        "doc_id", "lang", "source", "n_chars"
    )


ORACLES["q_stream_doc_dedup"] = ORACLES["q_dedup_exact"]


@register(
    "q_embedding_norm_hist",
    oracle="""
WITH v AS (
  SELECT vec_id,
         list_sum(list_transform(CAST(embedding AS DOUBLE[]),
           x -> CAST(floor(x * x * 1e9 + 0.5) AS BIGINT))) AS nsq_nano
  FROM embeddings
)
SELECT CAST(nsq_nano // 250000000 AS BIGINT) AS norm_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(MIN(nsq_nano) AS BIGINT) AS nsq_nano_min,
       CAST(MAX(nsq_nano) AS BIGINT) AS nsq_nano_max
FROM v
GROUP BY 1
""",
)
def q_embedding_norm_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3b — embedding norm histogram: the sanity audit run before any
    cosine index is built (zero-norm vectors break cosine; a bimodal
    norm distribution means two incompatible encoder versions landed in
    one table). Squared-norm terms enter integer nano-units per
    element BEFORE the sum (order-free), bucketed at 0.25 intervals.
    Map-only + tiny agg — a scan at any scale."""
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "aggregate(transform(CAST(embedding AS ARRAY<DOUBLE>), "
            "x -> CAST(floor(x * x * 1e9 + 0.5) AS BIGINT)), 0L, "
            "(acc, x) -> acc + x)"
        ).alias("nsq_nano"),
    )
    return v.groupBy(
        F.expr("nsq_nano div 250000000").cast("long").alias("norm_bucket")
    ).agg(
        F.count("*").alias("n_vecs"),
        F.min("nsq_nano").cast("long").alias("nsq_nano_min"),
        F.max("nsq_nano").cast("long").alias("nsq_nano_max"),
    )


def _dedup_yield_oracle() -> str:
    from .llm_pipeline import _CORPUS_BODY, _NGRAM_PAIRS_CTES

    return (
        f"WITH RECURSIVE corpus AS ({_CORPUS_BODY}),\n"
        + _NGRAM_PAIRS_CTES.strip()
        + """,
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT src AS node, src AS r FROM edges
  UNION
  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
),
clusters AS (
  SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY 1
),
labeled AS (
  SELECT c.doc_id, c.cluster_id,
         (SELECT d.source FROM documents d
          WHERE d.doc_id = c.doc_id % 1000000) AS source,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id ORDER BY c.doc_id)
           AS rn
  FROM clusters c
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_clustered,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM labeled
GROUP BY 1
"""
    )


@register("q_dedup_yield_by_source", oracle=None)
def q_dedup_yield_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2f — near-dup yield attributed to SOURCE: which provenance
    contributes the duplicate mass (min-id survivor per cluster; every
    other member counts as dropped). This is the report that turns a
    dedup pass into a data-sourcing decision — a source whose docs are
    mostly duplicates gets down-weighted at acquisition, not at
    filtering. The doubled-corpus synthetic ids map back to their
    original doc (id % 1e6) for the source lookup; the lookup side is
    the documents table's (id, source) projection — it grows with the
    corpus, so no explicit broadcast hint: AQE broadcasts while it
    fits and shuffles at scale (r11 broadcast-hint audit). Cluster
    ids come from the materialized artifact
    (sources/cluster_store.py), not a per-report CC rebuild."""
    from ..sources.cluster_store import neardup_cluster_table

    clusters = neardup_cluster_table(spark, sf_dir).withColumnRenamed(
        "doc_id", "member_id"
    )
    src = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("orig_id"), "source"
    )
    labeled = clusters.join(
        # no explicit broadcast: the lookup side is the documents
        # table's (id, source) projection, which grows with the
        # corpus — AQE broadcasts it while it fits and switches to a
        # shuffle join at scale (r11 broadcast-hint audit)
        src,
        (F.col("member_id") % 1_000_000) == F.col("orig_id"),
    ).select("member_id", "cluster_id", "source")
    ranked = labeled.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy("member_id")
        ),
    )
    return ranked.groupBy("source").agg(
        F.count("*").alias("n_clustered"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
    )


ORACLES["q_dedup_yield_by_source"] = _dedup_yield_oracle()


# ---------------------------------------------------------------------------
# E9 weighted form — target-ratio corpus mixture (round 5 driver proof)
# ---------------------------------------------------------------------------

# target shares for the mixture: ratios only, deliberately not summing
# to 1; sources outside the dict are dropped (weight 0)
WMIX_WEIGHTS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
_WMIX_VALUES = ", ".join(
    f"('{s}', {int(round(w * 1_000_000))})" for s, w in WMIX_WEIGHTS.items()
)


@register(
    "q_weighted_mix",
    oracle=f"""
WITH w(source, w_ppm) AS (VALUES {_WMIX_VALUES}),
n AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
j AS (SELECT n.source, n.n, w.w_ppm FROM n JOIN w USING (source)),
t AS (SELECT MIN(n * 1000000 // w_ppm) AS t_total FROM j),
thr AS (
  SELECT source, n,
         least(t_total * w_ppm // 1000000, n) AS n_target,
         lower(lpad(hex(least(least(t_total * w_ppm // 1000000, n)
                              * 268435456 // n, 268435455)), 7, '0')) AS thr_hex
  FROM j, t
),
kept AS (
  SELECT d.source,
         substr(sha256('wmix1_' || CAST(d.doc_id AS VARCHAR)), 1, 7)
           < t.thr_hex AS keep
  FROM documents d JOIN thr t USING (source)
)
SELECT t.source, CAST(t.n AS BIGINT) AS n,
       CAST(t.n_target AS BIGINT) AS n_target,
       CAST(k.n_kept AS BIGINT) AS n_kept
FROM thr t
JOIN (SELECT source, SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS n_kept
      FROM kept GROUP BY 1) k USING (source)
""",
)
def q_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 weighted form — downsample sources toward TARGET RATIOS
    (functions/mixture.py): the largest feasible corpus with
    composition exactly proportional to the weights is bounded by the
    BINDING source (T = min_s n_s/w_s, all in integer ppm); every
    other source downsamples to T*w_s by the salted sha-prefix
    threshold. Output = per-source (available, target, kept) counts;
    the oracle re-derives the binding-constraint math and the
    hash-Bernoulli membership independently, so both the threshold
    arithmetic AND every per-doc keep decision are hash-checked.
    Scale: one tiny count agg + 4-row broadcast + map-only filter —
    one scan at any corpus size."""
    from ..functions import mixture as M

    docs = _docs(spark, sf_dir)
    counts = docs.groupBy("source").agg(F.count("*").alias("n"))
    thr = M.weighted_keep_thresholds(counts, WMIX_WEIGHTS)
    # the threshold frame is shared (thresholds=thr), so the corpus is
    # scanned exactly twice: once for counts, once for the keep filter
    kept = (
        M.weighted_mix(docs, WMIX_WEIGHTS, thresholds=thr)
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_kept"))
    )
    return thr.select("source", "n", "n_target").join(kept, "source")


# ---------------------------------------------------------------------------
# E7 scale path — Bloom-filter decontamination (round 5 driver proof)
# ---------------------------------------------------------------------------

@register(
    "q_bloom_decontaminate",
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
tg AS (SELECT DISTINCT gram FROM g WHERE is_train)
SELECT DISTINCT eg.doc_id, TRUE AS bloom_hit
FROM eg JOIN tg USING (gram)
""",
)
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 at 100 TB — decontamination through the declarative Bloom
    filter (functions/bloom.py): the train side's unbounded gram set
    collapses into a fixed-size (word_idx, word) bitmap sized by
    ``suggested_bits`` for a 1e-4 per-key FP target; the eval side
    probes it with k map-side broadcast joins — NO shuffle on the gram
    key anywhere on the eval path (plan-pinned in
    tests/test_plan_shape.py), which is the property that makes the
    pass affordable when the train corpus no longer fits a join.

    The driver-checked claim is the SAFETY guarantee: every doc the
    EXACT overlap join finds contaminated must be bloom-flagged (no
    false negatives). Output = the exact contaminated doc set with its
    bloom verdict; the oracle asserts bloom_hit TRUE for all of them,
    so a single missed doc hash-fails the gate. The FP *bound* (the
    other direction — how many clean docs get dropped) is pytest-pinned
    since it is distributional, not exact.

    Scaling bound (r9 STRESS doc-skew finding, accepted): probe cost is
    proportional to the EVAL side's gram occurrences — the doc-skew
    protocol scales the probe input itself 10x, so wall time grows with
    it by construction; sublinear-in-probe-volume is the floor, not
    sublinear-in-corpus. The r10 mitigation folds each gram to one
    64-bit xxhash before the k per-seed probes (functions/bloom.py
    ``_positions``), cutting the per-occurrence string-hash work ~k-fold
    on boilerplate-heavy corpora."""
    from ..functions import bloom as B

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
    train_grams = g.filter("is_train").select("gram").distinct()
    eval_grams = g.filter(~F.col("is_train")).select("doc_id", "gram")
    # bitmap sizing needs only an UPPER bound on distinct train grams
    # (oversizing merely lowers FP), so count total train gram slots
    # with a map-only scan of documents — no explode, no distinct
    # shuffle spent on a sizing scalar
    n_train_bound = (
        d.filter("is_train")
        .agg(F.sum(F.size("t") - 4).cast("long"))
        .collect()[0][0]
        or 0
    )
    n_bits = B.suggested_bits(n_train_bound, per_key_fp=1e-4)
    flagged = B.contaminated_doc_ids(
        train_grams, eval_grams, n_bits=n_bits
    ).withColumnRenamed("doc_id", "flagged_id")
    exact = (
        eval_grams.distinct()
        .join(train_grams, "gram")
        .select("doc_id")
        .distinct()
    )
    return exact.join(
        flagged, exact.doc_id == flagged.flagged_id, "left"
    ).select("doc_id", F.col("flagged_id").isNotNull().alias("bloom_hit"))


# ---------------------------------------------------------------------------
# A10 compaction — delta-partials fold (round 5 driver proof)
# ---------------------------------------------------------------------------

@register("q_compact_partials", oracle=None)
def q_compact_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 maintenance — the crash-safe partials compaction
    (streaming/delta.py::compact_with) driven end to end: run the
    retraction-fold stream (4 epoch partials), compact them into a
    versioned base (staged write + atomic rename = the commit point),
    compact AGAIN (must no-op), then serve. The served totals must
    hash-match the BATCH q_delta_agg oracle — totals preservation
    through compaction, checked at the gate, not just in pytest. At
    100 TB compaction is what bounds the serving read at O(groups +
    batches-since-compaction); correctness must therefore survive it
    byte-exactly. Resumable (r7b): partials + checkpoint persist per
    (events fingerprint, fold version) — the FIRST call pays the
    drain + real compaction; every later call still drives the full
    protocol but hits its steady-state branches (empty availableNow
    drain, two no-op compact passes, base-only serve), which is
    exactly the per-trigger cost a production maintainer pays."""
    from ..streaming import delta as D
    from ..streaming import ingest as I
    from ..streaming.ingest import resumable_workdir

    base = resumable_workdir(sf_dir, "events", "delta_compact", "dcompact-v1")
    src = I.envelope_files(spark, sf_dir, None, n_files=4)
    partials_dir = str(base / "partials")
    D.run_delta_stream(spark, src, partials_dir, str(base / "ckpt"))
    D.compact_with(spark, partials_dir, D.fold_totals)
    D.compact_with(spark, partials_dir, D.fold_totals)  # idempotent no-op
    return D.folded_with(spark, partials_dir, D.fold_totals)


ORACLES["q_compact_partials"] = ORACLES["q_delta_agg"]


# ---------------------------------------------------------------------------
# A10b — incremental JOIN maintenance (the delta-join identity)
# ---------------------------------------------------------------------------

_DJ_EPOCHS = 3


@register(
    "q_delta_join",
    oracle="""
SELECT o.o_orderstatus AS orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)))
            AS BIGINT) AS revenue_units
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY 1
""",
)
def q_delta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10b — incremental materialized-JOIN maintenance: the delta
    identity dJ_t = dO_t |><| L_{<=t}  UNION ALL  O_{<t} |><| dL_t
    (each side's epoch-t arrivals join the OTHER side's accumulated
    state; the split assigns the dOxdL cross term to exactly one leg,
    so no pair is double-counted) — what Flink / Materialize do to
    keep a join view fresh without replaying it, complementing
    q_delta_agg's aggregate maintenance. Driven here over 3
    deterministic arrival epochs per side (orderkey % 3 vs
    linenumber % 3 — uncorrelated, so real cross-epoch pairs exist);
    the union of the 6 delta legs must aggregate to EXACTLY the
    direct join's answer, which is what the oracle pins. At 100 TB
    each leg is an equi-join on the same orderkey both state tables
    are bucketed by (co-partitioned, no re-shuffle of state), and
    per-epoch work is proportional to the DELTA, never the history:
    the identity is the whole point — history joins history exactly
    once, at arrival time."""
    from ._money import revenue_units

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_orderkey") % _DJ_EPOCHS).alias("eo"),
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        revenue_units().alias("rev"),
        (F.col("l_linenumber") % _DJ_EPOCHS).alias("el"),
    )
    legs = []
    for t in range(_DJ_EPOCHS):
        d_o = o.filter(F.col("eo") == t)
        d_l = l.filter(F.col("el") == t)
        l_upto = l.filter(F.col("el") <= t)
        o_before = o.filter(F.col("eo") < t)
        legs.append(d_o.join(l_upto, d_o.o_orderkey == l_upto.l_orderkey))
        legs.append(o_before.join(d_l, o_before.o_orderkey == d_l.l_orderkey))
    maintained = legs[0]
    for leg in legs[1:]:
        maintained = maintained.unionByName(leg)
    return maintained.groupBy(
        F.col("o_orderstatus").alias("orderstatus")
    ).agg(
        F.count("*").alias("n_pairs"),
        F.sum("rev").cast("long").alias("revenue_units"),
    )


# ---------------------------------------------------------------------------
# E47 — compliance takedown propagation across the artifact store
# ---------------------------------------------------------------------------

def _takedown_oracle() -> str:
    from ..functions import sampling as SK
    from ..sources.takedown import PURGE_MOD
    from .llm_pipeline import _NGRAM_PAIRS_CTES

    def lsum(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, 65), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
        )

    def cos(a: str, b: str) -> str:
        return f"({lsum(a, b)}) / sqrt(({lsum(a, a)}) * ({lsum(b, b)}))"

    prime = 1_000_000_007
    return (
        f"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {PURGE_MOD} != 0
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents
  WHERE doc_id % {PURGE_MOD} != 0 AND doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000, text || ' zzz zzz zzz' FROM documents
  WHERE doc_id % {PURGE_MOD} != 0 AND doc_id % 7 = 0
),
"""
        + _NGRAM_PAIRS_CTES.strip()
        + f""",
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT src AS node, src AS r FROM edges
  UNION
  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
),
clusters AS (
  SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY 1
),
cl AS (
  SELECT 'clusters' AS artifact,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) FILTER (WHERE (doc_id % 1000000) % {PURGE_MOD} = 0
                OR (cluster_id % 1000000) % {PURGE_MOD} = 0) AS BIGINT)
           AS n_purged,
         CAST(SUM((doc_id * 31 + cluster_id * 17) % {prime}) AS BIGINT)
           AS checksum
  FROM clusters
),
pemb AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % {PURGE_MOD} != 0
),
cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM pemb WHERE vec_id % 50 = 0
),
assign AS (
  SELECT p.vec_id, c.cid,
         row_number() OVER (PARTITION BY p.vec_id
           ORDER BY {cos('p.embedding', 'c.cv')} DESC, c.cid) AS rn
  FROM pemb p, cents c
),
iv AS (
  SELECT 'ivf_cells' AS artifact,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) FILTER (WHERE vec_id % {PURGE_MOD} = 0) AS BIGINT)
           AS n_purged,
         CAST(SUM((vec_id * 31 + cid * 17) % {prime}) AS BIGINT) AS checksum
  FROM assign WHERE rn = 1
),
sd AS (
  SELECT doc_id, {SK.salted_key_sql(SK.SHARD_SALT)} AS h
  FROM documents WHERE doc_id % {PURGE_MOD} != 0
),
sr AS (
  SELECT doc_id,
         instr('0123456789abcdef', substr(h, 1, 1)) - 1 AS nib
  FROM sd
),
shd AS (
  SELECT 'shards' AS artifact,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) FILTER (WHERE doc_id % {PURGE_MOD} = 0) AS BIGINT)
           AS n_purged,
         CAST(SUM((doc_id * 31 + nib * 17) % {prime}) AS BIGINT) AS checksum
  FROM sr
)
SELECT * FROM cl UNION ALL SELECT * FROM iv UNION ALL SELECT * FROM shd
"""
    )


@register("q_takedown_propagation", oracle=_takedown_oracle())
def q_takedown_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E47 — COMPLIANCE TAKEDOWN PROPAGATION (r14 verdict order #3):
    a deterministic purge cohort (doc_id % 37 == 0, plus its aligned
    embedding vectors) is erased and every derived artifact the store
    materializes — the near-dup cluster table, the mod50 IVF cell
    index, the training-shard landing — is REBUILT from the purged
    source through its real build path under a purge-aware fingerprint
    (sources/takedown.py: the purge spec joins the artifact version,
    so a new takedown batch = new fingerprint = from-scratch rebuild;
    this drives the artifact-store invalidation path no other query
    exercises). The output is one certification row per artifact:
    row count, the count of rows still referencing a purged doc
    (computed as DATA, not asserted — the oracle pins it to 0), and a
    modular id-pair checksum strong enough that a single wrong
    cluster_id / cid / shard byte anywhere misses the hash. The oracle
    re-derives every post-purge artifact from scratch: the recursive
    connected components over the purged planted corpus, the nearest-
    centroid assignment over surviving vectors (vec 0 is purged, so
    the index re-seeds — a filter of the old assignment could NOT
    match), and the salted-sha shard census. Rebuild-not-filter is the
    load-bearing semantic: purging can split clusters, rename their
    canonicals and re-seed IVF cells.

    Physical plan: each artifact builds ONCE per (corpus fingerprint,
    purge spec) — the CC iteration, the corpus x centroids assignment
    and the shard exchange are build-time costs — and this query scans
    the three committed parquet artifacts (the shard census aggregates
    FROM THE FILES, certifying the landing a trainer would stream)
    into three one-row aggregates with map-side partials. At 100 TB a
    takedown batch costs one rebuild of each derived artifact — which
    is exactly what erasure requires — and certification stays a
    columnar scan. Reference surface: none (the reference transports
    CDC deletes, index.js:255-333, but has no derived-artifact layer);
    north-star BASELINE.json trajectory."""
    from ..sources.takedown import (
        PURGE_MOD,
        takedown_cluster_table,
        takedown_ivf_cells,
        takedown_shards_path,
    )

    prime = 1_000_000_007
    cl = takedown_cluster_table(spark, sf_dir).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(
            (
                (F.col("doc_id") % 1_000_000 % PURGE_MOD == 0)
                | (F.col("cluster_id") % 1_000_000 % PURGE_MOD == 0)
            ).cast("int")
        )
        .cast("long")
        .alias("n_purged"),
        F.expr(f"CAST(SUM((doc_id * 31 + cluster_id * 17) % {prime}) AS BIGINT)")
        .alias("checksum"),
    ).select(F.lit("clusters").alias("artifact"), "n_rows", "n_purged", "checksum")
    iv = takedown_ivf_cells(spark, sf_dir).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum((F.col("vec_id") % PURGE_MOD == 0).cast("int"))
        .cast("long")
        .alias("n_purged"),
        F.expr(f"CAST(SUM((vec_id * 31 + cid * 17) % {prime}) AS BIGINT)")
        .alias("checksum"),
    ).select(F.lit("ivf_cells").alias("artifact"), "n_rows", "n_purged", "checksum")
    shards = spark.read.schema(
        "doc_id bigint, n_bytes bigint, h string, shard string"
    ).parquet(takedown_shards_path(spark, sf_dir))
    shd = shards.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum((F.col("doc_id") % PURGE_MOD == 0).cast("int"))
        .cast("long")
        .alias("n_purged"),
        F.expr(
            f"CAST(SUM((doc_id * 31 + (instr('0123456789abcdef', shard) - 1)"
            f" * 17) % {prime}) AS BIGINT)"
        ).alias("checksum"),
    ).select(F.lit("shards").alias("artifact"), "n_rows", "n_purged", "checksum")
    return cl.unionByName(iv).unionByName(shd).orderBy("artifact")
