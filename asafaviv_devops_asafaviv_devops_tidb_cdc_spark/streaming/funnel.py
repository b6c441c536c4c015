"""Streaming funnel (W11 stream form) — per-user multi-stage state.

The batch funnel (queries/metrics.py::q_funnel_stages) defines stage
completion as "earliest qualifying event strictly AFTER the previous
stage completed" — a NON-monotone definition: a late-arriving earlier
'view' can newly qualify an old 'click', which can in turn re-qualify
an old 'purchase'. A greedy (v, c, p) scalar state is therefore wrong
under out-of-order arrival; the correct state is the per-user event
history for the three funnel types, with (v, c, p) RECOMPUTED from it
on every update. That recomputation is O(per-user funnel events) —
bounded by a user's own activity, never the stream's length — which is
the admissible state size for an operator whose semantics genuinely
require full per-user history (a watermark could prune only if the
product definition waived late requalification).

Emission is append-mode with a per-user update counter; the reader
takes each user's LAST emission (max counter), so the final answer is
a pure function of the final state — batch-boundary invariant, which
is what lets the gate hash-match the streamed funnel against the batch
SQL oracle.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from . import delta as D, ingest

FUNNEL_TYPES = ("view", "click", "purchase")

_STATE_SCHEMA = StructType(
    [
        StructField("views", ArrayType(LongType())),
        StructField("clicks", ArrayType(LongType())),
        StructField("purchases", ArrayType(LongType())),
        StructField("n_updates", IntegerType()),
    ]
)
_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_updates", IntegerType()),
        StructField("v_ms", LongType()),
        StructField("c_ms", LongType()),
        StructField("p_ms", LongType()),
    ]
)


def _stages(views: list, clicks: list, purchases: list):
    """(v, c, p) epoch-ms from full history; -1 = stage not reached."""
    v = min(views) if views else -1
    c = min((t for t in clicks if v != -1 and t > v), default=-1)
    p = min((t for t in purchases if c != -1 and t > c), default=-1)
    return v, c, p


def _update(key, pdfs, state):
    import pandas as pd

    if state.exists:
        views, clicks, purchases, n_updates = state.get
        views, clicks, purchases = list(views), list(clicks), list(purchases)
    else:
        views, clicks, purchases, n_updates = [], [], [], 0
    for pdf in pdfs:
        for et, ms in zip(pdf["event_type"], pdf["t_ms"]):
            if et == "view":
                views.append(int(ms))
            elif et == "click":
                clicks.append(int(ms))
            elif et == "purchase":
                purchases.append(int(ms))
    n_updates += 1
    state.update((views, clicks, purchases, n_updates))
    v, c, p = _stages(views, clicks, purchases)
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_updates": [n_updates],
            "v_ms": [v],
            "c_ms": [c],
            "p_ms": [p],
        }
    )


def funnel_stream(spark: SparkSession, src_dir: str, schema) -> DataFrame:
    """Events under ``src_dir`` (one file per micro-batch) -> per-user
    (v, c, p) emissions (append mode)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .filter(F.col("event_type").isin(*FUNNEL_TYPES))
        .select(
            "user_id", "event_type", F.unix_millis("ts").alias("t_ms")
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _update, _OUT_SCHEMA, _STATE_SCHEMA, "append", "NoTimeout"
        )
    )


def final_stage_counts(emissions: DataFrame) -> DataFrame:
    """Last emission per user -> the 3-row funnel report (same shape
    and integer-ppm math as the batch q_funnel_stages)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_updates"))
    last = (
        emissions.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "v_ms", "c_ms", "p_ms")
    )
    stages = (
        last.filter(F.col("v_ms") >= 0)
        .agg(F.lit("1_view").alias("stage"), F.count("*").alias("n_users"))
        .unionByName(
            last.filter(F.col("c_ms") >= 0).agg(
                F.lit("2_click").alias("stage"), F.count("*").alias("n_users")
            )
        )
        .unionByName(
            last.filter(F.col("p_ms") >= 0).agg(
                F.lit("3_purchase").alias("stage"),
                F.count("*").alias("n_users"),
            )
        )
    )
    wl = Window.orderBy("stage")
    return stages.select(
        "stage",
        "n_users",
        F.coalesce(
            F.floor(F.col("n_users") * 1000000 / F.lag("n_users").over(wl))
            .cast("long"),
            F.lit(1000000),
        ).alias("conv_ppm"),
    )


def run_funnel_stream(
    spark: SparkSession, src_dir: str, schema, name: str
) -> DataFrame:
    """Drain ``src_dir`` through the stateful funnel into a memory
    sink; return the emissions frame."""
    ingest.drain(
        spark,
        funnel_stream(spark, src_dir, schema)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append"),
    )
    return spark.table(name)


def last_per_user(emissions: DataFrame) -> DataFrame:
    """The funnel family's serving monoid: newest emission per user by
    the state-held ``n_updates`` counter (strictly rising per user
    across batches AND query restarts, so argmax is unambiguous and
    refold-idempotent: last(last(A) ∪ last(B)) == last(A ∪ B))."""
    m = emissions.groupBy("user_id").agg(
        F.max(F.struct("n_updates", "v_ms", "c_ms", "p_ms")).alias("s")
    )
    return m.select(
        "user_id",
        F.col("s.n_updates").alias("n_updates"),
        F.col("s.v_ms").alias("v_ms"),
        F.col("s.c_ms").alias("c_ms"),
        F.col("s.p_ms").alias("p_ms"),
    )


def run_funnel_resumable(
    spark: SparkSession, src_dir: str, schema, base: Path
) -> DataFrame:
    """Resumable drain with BOUNDED serving state
    (delta.serve_partials): each micro-batch's emissions fold to
    last-per-user as an epoch partial (<= touched users rows), with a
    persistent checkpoint + state store — the first invocation pays
    the drain, later ones are an empty pass + a fold of the compacted
    partials. Compaction under the last-per-user monoid bounds serving
    at O(users) regardless of how many drains accumulated (an
    append-only emission sink would grow O(users x drains))."""
    return D.serve_partials(
        funnel_stream(spark, src_dir, schema), base, last_per_user, last_per_user
    )
