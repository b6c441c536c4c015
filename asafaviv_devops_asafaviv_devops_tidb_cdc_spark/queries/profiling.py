"""Data-profiling + tokenizer-statistics queries (round 3).

Four operators a large-scale training-data pipeline runs constantly:
adjacent-token pair counts (the BPE-merge statistic), order-of-magnitude
document-length histograms, per-column null/distinct profiling (the
first query anyone runs on a new 100 TB table), and JSON schema-drift
tracking over a semi-structured column. All pure built-in-function
DataFrame code (one shuffle each) with DuckDB oracles.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import ORACLES, register
from ..sources import load_table
from ..streaming import delta as D


@register(
    "q_bigram_counts",
    oracle="""
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
big AS (
  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
         AS bigram
  FROM toks
)
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
FROM big
GROUP BY 1
ORDER BY n DESC, bigram
LIMIT 100
""",
)
def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — adjacent-token pair frequencies: the statistic a BPE/WordPiece
    tokenizer trainer recomputes every merge round. zip_with over two
    shifted slices builds the pair list without a per-element lambda
    join; one shuffle on the pair key with map-side partial aggregation,
    then a deterministic (n DESC, bigram) top-100 — at 100 TB the
    groupBy is the canonical word-count shape and the top-k is
    TakeOrderedAndProject, never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("t"))
    big = toks.select(
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), "
                "(a, b) -> concat(a, ' ', b))"
            )
        ).alias("bigram")
    )
    return (
        big.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(100)
    )


@register(
    "q_doc_len_histogram",
    oracle="""
SELECT CAST(length(CAST(len(string_split(text, ' ')) AS VARCHAR)) AS INTEGER)
         AS magnitude,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
FROM documents
GROUP BY 1
""",
)
def q_doc_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — document-length histogram in decimal orders of magnitude
    (bucket = digit count of the token count: 1-9, 10-99, ...). The
    bucket function is pure integer/string arithmetic so it is
    bit-identical cross-engine — floor(log10(x)) would hit libm
    rounding at bucket edges. Map-side partial agg, one tiny shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    n_toks = F.size(F.split("text", " "))
    return (
        docs.select(
            F.length(n_toks.cast("string")).cast("int").alias("magnitude"),
            n_toks.alias("n_toks"),
        )
        .groupBy("magnitude")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
        )
    )


_PROFILE_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


@register(
    "q_null_profile",
    oracle="\nUNION ALL\n".join(
        f"""
SELECT '{c}' AS col_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
FROM events"""
        for c in _PROFILE_COLS
    ),
)
def q_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — row/null/distinct counts for every column in
    one pass: the first query anyone runs against a new 100 TB table.
    Implemented as a single unpivot (explode of (col, value-string)
    structs — one scan, no per-column job) + one groupBy. Values are
    cast to string only as a distinct-count carrier: both engines' casts
    are injective, so the count is exact even though the rendered
    strings differ cross-engine. At scale swap COUNT(DISTINCT) for
    approx_count_distinct — declared, not silently done, because the
    oracle pins exact counts."""
    ev = load_table(spark, sf_dir, "events")
    kv = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in _PROFILE_COLS
                ]
            )
        ).alias("kv")
    ).select("kv.*")
    return kv.groupBy("col_name").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null"),
        F.count_distinct("v").alias("n_distinct"),
    )


@register(
    "q_key_skew",
    oracle="""
WITH per_key AS (
  SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1
),
stats AS (
  SELECT MAX(n) AS max_n, COUNT(*) AS n_keys, SUM(n) AS n_rows FROM per_key
)
SELECT p.user_id, CAST(p.n AS BIGINT) AS n,
       CAST(p.n * s.n_keys * 1000000 // s.n_rows AS BIGINT) AS skew_x1m
FROM per_key p, stats s
ORDER BY p.n DESC, p.user_id
LIMIT 10
""",
)
def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics: the top-10 heaviest keys and their
    skew factor (key count / mean count, integer 1e-6 units) — the
    query you run BEFORE choosing a salting factor or trusting AQE's
    skew-join split on a 100 TB join. One groupBy shuffle, a broadcast
    single-row stats side, TakeOrderedAndProject top-k."""
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    stats = per_key.agg(
        F.count("*").alias("n_keys"), F.sum("n").alias("n_rows")
    )
    return (
        per_key.join(F.broadcast(stats))
        .select(
            "user_id",
            F.col("n").cast("long").alias("n"),
            F.expr("n * n_keys * 1000000 div n_rows").cast("long").alias("skew_x1m"),
        )
        .orderBy(F.desc("n"), "user_id")
        .limit(10)
    )


@register(
    "q_schema_drift",
    oracle="""
WITH k AS (
  SELECT CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day_num,
         unnest(json_keys(props)) AS key
  FROM events
)
SELECT day_num, key, CAST(COUNT(*) AS BIGINT) AS n
FROM k
GROUP BY 1, 2
""",
)
def q_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift tracking over a semi-structured column: which JSON
    keys appear per day, and how often. New keys showing up (or old
    ones vanishing) between days is how upstream producer changes get
    caught before they corrupt a typed view. json_object_keys is
    JVM-side; one shuffle on (day, key)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.expr("unix_millis(ts) div 86400000").cast("long").alias("day_num"),
            F.explode(F.json_object_keys("props")).alias("key"),
        )
        .groupBy("day_num", "key")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_vocab_growth",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
big AS (
  SELECT doc_id, unnest(list_transform(range(1, len(t)),
                        i -> t[i] || ' ' || t[i+1])) AS tok
  FROM toks
),
first_occ AS (SELECT tok, MIN(doc_id) AS fd FROM big GROUP BY 1),
mx AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
bucketed AS (
  SELECT least(9, fd * 10 // (SELECT n FROM mx)) AS decile
  FROM first_occ
),
per AS (
  SELECT CAST(decile AS INTEGER) AS decile,
         CAST(COUNT(*) AS BIGINT) AS new_tokens
  FROM bucketed GROUP BY 1
)
SELECT decile, new_tokens,
       CAST(SUM(new_tokens) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS vocab_cum
FROM per
""",
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4c — vocabulary growth (Heaps'-law curve): how many NEW
    distinct token BIGRAMS each tenth of the corpus contributes (the
    unigram vocabulary saturates instantly on any large corpus —
    n-gram growth is the curve that still moves), plus the
    cumulative vocabulary size — the statistic that decides tokenizer
    vocab budgets and flags corpus drift (a flat tail means the
    vocabulary saturated; a spiking decile means a new domain landed).
    First occurrence = min doc_id per token: one shuffle on the token
    key with map-side partial MIN, then a 10-row cumulative window —
    at 100 TB the token agg is the word-count shape and everything
    after is O(10)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    big = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), "
                "(a, b) -> concat(a, ' ', b))"
            )
        ).alias("tok"),
    )
    first_occ = big.groupBy("tok").agg(F.min("doc_id").alias("fd"))
    n = docs.agg((F.max("doc_id") + 1).alias("n"))
    bucketed = first_occ.crossJoin(F.broadcast(n)).select(
        F.least(F.lit(9), F.expr("fd * 10 div n")).cast("int").alias("decile")
    )
    per = bucketed.groupBy("decile").agg(F.count("*").alias("new_tokens"))
    from pyspark.sql import Window as W

    cum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return per.select(
        "decile",
        "new_tokens",
        F.sum("new_tokens").over(cum).cast("long").alias("vocab_cum"),
    )


# Declarative DQ constraint suite over the star schema (rules as data,
# functions/dq.py). Mixed by design: checks that must pass (0
# violations) prove the clean path; checks with known-nonzero counts
# (multi-line orders, high quantities, non-browse event types) prove
# the COUNTING, so a broken evaluator cannot hide behind all-zeros.
DQ_CHECKS = [
    {"id": "nn_l_orderkey", "table": "lineitem", "kind": "not_null",
     "column": "l_orderkey"},
    {"id": "av_returnflag", "table": "lineitem", "kind": "accepted_values",
     "column": "l_returnflag", "values": ["A", "N", "R"]},
    {"id": "rng_quantity_25", "table": "lineitem", "kind": "range",
     "column": "l_quantity", "lo": 1, "hi": 25},
    {"id": "av_event_type", "table": "events", "kind": "accepted_values",
     "column": "event_type", "values": ["click", "view", "purchase"]},
    {"id": "rng_o_total", "table": "orders", "kind": "range",
     "column": "o_totalprice", "lo": 0, "hi": 1e9},
    {"id": "uq_o_orderkey", "table": "orders", "kind": "unique",
     "columns": ["o_orderkey"]},
    {"id": "uq_line_per_order", "table": "lineitem", "kind": "unique",
     "columns": ["l_orderkey"]},
    {"id": "fk_line_order", "table": "lineitem", "kind": "foreign_key",
     "column": "l_orderkey", "parent_table": "orders",
     "parent_column": "o_orderkey"},
    {"id": "fk_order_cust", "table": "orders", "kind": "foreign_key",
     "column": "o_custkey", "parent_table": "customer",
     "parent_column": "c_custkey"},
]


@register(
    "q_dq_checks",
    oracle="""
SELECT 'nn_l_orderkey' AS check_id, 'lineitem' AS table_name,
       CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS violations FROM lineitem
UNION ALL
SELECT 'av_returnflag', 'lineitem',
       CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R')
                       OR l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'rng_quantity_25', 'lineitem',
       CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 25
                       OR l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'av_event_type', 'events',
       CAST(SUM(CASE WHEN event_type NOT IN ('click','view','purchase')
                       OR event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'rng_o_total', 'orders',
       CAST(SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 1000000000
                       OR o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'uq_o_orderkey', 'orders',
       CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey)
UNION ALL
SELECT 'uq_line_per_order', 'lineitem',
       CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
FROM (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_orderkey)
UNION ALL
SELECT 'fk_line_order', 'lineitem',
       CAST(COUNT(*) AS BIGINT)
FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
  ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IS NULL
UNION ALL
SELECT 'fk_order_cust', 'orders',
       CAST(COUNT(*) AS BIGINT)
FROM orders d LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
  ON d.o_custkey = c.c_custkey
WHERE c.c_custkey IS NULL
""",
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governance — a declarative DATA-QUALITY constraint suite
    (functions/dq.py): the whole rule list compiles into the minimum
    pass count — all row-level rules on a table fold into ONE
    conditional-sum aggregation over ONE scan (3 lineitem rules = 1
    lineitem scan), uniqueness is one keyed agg per key set,
    referential integrity one anti-join per edge with the parent side
    reduced to distinct keys. The oracle re-derives every rule as
    standalone SQL, so both the folding and each count are
    hash-checked. This is the Deequ-shaped operator every 100 TB
    training-data pipeline runs before shipping a corpus snapshot."""
    from ..functions.dq import evaluate_checks

    tables = {
        t: load_table(spark, sf_dir, t)
        for t in ("lineitem", "orders", "customer", "events")
    }
    return evaluate_checks(tables, DQ_CHECKS)


STREAM_DQ_CHECKS = [
    {"id": "av_event_type", "table": "events", "kind": "accepted_values",
     "column": "event_type", "values": ["click", "view", "purchase"]},
    {"id": "rng_value", "table": "events", "kind": "range",
     "column": "value", "lo": 0, "hi": 250},
    {"id": "nn_props", "table": "events", "kind": "not_null",
     "column": "props"},
]


def _dq_partial(checks: list[dict]):
    """Batch fold of the stream DQ monitor: one (check_id, violations)
    row per check per micro-batch. Only row-level kinds qualify: a
    not_null / accepted_values / range violation is a property of one
    row, so per-batch counts are SUM-DECOMPOSABLE (see _dq_fold).
    Uniqueness and referential integrity compare rows ACROSS batches —
    per-batch counts would miss a duplicate split over two batches — so
    they run against the serving state table per compaction, and are
    refused here, before any stream starts."""
    from ..functions.dq import _ROW_KINDS, _row_predicate

    bad = [c["id"] for c in checks if c["kind"] not in _ROW_KINDS]
    if bad:
        raise ValueError(
            f"stream DQ accepts only row-level kinds; not decomposable: {bad}"
        )

    def fold(batch: DataFrame) -> DataFrame:
        wide = batch.agg(
            *[
                F.sum(F.when(_row_predicate(ch), 1).otherwise(0))
                .cast("long")
                .alias(ch["id"])
                for ch in checks
            ]
        )
        stack = ", ".join(f"'{ch['id']}', {ch['id']}" for ch in checks)
        return wide.selectExpr(
            f"stack({len(checks)}, {stack}) AS (check_id, violations)"
        )

    return fold


def _dq_fold(parts: DataFrame) -> DataFrame:
    """Per-check violation totals: row-level counts add up by check."""
    return D.fold_generic(parts, ["check_id"], ["violations"])


@register(
    "q_stream_dq",
    oracle="""
SELECT 'av_event_type' AS check_id,
       CAST(SUM(CASE WHEN event_type NOT IN ('click','view','purchase')
                       OR event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS violations
FROM events
UNION ALL
SELECT 'rng_value',
       CAST(SUM(CASE WHEN value < 0 OR value > 250
                       OR value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'nn_props',
       CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM events
""",
)
def q_stream_dq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governance stream form — row-level DQ checks maintained by a
    REAL Structured Streaming query (delta.serve_partials over
    _dq_partial / _dq_fold): each micro-batch folds its violation
    counts into an idempotent epoch partial; serving sums the
    partials. Row-level violations are
    sum-decomposable, so the STREAMED totals hash-match the batch SQL
    oracle exactly — stream/batch equivalence for the DQ family (the
    monitor a 100 TB ingest runs to catch a poisoned source within one
    micro-batch instead of at the nightly scan). Non-decomposable
    kinds (unique/FK) are refused by the stream evaluator by design."""
    from ..streaming.ingest import events_landing_stream, resumable_workdir

    base = resumable_workdir(sf_dir, "events", "dq", "dq-v2")
    return D.serve_partials(
        events_landing_stream(spark, sf_dir),
        base,
        _dq_partial(STREAM_DQ_CHECKS),
        _dq_fold,
    )


@register(
    "q_event_drift",
    oracle="""
WITH e AS (
  SELECT CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day_num, event_type
  FROM events),
obs AS (
  SELECT day_num, event_type, CAST(COUNT(*) AS BIGINT) AS o
  FROM e GROUP BY 1, 2),
days AS (SELECT day_num, CAST(SUM(o) AS BIGINT) AS d_tot FROM obs GROUP BY 1),
overall AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM e GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_tot FROM e),
types AS (
  SELECT event_type, CAST(n_t * 1000000 // t_tot AS BIGINT) AS ppm_g
  FROM overall, tot),
j AS (
  SELECT g.day_num,
         COALESCE(o.o, 0) * 1000000 // g.d_tot - t.ppm_g AS dev
  FROM days g
  CROSS JOIN types t
  LEFT JOIN obs o ON o.day_num = g.day_num AND o.event_type = t.event_type)
SELECT day_num,
       CAST(SUM(dev * dev) AS BIGINT) AS l2_ppm2,
       SUM(dev * dev) > 2000000000 AS drifted
FROM j
GROUP BY 1
""",
)
def q_event_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift census: per-day event-type mix compared to
    the corpus-wide mix as a squared-ppm L2 distance — the monitoring
    a training-data pipeline runs on every new ingest day (schema
    drift is q_schema_drift; this is DISTRIBUTION drift). All exact
    integer math: per-day shares and global shares in ppm (floor
    division over non-negative counts), deviation squared and summed —
    engine-identical, no floats. The day x type grid is built
    explicitly (days crossJoin broadcast type-shares) so a type absent
    on a day contributes its full global share to the distance instead
    of silently vanishing. Scale: one (day, type) aggregation over the
    events scan; everything after operates on frames bounded by
    n_days x n_types."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("unix_millis(ts) div 86400000").cast("long").alias("day_num"),
        "event_type",
    )
    obs = ev.groupBy("day_num", "event_type").agg(
        F.count("*").cast("long").alias("o")
    )
    return drift_census(obs)


def drift_census(obs: DataFrame) -> DataFrame:
    """The drift census over a (day_num, event_type, o) count frame —
    shared verbatim by the batch query and the streaming monitor
    (whose folded per-epoch partials sum to the identical obs frame),
    so the streamed result hash-matches the batch oracle by
    construction. Global shares derive from obs (sum-decomposable),
    so no second scan of the raw events."""
    days = obs.groupBy("day_num").agg(F.sum("o").cast("long").alias("d_tot"))
    overall = obs.groupBy("event_type").agg(F.sum("o").cast("long").alias("n_t"))
    tot = overall.agg(F.sum("n_t").cast("long").alias("t_tot"))
    types = overall.crossJoin(F.broadcast(tot)).select(
        "event_type", F.expr("n_t * 1000000 div t_tot").cast("long").alias("ppm_g")
    )
    grid = days.crossJoin(F.broadcast(types))
    j = grid.join(obs, ["day_num", "event_type"], "left").select(
        "day_num",
        (
            F.expr("coalesce(o, 0) * 1000000 div d_tot").cast("long")
            - F.col("ppm_g")
        ).alias("dev"),
    )
    return j.groupBy("day_num").agg(
        F.sum(F.col("dev") * F.col("dev")).cast("long").alias("l2_ppm2"),
        (F.sum(F.col("dev") * F.col("dev")) > 2000000000).alias("drifted"),
    )


def _drift_partial(ev: DataFrame) -> DataFrame:
    """Per-(day_num, event_type) event counts of one micro-batch — the
    obs frame q_event_drift aggregates, folded by _drift_fold."""
    return (
        ev.select(
            F.expr("unix_millis(ts) div 86400000").cast("long").alias("day_num"),
            "event_type",
        )
        .groupBy("day_num", "event_type")
        .agg(F.count("*").cast("long").alias("o"))
    )


def _drift_fold(parts: DataFrame) -> DataFrame:
    """Counts are SUM-DECOMPOSABLE: every event lands in exactly one
    micro-batch, so per-batch (day, type) counts add up to the batch
    obs frame. State is one row per (day, type) key, never per event."""
    return D.fold_generic(parts, ["day_num", "event_type"], ["o"])


@register("q_stream_event_drift", oracle=None)  # batch oracle attached below
def q_stream_event_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift STREAM TWIN: per-micro-batch (day, type)
    counts folded into epoch partials (streaming/delta.py::
    serve_partials; counts are sum-decomposable, so the partials add
    up to the batch counts); serving
    sums the partials into the obs frame and runs the SAME
    drift_census as the batch query, so the streamed result
    hash-matches the batch SQL oracle exactly. This is how the
    monitor actually deploys at 100 TB: drift flagged within one
    micro-batch of a source going bad, with per-epoch state ONE tiny
    row per (day, type) seen in that batch — state size tracks the
    key grid, not the event volume."""
    from ..streaming.ingest import events_landing_stream, resumable_workdir

    base = resumable_workdir(sf_dir, "events", "drift", "drift-v2")
    obs = D.serve_partials(
        events_landing_stream(spark, sf_dir), base, _drift_partial, _drift_fold
    )
    return drift_census(obs)


# the stream twin folds to the identical obs frame, so the batch SQL
# IS its oracle (same contract as q_stream_delta_agg / q_delta_agg)
ORACLES["q_stream_event_drift"] = ORACLES["q_event_drift"]


# ---------------------------------------------------------------------------
# X22 — optimizer-statistics collection (ANALYZE TABLE; round 6)
# ---------------------------------------------------------------------------

_STATS_COLS_SQL = """
  SELECT 'l_orderkey' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) - COUNT(l_orderkey) AS BIGINT) AS n_nulls,
         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS ndv,
         CAST(MIN(l_orderkey) AS VARCHAR) AS min_str,
         CAST(MAX(l_orderkey) AS VARCHAR) AS max_str
  FROM lineitem
  UNION ALL
  SELECT 'l_partkey', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(l_partkey) AS BIGINT),
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT),
         CAST(MIN(l_partkey) AS VARCHAR), CAST(MAX(l_partkey) AS VARCHAR)
  FROM lineitem
  UNION ALL
  SELECT 'l_linenumber', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(l_linenumber) AS BIGINT),
         CAST(COUNT(DISTINCT l_linenumber) AS BIGINT),
         CAST(MIN(l_linenumber) AS VARCHAR), CAST(MAX(l_linenumber) AS VARCHAR)
  FROM lineitem
  UNION ALL
  SELECT 'l_quantity', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT),
         CAST(COUNT(DISTINCT CAST(l_quantity AS BIGINT)) AS BIGINT),
         CAST(MIN(CAST(l_quantity AS BIGINT)) AS VARCHAR),
         CAST(MAX(CAST(l_quantity AS BIGINT)) AS VARCHAR)
  FROM lineitem
  UNION ALL
  SELECT 'l_returnflag', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT),
         CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
         CAST(MIN(l_returnflag) AS VARCHAR), CAST(MAX(l_returnflag) AS VARCHAR)
  FROM lineitem
  UNION ALL
  SELECT 'l_shipdate', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(l_shipdate) AS BIGINT),
         CAST(COUNT(DISTINCT CAST(l_shipdate AS DATE)) AS BIGINT),
         CAST(MIN(CAST(l_shipdate AS DATE)) AS VARCHAR),
         CAST(MAX(CAST(l_shipdate AS DATE)) AS VARCHAR)
  FROM lineitem
"""


@register("q_table_stats", oracle=_STATS_COLS_SQL)
def q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X22 — ANALYZE-style optimizer statistics: per-column row count,
    null count, exact NDV and min/max for the fact table — the stats a
    cost-based optimizer (and every capacity-planning spreadsheet)
    feeds on, computed as a query so they are versionable and
    hash-checkable. One SINGLE-COLUMN scan per statistic row: each leg
    reads exactly one column off parquet (column pruning makes stats
    collection O(columns-you-ask-for), not O(table width) — the
    reason ANALYZE on a 100 TB table lists columns). Doubles stay out
    of the compared output (quantity is integral by construction and
    cast; dates land as ISO strings), per the house cross-engine
    rules."""
    li = load_table(spark, sf_dir, "lineitem")

    def stat(name: str, c) -> DataFrame:
        return (
            li.select(c.alias("c"))
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                (F.count("*") - F.count("c")).cast("long").alias("n_nulls"),
                F.countDistinct("c").cast("long").alias("ndv"),
                F.min("c").cast("string").alias("min_str"),
                F.max("c").cast("string").alias("max_str"),
            )
            .select(
                F.lit(name).alias("column_name"),
                "n_rows",
                "n_nulls",
                "ndv",
                "min_str",
                "max_str",
            )
        )

    legs = [
        stat("l_orderkey", F.col("l_orderkey")),
        stat("l_partkey", F.col("l_partkey")),
        stat("l_linenumber", F.col("l_linenumber")),
        stat("l_quantity", F.col("l_quantity").cast("long")),
        stat("l_returnflag", F.col("l_returnflag")),
        stat("l_shipdate", F.col("l_shipdate").cast("date")),
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


# ---------------------------------------------------------------------------
# X23 — user-journey transition census (Markov matrix; round 6)
# ---------------------------------------------------------------------------

@register(
    "q_event_transitions",
    oracle="""
WITH t AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events),
c AS (
  SELECT event_type AS from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM t WHERE to_type IS NOT NULL
  GROUP BY 1, 2),
s AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1)
SELECT c.from_type, c.to_type, c.n,
       CAST(c.n * 1000000 // s.tot AS BIGINT) AS share_ppm
FROM c JOIN s USING (from_type)
""",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X23 — user-journey transition census: for every consecutive
    pair of events per user (ordered by event time, event_id
    tie-break), count (from_type -> to_type) and its within-row share
    in exact integer ppm — the empirical Markov transition matrix
    behind funnel design, next-action prediction features, and bot
    detection (a user whose transitions concentrate on one edge is a
    script). Plan: ONE window partitioned by user (fully parallel —
    per-user sequences never cross tasks), then aggregation on the
    tiny (type x type) grid; the row-share join is against that
    bounded grid, never the event stream. The funnel (W11) is a path
    query over three fixed stages; this is the full first-order graph
    it generalizes."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    c = t.groupBy(
        F.col("event_type").alias("from_type"), "to_type"
    ).agg(F.count("*").cast("long").alias("n"))
    return transition_report(c)


def transition_report(c: DataFrame) -> DataFrame:
    """The census assembly over a (from_type, to_type, n) count frame —
    shared verbatim by the batch query and the streaming monitor
    (whose per-user recomputed pair partials aggregate to the
    identical count frame), so the streamed matrix hash-matches the
    batch oracle by construction. Everything after the counts runs on
    the bounded type x type grid."""
    s = c.groupBy("from_type").agg(F.sum("n").cast("long").alias("tot"))
    return (
        c.join(F.broadcast(s), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.expr("n * 1000000 div tot").cast("long").alias("share_ppm"),
        )
    )


@register("q_stream_transitions", oracle=None)  # batch oracle below
def q_stream_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X23b — transition census STREAM TWIN with per-user HISTORY
    state: consecutive-pair semantics are NON-monotone under
    out-of-order arrival (a late event inserts BETWEEN two already-
    seen events and rewires two pairs), so a running last-event scalar
    is wrong — the correct state is the per-user event history with
    each arriving event BISECTED into it (the streaming/funnel.py
    argument; state is bounded by a user's own activity, never the
    stream's length). Emission is the splice's pair-count DELTAS — a
    late insert rewires at most one pair into two, i.e. <= 3
    (from,to) increments per event — so cumulative emission is
    O(events), not O(batches x history) (the round-6 verdict flag).
    Serving SUMs the deltas and aggregates with the SAME
    transition_report as the batch query — hash-identical to the
    batch SQL oracle over interleaved out-of-order micro-batches."""
    from ..sources.artifact import input_fingerprint, materialized_path
    from ..streaming import transitions as ST
    from ..streaming.ingest import resumable_workdir

    ev = load_table(spark, sf_dir, "events")
    # interleave users across files so per-user history accretes over
    # MULTIPLE micro-batches (the order-independence being proven)
    src = materialized_path(
        "events_transitions_src",
        input_fingerprint(sf_dir, "events", "transitions-src-v1"),
        lambda dest: ev.select("user_id", "event_id", "ts", "event_type")
        .repartition(6)
        .write.mode("overwrite")
        .parquet(dest),
    )
    # resumable: the first call drains the 6 interleaved micro-batches
    # through the history state; later calls are an empty drain + a
    # fold of the compacted grid partials (bump the version on any
    # splice-fold change)
    base = resumable_workdir(sf_dir, "events", "transitions", "trans-v3")
    counts = ST.run_transitions_resumable(
        spark,
        src,
        "user_id bigint, event_id bigint, ts timestamp, event_type string",
        base,
    )
    return transition_report(counts)


# the per-user recomputed pairs aggregate to the identical count
# frame, so the batch SQL IS the twin's oracle
ORACLES["q_stream_transitions"] = ORACLES["q_event_transitions"]
