"""Query registry: maps Qid -> (Spark callable, DuckDB oracle SQL).

Every operator from SURVEY.md §2 registers here; ``__spark_entry__.py``
re-exports. Oracle-less entries (stream-only / non-SQL-expressible)
get a rows-only check from the driver.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_QUERY_MODULES = [
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.cdc",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.relational",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.metrics",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.analytics",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.llm_pipeline",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.streaming_checks",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.logs",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.window_funcs",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.profiling",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.storage",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.corpus_ops",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.extensions",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.training_io",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.advanced_ops",
    "asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.web_frontier",
]

# Registration (= iteration) order for the exported query dict. The
# driver's correctness gate checks a prefix of the registered queries
# (round 1 stopped at 50 of 74), so ordering IS coverage policy: put
# the queries whose verdicts matter most this round first —
# (a) queries whose output changed (the decimal->double/cents sweep),
# (b) the whole LLM-pipeline + streaming block, which registered after
#     the cutoff in round 1 and therefore has no oracle verdict yet.
# Queries not listed here keep registration order after the listed ones;
# all of them still run in bench and pytest regardless.
_CHECK_FIRST = [
    # Round-17 window (50 slots), composed mechanically per
    # tests/test_freshness.py from `python scripts/freshness.py` (the
    # source of truth; this list pins its output). 42 must-haves, then
    # the 8 oldest verdicts.
    # (a) 14 changed-path queries: the r16 scoped-shuffle/AQE change
    #     (functions/dedup._scoped_shuffle_partitions, now also the
    #     doubling loops' scope) and the staged web corpus.
    "q_canonical_pick",
    "q_cluster_leakage",
    "q_cluster_sizes",
    "q_crawl_frontier",
    "q_dedup_yield_by_source",
    "q_hierarchy_depth",
    "q_host_graph",
    "q_label_prop",
    "q_link_rank",
    "q_neardup_clusters",
    "q_pipeline_e2e",
    "q_subtree_rollup",
    "q_takedown_propagation",
    "q_web_corpus_e2e",
    # (b) 28 stream queries: every drain now runs through
    #     streaming/ingest.py::drain (epoch partials through
    #     streaming/delta.py::drain_partials).
    "q_stream_ingest_counts",
    "q_stream_cdc_replay",
    "q_stream_window_counts",
    "q_stream_dedupe",
    "q_stream_sessions",
    "q_stream_stream_join",
    "q_stream_alerts",
    "q_stream_join_view",
    "q_stream_join_view_skew",
    "q_stream_funnel",
    "q_stream_topk",
    "q_stream_late_drops",
    "q_stream_resume",
    "q_stream_dq",
    "q_stream_event_drift",
    "q_stream_transitions",
    "q_stream_scd2",
    "q_stream_delta_agg",
    "q_stream_doc_dedup",
    "q_compact_partials",
    "q_stream_sample",
    "q_stream_manifest",
    "q_stream_pii",
    "q_stream_kmv",
    "q_stream_gapfill",
    "q_stream_trend",
    "q_stream_changepoint",
    "q_stream_host_graph",
    # (c) rotation: the r10 leftover, then r11 in prior iteration
    #     order (the remaining r11 verdicts tie the round inside —
    #     window capacity — and lead the next rotation).
    "q_udaf_median",
    "q_old_image",
    "q_typed_cast",
    "q_filter_cmp",
    "q_arith_update",
    "q_cdc_replay",
    "q_union_variants",
    "q_except_deleted",
]


_loaded = False


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _QUERY_MODULES:
        try:
            importlib.import_module(mod)
        except ModuleNotFoundError as exc:
            # allow partially-built query subpackages during development
            if mod.rsplit(".", 1)[-1] not in str(exc):
                raise
    _reorder()
    _loaded = True


def _reorder() -> None:
    """Rebuild the registries in _CHECK_FIRST-priority order (dicts
    iterate in insertion order, which is what the driver consumes)."""
    rank = {name: i for i, name in enumerate(_CHECK_FIRST)}
    reg_order = {name: i for i, name in enumerate(QUERIES)}
    ordered = sorted(QUERIES, key=lambda n: (rank.get(n, len(rank)), reg_order[n]))
    for registry in (QUERIES, ORACLES):
        items = {n: registry[n] for n in ordered if n in registry}
        registry.clear()
        registry.update(items)
