"""The three workloads. Each is one closed-loop client: it issues the
next call only after the previous one returned, until ``run.seconds``
have passed (the call running at the deadline finishes).

Every timed call is one attempted operation. Output checks run outside
the timed region; an operation fails if it raises or its output check
fails.

Each workload fills ``run.e2e`` with the end-to-end metrics every
workload reports (``items_per_s``, ``op_p50_ms``) and ``run.layer`` with
its layers' counters.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from pathlib import Path

from pyspark.sql import functions as F

from asafaviv_devops_asafaviv_devops_tidb_cdc_spark import registry
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions import dedup
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.operators import parse
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import event_sink
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import ingest, merge

import gen
from tracing import StatePoller, layer_counters

# Sizes keep one run (set-up, generation, warm-up, the measured loop,
# checks) near 40-50 s on 4 cores, so 70 runs fit in under an hour.
# Every operation here is bound by per-job and per-micro-batch fixed
# cost, so larger inputs would mostly add time, not signal.
CDC_ENVELOPES = 12_000
# At the package's defaults the ingest stream reads 8 files per trigger
# and the merge stream 2, so each merge drain makes 6 micro-batches.
CDC_FILES = 12
EVENTS_ROWS = 5_000
CORPUS_DOCS = 2_000
MIN_RECALL = 0.8  # about 0.95 at the parent; seed-to-seed sd is ~0.015 at 200 pairs
MIX_EXCLUDED = {"q_grouping_sets"}  # registers views over all ten tables
MIX_MODULES = ("queries.cdc", "queries.metrics")
# the mix queries that run operators.parse over the raw envelopes
LIVE_PARSE = ("q_status_counts", "q_validate_events", "q_parse_envelope")


def _dir_stats(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def _timed(run, name: str, fn):
    """Run one operation under a span; returns (seconds, result) or
    (seconds, None) after recording the failure."""
    run.attempted += 1
    t0 = time.perf_counter()
    try:
        with run.tracer.span(name):
            out = fn()
    except Exception:
        run.fail(name, traceback.format_exc())
        out = None
    dt = time.perf_counter() - t0
    if not name.startswith("query."):
        run.log(f"{name} {dt:.2f}s")
    return dt, out


def _phase_p50(batches: list[dict], phase: str) -> float:
    vals = [b["durationMs"].get(phase, 0) for b in batches]
    return statistics.median(vals) if vals else 0.0


# --------------------------------------------------------------- cdc_stream


def cdc_stream(run) -> None:
    spark, listener = run.spark, run.listener
    backlog = run.inputs / "backlog"
    sizes, expected = gen.write_backlog(backlog, run.seed, CDC_ENVELOPES, CDC_FILES)
    warm = run.inputs / "backlog_warm"
    gen.write_backlog(warm, run.seed + 1, CDC_ENVELOPES // 16, 2)
    run.sizes.update(sizes)
    rows = sizes["backlog.sink_rows"]  # the merge folds the same rows
    work = run.work

    def drain_ingest(src):
        ingest.run_ingest(spark, str(src), str(work / "sink"), str(work / "ingest_ckpt"))

    def drain_merge(src):
        merge.run_replay_stream(spark, str(src), str(work / "state"), str(work / "merge_ckpt"))

    for kind, fn in (("ingest", drain_ingest), ("merge", drain_merge)):
        before = listener.run_ids()  # untimed: JIT and Python workers warm up
        t = time.perf_counter()
        fn(warm)
        run.log(f"warmup.{kind} {time.perf_counter() - t:.2f}s")
        listener.wait_new(before)

    ingest_s, merge_s, merge_batches, ingest_batches = [], [], [], []
    state_polls = []
    deadline = time.perf_counter() + run.seconds
    i = 0
    while i < 2 or time.perf_counter() < deadline:
        kind = "ingest" if i % 2 == 0 else "merge"
        i += 1
        before = listener.run_ids()
        poller = StatePoller(work / "state") if run.tracer.enabled and kind == "merge" else None
        fn = drain_ingest if kind == "ingest" else drain_merge
        dt, ok = _timed(run, f"{kind}.drain", lambda: (fn(backlog), True)[1])
        if poller:
            state_polls.append(poller.stop())
            run.tracer.cost_s += poller.cpu_s
        try:
            batches = listener.wait_new(before)
        except TimeoutError:
            batches = []
        if ok is None:
            continue
        if run.tracer.enabled:
            run.tracer.link(_new_run_id(listener, before))
        if kind == "ingest":
            if _check_sink(run, expected["sink_counts"]):
                ingest_s.append(dt)
                ingest_batches.append(batches)
        else:
            if _check_state(run, expected["live_state"]):
                merge_s.append(dt)
                merge_batches.append(batches)

    if not ingest_s or not merge_s:
        return
    t_ing, t_mrg = statistics.median(ingest_s), statistics.median(merge_s)
    trig = [b["durationMs"]["triggerExecution"] for d in merge_batches for b in d]
    run.e2e.update(items_per_s=2 * rows / (t_ing + t_mrg), op_p50_ms=statistics.median(trig))
    lay = run.layer
    lay["ingest.rows_per_s"] = rows / t_ing
    lay["merge.rows_per_s"] = rows / t_mrg
    last_ing, last_mrg = ingest_batches[-1], merge_batches[-1]
    all_ing = [b for d in ingest_batches for b in d]
    all_mrg = [b for d in merge_batches for b in d]
    lay["ingest.batches"] = len(last_ing)
    for ph in ("triggerExecution", "addBatch", "queryPlanning", "walCommit",
               "commitOffsets", "latestOffset"):
        short = "trigger" if ph == "triggerExecution" else ph
        lay[f"ingest.{short}_ms_p50"] = _phase_p50(all_ing, ph)
        if ph not in ("commitOffsets", "latestOffset"):
            lay[f"merge.{short}_ms_p50"] = _phase_p50(all_mrg, ph)
    ops = [s for b in last_ing for s in b["stateOperators"]]
    lay["ingest.state_rows"] = ops[-1]["numRowsTotal"] if ops else 0
    lay["ingest.state_bytes"] = ops[-1]["memoryUsedBytes"] if ops else 0
    lay["ingest.duplicates_dropped"] = sum(
        s["customMetrics"].get("numDroppedDuplicateRows", 0) for s in ops
    )
    lay["ingest.late_rows_dropped"] = sum(s["numRowsDroppedByWatermark"] for s in ops)
    lay["ingest.sink_files"], lay["ingest.sink_bytes"] = _dir_stats(work / "sink")
    lay["merge.batches"] = len(last_mrg)
    lay["merge.state_rows_live"] = len(expected["live_state"])
    if state_polls:
        versions = state_polls[-1]
        n = max(1, len(last_mrg))
        lay["merge.buckets_touched_per_batch"] = len(versions) / n
        lay["merge.state_bytes_written_per_batch"] = sum(v[0] for v in versions.values()) / n
        lay["merge.rewrite_ratio"] = sum(v[1] for v in versions.values()) / rows


def _new_run_id(listener, before: set[str]) -> str:
    (rid,) = listener.run_ids() - before
    return rid


def _check_sink(run, expected: dict) -> bool:
    got = {
        (r["table_name"], r["operation"]): r["n"]
        for r in run.spark.read.parquet(str(run.work / "sink"))
        .groupBy("table_name", "operation")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    if got != expected:
        run.fail("ingest.check", f"sink counts {got} != expected {expected}")
        return False
    return True


def _check_state(run, expected: dict) -> bool:
    state = merge.live_state(merge.read_state(run.spark, str(run.work / "state")))
    got = {
        (r["table_name"], r["user_id"]): (r["row_id"], r["value"], r["operation"])
        for r in state.select("table_name", "user_id", "row_id", "value", "operation").collect()
    }
    if got != expected:
        diff = len(set(got.items()) ^ set(expected.items()))
        run.fail("merge.check", f"live state differs from LWW replay in {diff} keys")
        return False
    return True


# ---------------------------------------------------------- dashboard_reads


def mix_names() -> list[str]:
    pkg = registry.__name__.rsplit(".", 1)[0]
    mods = {f"{pkg}.{m}" for m in MIX_MODULES}
    return [
        n for n, fn in registry.QUERIES.items()
        if fn.__module__ in mods and n not in MIX_EXCLUDED
    ]


def dashboard_reads(run) -> None:
    spark = run.spark
    events_dir = run.inputs / "events"
    run.sizes.update(gen.write_events(events_dir, run.seed, EVENTS_ROWS))
    names = mix_names()
    run.sizes["mix.queries"] = len(names)
    lay = run.layer

    def sink_call():
        return event_sink.normalized_sink(spark, str(events_dir)).count()

    def mix_pass(per_query: dict, results: dict) -> None:
        # Each query is evaluated in full and its result collected, as
        # a dashboard panel consumes it; results are checked afterwards.
        for n in names:
            dt, out = _timed(
                run, f"query.{n}", lambda: registry.QUERIES[n](spark, str(events_dir)).toPandas()
            )
            per_query[n].append(dt)
            results[n].append(out)

    # No warm-up: the first sink build and the first pass of the mix are
    # timed, as a dashboard loads right after new data lands. (A warm-up
    # pass would cost as much as the timed one.)
    sink_root = run.work / "sink"  # fresh: the first call builds
    os.environ[event_sink.SINK_ROOT_ENV] = str(sink_root)
    lay["event_sink.build_s"] = _timed(run, "event_sink.build", sink_call)[0]
    lay["event_sink.serve_s"] = _timed(run, "event_sink.serve", sink_call)[0]
    lay["event_sink.files"], lay["event_sink.bytes"] = _dir_stats(sink_root)

    per_query: dict[str, list[float]] = {n: [] for n in names}
    results: dict[str, list] = {n: [] for n in names}
    passes = 0
    t_start = time.perf_counter()
    deadline = t_start + run.seconds
    while passes == 0 or time.perf_counter() < deadline:  # whole passes only
        mix_pass(per_query, results)
        passes += 1
    wall = time.perf_counter() - t_start
    run.log(f"mix {passes} passes {wall:.2f}s")

    bad = _check_mix(run, results, events_dir)
    lat = [dt * 1000 for n in names if n not in bad for dt in per_query[n]]
    lay["queries.passes"] = passes
    for n in names:
        lay[f"query.{n}.ms"] = statistics.median(per_query[n]) * 1000
    lay["parse.mix_share"] = sum(sum(per_query[n]) for n in LIVE_PARSE) / sum(
        sum(t) for t in per_query.values()
    )
    if lat:
        run.e2e.update(items_per_s=len(lat) / wall, op_p50_ms=statistics.median(lat))
    if run.tracer.enabled:
        run.after_stop.append(lambda groups: _mix_layers(run, groups, passes))
        run.probe = lambda: _parse_probe(run)


def _mix_layers(run, groups, passes):
    c = layer_counters([s for s in run.tracer.spans if s["name"].startswith("query.")], groups)
    per = max(1, passes)
    lay = run.layer
    lay["queries.jobs"] = c.get("jobs", 0) / per
    lay["queries.stages"] = c.get("stages", 0) / per
    lay["queries.tasks"] = c.get("tasks", 0) / per
    lay["queries.driver_only_ms"] = c.get("driver_only_ms", 0) / per
    lay["queries.executor_run_ms"] = c.get("run_ms", 0) / per
    lay["queries.executor_cpu_ms"] = c.get("cpu_ms", 0) / per
    lay["queries.shuffle_bytes"] = c.get("shuffle_write_bytes", 0) / per
    lay["queries.spill_bytes"] = c.get("spill_bytes", 0) / per


def _parse_probe(run) -> None:
    """``operators.parse`` alone: the benchmark's own canal-json read
    as a batch through ``normalized_events``, written to noop."""
    spark = run.spark
    src = run.inputs / "parse_backlog"
    gen.write_backlog(src, run.seed, CDC_ENVELOPES, 4)
    raw = spark.read.schema(ingest.SOURCE_SCHEMA).json(str(src))
    times = []
    for _ in range(3):
        dt, _ = _timed(
            run,
            "parse.batch",
            lambda: parse.normalized_events(raw).write.format("noop").mode("overwrite").save(),
        )
        times.append(dt)
    v = parse.validate_envelopes(parse.parse_envelopes(raw))
    counts = {r["status"]: r["n"] for r in v.groupBy("status").agg(F.count("*").alias("n")).collect()}
    n_env = sum(counts.values())
    n_rows = parse.normalized_events(raw).count()
    ok = counts.get(parse.STATUS_SUCCESS, 0)
    lay = run.layer
    lay["parse.rows_per_s"] = n_rows / statistics.median(times)
    lay["parse.explode_ratio"] = n_rows / ok if ok else 0.0
    lay["parse.error_share"] = counts.get(parse.STATUS_ERROR, 0) / n_env
    lay["parse.invalid_share"] = counts.get(parse.STATUS_INVALID, 0) / n_env


def _norm_frame(df, cols) -> list[tuple]:
    import math
    from decimal import Decimal

    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(
            tuple(
                None
                if v is None or (isinstance(v, float) and math.isnan(v))
                else (f"{v:.6f}" if isinstance(v, (float, Decimal)) else str(v))
                for v in row
            )
        )
    return sorted(out, key=lambda r: tuple((v is not None, v or "") for v in r))


def _check_mix(run, results: dict[str, list], events_dir: Path) -> set[str]:
    """Every collected result against its query's DuckDB oracle over the
    same generated events. A failed check fails every execution of that
    query; an execution that raised has already been counted. Returns
    the names of the queries that failed."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{events_dir}/events.parquet'")
    bad = set()
    try:
        for n, outs in results.items():
            if any(o is None for o in outs):
                bad.add(n)
            oracle = registry.ORACLES.get(n)
            if oracle is None:
                continue
            want = con.execute(oracle).fetchdf()
            cols = sorted(want.columns)
            want_rows = _norm_frame(want, cols)
            wrong = sum(
                1
                for o in outs
                if o is not None
                and (sorted(o.columns) != cols or _norm_frame(o, cols) != want_rows)
            )
            if wrong:
                run.failed += wrong
                run.note_failure(f"query.{n}.check", f"{wrong} results differ from the DuckDB oracle")
                bad.add(n)
    finally:
        con.close()
    return bad


# ------------------------------------------------------------ corpus_dedup


def corpus_dedup(run) -> None:
    spark = run.spark
    sizes, expected = gen.write_corpus(run.inputs / "corpus", run.seed, CORPUS_DOCS)
    run.sizes.update(sizes)
    ckpt = str(run.work / "cc_ckpt")

    def one_pass(path: Path) -> dict:
        """exact_dedup -> neardup_pairs -> neardup_clusters, each result
        consumed as a dedup job would: survivor ids and cluster ids."""
        docs = spark.read.parquet(str(path / "docs.parquet"))
        out = {}
        t0 = time.perf_counter()
        with run.tracer.span("dedup.exact"):
            out["survivors"] = [r[0] for r in dedup.exact_dedup(docs).select("doc_id").collect()]
        t1 = time.perf_counter()
        with run.tracer.span("dedup.signatures"):
            pairs = dedup.neardup_pairs(docs)  # builds the signatures eagerly
        t2 = time.perf_counter()
        with run.tracer.span("dedup.cc"):
            clusters = dedup.neardup_clusters(pairs, checkpoint_dir=ckpt)
            out["clusters"] = dict(clusters.select("doc_id", "cluster_id").collect())
        t3 = time.perf_counter()
        out.update(exact_s=t1 - t0, signatures_s=t2 - t1, cc_s=t3 - t2)
        spark.catalog.clearCache()  # the signature caches of this pass
        return out

    # Two untimed warm-up passes on the same corpus. Plan shapes (join
    # strategies, partition counts) follow the data size, so only the
    # real input compiles exactly the code the timed passes run; after a
    # single warm-up pass the next one still ran up to half slower, by an
    # amount that varied from run to run, while the JVM compiled.
    for _ in range(2):
        t = time.perf_counter()
        one_pass(run.inputs / "corpus")
        run.log(f"warmup.pass {time.perf_counter() - t:.2f}s")

    passes = []
    deadline = time.perf_counter() + run.seconds
    tries = 0
    while tries == 0 or time.perf_counter() < deadline:
        tries += 1
        dt, out = _timed(run, "dedup.pass", lambda: one_pass(run.inputs / "corpus"))
        if out is not None and _check_dedup(run, out, expected):
            run.log("dedup.stages " + " ".join(
                f"{k} {out[k]:.2f}s" for k in ("exact_s", "signatures_s", "cc_s")))
            out["wall_s"] = dt
            passes.append(out)
    if not passes:
        return
    stages = ("exact_s", "signatures_s", "cc_s")
    run.e2e.update(
        items_per_s=CORPUS_DOCS / statistics.median(p["wall_s"] for p in passes),
        op_p50_ms=statistics.median(p[k] * 1000 for p in passes for k in stages),
    )
    lay = run.layer
    for k in stages:
        lay[f"dedup.{k}"] = statistics.median(p[k] for p in passes)
    clusters = passes[-1]["clusters"]
    lay["dedup.clusters"] = len(set(clusters.values()))
    lay["dedup.neardup_recall"] = _recall(clusters, expected["planted_pairs"])
    if run.tracer.enabled:
        run.after_stop.append(lambda groups: _dedup_layers(run, groups, len(passes)))
        run.probe = lambda: _pairs_probe(run, ckpt)


def _recall(clusters: dict, planted: set) -> float:
    """Share of planted near-duplicate pairs whose two docs share a cluster."""
    found = sum(1 for a, b in planted if clusters.get(a, a) == clusters.get(b, b))
    return found / len(planted)


def _pairs_probe(run, ckpt: str) -> None:
    """Traced only: the candidate and verified pair counts, which the
    timed pass never materializes on their own."""
    docs = run.spark.read.parquet(str(run.inputs / "corpus" / "docs.parquet"))
    with run.tracer.span("dedup.candidates"):
        n_cand = dedup.banded_candidates(dedup.minhash_band_signatures(docs)).count()
    t = time.perf_counter()
    with run.tracer.span("dedup.pairs"):
        n_pairs = dedup.neardup_pairs(docs).count()
    run.layer["dedup.pairs_s"] = time.perf_counter() - t
    run.spark.catalog.clearCache()
    run.layer["dedup.candidates"] = n_cand
    run.layer["dedup.verified_pairs"] = n_pairs
    run.layer["dedup.verify_yield"] = n_pairs / n_cand if n_cand else 0.0


def _dedup_layers(run, groups, n_passes):
    # the cc spans of timed passes (the warm-up passes have no parent)
    cc = [s for s in run.tracer.spans if s["name"] == "dedup.cc" and s["parent"] is not None]
    c = layer_counters(cc, groups)
    run.layer["dedup.cc_jobs"] = c.get("jobs", 0) / max(1, n_passes)


def _check_dedup(run, out, expected) -> bool:
    problems = []
    if set(out["survivors"]) != expected["survivors"]:
        problems.append("exact-dedup survivors are not the lowest id per distinct text")
    clusters = out["clusters"]
    split = [c for c in expected["exact_copies"] if clusters.get(c[0], c[0]) != clusters.get(c[1], c[1])]
    if split:
        problems.append(f"{len(split)} exact copies outside their source's cluster")
    recall = _recall(clusters, expected["planted_pairs"])
    if recall < MIN_RECALL:
        problems.append(f"near-duplicate recall {recall:.3f} < {MIN_RECALL}")
    if problems:
        run.fail("dedup.check", "; ".join(problems))
        return False
    return True


WORKLOADS = {
    "cdc_stream": cdc_stream,
    "dashboard_reads": dashboard_reads,
    "corpus_dedup": corpus_dedup,
}
