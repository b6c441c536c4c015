"""Streaming semantics: stream-equals-batch, exactly-once dedupe, and
the stateful sustained-alert operator's stream/batch agreement."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from asafaviv_devops_asafaviv_devops_tidb_cdc_spark import registry
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import load_table
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import alerts

from tests.conftest import SF_SMOKE

registry.load_all()


def _counts(df):
    return {
        (r["table_name"], r["operation"]): r["n"]
        for r in df.collect()
    }


def test_stream_matches_batch(spark):
    batch = registry.QUERIES["q_ops_by_table_op"](spark, SF_SMOKE)
    stream = registry.QUERIES["q_stream_ingest_counts"](spark, SF_SMOKE)
    assert _counts(stream) == _counts(batch)


def test_stream_dedupe_is_exactly_once(spark):
    batch = registry.QUERIES["q_ops_by_table_op"](spark, SF_SMOKE)
    deduped = registry.QUERIES["q_stream_dedupe"](spark, SF_SMOKE)
    assert _counts(deduped) == _counts(batch)


def test_stream_merge_equals_batch_replay(spark):
    """Final MERGEd state after out-of-order multi-batch replay must
    equal the batch last-writer-wins replay row-for-row."""
    import tempfile
    from pathlib import Path

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.operators import parse as P
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.operators.replay import (
        current_state,
    )
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import (
        envelopes_from_events,
    )
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import ingest, merge

    base = Path(tempfile.gettempdir()) / "tidb_cdc_spark_stream" / "merge_check"
    src = ingest.write_envelope_files(spark, SF_SMOKE, str(base / "src"), None, n_files=8)
    merge.run_replay_stream(
        spark, src, str(base / "state"), str(base / "ckpt"), max_files_per_trigger=2
    )
    streamed = merge.live_state(merge.read_state(spark, str(base / "state")))

    typed = P.typed_rows(
        P.normalized_events(envelopes_from_events(load_table(spark, SF_SMOKE, "events")))
    )
    batch = current_state(
        typed, keys=merge.STATE_KEYS, order_by=merge.STATE_ORDER
    )

    def rows(df):
        return sorted(
            (r["table_name"], r["user_id"], str(r["value"]), str(r["ts"]))
            for r in df.select("table_name", "user_id", "value", "ts").collect()
        )

    assert rows(streamed) == rows(batch)


def test_windowed_agg_stream_matches_batch(spark):
    """W-operators as real streaming: tumbling-window counts computed
    by Structured Streaming over a replayed event log must equal the
    batch windowed aggregation (complete output mode — every window)."""
    import shutil
    import tempfile
    from pathlib import Path

    events = load_table(spark, SF_SMOKE, "events")
    work = Path(tempfile.gettempdir()) / "tidb_cdc_spark_stream" / "winagg_check"
    if work.exists():
        shutil.rmtree(work)
    events.write.mode("overwrite").parquet(str(work / "src"))

    stream = spark.readStream.schema(events.schema).parquet(str(work / "src"))
    q = (
        stream.groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .count()
        .writeStream.format("memory")
        .queryName("winagg_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r["w"]["start"], r["event_type"]): r["count"]
        for r in spark.sql("SELECT * FROM winagg_stream").collect()
    }
    batch = {
        (r["w"]["start"], r["event_type"]): r["count"]
        for r in events.groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .count()
        .collect()
    }
    assert streamed == batch


def test_sustained_alert_stream_matches_batch(spark):
    events = load_table(spark, SF_SMOKE, "events")
    batch = {
        (r["window_start"], r["streak"])
        for r in alerts.sustained_alerts(events, threshold_ppm=1).collect()
    }

    # replay events through the stateful streaming operator
    import shutil
    import tempfile
    from pathlib import Path

    work = Path(tempfile.gettempdir()) / "tidb_cdc_spark_stream" / "alert_check"
    if work.exists():
        shutil.rmtree(work)
    events.write.mode("overwrite").parquet(str(work / "src"))
    stream_src = spark.readStream.schema(events.schema).parquet(str(work / "src"))
    out = alerts.sustained_alerts_stream(stream_src, threshold_ppm=1)
    q = (
        out.writeStream.format("parquet")
        .option("path", str(work / "sink"))
        .option("checkpointLocation", str(work / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(str(work / "sink"))
    stream = {
        (r["ws"], r["streak"])
        for r in got.select(
            F.timestamp_millis(F.col("window_ms")).alias("ws"), "streak"
        ).collect()
    }
    assert stream == batch


def test_state_maintainers_are_retry_idempotent(spark):
    """A retried micro-batch must not fold its events twice: with the
    epoch's own version dir already on disk, latest_state_path(...,
    before_epoch=epoch) must return the PREVIOUS version."""
    import tempfile
    from pathlib import Path

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming.merge import (
        latest_state_path,
    )

    base = Path(tempfile.mkdtemp()) / "state"
    for e in (0, 1, 2):
        (base / f"v{e:09d}").mkdir(parents=True)
    # normal flow: epoch 3 reads newest
    assert latest_state_path(str(base)).endswith("v000000002")
    # retry of epoch 2: its own dir exists but must be skipped
    assert latest_state_path(str(base), before_epoch=2).endswith("v000000001")
    # retry of epoch 0: nothing older -> fresh start
    assert latest_state_path(str(base), before_epoch=0) is None


from pathlib import Path  # noqa: E402  (used by the bucket-layout tests)


def _typed_batch(spark, rows):
    """rows = [(table, user_id, op, value, ts_s, offset)] -> typed-row
    frame with the merge state schema."""
    return spark.createDataFrame(
        [(t, u, op, float(v), ts, o, 0) for (t, u, op, v, ts, o) in rows],
        "table_name string, user_id long, operation string, value double, "
        "ts_s string, offset long, rownum int",
    ).selectExpr(
        "table_name",
        "user_id",
        "operation",
        "cast(value as decimal(18,2)) as value",
        "cast(ts_s as timestamp) as ts",
        "offset",
        "rownum",
    )


def _bucket_files(state_dir):
    """{relative file path: bytes} for every committed bucket file."""
    out = {}
    for p in Path(state_dir).rglob("*"):
        if p.is_file() and "_stage" not in str(p):
            out[str(p.relative_to(state_dir))] = p.read_bytes()
    return out


def test_merge_rewrites_only_touched_buckets(spark):
    """Partition-pruned MERGE: a micro-batch whose keys hash into one
    bucket must leave every other bucket's files byte-identical (same
    paths, same contents) — per-batch state I/O is bounded by the
    batch's key spread, not total state size."""
    import tempfile

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import merge

    state = str(Path(tempfile.mkdtemp()) / "state")
    batch1 = _typed_batch(
        spark,
        [("t", u, "insert", u * 10, f"2024-01-01 00:00:{u:02d}", u) for u in range(12)],
    )
    merge.apply_merge_batch(spark, batch1, state, epoch_id=1, n_buckets=8)
    before = _bucket_files(state)
    assert before, "batch1 wrote no state"

    batch2 = _typed_batch(spark, [("t", 3, "update", 999, "2024-01-01 00:01:00", 100)])
    b3 = batch2.select(merge.bucket_of(n_buckets=8).alias("b")).collect()[0]["b"]
    merge.apply_merge_batch(spark, batch2, state, epoch_id=2, n_buckets=8)
    after = _bucket_files(state)

    untouched_before = {p: c for p, c in before.items() if not p.startswith(f"b{b3:04d}/")}
    untouched_after = {p: c for p, c in after.items() if not p.startswith(f"b{b3:04d}/")}
    assert untouched_before == untouched_after
    # ... and the touched bucket did advance to a new version
    assert any(p.startswith(f"b{b3:04d}/v000000002") for p in after)
    # final state is still the correct LWW fold
    got = {
        r["user_id"]: int(r["value"])
        for r in merge.live_state(merge.read_state(spark, state)).collect()
    }
    assert got == {u: (999 if u == 3 else u * 10) for u in range(12)}


def test_delta_partials_compaction_preserves_totals(spark):
    """A10 compaction: folding epoch partials into a versioned base
    changes nothing about the served totals — before/after identical,
    re-compaction is a no-op, and a resurrected stale epoch dir (an
    interrupted cleanup) is ignored because serving skips epochs at or
    below the base version."""
    import shutil as sh
    import tempfile

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import delta, ingest

    base = Path(tempfile.mkdtemp())
    src = ingest.write_envelope_files(spark, SF_SMOKE, str(base / "src"), None, n_files=4)
    delta.run_delta_stream(
        spark, src, str(base / "partials"), str(base / "ckpt"), max_files_per_trigger=2
    )
    pdir = str(base / "partials")

    def totals():
        return sorted(
            (r["table_name"], r["net_rows"], r["net_sum_micro"])
            for r in delta.folded_with(spark, pdir, delta.fold_totals).collect()
        )

    before = totals()
    epochs = delta._epoch_dirs(pdir)
    assert len(epochs) >= 2  # multiple micro-batches actually ran
    saved = Path(tempfile.mkdtemp()) / epochs[0][1].name
    sh.copytree(epochs[0][1], saved)

    delta.compact_with(spark, pdir, delta.fold_totals)
    assert totals() == before
    assert delta._epoch_dirs(pdir) == []  # all folded into the base
    ver, _ = delta._base_version(pdir)
    assert ver == max(e for e, _ in epochs)

    delta.compact_with(spark, pdir, delta.fold_totals)  # idempotent no-op
    assert totals() == before

    # interrupted-cleanup simulation: a stale folded epoch reappears
    sh.copytree(saved, Path(pdir) / saved.name)
    assert totals() == before  # ignored, not double-counted


def test_tombstone_gc_drops_expired_without_resurrection(spark):
    """Replay-horizon tombstone expiry: once the watermark passes
    ts(delete) + horizon, the tombstone is physically dropped from any
    bucket the next batch rewrites — and the deleted key stays deleted,
    because no event older than the horizon can arrive."""
    import tempfile

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import merge

    horizon = 60_000  # 1 minute
    state = str(Path(tempfile.mkdtemp()) / "state")
    # one bucket for everything: all keys rewrite together
    batch1 = _typed_batch(
        spark,
        [
            ("t", 1, "insert", 10, "2024-01-01 00:00:00", 0),
            ("t", 1, "delete", 10, "2024-01-01 00:00:01", 1),
            ("t", 2, "insert", 20, "2024-01-01 00:00:02", 2),
        ],
    )
    merge.apply_merge_batch(
        spark, batch1, state, epoch_id=1, n_buckets=1, tombstone_horizon_ms=horizon
    )
    # tombstone still within horizon: retained
    ops1 = {
        (r["user_id"], r["operation"])
        for r in merge.read_state(spark, state).collect()
    }
    assert (1, "delete") in ops1

    # watermark advances past ts(delete) + horizon -> tombstone expires
    batch2 = _typed_batch(spark, [("t", 2, "update", 21, "2024-01-01 00:02:30", 3)])
    merge.apply_merge_batch(
        spark, batch2, state, epoch_id=2, n_buckets=1, tombstone_horizon_ms=horizon
    )
    final = merge.read_state(spark, state)
    ops2 = {(r["user_id"], r["operation"]) for r in final.collect()}
    assert (1, "delete") not in ops2  # physically gone
    got = {
        r["user_id"]: int(r["value"]) for r in merge.live_state(final).collect()
    }
    assert got == {2: 21}  # key 1 deleted, not resurrected


def test_rules_as_data_evaluator_matches_specialized_operator(spark):
    """W7 generalized: the rules-as-data evaluator restricted to the
    error-rate rule must reproduce sustained_alerts exactly, and an
    absence rule must fire on a crafted event gap (the liveness
    semantics the hardcoded operator cannot express)."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import load_table
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import alerts

    events = load_table(spark, SF_SMOKE, "events")
    rules = [
        {
            "name": "error_rate",
            "metric": "error_ppm",
            "op": ">=",
            "threshold": 1,
            "for_windows": alerts.DEFAULT_FOR_WINDOWS,
        },
        {
            "name": "liveness",
            "metric": "n_total",
            "op": "<=",
            "threshold": 0,
            "for_windows": 2,
        },
    ]
    got = alerts.evaluate_rules(events, rules)
    specialized = {
        (r["window_start"], r["error_ppm"], r["streak"])
        for r in alerts.sustained_alerts(events, threshold_ppm=1).collect()
    }
    generic = {
        (r["window_start"], r["value"], r["streak"])
        for r in got.filter(F.col("rule") == "error_rate").collect()
    }
    assert generic == specialized

    # liveness ground truth, recomputed independently in python:
    # every grid window with zero events whose silent streak >= 2
    wms = alerts.WINDOW_MS
    occupied = {
        r[0]
        for r in events.select(
            (F.unix_millis("ts") - F.unix_millis("ts") % wms).alias("w")
        )
        .distinct()
        .collect()
    }
    lo, hi = min(occupied), max(occupied)
    expected = set()
    streak = 0
    for w in range(lo, hi + wms, wms):
        streak = streak + 1 if w not in occupied else 0
        if streak >= 2:
            expected.add(w)
    fired = {
        int(r["window_start"].timestamp() * 1000)
        for r in got.filter(F.col("rule") == "liveness").collect()
    }
    assert fired == expected
    assert all(
        r["value"] == 0
        for r in got.filter(F.col("rule") == "liveness").collect()
    )


def test_stateful_stream_under_rocksdb_provider(spark, tmp_path):
    """The 100 TB state posture (plans/scale.py::streaming_conf): the
    same watermarked stateful query produces the identical result set
    under the RocksDB state store provider as under the default
    provider — provider choice is an ops decision, never a semantics
    one. Runs a real availableNow dropDuplicates stream twice."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.plans import scale

    conf = scale.streaming_conf(1 << 30, 8)
    assert "RocksDBStateStoreProvider" in conf[
        "spark.sql.streaming.stateStore.providerClass"
    ]

    src = str(tmp_path / "src")
    spark.range(0, 1000).selectExpr(
        "id % 100 AS k", "CAST(id AS STRING) AS payload"
    ).repartition(4).write.mode("overwrite").json(src)

    def run(provider: str | None, tag: str):
        key = "spark.sql.streaming.stateStore.providerClass"
        old = spark.conf.get(key, None)
        if provider:
            spark.conf.set(key, provider)
        try:
            stream = spark.readStream.schema("k long, payload string").option(
                "maxFilesPerTrigger", 1
            ).json(src)
            out = str(tmp_path / f"sink_{tag}")
            q = (
                stream.dropDuplicates(["k"])
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return {
                r["k"] for r in spark.read.parquet(out).select("k").collect()
            }
        finally:
            if old is not None:
                spark.conf.set(key, old)
            elif provider:
                spark.conf.unset(key)

    default_keys = run(None, "default")
    rocksdb_keys = run(conf["spark.sql.streaming.stateStore.providerClass"], "rocks")
    assert rocksdb_keys == default_keys == set(range(100))


def test_stream_dq_retry_idempotent_and_refuses_nonrow_kinds(spark, tmp_path):
    """Streaming DQ through delta.serve_partials: a retried micro-batch
    overwrites its own epoch partial (totals never double-count), and
    non-sum-decomposable kinds are refused when the batch fold is
    built, before any stream starts."""
    import pytest as _pytest

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries import (
        profiling as PR,
    )
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import delta

    src = str(tmp_path / "src")
    spark.range(0, 100).selectExpr(
        "id", "CASE WHEN id % 10 = 0 THEN NULL ELSE 'v' END AS s"
    ).repartition(4).write.mode("overwrite").parquet(src)
    checks = [{"id": "nn_s", "table": "t", "kind": "not_null", "column": "s"}]
    batch_fold = PR._dq_partial(checks)

    def stream():
        return (
            spark.readStream.schema("id long, s string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    def violations(df):
        return {r["check_id"]: r["violations"] for r in df.collect()}

    base = tmp_path / "dq"
    served = delta.serve_partials(stream(), base, batch_fold, PR._dq_fold)
    assert violations(served) == {"nn_s": 10}
    # a micro-batch past the base lands, then is RETRIED: the retry
    # rewrites its own epoch dir, so its 10 violations count once
    pdir = str(base / "partials")
    ver, _ = delta._base_version(pdir)
    assert ver == 3  # 4 files, one per micro-batch, all compacted
    for _attempt in range(2):
        batch_fold(spark.read.parquet(src)).write.mode("overwrite").parquet(
            f"{pdir}/epoch={ver + 1}"
        )
        assert violations(delta.folded_with(spark, pdir, PR._dq_fold)) == {
            "nn_s": 20
        }

    with _pytest.raises(ValueError, match="not decomposable"):
        delta.serve_partials(
            stream(),
            tmp_path / "refused",
            PR._dq_partial(
                [{"id": "u", "table": "t", "kind": "unique", "columns": ["id"]}]
            ),
            PR._dq_fold,
        )


def _jv_batch(spark, rows):
    """rows = [(table, user_id, op, row_id, value, ts_s, offset)] ->
    typed-row frame with the join-view maintainer's schema."""
    return spark.createDataFrame(
        [
            (t, u, op, r, float(v), ts, o, 0)
            for (t, u, op, r, v, ts, o) in rows
        ],
        "table_name string, user_id long, operation string, row_id long, "
        "value double, ts_s string, offset long, rownum int",
    ).selectExpr(
        "table_name",
        "user_id",
        "operation",
        "row_id",
        "value",
        "cast(ts_s as timestamp) as ts",
        "offset",
        "rownum",
    )


def test_join_view_maintained_through_updates_and_deletes(spark):
    """The maintained view must track inserts, updates AND deletes on
    either side without retraction machinery — a refreshed bucket is a
    pure function of current side state."""
    import tempfile

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import join_view as JV

    base = Path(tempfile.mkdtemp())
    state, view = str(base / "state"), str(base / "view")

    b1 = _jv_batch(
        spark,
        [("click", u, "insert", 100 + u, 10.0 + u, f"2024-01-01 00:00:{u:02d}", u) for u in range(6)]
        + [("purchase", u, "insert", 200 + u, 50.0 + u, f"2024-01-01 00:00:{u:02d}", 50 + u) for u in (1, 3, 5)],
    )
    JV.apply_join_view_batch(spark, b1, state, view, epoch_id=1)
    v1 = {r["user_id"]: r for r in JV.read_join_view(spark, view).collect()}
    assert set(v1) == {1, 3, 5}
    assert v1[3]["left_value_cents"] == 1300 and v1[3]["right_value_cents"] == 5300

    # update the click side of user 3, delete the purchase of user 5,
    # insert a purchase for user 0
    b2 = _jv_batch(
        spark,
        [
            ("click", 3, "update", 103, 99.0, "2024-01-01 00:01:00", 100),
            ("purchase", 5, "delete", 205, 55.0, "2024-01-01 00:01:01", 101),
            ("purchase", 0, "insert", 300, 77.0, "2024-01-01 00:01:02", 102),
        ],
    )
    JV.apply_join_view_batch(spark, b2, state, view, epoch_id=2)
    v2 = {r["user_id"]: r for r in JV.read_join_view(spark, view).collect()}
    assert set(v2) == {0, 1, 3}, "delete must drop the pair, insert must add it"
    assert v2[3]["left_value_cents"] == 9900, "update must propagate into the view"
    assert v2[0]["right_value_cents"] == 7700


def test_join_view_refresh_rewrites_only_touched_buckets(spark):
    """A batch touching one user's bucket must leave every other VIEW
    bucket byte-identical: the refresh is partition-pruned end to end
    (state read AND view write)."""
    import tempfile

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import join_view as JV
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import merge

    base = Path(tempfile.mkdtemp())
    state, view = str(base / "state"), str(base / "view")

    b1 = _jv_batch(
        spark,
        [("click", u, "insert", u, 1.0, f"2024-01-01 00:00:{u:02d}", u) for u in range(12)]
        + [("purchase", u, "insert", 50 + u, 2.0, f"2024-01-01 00:00:{u:02d}", 50 + u) for u in range(12)],
    )
    JV.apply_join_view_batch(spark, b1, state, view, epoch_id=1)
    before = _bucket_files(view)
    assert before

    b2 = _jv_batch(spark, [("click", 7, "update", 7, 9.0, "2024-01-01 00:01:00", 999)])
    b7 = b2.select(
        merge.bucket_of(["user_id"], JV.VIEW_N_BUCKETS).alias("b")
    ).collect()[0]["b"]
    JV.apply_join_view_batch(spark, b2, state, view, epoch_id=2)
    after = _bucket_files(view)

    untouched_b = {p: c for p, c in before.items() if not p.startswith(f"b{b7:04d}/")}
    untouched_a = {p: c for p, c in after.items() if not p.startswith(f"b{b7:04d}/")}
    assert untouched_b == untouched_a
    assert any(p.startswith(f"b{b7:04d}/v000000002") for p in after)
    got = {r["user_id"]: r["left_value_cents"] for r in JV.read_join_view(spark, view).collect()}
    assert got[7] == 900 and got[0] == 100


def test_join_view_invariant_to_batch_boundaries(spark):
    """Replaying the same rows in 1 batch vs 3 batches must converge to
    the identical view (merge is total-ordered; refresh is a pure
    function of state)."""
    import tempfile

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import join_view as JV

    rows = (
        [("click", u, "insert", u, 5.0 + u, f"2024-01-01 00:00:{u:02d}", u) for u in range(8)]
        + [("purchase", u, "insert", 80 + u, 6.0 + u, f"2024-01-01 00:00:{30+u:02d}", 80 + u) for u in range(0, 8, 2)]
        + [("click", 2, "update", 2, 42.0, "2024-01-01 00:02:00", 200),
           ("purchase", 4, "delete", 84, 10.0, "2024-01-01 00:02:01", 201)]
    )

    def run(chunks):
        base = Path(tempfile.mkdtemp())
        state, view = str(base / "state"), str(base / "view")
        for i, chunk in enumerate(chunks, start=1):
            JV.apply_join_view_batch(spark, _jv_batch(spark, chunk), state, view, epoch_id=i)
        return sorted(
            tuple(r) for r in JV.read_join_view(spark, view).collect()
        )

    one = run([rows])
    # out-of-order split: the late update/delete epoch lands first
    three = run([rows[10:], rows[:5], rows[5:10]])
    assert one == three and len(one) > 0


def test_funnel_state_requalifies_on_late_earlier_view():
    """The funnel's strictly-after semantics are non-monotone: a late
    EARLIER view must requalify an old click, and that a purchase. The
    per-user history state makes the fold order-independent."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming.funnel import _stages

    # click@10, purchase@20 arrive first: no view -> nothing qualifies
    assert _stages([], [10], [20]) == (-1, -1, -1)
    # late view@5 arrives: click@10 qualifies, then purchase@20
    assert _stages([5], [10], [20]) == (5, 10, 20)
    # view after the only click: click never qualifies
    assert _stages([15], [10], [20]) == (15, -1, -1)
    # a second, earlier view flips it back
    assert _stages([15, 3], [10], [20]) == (3, 10, 20)


def test_stream_funnel_matches_batch(spark):
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark import registry

    registry.load_all()
    got = {
        r["stage"]: (r["n_users"], r["conv_ppm"])
        for r in registry.QUERIES["q_stream_funnel"](spark, SF_SMOKE).collect()
    }
    want = {
        r["stage"]: (r["n_users"], r["conv_ppm"])
        for r in registry.QUERIES["q_funnel_stages"](spark, SF_SMOKE).collect()
    }
    assert got == want and len(want) == 3


def test_join_view_retry_idempotent(spark):
    """foreachBatch may retry an epoch: re-applying the same batch with
    the same epoch_id must leave state AND view byte-identical in
    content (the copy-on-write fold overwrites its own version)."""
    import tempfile

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import join_view as JV

    base = Path(tempfile.mkdtemp())
    state, view = str(base / "state"), str(base / "view")
    b1 = _jv_batch(
        spark,
        [("click", u, "insert", u, 1.0 + u, f"2024-01-01 00:00:{u:02d}", u) for u in range(5)]
        + [("purchase", u, "insert", 50 + u, 9.0, f"2024-01-01 00:00:{u:02d}", 50 + u) for u in (0, 2)],
    )
    JV.apply_join_view_batch(spark, b1, state, view, epoch_id=1)
    first = sorted(tuple(r) for r in JV.read_join_view(spark, view).collect())
    JV.apply_join_view_batch(spark, b1, state, view, epoch_id=1)  # retry
    again = sorted(tuple(r) for r in JV.read_join_view(spark, view).collect())
    assert first == again and len(first) == 2


def test_join_view_bounded_io_under_zipf_skew(spark):
    """Skew stress (r5 verdict item 7): a real 100 TB corpus has
    Zipf-distributed keys, so plant one — hot user 0 owns half of all
    events, a ~50-user tail shares the rest — and prove the join-view
    maintainer's two scale claims hold under it: (1) the final view is
    still exactly the batch join of the final side states (skew never
    bends correctness), and (2) a micro-batch touching only the hot
    key rewrites exactly ONE state bucket and ONE view bucket, every
    other bucket byte-identical — per-batch I/O is bounded by the
    batch's key spread even when one key dominates the corpus."""
    import tempfile

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import join_view as JV
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import merge

    base = Path(tempfile.mkdtemp())
    state, view = str(base / "state"), str(base / "view")

    # zipf-ish planting: even event index -> the hot user, odd spreads
    # over a 53-user tail; alternating click/purchase rows
    rows = []
    for i in range(120):
        u = 0 if i % 2 == 0 else (i % 53) + 1
        t = "click" if i % 3 else "purchase"
        rows.append(
            (t, u, "insert", 1000 + i, float(i), f"2024-01-01 00:{i // 60:02d}:{i % 60:02d}", i)
        )
    JV.apply_join_view_batch(spark, _jv_batch(spark, rows), state, view, epoch_id=1)
    view_before, state_before = _bucket_files(view), _bucket_files(state)
    assert view_before and state_before

    # hot-key-only follow-up batch
    b2 = _jv_batch(
        spark, [("click", 0, "update", 1000, 777.0, "2024-01-01 01:00:00", 999)]
    )
    hot_b = b2.select(
        merge.bucket_of(["user_id"], JV.VIEW_N_BUCKETS).alias("b")
    ).collect()[0]["b"]
    JV.apply_join_view_batch(spark, b2, state, view, epoch_id=2)
    view_after, state_after = _bucket_files(view), _bucket_files(state)

    for files_before, files_after in (
        (view_before, view_after),
        (state_before, state_after),
    ):
        untouched_b = {
            p: c for p, c in files_before.items() if not p.startswith(f"b{hot_b:04d}/")
        }
        untouched_a = {
            p: c for p, c in files_after.items() if not p.startswith(f"b{hot_b:04d}/")
        }
        assert untouched_b == untouched_a, "skewed batch widened its I/O"
    assert any(p.startswith(f"b{hot_b:04d}/v000000002") for p in view_after)

    # correctness under the skew: view == batch join of final states
    latest = {}
    for i, (t, u, op, rid, v, ts, off) in enumerate(
        rows + [("click", 0, "update", 1000, 777.0, "2024-01-01 01:00:00", 999)]
    ):
        latest[(t, u)] = (op, rid, v, ts, off)
    expected = {}
    for u in {u for (_, u) in latest}:
        lft = latest.get(("click", u))
        rgt = latest.get(("purchase", u))
        if lft and rgt and lft[0] != "delete" and rgt[0] != "delete":
            expected[u] = (
                lft[1],
                int(lft[2] * 100 + 0.5),
                rgt[1],
                int(rgt[2] * 100 + 0.5),
            )
    got = {
        r["user_id"]: (
            r["left_row_id"],
            r["left_value_cents"],
            r["right_row_id"],
            r["right_value_cents"],
        )
        for r in JV.read_join_view(spark, view).collect()
    }
    assert got == expected


def test_funnel_under_zipf_skew_matches_batch(spark, tmp_path):
    """Skew stress for the stateful funnel: one hot user owns half of
    all events (a long per-user history — the state the hot key of a
    real corpus accumulates), a light tail the rest, delivered in 3
    out-of-order micro-batches. The streamed stage counts must equal
    the batch derivation computed from the same rows — the per-user
    history state recomputes (v, c, p) correctly regardless of how
    much of the stream one key owns or how its events interleave."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import funnel as FU

    rows = []
    for i in range(180):
        u = 0 if i % 2 == 0 else (i % 31) + 1
        et = FU.FUNNEL_TYPES[i % 3]
        # deliberately non-monotone times so late batches requalify
        ms = ((i * 37) % 180) * 1000
        rows.append((i, u, et, ms))
    df = spark.createDataFrame(
        [(i, u, et, ms) for (i, u, et, ms) in rows],
        "event_id long, user_id long, event_type string, t_ms long",
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.timestamp_millis(F.col("t_ms")).alias("ts"),
    )
    src = str(tmp_path / "skew_src")
    # 3 interleaved files = 3 out-of-order micro-batches
    df.withColumn("_f", F.col("event_id") % 3).repartition(3, "_f").drop(
        "_f"
    ).write.mode("overwrite").parquet(src)
    emissions = FU.run_funnel_stream(
        spark, src, df.schema, "funnel_zipf_skew"
    )
    got = {
        r["stage"]: r["n_users"]
        for r in FU.final_stage_counts(emissions).collect()
    }

    # batch reference: per-user earliest-qualifying recomputation
    hist: dict = {}
    for (_, u, et, ms) in rows:
        hist.setdefault(u, {"view": [], "click": [], "purchase": []})[et].append(ms)
    v_n = c_n = p_n = 0
    for u, h in hist.items():
        v, c, p = FU._stages(h["view"], h["click"], h["purchase"])
        v_n += v >= 0
        c_n += c >= 0
        p_n += p >= 0
    assert got == {"1_view": v_n, "2_click": c_n, "3_purchase": p_n}
    # the hot user really is hot: half the events, full funnel
    assert len(hist[0]["view"]) + len(hist[0]["click"]) + len(hist[0]["purchase"]) == 90


def test_resumable_workdir_rotates_on_version_and_source(tmp_path):
    """The resumable checkpoint scaffold is keyed by (source
    fingerprint, fold version): same inputs resolve to the same dir
    (that is what makes resume possible), a version bump rotates to a
    fresh dir (stale state can never serve a rewritten fold), and the
    fingerprint tracks the source table's content."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming.ingest import resumable_workdir

    a = resumable_workdir(SF_SMOKE, "events", "merge", "merge-v1")
    b = resumable_workdir(SF_SMOKE, "events", "merge", "merge-v1")
    assert a == b, "same key must resolve to the same workdir"
    assert a != resumable_workdir(SF_SMOKE, "events", "merge", "merge-v2")
    assert a != resumable_workdir(SF_SMOKE, "documents", "merge", "merge-v1")


def test_replay_stream_resume_equals_fresh_drain(spark, tmp_path):
    """fresh=False resume semantics: a second drain over an
    already-consumed backlog must be a no-op that serves the identical
    state a single fresh drain produces — and must NOT re-fold the
    backlog (double-merging would double version chains, not counts,
    so compare full state content, not just counts)."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import (
        ingest as I,
        merge,
    )

    src = I.envelope_files(spark, SF_SMOKE, None, n_files=4)

    fresh_base = tmp_path / "fresh"
    merge.run_replay_stream(
        spark, src, str(fresh_base / "state"), str(fresh_base / "ckpt")
    )
    want = sorted(
        tuple(r)
        for r in merge.live_state(
            merge.read_state(spark, str(fresh_base / "state"))
        ).collect()
    )

    res_base = tmp_path / "resumable"
    for _ in range(3):  # first call drains, the next two must no-op
        merge.run_replay_stream(
            spark,
            src,
            str(res_base / "state"),
            str(res_base / "ckpt"),
            fresh=False,
        )
    got = sorted(
        tuple(r)
        for r in merge.live_state(
            merge.read_state(spark, str(res_base / "state"))
        ).collect()
    )
    assert got == want and len(want) > 0


def test_transitions_out_of_order_matches_batch(spark, tmp_path):
    """Order stress for the stateful transition census (X23b): one hot
    user owns half of all events, times are deliberately non-monotone
    and delivered in 3 interleaved micro-batches, so late events land
    BETWEEN already-paired events and must rewire pairs. The streamed
    (from, to) counts must equal the batch lead()-window derivation
    over the same rows — the history state discards arrival order by
    construction. Also pins the EMISSION VOLUME: the delta design
    emits at most 3 (from,to) increments per event, so cumulative
    |emitted deltas| must stay <= 3 * n_events regardless of how hot
    a key is (the round-6 verdict's O(N*H) re-emission flag)."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import (
        transitions as TR,
    )

    types = ["view", "click", "purchase", "signup", "error"]
    rows = []
    for i in range(200):
        u = 0 if i % 2 == 0 else (i % 23) + 1
        et = types[(i * 7) % 5]
        us = ((i * 41) % 200) * 1_000_000  # non-monotone micros
        rows.append((i, u, et, us))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, t_us long"
    ).select(
        "user_id",
        "event_id",
        "event_type",
        F.timestamp_micros(F.col("t_us")).alias("ts"),
    )
    src = str(tmp_path / "trans_src")
    df.withColumn("_f", F.col("event_id") % 3).repartition(3, "_f").drop(
        "_f"
    ).write.mode("overwrite").parquet(src)

    emissions = TR.run_transitions_stream(
        spark,
        src,
        "user_id long, event_id long, event_type string, ts timestamp",
        "transitions_ooo_test",
    )
    got = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in TR.final_pair_counts(emissions).collect()
    }

    # batch reference: sorted per-user consecutive pairs
    hist: dict = {}
    for (i, u, et, us) in rows:
        hist.setdefault(u, []).append((us, i, et))
    want: dict = {}
    for seq in hist.values():
        seq.sort()
        for (a, b) in zip(seq, seq[1:]):
            k = (a[2], b[2])
            want[k] = want.get(k, 0) + 1
    assert got == want
    # the hot user really is hot: half the events
    assert len(hist[0]) == 100
    # emission volume: <= 3 count-deltas per event, NOT O(history)
    # per update — the hot key must not re-emit its pair list
    vol = emissions.agg(
        F.sum(F.abs(F.col("delta"))).alias("v")
    ).collect()[0]["v"]
    assert vol <= 3 * len(rows)


def test_transitions_resumable_incremental_update(spark, tmp_path):
    """The resumable transitions census is genuinely INCREMENTAL: a
    second drain against the same checkpoint picks up only NEW files,
    restores per-user history from the state store, and splices the
    late events in — the folded census after (drain A; drain B) must
    equal the batch census over A+B, and the no-op re-drain between
    them must add zero deltas. This is the applyInPandasWithState
    state-restore path across SEPARATE query starts, not micro-batches
    within one start."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import (
        transitions as TR,
    )

    types = ["view", "click", "purchase"]
    rows = []
    for i in range(120):
        u = (i % 7)
        et = types[(i * 5) % 3]
        us = ((i * 31) % 120) * 1_000_000
        rows.append((i, u, et, us))

    def write_chunk(dest, chunk):
        spark.createDataFrame(
            chunk, "event_id long, user_id long, event_type string, t_us long"
        ).select(
            "user_id",
            "event_id",
            "event_type",
            F.timestamp_micros(F.col("t_us")).alias("ts"),
        ).coalesce(1).write.mode("append").parquet(dest)

    src = str(tmp_path / "src")
    schema = "user_id long, event_id long, event_type string, ts timestamp"

    def counts():
        return {
            (r["from_type"], r["to_type"]): r["n"]
            for r in TR.run_transitions_resumable(
                spark, src, schema, tmp_path
            ).collect()
        }

    write_chunk(src, rows[:70])
    before = counts()
    # no-op re-drain: no new files -> identical served counts
    assert counts() == before
    # bounded serving: compaction folded every epoch into ONE base —
    # the partials dir must hold only base_v* (O(grid), not O(events))
    names = {p.name for p in (tmp_path / "partials").iterdir()}
    assert names and all(n.startswith("base_v") for n in names), names

    # late chunk: its events land BETWEEN already-spliced ones
    write_chunk(src, rows[70:])
    got = counts()
    hist: dict = {}
    for (i, u, et, us) in rows:
        hist.setdefault(u, []).append((us, i, et))
    want: dict = {}
    for seq in hist.values():
        seq.sort()
        for (a, b) in zip(seq, seq[1:]):
            k = (a[2], b[2])
            want[k] = want.get(k, 0) + 1
    assert got == want


def test_dedup_stream_resume_incremental(spark, tmp_path):
    """The resumable doc-dedup maintainer (r7 conversion) across
    SEPARATE query starts: drain chunk A, no-op re-drain (identical
    survivors), then land chunk B containing a duplicate whose doc_id
    is SMALLER than the already-committed survivor — the state bucket
    must rewrite to the new min-id row, and the final survivor set
    must equal the batch min-id dedup over A ∪ B."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import corpus as C

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    def write_chunk(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def drain():
        C.run_dedup_stream(spark, src, state, ckpt, schema=schema, fresh=False)
        return {
            (r["doc_id"], r["text"])
            for r in C.survivors(spark, state).collect()
        }

    a = [(10 + i, f"t{i % 4}") for i in range(10)]  # texts t0..t3, dups
    write_chunk(a)
    first = drain()
    assert first == {(10, "t0"), (11, "t1"), (12, "t2"), (13, "t3")}
    # no-op re-drain: no new files -> state untouched
    assert drain() == first

    # chunk B: smaller-id duplicates of t0/t1 (survivor must FLIP) +
    # a brand-new text
    b = [(0, "t0"), (1, "t1"), (50, "t9")]
    write_chunk(b)
    want = {}
    for i, t in a + b:
        if t not in want or i < want[t]:
            want[t] = i
    assert drain() == {(i, t) for t, i in want.items()}


def test_alerts_stream_resume_continues_streaks(spark, tmp_path):
    """The resumable sustained-alert stream (r7 conversion) across
    SEPARATE query starts: the checkpointed applyInPandasWithState
    state must carry the OPEN window's partial counts and the streak
    through a restart — window 3 straddles the two drains and must
    merge, not double-fire; streaks must continue, not reset. Final
    sink == the batch gaps-and-islands evaluator over everything
    (all-error events make partial-window ppm == final ppm, so even
    the at-most-once early fire matches the batch answer)."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import alerts

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    w = alerts.WINDOW_MS // 1000  # 300 s windows

    def write_chunk(secs):
        spark.createDataFrame(
            [(s,) for s in secs], "s long"
        ).select(
            F.timestamp_seconds(F.col("s")).alias("ts"),
            F.lit("error").alias("event_type"),
        ).coalesce(1).write.mode("append").parquet(src)

    def drain():
        stream_src = spark.readStream.schema(
            "ts timestamp, event_type string"
        ).parquet(src)
        q = (
            alerts.sustained_alerts_stream(stream_src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            (r["window_ms"], r["error_ppm"], r["streak"])
            for r in spark.read.parquet(sink).collect()
        )

    # drain 1: windows 0-2 complete, window 3 partial (one event)
    write_chunk(
        [k * w + off for k in range(3) for off in (0, 60, 120)] + [3 * w]
    )
    first = drain()
    # windows 0,1 below the for: gate; 2 fires at streak 3; 3 fires
    # early (streak 4) on its partial-but-all-error counts
    assert [(ms // 1000 // w, st) for ms, _, st in first] == [(2, 3), (3, 4)]
    # no-op re-drain: nothing new -> no re-fire of the open window
    assert drain() == first

    # drain 2: rest of window 3 (straddle) + windows 4, 5
    write_chunk([3 * w + 60, 3 * w + 120, 4 * w, 4 * w + 60, 5 * w])
    got = drain()

    events = spark.createDataFrame(
        [(s,) for k in range(6) for s in (
            [k * w, k * w + 60, k * w + 120] if k != 5 else [k * w]
        )],
        "s long",
    ).select(
        F.timestamp_seconds(F.col("s")).alias("ts"),
        F.lit("error").alias("event_type"),
    )
    want = sorted(
        (r["window_start"].timestamp() * 1000, r["error_ppm"], r["streak"])
        for r in alerts.sustained_alerts(events).collect()
    )
    assert got == [(int(ms), ppm, st) for ms, ppm, st in want]


def test_compaction_crash_debris_never_corrupts_serving(spark):
    """The shared compaction protocol's two crash points, pinned: a
    staged ``_tmp_base_*`` fold (crash before the rename commit) and a
    higher-versioned base WITHOUT ``_SUCCESS`` (a copy that raced the
    marker) must both be invisible to serving — totals unchanged, even
    though the fake base contains doubled counts — and the next
    compaction sweeps them and commits normally."""
    import shutil as sh
    import tempfile

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import delta, ingest

    base = Path(tempfile.mkdtemp())
    src = ingest.write_envelope_files(
        spark, SF_SMOKE, str(base / "src"), None, n_files=4
    )
    delta.run_delta_stream(
        spark, src, str(base / "partials"), str(base / "ckpt"),
        max_files_per_trigger=2,
    )
    pdir = str(base / "partials")

    def totals():
        return sorted(
            (r["table_name"], r["net_rows"], r["net_sum_micro"])
            for r in delta.folded_with(spark, pdir, delta.fold_totals).collect()
        )

    before = totals()
    delta.compact_with(spark, pdir, delta.fold_totals)
    ver, committed = delta._base_version(pdir)
    assert committed is not None

    # crash point 1: a staged fold that never renamed into place
    staged = Path(pdir) / f"_tmp_{delta._BASE_PREFIX}{ver + 7:09d}"
    sh.copytree(committed, staged)
    assert totals() == before

    # crash point 2: a HIGHER-versioned base with no _SUCCESS marker,
    # carrying doubled counts — committed-looking garbage
    fake = Path(pdir) / f"{delta._BASE_PREFIX}{ver + 9:09d}"
    sh.copytree(committed, fake)
    (fake / "_SUCCESS").unlink()
    doubled = spark.read.parquet(str(committed)).unionAll(
        spark.read.parquet(str(committed))
    )
    doubled.write.mode("overwrite").parquet(str(fake))
    import os
    if (fake / "_SUCCESS").exists():
        os.remove(fake / "_SUCCESS")
    assert totals() == before

    # the sweep removes both debris dirs; serving still identical
    delta.compact_with(spark, pdir, delta.fold_totals)
    assert totals() == before
    names = {p.name for p in Path(pdir).iterdir()}
    assert not any(n.startswith("_tmp_") for n in names), names
    assert fake.name not in names, names


def test_ingest_resumable_second_call_is_empty_pass(spark):
    """The r7 ingest conversion: q_stream_ingest_counts /
    q_stream_dedupe persist sink + checkpoint per (events fingerprint,
    dup_mod, version), so a SECOND invocation must be an empty
    availableNow pass — identical counts, and not one new file
    committed to the sink's transaction log."""
    from pathlib import Path

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import ingest

    first = _counts(registry.QUERIES["q_stream_dedupe"](spark, SF_SMOKE))
    base = ingest.resumable_workdir(SF_SMOKE, "events", "ing_dup", "ingest-v1")
    meta = Path(base) / "sink" / "_spark_metadata"
    committed = sorted(p.name for p in meta.iterdir())
    again = _counts(registry.QUERIES["q_stream_dedupe"](spark, SF_SMOKE))
    assert again == first
    assert sorted(p.name for p in meta.iterdir()) == committed


def test_drain_partials_resumes_after_fold_failure(spark, tmp_path):
    """Fault injection for the shared epoch-partial drain
    (streaming/delta.py::drain_partials): a batch fold that raises on
    epoch 1 stops the drain with the session conf restored, and a
    resumed drain re-runs epoch 1 into the same
    ``epoch=1`` partial — serving exactly what an uninterrupted drain
    serves."""
    import pytest as _pytest

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import delta

    src = str(tmp_path / "src")
    spark.range(0, 300).selectExpr("id % 7 AS k", "id AS v").repartition(
        3
    ).write.parquet(src)

    def stream():
        return (
            spark.readStream.schema("k long, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    def fold(batch_df):
        return delta.fold_generic(batch_df, ["k"], ["v"])

    calls = []

    def failing_fold(batch_df):
        calls.append(len(calls))
        if len(calls) == 2:  # epoch 1, first attempt
            raise RuntimeError("injected fold failure")
        return fold(batch_df)

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    pdir, ckpt = str(tmp_path / "partials"), str(tmp_path / "ckpt")
    with _pytest.raises(Exception, match="injected fold failure"):
        delta.drain_partials(stream(), pdir, ckpt, failing_fold)
    assert spark.conf.get(key) == old
    assert [e for e, _ in delta._epoch_dirs(pdir)] == [0]

    delta.drain_partials(stream(), pdir, ckpt, failing_fold)
    clean = str(tmp_path / "clean")
    delta.drain_partials(stream(), clean, str(tmp_path / "clean_ckpt"), fold)

    def served(d):
        return sorted(
            (r["k"], r["v"])
            for r in delta.folded_with(spark, d, fold).collect()
        )

    assert served(pdir) == served(clean)
    batch = spark.read.parquet(src).groupBy("k").agg(F.sum("v").alias("v"))
    assert served(clean) == sorted((r["k"], r["v"]) for r in batch.collect())
    names = [p.name for p in Path(pdir).iterdir()]
    assert names.count("epoch=1") == 1
    assert [e for e, _ in delta._epoch_dirs(pdir)] == [0, 1, 2]


SERVE_FAMILIES = [
    "drift", "trend", "gapfill", "dq", "pii", "sample", "kmv",
    "manifest", "host_graph", "funnel", "transitions",
]


def _serve_family(spark, name):
    """(source frame, stream hook or None, batch_fold, fold, post, twin)
    for one family served through delta.serve_partials: ``post`` turns
    the served frame into the stream query's answer and ``twin()`` is
    the batch answer it must equal. ``None`` reads the source one
    file per micro-batch."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions import (
        dq as DQ,
        kmv as KMV,
        pii as PII,
        sampling as SK,
    )
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries import (
        advanced_ops as AO,
        profiling as PR,
        training_io as TIO,
        web_frontier as WF,
    )
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import (
        funnel as FU,
        transitions as TR,
    )

    q = registry.QUERIES
    ev = load_table(spark, SF_SMOKE, "events")
    docs = load_table(spark, SF_SMOKE, "documents")
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_returnflag", "l_partkey")
    pairs = spark.range(0, 200).selectExpr(
        "concat('h', id % 13) AS src", "concat('h', id % 7) AS dst"
    )

    def same(df):
        return df

    def batch(qname):
        return lambda: q[qname](spark, SF_SMOKE)

    return {
        "drift": (ev, None, PR._drift_partial, PR._drift_fold,
                  PR.drift_census, batch("q_event_drift")),
        "trend": (ev, None, AO._daily_obs, AO._daily_fold,
                  AO.trend_from_daily, batch("q_trend_slope")),
        "gapfill": (ev, None, AO._hourly_obs, AO._hourly_fold,
                    AO.gapfill_series, batch("q_gapfill_interpolate")),
        "dq": (ev, None, PR._dq_partial(PR.STREAM_DQ_CHECKS), PR._dq_fold, same,
               lambda: DQ.evaluate_checks({"events": ev}, PR.STREAM_DQ_CHECKS)
               .select("check_id", "violations")),
        "pii": (docs.select("doc_id", "source", "text"), None,
                TIO._pii_partial, PII.fold_rollups, same, batch("q_pii_census")),
        "sample": (docs.select("doc_id", "source"), None, TIO._sample_partial,
                   TIO._sample_fold, same, batch("q_sample_fixed")),
        "kmv": (li, None, AO._kmv_partial, AO._kmv_fold,
                lambda s: AO._kmv_report(
                    AO._kmv_union_and_summarize(KMV.bottom_k(s)),
                    AO._kmv_exact_side(li),
                ),
                batch("q_kmv_distinct")),
        "manifest": (docs.select("doc_id", "text"), None, TIO._manifest_partial,
                     SK.fold_manifests, SK.manifest_select,
                     batch("q_shard_manifest")),
        "host_graph": (pairs, None, WF._host_pairs, WF._host_pairs, same,
                       pairs.distinct),
        "funnel": (ev, lambda src: FU.funnel_stream(spark, src, ev.schema),
                   FU.last_per_user, FU.last_per_user, FU.final_stage_counts,
                   batch("q_funnel_stages")),
        "transitions": (ev, lambda src: TR._delta_stream(spark, src, ev.schema),
                        TR._grid_fold, TR._grid_fold,
                        lambda s: PR.transition_report(
                            s.select(
                                "from_type", "to_type",
                                F.col("delta").cast("long").alias("n"),
                            ).filter(F.col("n") > 0)
                        ),
                        batch("q_event_transitions")),
    }[name]


@pytest.mark.parametrize("family", SERVE_FAMILIES)
def test_serve_partials_batch_boundary_invariance(spark, tmp_path, family):
    """Every family served through delta.serve_partials answers the
    same whether its backlog drains as 4 micro-batches or as 1, and
    that answer equals its batch twin (the fold is a monoid, so batch
    boundaries cannot show). A second serve_partials call on the same
    base is an empty drain: no new ``epoch=`` dir, identical rows."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.streaming import delta

    frame, hook, batch_fold, fold, post, twin = _serve_family(spark, family)
    want = twin()
    expect = sorted(tuple(r) for r in want.collect())
    assert expect

    def stream(src):
        if hook is not None:
            return hook(src)
        return (
            spark.readStream.schema(frame.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    def served(src, base):
        out = post(delta.serve_partials(stream(src), base, batch_fold, fold))
        return sorted(tuple(r) for r in out.select(*want.columns).collect())

    for n_files in (4, 1):
        src = str(tmp_path / f"src_{n_files}")
        frame.repartition(n_files).write.parquet(src)
        base = tmp_path / f"run_{n_files}"
        assert served(src, base) == expect, n_files
        pdir = base / "partials"
        # one micro-batch per file, all folded into the base
        assert delta._base_version(str(pdir))[0] == n_files - 1
        names = sorted(p.name for p in pdir.iterdir())
        assert not any(n.startswith("epoch=") for n in names), names
        assert served(src, base) == expect
        assert sorted(p.name for p in pdir.iterdir()) == names
