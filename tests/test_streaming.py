"""Streaming-vs-batch equivalence tests (SURVEY.md §5.4.3): each stream_*
operator's bounded replay must equal its batch twin computed by Spark
itself on the same events table. Oracle (DuckDB) parity is covered by
tools/preflight.py; these run at sf0.001 for speed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import sparkgraft
from conftest import SF_DIR


def _events(spark):
    return sparkgraft.load(spark, SF_DIR, "events")


def _as_sets(df):
    return {tuple(r) for r in df.collect()}


def test_tumbling_matches_batch(spark):
    streamed = sparkgraft.QUERIES["stream_tumbling_counts"](spark, SF_DIR)
    batch = (
        _events(spark)
        .groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count("*").alias("n"))
    )
    assert _as_sets(streamed) == _as_sets(batch)


def test_sliding_windows_are_4x_events(spark):
    streamed = sparkgraft.QUERIES["stream_sliding"](spark, SF_DIR)
    total_events = _events(spark).count()
    assert streamed.agg(F.sum("n")).collect()[0][0] == 4 * total_events


def test_session_window_matches_gaps_and_islands(spark):
    streamed = sparkgraft.QUERIES["stream_session_window"](spark, SF_DIR)
    # Batch twin: win_session_ids assigns per-user session ids the same way.
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = _events(spark).withColumn(
        "new_sess",
        (F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
         > 30 * 60).cast("int"),
    ).fillna({"new_sess": 0})
    sess = flagged.withColumn(
        "sid", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    batch = sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("session_start"), F.count("*").alias("n_events")
    ).drop("sid")
    assert _as_sets(streamed) == _as_sets(batch)


def test_watermark_late_drops_old_half(spark):
    streamed = sparkgraft.QUERIES["stream_watermark_late"](spark, SF_DIR)
    from sparkgraft.streaming import _LATE_CUTOFF

    ev = _events(spark)
    recent = ev.filter(F.col("ts") >= F.lit(_LATE_CUTOFF).cast("timestamp"))
    old_n = ev.count() - recent.count()
    assert old_n > 0, "split cutoff must leave a non-empty late half"
    batch = recent.groupBy(
        F.date_trunc("hour", "ts").alias("window_start")
    ).agg(F.count("*").alias("n"))
    assert _as_sets(streamed) == _as_sets(batch)


def test_dedup_state_matches_distinct(spark):
    streamed = sparkgraft.QUERIES["stream_dedup_state"](spark, SF_DIR)
    batch = _events(spark).select("user_id", "event_type").distinct()
    assert _as_sets(streamed) == _as_sets(batch)


def test_running_agg_final_state_is_batch_groupby(spark):
    streamed = sparkgraft.QUERIES["stream_running_agg"](spark, SF_DIR)
    batch = _events(spark).groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    assert _as_sets(streamed) == _as_sets(batch)


def test_custom_state_matches_batch_gap_fold(spark):
    streamed = sparkgraft.QUERIES["stream_custom_state"](spark, SF_DIR)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    gaps = _events(spark).withColumn(
        "gap_us",
        F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w),
    )
    batch = gaps.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.max("gap_us") / 1e6, 6).alias("max_gap_s"),
    )
    assert _as_sets(streamed) == _as_sets(batch)


def test_foreach_sink_saw_every_row_once(spark):
    streamed = sparkgraft.QUERIES["stream_foreach_sink"](spark, SF_DIR)
    batch = _events(spark).groupBy("event_type").agg(F.count("*").alias("n"))
    assert _as_sets(streamed) == _as_sets(batch)


def test_stream_stream_join_matches_batch_join(spark):
    streamed = sparkgraft.QUERIES["stream_stream_join"](spark, SF_DIR)
    e = _events(spark)
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("cts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
    )
    batch = c.join(
        p,
        (F.col("user_id") == F.col("pu"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_micros("pts") - F.unix_micros("cts")).alias("delta_us"),
    )
    assert _as_sets(streamed) == _as_sets(batch)


def test_transform_state_matches_batch_groupby(spark):
    # The transformWithState fold (or its protobuf-gated
    # applyInPandasWithState fallback — identical semantics) must agree
    # with the batch per-user min/max/count.
    streamed = sparkgraft.QUERIES["stream_transform_state"](spark, SF_DIR)
    batch = (
        _events(spark)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
    )
    assert _as_sets(streamed) == _as_sets(batch)


def test_transform_state_typed_path_where_protobuf_exists(spark):
    """Runs ONLY in deployments that ship google.protobuf (the
    transformWithState Python worker protocol dependency): there the
    query takes the typed StatefulProcessor path, and its result must
    still match the batch fold. Skipped in containers without protobuf,
    where the applyInPandasWithState fallback is covered by
    test_transform_state_matches_batch_groupby."""
    pytest.importorskip("google.protobuf")
    streamed = sparkgraft.QUERIES["stream_transform_state"](spark, SF_DIR)
    batch = (
        _events(spark)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
    )
    assert _as_sets(streamed) == _as_sets(batch)


def test_restart_recovery_matches_batch_and_resumes_state(spark):
    """The restart key must equal the plain batch aggregate (re-reading
    phase-1 files on restart would double counts), AND the checkpointed
    state must be load-bearing: at least one hourly window straddles the
    phase boundary, i.e. some (window_start, event_type) key received
    updates in both a phase-1 batch and a phase-2 batch with a strictly
    larger count — only possible if the restarted query restored the
    phase-1 partial count from the state store."""
    import os
    import tempfile

    # sf0.01: ~17 events/hour, so the mid-hour quartile cut reliably
    # splits some (hour, type) count across the phases (at sf0.001 the
    # corpus is too sparse for the straddle check to be deterministic)
    from conftest import SF_DIR_MID

    streamed = sparkgraft.QUERIES["stream_restart_recovery"](spark, SF_DIR_MID)
    batch = (
        sparkgraft.load(spark, SF_DIR_MID, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count("*").alias("n"))
    )
    assert _as_sets(streamed) == _as_sets(batch)

    root = os.path.join(
        tempfile.gettempdir(),
        f"sg-restart-{os.path.basename(SF_DIR_MID.rstrip('/'))}-pid{os.getpid()}",
    )
    out = os.path.join(root, "out")
    ids = sorted(int(d[1:]) for d in os.listdir(out) if d.startswith("b"))
    # phase 1 = two single-file batches (ids 0, 1); phase 2 continues
    assert ids[:2] == [0, 1] and ids[2] > 1 and len(ids) >= 4
    per_batch = {
        b: {
            (r["window_start"], r["event_type"]): r["n"]
            for r in spark.read.parquet(
                os.path.join(out, f"b{b:05d}")
            ).collect()
        }
        for b in ids
    }
    phase1_last = {}
    for b in ids[:2]:
        phase1_last.update(per_batch[b])
    straddled = [
        k
        for b in ids[2:]
        for k, n in per_batch[b].items()
        if k in phase1_last and n > phase1_last[k]
    ]
    assert straddled, "no window straddled the restart boundary"


def test_restart_recovery_is_rerunnable_in_process(spark):
    # a second invocation wipes its scratch root and must still resume
    # (stale checkpoints from the prior call would otherwise report the
    # new files as already seen)
    first = _as_sets(sparkgraft.QUERIES["stream_restart_recovery"](spark, SF_DIR))
    second = _as_sets(sparkgraft.QUERIES["stream_restart_recovery"](spark, SF_DIR))
    assert first == second


def test_backfill_rate_limit_bites(spark):
    """The backfill key itself asserts >= 3 micro-batches in-line; here
    we pin the complement — the same aggregate WITHOUT the rate limit
    completes in one availableNow batch, so the >= 3 batches genuinely
    came from maxFilesPerTrigger and not from staging artifacts."""
    import sparkgraft
    from sparkgraft.streaming import (
        _events_stream,
        _name_seq,
        _stage_events_split,
    )
    from pyspark.sql import functions as F

    out = sparkgraft.QUERIES["stream_backfill_rate_limited"](spark, SF_DIR)
    assert out.count() > 0

    src = _events_stream(spark, _stage_events_split(SF_DIR))  # no limit
    agg = src.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count("*").alias("n"))
    name = f"sg_backfill_nolimit_{next(_name_seq)}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert (q.lastProgress or {}).get("batchId", -1) == 0


def test_exactly_once_sink_replays_crashed_batch_without_duplicates(spark):
    """r8 (the r7 verdict's missing #4): the foreachBatch sink key kills
    itself between batch 1's data write and ledger commit; on restart
    the batch id must be RE-DELIVERED and DEDUPLICATED. The key already
    hard-asserts the kill point, the orphan, and redelivery-first; this
    test pins the end-to-end exactly-once outcome against the batch twin
    and inspects the sink artifacts directly."""
    import os
    import tempfile

    out = sparkgraft.QUERIES["stream_exactly_once_sink"](spark, SF_DIR)
    got = {
        (r.window_start, r.event_type, r.n) for r in out.collect()
    }
    batch = {
        (r.window_start, r.event_type, r.n)
        for r in _events(spark)
        .groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == batch  # no duplicate from the replay, no loss

    root = os.path.join(
        tempfile.gettempdir(),
        f"sg-e1sink-{os.path.basename(SF_DIR.rstrip('/'))}-pid{os.getpid()}",
    )
    ledger = sorted(os.listdir(os.path.join(root, "ledger")))
    # all four quartile batches committed exactly once, incl. the
    # re-delivered crashed batch 1
    assert ledger == [f"b{b:05d}.json" for b in range(4)]
    # total rows across committed dirs == corpus (file-level no-dup proof)
    dirs = [os.path.join(root, "data", f"b{b:05d}") for b in range(4)]
    assert spark.read.parquet(*dirs).count() == _events(spark).count()


def test_acid_append_skips_replayed_commit(spark):
    """r8: the streaming-into-ACID-table sink crashes AFTER batch 1's
    commit and BEFORE the checkpoint records it; the replay must be
    txn-SKIPPED (in-key asserts), the head snapshot must equal the batch
    twin, and the log must carry each batch id exactly once."""
    import os
    import tempfile

    from sparkgraft.table import (
        log_versions as _log_versions,
        read_manifest as _read_manifest,
    )

    out = sparkgraft.QUERIES["stream_acid_append"](spark, SF_DIR)
    got = {(r.window_start, r.event_type, r.n) for r in out.collect()}
    batch = {
        (r.window_start, r.event_type, r.n)
        for r in _events(spark)
        .groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == batch
    log = os.path.join(
        tempfile.gettempdir(),
        f"sg-acidapp-{os.path.basename(SF_DIR.rstrip('/'))}-pid{os.getpid()}",
        "log",
    )
    batch_ids = [
        _read_manifest(log, v)["batch_id"] for v in _log_versions(log)
    ]
    assert sorted(batch_ids) == [0, 1, 2, 3]  # each exactly once
