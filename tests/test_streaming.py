"""Streaming window tests (OP-LLM-05): the streaming path must agree
with its batch twin on closed windows — Spark's own guarantee, used
here as the oracle (SURVEY.md §5.2 cross-framework agreement)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_streaming_equals_batch_tumbling(spark):
    from gexp_ml_dask_spark.streaming import (
        streaming_tumbling_counts,
        tumbling_window_counts,
    )

    from gexp_ml_dask_spark.sources.readers import load_events

    events = load_events(spark, SF_SMOKE)
    batch = {
        (r["window_start"], r["event_type"]): (r["n"], r["total"])
        for r in tumbling_window_counts(events).collect()
    }

    raw_schema = spark.read.parquet(f"{SF_SMOKE}/events.parquet").schema
    agg = streaming_tumbling_counts(
        spark, f"{SF_SMOKE}/events.parquet", raw_schema
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_stream_test")
        .start()
    )
    try:
        q.processAllAvailable()
        stream = {
            (r["window_start"], r["event_type"]): (r["n"], r["total"])
            for r in spark.table("t_stream_test").collect()
        }
    finally:
        q.stop()

    assert stream == batch


def test_session_windows_merge_by_gap(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:03:00", 1.0),  # within 5 min -> same session
        (1, "2024-01-01 00:20:00", 1.0),  # gap > 5 min -> new session
        (2, "2024-01-01 00:00:00", 1.0),
    ]
    events = spark.createDataFrame(
        rows, "user_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    from gexp_ml_dask_spark.streaming import session_windows_batch

    out = session_windows_batch(events, gap="5 minutes").collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r["n_events"])
    assert sorted(per_user[1]) == [1, 2]
    assert per_user[2] == [1]


def test_sliding_each_event_in_two_windows(spark):
    from gexp_ml_dask_spark.sources.readers import load_events
    from gexp_ml_dask_spark.streaming import sliding_window_counts

    events = load_events(spark, SF_SMOKE)

    out = sliding_window_counts(events)
    total = out.agg(F.sum("n")).collect()[0][0]
    assert total == 2 * events.count()


def test_stateful_dedup_equals_batch_keepfirst(spark):
    """The applyInPandasWithState online dedup must emit exactly the
    batch keep-first (text_hash, min doc_id) set when the input
    arrives as one batch."""
    from gexp_ml_dask_spark.llm.dedup import exact_dedup_groups
    from gexp_ml_dask_spark.streaming import streaming_first_seen_dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    batch = {
        (r["text_hash"], r["keep_id"])
        for r in exact_dedup_groups(docs).collect()
    }

    schema = docs.schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(SF_SMOKE)
    )
    q = (
        streaming_first_seen_dedup(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_stateful_dedup")
        .start()
    )
    try:
        q.processAllAvailable()
        online = {
            (r["text_hash"], r["doc_id"])
            for r in spark.table("t_stateful_dedup").collect()
        }
    finally:
        q.stop()

    assert online == batch


def test_streaming_sessions_equal_batch_on_closed_sessions(spark):
    """Append-mode session windows emit exactly the sessions the
    watermark has certified closed; those must match the batch
    session_window aggregation row-for-row, and every batch session
    that closes before the final watermark must have been emitted."""
    from gexp_ml_dask_spark.sources.readers import load_events
    from gexp_ml_dask_spark.streaming import streaming_session_counts

    events = load_events(spark, SF_SMOKE)
    batch = {
        (r["user_id"], r["session_start"], r["session_end"]): (
            r["n_events"],
            r["total"],
        )
        for r in events.groupBy(
            F.session_window(F.col("ts"), "5 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            F.col("w.end").cast("long").alias("session_end"),
            "n_events",
            "total",
        )
        .collect()
    }

    raw_schema = spark.read.parquet(f"{SF_SMOKE}/events.parquet").schema
    agg = streaming_session_counts(
        spark, f"{SF_SMOKE}/events.parquet", raw_schema, watermark="30 minutes"
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_stream_sessions")
        .start()
    )
    try:
        q.processAllAvailable()
        online = {
            (r["user_id"], r["session_start"], r["session_end"]): (
                r["n_events"],
                r["total"],
            )
            for r in spark.table("t_stream_sessions").collect()
        }
    finally:
        q.stop()

    # every emitted session is a batch session with identical agg
    assert online, "append sink emitted nothing — watermark never closed a session"
    for k, v in online.items():
        assert batch.get(k) == v, (k, v, batch.get(k))
    # and every session certainly-closed by the final watermark was emitted
    max_ts = events.agg(F.max(F.col("ts").cast("long"))).collect()[0][0]
    final_wm = max_ts - 30 * 60
    must_emit = {k for k in batch if k[2] < final_wm}
    assert must_emit <= set(online), sorted(must_emit - set(online))[:5]


def test_streaming_static_enrich_equals_batch(spark):
    """Stream-static join: per-micro-batch broadcast enrichment +
    windowed rollup must agree with the same join+agg run in batch."""
    from gexp_ml_dask_spark.queries import user_tier_dim
    from gexp_ml_dask_spark.sources.readers import load_events
    from gexp_ml_dask_spark.streaming import streaming_static_enrich

    dim = user_tier_dim(spark, SF_SMOKE)
    events = load_events(spark, SF_SMOKE)
    batch = {
        (r["window_start"], r["tier"]): (r["n"], r["total"])
        for r in (
            events.join(F.broadcast(dim), "user_id")
            .groupBy(F.window("ts", "10 minutes").alias("w"), F.col("tier"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 6).alias("total"),
            )
            .select(
                F.col("w.start").cast("long").alias("window_start"),
                "tier",
                "n",
                "total",
            )
            .collect()
        )
    }

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{SF_SMOKE}/events.parquet").schema
    agg = streaming_static_enrich(
        spark, f"{SF_SMOKE}/events.parquet", raw_schema, dim
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_enrich_test")
        .start()
    )
    try:
        q.processAllAvailable()
        stream = {
            (r["window_start"], r["tier"]): (r["n"], r["total"])
            for r in spark.table("t_enrich_test").collect()
        }
    finally:
        q.stop()

    assert stream == batch


def test_stream_stream_interval_join_equals_batch(spark):
    """Inner stream-stream joins must emit exactly the batch join's
    pairs once all input is processed (watermarks only gate state
    eviction, not inner-join emission)."""
    from gexp_ml_dask_spark.sources.readers import load_events
    from gexp_ml_dask_spark.streaming import (
        interval_join_batch,
        streaming_interval_join,
    )

    events = load_events(spark, SF_SMOKE)
    batch = {
        (r["user_id"], r["left_id"], r["right_id"], r["delta_s"])
        for r in interval_join_batch(events).collect()
    }
    assert batch, "fixture produced no attribution pairs"

    raw_schema = spark.read.parquet(f"{SF_SMOKE}/events.parquet").schema
    pairs = streaming_interval_join(
        spark, f"{SF_SMOKE}/events.parquet", raw_schema
    )
    q = (
        pairs.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ssjoin_test")
        .start()
    )
    try:
        q.processAllAvailable()
        stream = {
            (r["user_id"], r["left_id"], r["right_id"], r["delta_s"])
            for r in spark.table("t_ssjoin_test").collect()
        }
    finally:
        q.stop()

    assert stream == batch


def test_watermark_dedup_drops_in_horizon_dups(spark):
    """dropDuplicatesWithinWatermark must keep exactly one row per
    key when all duplicates arrive inside the lateness horizon."""
    from gexp_ml_dask_spark.streaming import streaming_watermark_dedup
    from gexp_ml_dask_spark.streaming.windows import _open_event_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{SF_SMOKE}/events.parquet").schema
    stream = _open_event_stream(
        spark, f"{SF_SMOKE}/events.parquet", raw_schema, "ts"
    )
    # duplicate every event by unioning the stream with itself
    dup = stream.union(stream)
    out = streaming_watermark_dedup(
        dup, ["event_id"], watermark="100 days"
    ).select("event_id")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_wmdedup_test")
        .start()
    )
    try:
        q.processAllAvailable()
        got = [r["event_id"] for r in spark.table("t_wmdedup_test").collect()]
    finally:
        q.stop()
    n_events = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert len(got) == len(set(got)) == n_events


@pytest.fixture(scope="module")
def chunked_events_dir(spark, tmp_path_factory):
    """sf0.001 events split into 4 CHRONOLOGICAL parquet files (by ts
    quartile, lexicographic file names) so maxFilesPerTrigger=1
    drives one real micro-batch per chunk — the watermark then
    advances between batches exactly as it would in production."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = f"{SF_SMOKE}/events.parquet"
    table = pq.read_table(src)
    order = pc.sort_indices(table, sort_keys=[("ts", "ascending")])
    table = table.take(order)
    out = tmp_path_factory.mktemp("chunked_events")
    n = table.num_rows
    for i in range(4):
        lo = i * n // 4
        hi = (i + 1) * n // 4
        pq.write_table(table.slice(lo, hi - lo), str(out / f"chunk-{i:03d}.parquet"))
    return str(out)


def test_multibatch_tumbling_complete_equals_batch(spark, chunked_events_dir):
    """Complete-mode tumbling aggregation over FOUR micro-batches
    (one file each) must still converge to the full batch aggregation
    — the single-batch value oracle's claim holds across real batch
    boundaries because chronological arrival keeps every event inside
    the watermark."""
    from gexp_ml_dask_spark.sources.readers import load_events
    from gexp_ml_dask_spark.streaming import (
        streaming_tumbling_counts,
        tumbling_window_counts,
    )

    batch = {
        (r["window_start"], r["event_type"]): (r["n"], r["total"])
        for r in tumbling_window_counts(load_events(spark, SF_SMOKE)).collect()
    }
    raw_schema = spark.read.parquet(f"{SF_SMOKE}/events.parquet").schema
    agg = streaming_tumbling_counts(
        spark, chunked_events_dir, raw_schema, max_files_per_trigger=1
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_mb_tumbling")
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        online = {
            (r["window_start"], r["event_type"]): (r["n"], r["total"])
            for r in spark.table("t_mb_tumbling").collect()
        }
    finally:
        q.stop()
    assert n_batches >= 4, n_batches
    assert online == batch


def test_restart_from_checkpoint_exactly_once(
    spark, chunked_events_dir, tmp_path
):
    """Stop a watermarked append-mode aggregation mid-stream and
    restart it from its checkpoint with the remaining files present:
    the resumed query picks up at the recorded offsets — every input
    row is consumed exactly once across the restart, no window is
    double-emitted or lost, and the final parquet sink equals the
    batch aggregation under the watermark-eviction predicate. This is
    the exactly-once contract (checkpointed offsets + replayable file
    source + transactional file sink) a production pipeline restarts
    rely on."""
    import shutil
    from pathlib import Path

    from gexp_ml_dask_spark.streaming import (
        streaming_tumbling_counts,
        tumbling_window_counts,
    )

    chunks = sorted(Path(chunked_events_dir).glob("chunk-*.parquet"))
    assert len(chunks) == 4
    src = tmp_path / "src"
    src.mkdir()
    out, chk = str(tmp_path / "out"), str(tmp_path / "chk")
    raw_schema = spark.read.parquet(str(chunks[0])).schema

    def run_until_drained() -> int:
        agg = streaming_tumbling_counts(
            spark, str(src), raw_schema, max_files_per_trigger=1
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
            return sum(p["numInputRows"] for p in q.recentProgress)
        finally:
            q.stop()

    for c in chunks[:2]:
        shutil.copy(c, src / c.name)
    rows_phase1 = run_until_drained()
    for c in chunks[2:]:
        shutil.copy(c, src / c.name)
    rows_phase2 = run_until_drained()

    from gexp_ml_dask_spark.sources.readers import load_events

    all_events = load_events(spark, SF_SMOKE)  # chunks 0..3 == events
    n_events = all_events.count()
    # exactly-once consumption across the restart: the resumed query
    # must NOT re-read phase-1 files
    assert rows_phase1 + rows_phase2 == n_events
    assert rows_phase1 > 0 and rows_phase2 > 0

    max_us = all_events.select(
        F.max(F.unix_micros(F.col("ts"))).alias("m")
    ).collect()[0]["m"]
    wm_us = (max_us // 1000 - 30 * 60 * 1000) * 1000
    batch = {
        (r["window_start"], r["event_type"]): (r["n"], r["total"])
        for r in tumbling_window_counts(all_events)
        .filter((F.col("window_start") + 600) * 1000000 <= wm_us)
        .collect()
    }
    emitted = spark.read.parquet(out).collect()
    keys = [(r["window_start"], r["event_type"]) for r in emitted]
    assert len(keys) == len(set(keys))  # no double emission
    online = {
        (r["window_start"], r["event_type"]): (r["n"], r["total"])
        for r in emitted
    }
    assert online == batch


def test_multibatch_sessions_match_watermark_predicate(
    spark, chunked_events_dir
):
    """Append-mode session windows over four micro-batches: each
    session is emitted EXACTLY once, and the final emitted set equals
    the batch sessions with end <= the final ms-truncated watermark —
    the same predicate the single-batch driver oracle states."""
    from gexp_ml_dask_spark.sources.readers import load_events
    from gexp_ml_dask_spark.streaming import streaming_session_counts

    events = load_events(spark, SF_SMOKE)
    max_us = events.select(
        F.max(F.unix_micros(F.col("ts"))).alias("m")
    ).collect()[0]["m"]
    wm_us = (max_us // 1000 - 30 * 60 * 1000) * 1000
    batch = {
        (r["user_id"], r["session_start"], r["session_end"]): (
            r["n_events"],
            r["total"],
        )
        for r in events.groupBy(
            F.session_window(F.col("ts"), "5 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            F.col("w.end").cast("long").alias("session_end"),
            F.unix_micros(F.col("w.end")).alias("end_us"),
            "n_events",
            "total",
        )
        .filter(F.col("end_us") <= wm_us)
        .collect()
    }

    raw_schema = spark.read.parquet(f"{SF_SMOKE}/events.parquet").schema
    agg = streaming_session_counts(
        spark, chunked_events_dir, raw_schema, max_files_per_trigger=1
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_mb_sessions")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.table("t_mb_sessions").collect()
    finally:
        q.stop()
    keys = [(r["user_id"], r["session_start"], r["session_end"]) for r in rows]
    assert len(keys) == len(set(keys)), "a session was emitted twice"
    online = {
        k: (r["n_events"], r["total"]) for k, r in zip(keys, rows)
    }
    assert online == batch


def test_directory_layout_table_streams_all_rows(spark, tmp_path):
    """Regression: the file-source opener must read BOTH physical
    table layouts — the driver's single-file `events.parquet` AND a
    directory of part-* files (every Spark-written table). The old
    pathGlobFilter-on-filename form silently read 0 rows from the
    directory layout (caught by the sf1 sweep: all 8 streaming
    queries empty on the derived fixture)."""
    from gexp_ml_dask_spark.streaming import (
        open_table_stream,
        streaming_tumbling_counts,
        tumbling_window_counts,
    )

    from gexp_ml_dask_spark.sources.readers import load_events

    # a directory-layout copy of the smoke events table
    dir_table = str(tmp_path / "events.parquet")
    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    src.repartition(3).write.parquet(dir_table)

    batch = {
        (r["window_start"], r["event_type"]): (r["n"], r["total"])
        for r in tumbling_window_counts(load_events(spark, SF_SMOKE)).collect()
    }

    # the raw opener sees every row of the 3-part directory
    raw = open_table_stream(spark, dir_table, src.schema)
    q0 = (
        raw.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dir_raw")
        .start()
    )
    try:
        q0.processAllAvailable()
        n_raw = spark.table("t_dir_raw").count()
    finally:
        q0.stop()
    assert n_raw == src.count()

    # and the windowed aggregation over the directory layout equals
    # the batch twin, same as the single-file layout always did
    agg = streaming_tumbling_counts(
        spark, dir_table, spark.read.parquet(dir_table).schema
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_dir_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        online = {
            (r["window_start"], r["event_type"]): (r["n"], r["total"])
            for r in spark.table("t_dir_stream").collect()
        }
    finally:
        q.stop()
    assert online == batch
