"""Event-time windows (SURVEY.md §2.11, OP-LLM-05 — [mandate]).

Each windowed aggregation is defined once and runs in two forms:
  * BATCH form (F.window / session_window on a static DataFrame) —
    SQL-oracle checkable, and exactly what a backfill job runs;
  * STREAMING form (readStream + withWatermark) — the online path:
    the same aggregate function applied to the watermarked stream,
    late data bounded by the watermark.
Spark guarantees the two agree on closed windows — that equivalence
is the testing strategy (batch oracle for a streaming operator).

Window starts are epoch-aligned (Spark aligns F.window to
1970-01-01 UTC), so the SQL twin is floor(epoch/width)*width.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_window_counts(
    events: DataFrame,
    width: str = "10 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling event-time windows: per (window, key) count + sum.
    One shuffle on (window, key)."""
    return (
        events.groupBy(F.window(ts_col, width).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(value_col), 6).alias("total"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            key_col,
            "n",
            "total",
        )
    )


def sliding_window_counts(
    events: DataFrame,
    width: str = "10 minutes",
    slide: str = "5 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Sliding windows: each event lands in width/slide windows
    (Spark expands them JVM-side; no row explosion in user code)."""
    return (
        events.groupBy(
            F.window(ts_col, width, slide).alias("w"), F.col(key_col)
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            key_col,
            "n",
        )
    )


def _sessions(
    events: DataFrame, gap: str, ts_col: str, user_col: str, *bounds: str
) -> DataFrame:
    """Per-user gap sessions: one row per (user, session) with its
    event count and rounded value total, plus each of the session's
    ``bounds`` ("start", "end") as epoch seconds ``session_<bound>``."""
    return (
        events.groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), F.col(user_col)
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total"),
        )
        .select(
            F.col(user_col),
            *(F.col(f"w.{b}").cast("long").alias(f"session_{b}") for b in bounds),
            "n_events",
            "total",
        )
    )


def session_windows_batch(
    events: DataFrame,
    gap: str = "5 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Per-user session windows (gap-based) on a static frame via
    ``F.session_window`` — the same aggregate the streaming form
    runs; the SQL oracle is the classic gaps-and-islands (lag +
    conditional cumsum)."""
    return _sessions(events, gap, ts_col, user_col, "start")


def open_table_stream(
    spark,
    table_path: str,
    schema,
    max_files_per_trigger: int | None = None,
):
    """File-source stream over a parquet TABLE path, handling both
    physical layouts a table path can have:

    * a SINGLE FILE named ``<table>.parquet`` (the driver's testdata
      layout) — file streaming sources need a DIRECTORY, so stream
      the parent narrowed to that one file with a glob filter;
    * a DIRECTORY of ``part-*`` files (every Spark-written table,
      i.e. anything a real cluster produces) — stream it as-is. A
      filename glob filter here matches nothing and the stream
      silently reads 0 rows (found by the sf1 sweep: the derived
      decade fixtures are directory-layout, like any real dataset).

    ``max_files_per_trigger`` forces MULTI-batch execution — how the
    multi-batch equivalence tests drive real batch boundaries
    through the stateful operators.

    Layout detection uses ``os.path.isdir``, which only answers for
    LOCAL paths — on a scheme-prefixed URI (``s3://``, ``hdfs://``)
    it is always False and the single-file branch would wrongly glob
    the parent. Such paths skip the shortcut and stream as-is; a
    remote SINGLE-file table (never produced by Spark or the decade
    tooling, both of which write directories) is out of contract."""
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    scheme_prefixed = "://" in table_path
    if (
        not scheme_prefixed
        and table_path.endswith(".parquet")
        and not os.path.isdir(table_path)
    ):
        base, _, fname = table_path.rpartition("/")
        reader = reader.option("pathGlobFilter", fname)
        table_path = base
    return reader.load(table_path)


def _open_event_stream(
    spark,
    source_path: str,
    schema,
    ts_col: str,
    max_files_per_trigger: int | None = None,
):
    """:func:`open_table_stream` with the ``ts`` column normalized
    to a session-timezone TimestampType — the streaming twin of
    ``sources.readers.load_events`` (same two physical encodings
    handled: nanos-as-long and micros-NTZ)."""
    from pyspark.sql.types import LongType, TimestampNTZType

    # Naive-as-UTC stored wall times; see sources.readers.load_events.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = open_table_stream(spark, source_path, schema, max_files_per_trigger)
    ts_type = stream.schema[ts_col].dataType
    if isinstance(ts_type, LongType):
        # integer-exact nanos->micros (a double roundtrip at 1e18
        # nanos loses exactness).
        stream = stream.withColumn(
            ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000"))
        )
    elif isinstance(ts_type, TimestampNTZType):
        # micros-NTZ encoding; UTC session => epoch-exact cast.
        stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream


def streaming_session_counts(
    spark,
    source_path: str,
    schema,
    gap: str = "5 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
    max_files_per_trigger: int | None = None,
):
    """The online twin of ``session_windows_batch``: gap-based
    session windows over a file-source stream, with each session's
    end as ``session_end``. Session windows are stateful merges
    (adjacent events union into one growing window), so a watermark
    is REQUIRED in append mode — it bounds both state and when a
    session is final (no event within ``gap`` before the watermark).
    Returns the unstarted streaming DataFrame; callers pick sink +
    trigger. Batch equivalence on closed sessions is the test oracle
    (tests/test_streaming.py)."""
    stream = _open_event_stream(
        spark, source_path, schema, ts_col, max_files_per_trigger
    )
    return _sessions(
        stream.withWatermark(ts_col, watermark), gap, ts_col, user_col,
        "start", "end",
    )


def streaming_tumbling_counts(
    spark,
    source_path: str,
    schema,
    width: str = "10 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
    max_files_per_trigger: int | None = None,
):
    """The online twin of tumbling_window_counts — the same aggregate
    over a file-source stream, with a watermark bounding late
    data/state (the state store drops windows older than
    max(event_time) - watermark). Returns the unstarted streaming
    DataFrame; callers pick sink + trigger."""
    stream = _open_event_stream(
        spark, source_path, schema, ts_col, max_files_per_trigger
    )
    return tumbling_window_counts(
        stream.withWatermark(ts_col, watermark), width, ts_col, key_col
    )


def streaming_static_enrich(
    spark,
    source_path: str,
    schema,
    dim: DataFrame,
    width: str = "10 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    dim_key: str = "user_id",
    dim_attr: str = "tier",
):
    """Stream-static join + windowed rollup: each micro-batch of the
    event stream is enriched against a STATIC dimension (broadcast
    hash lookup, stateless — Spark re-plans the static side per
    batch, so a dim refresh is picked up between batches), then
    aggregated per (window, dim attribute) under the watermark by
    :func:`tumbling_window_counts`.

    This is the canonical online feature pipeline shape: facts
    stream, dims don't. The stream-static join adds NO state-store
    entries (unlike stream-stream joins); only the windowed agg
    keeps state, bounded by the watermark. Returns the unstarted
    streaming DataFrame; batch equivalence is the test oracle."""
    stream = _open_event_stream(spark, source_path, schema, ts_col)
    enriched = stream.join(F.broadcast(dim), dim_key)
    return tumbling_window_counts(
        enriched.withWatermark(ts_col, watermark), width, ts_col, dim_attr
    )


# Buckets per generated sequence() array in resample_events — the
# explode streams rows out of each array, so this bounds the largest
# in-memory array at 8192 longs (64 KB) no matter how wide a key's
# time span is. Before chunking, ONE corrupt timestamp (epoch-0 from
# a bad parse, year-2100 from a ms-vs-s confusion) made the per-key
# array |span|-sized — measured as a driver-JVM heap OOM at sf0.001
# under the vanilla 1g heap the moment the edge fixture added a
# 2100-01-01 event (tools/edge_fixture.py; the round-7 data-edge
# sweep's hardest finding).
_SPINE_CHUNK = 8192


def resample_events(
    events: DataFrame,
    bucket_s: int = 600,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    max_buckets_per_key: int | None = 10_000_000,
) -> DataFrame:
    """Time-series resample with GAP FILLING: per-key fixed buckets
    from the key's first to last event, empty buckets materialized
    with n=0 / total=0 (the downsample-then-gap-fill shape every
    telemetry/feature pipeline needs; Spark has no generate_series
    per group, so the bin spine is generated per key — two-level:
    sequence() over CHUNK STARTS, explode, then a bounded
    sequence() per chunk, so no array ever exceeds ``_SPINE_CHUNK``
    elements regardless of the key's span).

    ``max_buckets_per_key`` is the corrupt-timestamp guard: gap-fill
    output is |span|-sized by SEMANTICS, so one mis-parsed timestamp
    (epoch 0, year 56000) silently turns a key into billions of
    rows. The cap is enforced LAZILY, in-plan (``assert_true`` on
    the per-key span feeding the spine build), so the operator stays
    a pure transformation — no eager action at plan-construction
    time, no double scan of the fact aggregate, and the guard
    composes with streaming inputs. An offending key fails the
    triggering action with a message naming the key and its bucket
    count; pass ``None`` to disable.

    Shuffle shape: one (key, bucket) hash agg over the facts, one
    small per-key min/max agg, and a join of the generated spine
    against the bucket aggregate. The spine is |keys| x |range|
    rows — bounded by time span, independent of event volume, so at
    100 TB it stays dimension-sized relative to the facts.
    """
    b = (F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_s) * bucket_s).cast(
        "long"
    )
    agg = (
        events.withColumn("_b", b)
        .groupBy(key_col, "_b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(value_col).alias("_total"),
        )
    )
    rng = agg.groupBy(key_col).agg(
        F.min("_b").alias("_lo"), F.max("_b").alias("_hi")
    )
    if max_buckets_per_key is not None:
        n_buckets = (
            (F.col("_hi") - F.col("_lo")) / F.lit(int(bucket_s)) + 1
        ).cast("long")
        msg = F.concat(
            F.lit("resample_events: key span exceeds max_buckets_per_key="),
            F.lit(f"{max_buckets_per_key:,} ("),
            F.col(key_col).cast("string"),
            F.lit("="),
            F.format_number(n_buckets, 0),
            F.lit(
                " buckets) — usually one corrupt timestamp (epoch 0 / "
                "far future) stretching the gap-fill spine; clean the "
                "timestamps, widen bucket_s, or raise/disable the cap"
            ),
        )
        guard = F.assert_true(
            n_buckets <= F.lit(int(max_buckets_per_key)), msg
        )
        # assert_true yields NULL when it passes; folding it into the
        # consumed _lo keeps the check in the optimized plan (a bare
        # projected-away column would be pruned)
        rng = rng.withColumn(
            "_lo", F.when(guard.isNull(), F.col("_lo"))
        )
    chunk_step = int(bucket_s) * _SPINE_CHUNK
    chunk = rng.select(
        F.col(key_col),
        F.col("_hi"),
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.lit(chunk_step))
        ).alias("_c"),
    )
    spine = chunk.select(
        F.col(key_col),
        F.explode(
            F.sequence(
                F.col("_c"),
                F.least(
                    F.col("_hi"),
                    F.col("_c") + F.lit(chunk_step - int(bucket_s)),
                ),
                F.lit(int(bucket_s)),
            )
        ).alias("_b"),
    )
    return (
        spine.join(agg, [key_col, "_b"], "left")
        .select(
            F.col(key_col),
            F.col("_b").alias("bucket_start"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            F.round(F.coalesce("_total", F.lit(0.0)), 6).alias("total"),
        )
    )
