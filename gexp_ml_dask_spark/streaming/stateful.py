"""Stateful streaming operators (SURVEY.md §2.11, OP-LLM-05/06 —
[mandate]).

``applyInPandasWithState`` is the escape hatch for operators the
built-in windowed aggregates can't express. Two training-data
pipeline rules run on it here:

- ONLINE EXACT DEDUP (:func:`streaming_first_seen_dedup`): emit each
  document the first time its content hash is seen, drop every later
  occurrence, across micro-batches;
- PER-SOURCE CAP (:func:`streaming_per_source_cap`): admit at most N
  documents per source, counted across micro-batches.

Their state functions are closures that use only pandas, so
cloudpickle ships them to the Python workers by value (README design
rule 12). :func:`streaming_watermark_dedup` is the built-in
bounded-state dedup, and :func:`streaming_multiplex_sink` the
``foreachBatch`` two-sink writer.

Scale posture: state is one small row per key, partitioned by the
grouping key — the state store shards with the shuffle, so a
1000-executor cluster holds 1000 state shards. A TTL (timeout) bounds
state for unbounded streams where "duplicate within N hours" is the
real contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

DEDUP_OUTPUT_SCHEMA = StructType(
    [
        StructField("text_hash", StringType()),
        StructField("doc_id", LongType()),
    ]
)

DEDUP_STATE_SCHEMA = StructType([StructField("seen", LongType())])


def streaming_first_seen_dedup(
    docs_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """First-seen filter over a document stream: group by content
    hash, keep per-hash ``seen`` state, emit only rows of the first
    batch in which a hash appears (min id within that batch, matching
    the batch keep-first contract).

    Returns an unstarted streaming DataFrame (append mode); callers
    pick sink + trigger. Batch equivalence: the set of emitted
    (text_hash, doc_id) pairs equals ``llm.dedup.exact_dedup_groups``
    keep-ids when the whole input arrives in one batch, and is a
    prefix-consistent superset-free subset under any batching.
    """
    hashed = docs_stream.select(
        F.sha2(F.col(text_col), 256).alias("text_hash"),
        F.col(id_col).cast("long").alias("doc_id"),
    )

    def dedup(key, pdfs, state):
        import pandas as pd

        if state.exists:
            for _ in pdfs:
                pass
            yield pd.DataFrame({"text_hash": [], "doc_id": []})
        else:
            best = None
            for pdf in pdfs:
                if len(pdf):
                    m = int(pdf["doc_id"].min())
                    best = m if best is None else min(best, m)
            state.update((1,))
            if best is None:
                yield pd.DataFrame({"text_hash": [], "doc_id": []})
            else:
                yield pd.DataFrame({"text_hash": [key[0]], "doc_id": [best]})

    return hashed.groupBy("text_hash").applyInPandasWithState(
        dedup,
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def streaming_watermark_dedup(
    events_stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Built-in bounded-state streaming dedup:
    ``dropDuplicatesWithinWatermark`` keeps one row per key and
    EVICTS the key's state once the watermark passes its event time
    — the right contract for unbounded streams where "duplicate"
    means "again within the lateness horizon", and the zero-custom-
    code counterpart to :func:`streaming_first_seen_dedup` (which
    keeps state forever unless a TTL is set).

    State is O(distinct keys per watermark window), sharded with the
    shuffle. Returns an unstarted streaming DataFrame (append mode).
    """
    return events_stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


CAP_OUTPUT_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("doc_id", LongType()),
    ]
)


def streaming_per_source_cap(
    docs_stream: DataFrame,
    cap: int = 50,
    key_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source document cap on a stream — the "at most N docs per
    source" corpus-balancing rule: a per-source counter admits rows
    until the cap is reached and drops the rest, across
    micro-batches (``applyInPandasWithState``; one LongType state
    value per source, sharded with the shuffle).

    Within a batch, rows are admitted in ascending ``id_col`` order,
    so a single-batch run equals the batch twin
    ``row_number() OVER (PARTITION BY source ORDER BY doc_id) <= cap``
    row-for-row (value-oracled as ``op_llm_05_stateful_cap``).
    """
    cap_n = int(cap)

    def cap_fn(key, pdfs, state):
        import pandas as pd

        n = state.get[0] if state.exists else 0
        chunks = [pdf for pdf in pdfs if len(pdf)]
        take = None
        if chunks and n < cap_n:
            batch = pd.concat(chunks).sort_values("doc_id")
            take = batch.head(cap_n - n)
            n += len(take)
        state.update((n,))
        if take is not None and len(take):
            yield take[["source", "doc_id"]]
        else:
            yield pd.DataFrame({"source": [], "doc_id": []})

    projected = docs_stream.select(
        F.col(key_col).alias("source"), F.col(id_col).cast("long").alias("doc_id")
    )
    return projected.groupBy("source").applyInPandasWithState(
        cap_fn,
        outputStructType=CAP_OUTPUT_SCHEMA,
        stateStructType=StructType([StructField("n", LongType())]),
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def streaming_multiplex_sink(
    events_stream: DataFrame,
    data_path: str,
    counts_path: str,
):
    """``foreachBatch`` multi-sink: every micro-batch is appended to
    a raw parquet archive AND folded into a per-event-type counts
    table — two sinks fed from one batch, which no single native
    ``writeStream`` sink can express. Delivery is AT-LEAST-ONCE, not
    atomic: foreachBatch checkpoints the batch id only after the
    function returns, so a crash between the two writes (or after
    them but before the checkpoint) replays the whole batch on
    restart and can duplicate appends. Production deployments make
    the writes idempotent per batch (write to a batch_id-keyed
    path / transactional table keyed on batch_id); here the demo
    sinks tolerate duplicates because the counts table is
    merge-on-read anyway: each batch appends partial counts and
    readers aggregate (at 100 TB a periodic compaction job sums the
    partials back to one row per key — the same
    keep-latest/compaction shape as
    ``sources.writers.upsert_keep_latest``).

    Returns the started StreamingQuery; callers stop it.
    """
    def apply_batch(batch_df, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(data_path)
        (
            batch_df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .write.mode("append")
            .parquet(counts_path)
        )

    return (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", data_path + "_chk")
        .start()
    )
