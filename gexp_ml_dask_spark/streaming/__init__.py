from gexp_ml_dask_spark.streaming.joins import (
    interval_join_batch,
    streaming_interval_join,
)
from gexp_ml_dask_spark.streaming.stateful import (
    streaming_first_seen_dedup,
    streaming_per_source_cap,
    streaming_multiplex_sink,
    streaming_watermark_dedup,
)
from gexp_ml_dask_spark.streaming.windows import (
    open_table_stream,
    session_windows_batch,
    sliding_window_counts,
    streaming_session_counts,
    streaming_static_enrich,
    streaming_tumbling_counts,
    tumbling_window_counts,
)

__all__ = [
    "open_table_stream",
    "tumbling_window_counts",
    "sliding_window_counts",
    "session_windows_batch",
    "streaming_session_counts",
    "streaming_static_enrich",
    "streaming_tumbling_counts",
    "streaming_first_seen_dedup",
    "streaming_per_source_cap",
    "streaming_multiplex_sink",
    "streaming_watermark_dedup",
    "interval_join_batch",
    "streaming_interval_join",
]
