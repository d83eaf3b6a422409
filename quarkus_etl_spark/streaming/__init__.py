"""Structured Streaming runtime (SURVEY.md §2 "Streaming", §3.1).

The reference's whole pipeline is a streaming producer/consumer: source
cursor -> unbounded channel -> 2000-row batched sink (EtlMain.kt:51-88).
Its Spark-native analog is Structured Streaming: `readStream` sources,
event-time windows + watermarks for late data, stateful dedup, and
`foreachBatch` sinks that reuse the batch writer (micro-batching included —
the 2000-row chunk becomes the sink's own batchsize).
"""

from .streams import (  # noqa: F401
    file_stream,
    run_stream_to_memory,
    stream_stream_interval_join,
)
