from go_streaming_spark.streaming.runner import (
    StreamMetricsListener,
    replay_batches,
    replay_to_memory,
)
from go_streaming_spark.streaming.stateful import (
    counting_window_stream,
    stream_limit,
)

__all__ = [
    "replay_to_memory",
    "replay_batches",
    "StreamMetricsListener",
    "stream_limit",
    "counting_window_stream",
]
