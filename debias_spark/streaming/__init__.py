from debias_spark.streaming.incremental import (
    drain_available_now,
    narrow_shuffle,
    run_available_now,
    session_window_counts,
    stream_events,
    tumbling_counts,
)

__all__ = [
    "drain_available_now",
    "narrow_shuffle",
    "run_available_now",
    "session_window_counts",
    "stream_events",
    "tumbling_counts",
]
