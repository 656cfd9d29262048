from .pipeline import (
    PAGES_SCHEMA,
    stream_routed,
    run_stream_pipeline,
    windowed_counters,
    stateful_rate_limit,
    stateful_multiline,
    stateful_container_partial,
)
from .sources import (
    datagram_events,
    split_frames,
    frames_arrow,
    truncate_frames,
    socket_lines,
    socket_pipeline,
)

__all__ = [
    "datagram_events", "split_frames", "frames_arrow", "truncate_frames",
    "socket_lines", "socket_pipeline",
    "PAGES_SCHEMA", "stream_routed", "run_stream_pipeline",
    "windowed_counters", "stateful_rate_limit",
    "stateful_multiline", "stateful_container_partial",
]
