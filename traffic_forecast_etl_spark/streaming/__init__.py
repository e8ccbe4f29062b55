from .micro_batch import (
    run_available_now,
    streaming_tumbling_agg,
    streaming_sessionize,
)

__all__ = [
    "run_available_now",
    "streaming_tumbling_agg",
    "streaming_sessionize",
]
