"""Structured Streaming forms (SURVEY.md §2 D17–D21, A1/B1-online, A7).

The batch duals of every windowed aggregate here are oracle-checked in
operators/windows.py; this package runs the *same expressions* as real
streams (readStream -> watermark -> window agg -> sink), plus the online
parameter server on keyed state — the piece of the reference that
genuinely needs streaming state (`FlinkParameterServer#transform`'s
cyclic worker<->server loop [C-high] becomes per-key state co-located
with the worker logic, no cycle required).
"""

from .windows import (
    dedup_stream,
    run_to_memory,
    session_windows_stream,
    stream_events,
    tumbling_daily_stream,
)
from .online_ps import (
    mf_records,
    online_ps_stream,
    pa_records,
    sequential_reference,
)

__all__ = [
    "stream_events",
    "tumbling_daily_stream",
    "session_windows_stream",
    "dedup_stream",
    "run_to_memory",
    "online_ps_stream",
    "mf_records",
    "pa_records",
    "sequential_reference",
]
