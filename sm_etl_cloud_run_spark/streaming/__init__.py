"""Incremental & streaming layer (SURVEY §2.9, §3).

The reference's "streaming" is chunked batch + watermark-gated
incremental re-runs; ``incremental.py`` is that control plane. True
continuous processing (the scale-path upgrade) lives in
``stream_ops.py`` as Structured Streaming transforms sharing logic with
their batch twins.
"""

from .incremental import gate_pending_runs  # noqa: F401
