"""Incremental layer (SURVEY §2.9, §3).

The reference's "streaming" is chunked batch + watermark-gated
incremental re-runs; ``incremental.py`` is that gate. The paper has no
continuous operators, so neither does the engine.
"""

from .incremental import gate_pending_runs  # noqa: F401
