"""Driver-window planning: compute the query yield order from the
CORRECTNESS_r*.json ledger instead of hand-maintained tier tuples.

The driver's CORRECTNESS gate checks exactly the FIRST
``WINDOW_SIZE`` queries that ``plans.all_queries()`` yields, so the
yield order IS the freshness policy for the driver's own ledger. Up
to round 9 the policy lived in two hand-edited tuples in
``registry.py`` ("tier 1 / tier 2"); round 9 ran AT window capacity
and one more hand edit away from a new query silently missing its own
driver check (VERDICT r9 "Next round" item 2). This module replaces
the hand edit with a computed plan:

1. **never-checked** queries first (no green row in any
   CORRECTNESS_r*.json) — a newly registered query must be in its
   first window, in registration order;
2. **force-recheck** next (:data:`FORCE_RECHECK`, the one remaining
   hand-maintained input: queries whose IMPLEMENTATION changed since
   their last green row — change detection cannot be derived from the
   ledger);
3. everything else **stale-first**: ascending last-green round, ties
   in registration order.

A row counts as green in round N when its CORRECTNESS row has
``hash_match: true``, or — for the declared rows-only sketch queries
(``__spark_entry__.rows_only_queries``) — when the driver's weaker
rows-only check ran (``err: "no_oracle"`` with a row count).

The plan is deterministic given (ledger files, registry order,
FORCE_RECHECK), so steady state needs no human input at all: each
round's new CORRECTNESS file rotates the window to the 50 oldest rows
automatically, cycling the whole registry every
``ceil(len(registry) / 50)`` rounds. ``tools/window_plan.py`` prints
the current plan and the multi-round rotation forecast;
``tests/test_window_plan.py`` pins the ordering properties and that
``plans.all_queries()`` actually follows the plan.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

# The driver checks the first 50 yielded queries (observed: every
# CORRECTNESS_r*.json has exactly 50 rows).
WINDOW_SIZE = 50

# Hand-maintained: queries whose implementation changed since their
# last driver-green row. Emptied each round once the change is green.
FORCE_RECHECK: tuple[str, ...] = (
    # similarity kernels folded onto one set of numpy fixed-point
    # helpers (exact HALF_UP, JVM round-6); IVF probe ranking now
    # rounds HALF_UP like the expression instead of half-to-even
    "knn_brute_force",
    "knn_ivf",
    "knn_ivf_pq",
    "knn_ivf_recall",
    "knn_ivf_recall_curve",
    "dedup_semantic_clusters",
    "pq_codebook_train",
    "knn_graph_brute",
    "knn_graph_lsh",
)

_ROUND_RE = re.compile(r"CORRECTNESS_r(\d+)\.json$")


def repo_root() -> Path:
    """The ledger lives next to ``__spark_entry__.py`` — two levels up
    from this package module."""
    return Path(__file__).resolve().parents[2]


def last_green(history_dir: Path | None = None) -> dict[str, int]:
    """name → newest round with a green driver row for that query.

    Green = ``hash_match`` true, or the declared rows-only check
    (``err == "no_oracle"`` with a non-null spark row count). A failed
    or errored row never counts.
    """
    root = history_dir if history_dir is not None else repo_root()
    out: dict[str, int] = {}
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = _ROUND_RE.search(path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            )
            if green:
                out[name] = max(rnd, out.get(name, 0))
    return out


def planned_order(
    registered: list[str],
    greens: dict[str, int] | None = None,
    force_recheck: tuple[str, ...] = FORCE_RECHECK,
) -> list[str]:
    """The full yield order for ``registered`` (registration order),
    per the policy in the module docstring. Total: every registered
    name appears exactly once; unregistered force-recheck names are
    ignored."""
    if greens is None:
        greens = last_green()
    reg_pos = {name: i for i, name in enumerate(registered)}
    forced = {n for n in force_recheck if n in reg_pos}

    def key(name: str) -> tuple[int, int, int]:
        if name not in greens:
            tier = 0
        elif name in forced:
            tier = 1
        else:
            tier = 2
        return (tier, greens.get(name, 0), reg_pos[name])

    return sorted(registered, key=key)
