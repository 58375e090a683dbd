"""Query registry: name → (spark callable, DuckDB oracle SQL, bench flag).

Conventions that make the driver's hash comparison deterministic
(CORRECTNESS gate, see /root/repo/__spark_entry__.py):

- every computed column is aliased identically in Spark and SQL;
- float aggregates are computed in **scaled integer space** (cents /
  basis points / 1e9 fixed-point) and divided back at the end — the sum
  of doubles is order-dependent across Spark partitions, the sum of
  longs is exact on both engines;
- content hashing is md5 (available & byte-identical on both engines);
- every ORDER BY ... LIMIT has a unique tiebreaker column.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Hostile-row contracts, enforced identically on BOTH engines: Spark
# normalizes at load (tables.load_tables), and every oracle is
# rewritten at registration to read the table through the same
# normalization. Without these, driver-regenerated data with NULL rows
# diverged (NULL propagation differs between Spark explode/size/window
# and DuckDB unnest/len/window NULLS ordering):
# - documents: NULL text is an empty document (8 queries diverged);
# - events: a row with NULL ts is not an event — dropped (3 window/
#   rollup queries diverged: Spark time-windows drop NULL keys and
#   sort NULLS FIRST, DuckDB keeps them and sorts NULLS LAST).
# No oracle uses table-qualified bare references (`documents.x`), so
# the unaliased subqueries are drop-ins; aliased refs keep the alias.
_TABLE_CONTRACTS = {
    # NULL text is an empty document; a document without an id is not
    # addressable (doc_id feeds rank orderings and md5 coins, where
    # Spark's NULLS FIRST vs DuckDB's NULLS LAST would diverge) —
    # dropped. Every documents consumer already reads doc_id, so the
    # IsNotNull adds no ReadSchema cost.
    "documents": "(SELECT * REPLACE (coalesce(text, '') AS text) FROM documents"
                 " WHERE doc_id IS NOT NULL)",
    # a row with no timestamp is not an event; a row with no event_id is
    # not addressable (conversion key in attribution, dedup key in CDC).
    "events": "(SELECT * FROM events"
              " WHERE ts IS NOT NULL AND event_id IS NOT NULL)",
    # a vector without an id or payload can be neither ranked (seed
    # selection is ORDER BY vec_id) nor scored — dropped.
    "embeddings": "(SELECT * FROM embeddings"
                  " WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)",
    # A fact row without its date is not a valid fact row (see
    # tables.load_tables — date-only so column pruning survives):
    # key/attribute NULLs stay and queries handle them SQL-identically.
    "orders": "(SELECT * FROM orders WHERE o_orderdate IS NOT NULL)",
    "lineitem": "(SELECT * FROM lineitem WHERE l_shipdate IS NOT NULL)",
}


def _contract_oracle(oracle: str | None) -> str | None:
    if oracle is None:
        return None
    for tbl, wrap in _TABLE_CONTRACTS.items():
        # FROM t / JOIN t / comma-join ",t" (with or without space) —
        # the comma form would otherwise silently dodge the contract
        # (found live: a boundary-count oracle read raw events through
        # "FROM bd, events" and counted a contract-dropped NULL-ts
        # row). Whitespace is quantified PER BRANCH: a bare (\s*)
        # shared by all three would let the FROM/JOIN branches match
        # inside identifiers like "FROMevents". The (?!\s*\.) lookahead
        # keeps the comma branch from rewriting table-QUALIFIED refs
        # that happen to follow a comma outside a FROM list ("GROUP BY
        # x, events.y" — ADVICE r8); the repo convention remains "no
        # table-qualified bare references in oracles", and
        # tests/test_plans.py::test_contract_oracle_comma_contexts pins
        # both directions.
        oracle = re.sub(
            rf"(\bFROM\s+|\bJOIN\s+|,\s*){tbl}\b(?!\s*\.)", rf"\1{wrap}", oracle
        )
    return oracle


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None = None
    bench: bool = False
    description: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    *,
    oracle: str | None = None,
    bench: bool = False,
    description: str = "",
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(fn, _contract_oracle(oracle), bench, description)
        return fn

    return deco


# The driver's CORRECTNESS gate checks exactly the FIRST 50 queries
# that ``all_queries()`` yields. Through round 9 the yield order was
# two hand-edited tier tuples; round 9 ran AT window capacity, one
# hand edit away from a new query missing its own driver check. The
# order is now COMPUTED from the CORRECTNESS_r*.json ledger
# (window_plan.planned_order: never-checked first, then the
# hand-declared force-recheck list of changed implementations, then
# stale-first by last green round — VERDICT r9 "Next round" item 2).
# Registration order is unchanged; only the yield order is planned.


def all_queries() -> dict[str, QuerySpec]:
    """Yield specs in driver-window priority order (see
    ``window_plan.planned_order``): never-checked queries first, then
    force-recheck (changed implementations), then everything else
    longest-unchecked-first per the CORRECTNESS ledger."""
    from .window_plan import planned_order

    return {name: _REGISTRY[name] for name in planned_order(list(_REGISTRY))}


def bench_queries() -> dict[str, QuerySpec]:
    return {k: v for k, v in _REGISTRY.items() if v.bench}


def get(name: str) -> QuerySpec:
    return _REGISTRY[name]
