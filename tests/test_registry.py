"""The registry's ordered bindings are pinned: deriving entries from the
`name`/`NAME_SQL` convention must not change a name, its position (the
certification window), its callable or its oracle SQL."""

from __future__ import annotations

import hashlib

from map_reduce_engine_cdps_spark.plans.registry import _REGISTRY

# sha256 of the repr of the ordered (name, module, qualname, sql key)
# rows, taken from the hand-listed registry this one replaced.
REGISTRY_DIGEST = "21c90a44eaa9c43309adbe3fca10fca03afe5f37cdc52167a368f9045275ad08"


def _sql_key(sql):
    # Callable SQL is keyed by name, not called: the CNN oracle runs 97
    # forward passes to build its text.
    if sql is None or isinstance(sql, str):
        return sql
    return f"callable:{sql.__module__}.{sql.__qualname__}"


def test_registry_order_and_bindings_are_pinned():
    rows = [
        (name, fn.__module__, fn.__qualname__, _sql_key(sql))
        for name, (fn, sql) in _REGISTRY.items()
    ]
    assert len(rows) == 321
    assert hashlib.sha256(repr(rows).encode()).hexdigest() == REGISTRY_DIGEST
