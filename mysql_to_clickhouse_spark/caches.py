"""Session-scoped cache registry: every cache the engine keeps for the
lifetime of a SparkSession lives here, and one call drains them all.

The replicator is a long-running process (a binlog tail, then FINAL
reads and LLM-data operators on one shared SparkSession), so each
session-lifetime cache must drain at a workload boundary. Owners read
and write their entries through ``entries(spark, name)``;
``release(spark)`` (what ``session.release_all`` returns) drops every
entry with its cache's drop action, in the fixed order below, and
reports how many entries each cache held.

The caches, in release order:

- ``prepared_plans`` (plans/prepared.py): built DataFrames keyed by
  (qid, sf_dir, layout epoch). They may reference dim-cached or
  bucketed frames, so they drop before their inputs.
- ``llmops_sigs`` (operators/llmops.py, i2): persisted MinHash
  signature frames per sf_dir.
- ``llmops_matrices`` (i3/i4/i8): broadcast embedding matrices per
  sf_dir.
- ``llmops_wordcounts`` (i21): persisted (source, word) count frames
  per sf_dir.
- ``llmops_ckpts`` (i16): JVM RDD handles of the final connected-
  components label checkpoints.
- ``dispatch_probes`` (plans/dispatch.py): probe decisions per build
  plan, with the persisted build of each accepted probe.
- ``dim_cache`` (tables.load_dim): persisted dimension tables per
  (sf_dir, table), or the unpersisted frame when a table is over the
  size gate.
- ``bucket_routes`` (tables.ensure_*): which bucketed, projection or
  flat-MV table each load routes to. Catalog routing only, no pinned
  memory.

``tables._LOAD_CACHE`` stays outside on purpose: it holds analysed
plans only, pins no executor memory, and dropping it would add a file
listing and plan analysis to the next ``load()`` of every table.

Add a new session-lifetime cache here, never as a module-level
``WeakKeyDictionary`` of its own: ``tests/test_caches.py`` fails on
one, because a cache that ``release`` does not know about leaks.
"""

from __future__ import annotations

import weakref
from typing import Any, Callable

from pyspark.sql import SparkSession


def _unpersist_rdd(handle: Any) -> None:
    try:
        handle.unpersist(True)
    except Exception:  # noqa: BLE001 — the JVM RDD may already be gone
        pass


def _unpersist_probe(entry: tuple) -> None:
    _decision, cached, _plan = entry
    if cached is not None:
        cached.unpersist(blocking=True)


# name -> per-entry drop action, in release order; entries that pin no
# executor memory are just forgotten
_DROP: dict[str, Callable[[Any], None]] = {
    "prepared_plans": lambda plan: None,
    "llmops_sigs": lambda df: df.unpersist(blocking=True),
    "llmops_matrices": lambda broadcast: broadcast.destroy(),
    "llmops_wordcounts": lambda df: df.unpersist(blocking=True),
    "llmops_ckpts": _unpersist_rdd,
    "dispatch_probes": _unpersist_probe,
    "dim_cache": lambda df: df.unpersist(blocking=True),
    "bucket_routes": lambda table: None,
}

# weak-keyed on the session so a stopped session's maps die with it
_CACHES: "weakref.WeakKeyDictionary[SparkSession, dict[str, dict]]" = (
    weakref.WeakKeyDictionary()
)


def entries(spark: SparkSession, name: str) -> dict:
    """The session's live map for cache ``name``, created on first use.
    Unknown names raise KeyError, so no cache can exist that
    ``release`` would miss."""
    if name not in _DROP:
        raise KeyError(f"unregistered session cache {name!r}")
    return _CACHES.setdefault(spark, {}).setdefault(name, {})


def release(spark: SparkSession, *names: str) -> dict[str, int]:
    """Drop every entry of the named caches (all of them, in release
    order, when none are named), running each cache's drop action, and
    return the number of entries each held."""
    per_session = _CACHES.get(spark, {})
    counts: dict[str, int] = {}
    for name in names or _DROP:
        drop = _DROP[name]
        held = per_session.pop(name, {})
        for value in held.values():
            drop(value)
        counts[name] = len(held)
    return counts
