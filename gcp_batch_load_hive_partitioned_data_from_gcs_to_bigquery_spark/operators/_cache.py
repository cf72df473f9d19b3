"""Bounded caching for operators that legitimately persist mid-plan.

Several operators cache a small intermediate that multiple downstream
branches re-derive (a term-frequency table, a funnel aggregate). A
plain ``.persist()`` with no matching ``unpersist`` leaks: in a
long-lived session that invokes the operator repeatedly (the catalog
sweep, a notebook, a service), every invocation pins another copy in
executor storage until the session dies.

``scoped_persist`` bounds that to AT MOST ONE live cache per scope key:
persisting under a key first unpersists whatever the previous
invocation cached under the same key. The previous result stays
CORRECT if someone still holds it (Spark recomputes from lineage on
the next action), it just stops being cached — the right trade for a
cache whose only purpose is intra-plan reuse within one invocation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_SCOPED: dict[str, DataFrame] = {}


def scoped_persist(df: DataFrame, scope: str) -> DataFrame:
    """Persist ``df``, releasing the cache the previous call with the
    same ``scope`` created. Returns the persisted frame. Every call
    fills a fresh cache from ``df``'s own lineage, so an invocation
    always sees the data as of its own plan — a cache is never served
    across a rewrite of its inputs."""
    release_scope(scope)
    out = df.persist()
    _SCOPED[scope] = out
    return out


def release_scope(scope: str) -> None:
    """Eagerly drop the cache held under ``scope`` (optional cleanup for
    callers that know the consuming action has finished)."""
    prev = _SCOPED.pop(scope, None)
    if prev is not None:
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass


def release_all_scopes() -> None:
    """Drop EVERY scoped cache. Timing harnesses call this between
    passes so no pass keeps the previous pass's caches pinned."""
    for scope in list(_SCOPED):
        release_scope(scope)
