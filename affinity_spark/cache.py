"""Registry for persisted shared frames so long-lived sessions can drain them.

Several operators persist() an expensive intermediate that two downstream
branches share (``dedup.shingles_shared``) or return a cached result frame
(``graph.pagerank_ppm``). The action that consumes those frames runs in the
CALLER (the driver collects the returned DataFrame), so the operator cannot
unpersist at the right moment itself — and leaked cache entries are worse
than wasted memory: Spark's cache manager substitutes a cached
InMemoryRelation into any semantically-equal subtree of LATER queries,
changing unrelated plans (the side effect that forced the clearCache
fixture in tests/test_plan_quality.py).

Contract: operators register shared persists via ``track``; whoever owns
the action cadence (bench.py, tools/verify_local.py, a user's batch loop)
calls ``release_shared()`` after consuming each query's result. Unlike
``spark.catalog.clearCache()`` this drops ONLY the frames the library
persisted, never the caller's own caches. Process-shared stores live in
``temp_root`` dirs, which the process removes at exit.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register an already-persist()ed shared frame for later release."""
    _TRACKED.append(df)
    return df


def release_shared() -> int:
    """Unpersist every tracked frame; returns how many were released.

    Safe to call at any time: results already computed from a released
    frame are unaffected, and a released frame that is re-consumed simply
    recomputes (persist is an optimization, never a semantic)."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped; nothing to release
    return n


def temp_root(prefix: str) -> str:
    """A new temp dir for a process-shared store, removed at interpreter
    exit (``release_shared`` leaves it: the stores outlive a query)."""
    root = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root
