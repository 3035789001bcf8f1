"""Session registry for load-once/query-many derived state.

Several operators keep an expensive intermediate (shingle tables, LSH
signature/bucket tables, k-means centroids, the near-dup edge list) for
the session, because a typical analytics session loads one corpus and
runs many queries against it.

Every entry point takes a zero-argument ``build`` function and a *key*,
and looks the entry up BEFORE anything is built: a hit returns the
stored handle and never calls ``build``, so a warm caller pays neither
the plan construction (py4j round-trips plus classic-mode eager
analysis) nor any probe job inside ``build``.  The reuse key of an
entry is

* the current SparkSession (the registry belongs to one session: a
  handle never outlives the session that made it);
* ``key`` — which must name everything the built plan reads besides the
  tables of ``sf_dir`` (parameters such as a k or a key prefix go into
  the key string);
* ``sf_dir`` and its fingerprint, the ``(name, size, mtime_ns)`` of every
  ``*.parquet`` under it (:func:`sources.catalog.dir_fingerprint`, the
  staleness rule of the catalog's handle memo);
* ``token`` — per-call state the plan also reads (a scratch or managed
  table path, a change feed's table): a changed token rebuilds the entry
  and releases the old one.

The working set is one scale dir and one generation of it wide: a
request for another ``sf_dir``, or for the same dir after a table was
rewritten in place, first releases every entry built from the other
dir or generation.

Assumes queries run sequentially in a session (the harness does);
concurrent queries over different scale dirs would evict each other.
"""

from __future__ import annotations

import os
import shutil
import warnings
import weakref
from dataclasses import dataclass
from typing import Any, Callable, Hashable

from py4j.protocol import Py4JError

from pyspark.sql import DataFrame, SparkSession

from simple_query_engine_spark.sources.catalog import dir_fingerprint


@dataclass
class _Entry:
    sf_dir: str
    fingerprint: tuple | None
    token: Hashable
    value: Any
    release: Callable[[], None]
    # False when the stored value can no longer be served (a swept
    # materialization); None: always live.
    live: Callable[[], bool] | None = None


# (kind, key) -> entry, owned by one session: the engine runs one
# SparkSession per process, and the default session only changes after
# the previous one stopped, so a new owner releases the whole registry
# instead of serving handles from a dead session.
_ENTRIES: dict[tuple[str, str], _Entry] = {}
_OWNER: "weakref.ref[SparkSession] | None" = None


def _entries() -> dict[tuple[str, str], _Entry]:
    """The current session's registry.  The default session is a
    Python-side attribute (no JVM round-trip, unlike
    ``getActiveSession``, and set in every thread)."""
    global _OWNER
    session = SparkSession._instantiatedSession or SparkSession.active()
    if _OWNER is None or _OWNER() is not session:
        evict_all()
        _OWNER = weakref.ref(session)
    return _ENTRIES


def _unpersist_quietly(handle: DataFrame) -> None:
    """Unpersist, tolerating a handle whose SparkSession has been stopped:
    the py4j call fails (Py4JError and subclasses) or an internal ref is
    already torn down (AttributeError); nothing is left to release."""
    try:
        handle.unpersist()
    except (Py4JError, AttributeError):
        pass
    except Exception as exc:
        # A GENUINE unpersist failure (e.g. an interrupted job) must not
        # poison the registry, but it must not vanish either.
        warnings.warn(
            f"unpersist of a tracked session cache failed: {exc!r}",
            RuntimeWarning,
            stacklevel=2,
        )


def _lookup(
    kind: str,
    build: Callable[[], tuple[Any, Callable[[], None], Callable[[], bool] | None]],
    sf_dir: str,
    key: str,
    token: Hashable,
) -> Any:
    entries = _entries()
    fingerprint = dir_fingerprint(sf_dir)
    for other, entry in list(entries.items()):
        if (entry.sf_dir, entry.fingerprint) != (sf_dir, fingerprint):
            del entries[other]
            entry.release()
    entry = entries.get((kind, key))
    if entry is not None:
        if entry.token == token and (entry.live is None or entry.live()):
            return entry.value
        del entries[(kind, key)]
        entry.release()
    value, release, live = build()
    entries[(kind, key)] = _Entry(sf_dir, fingerprint, token, value, release, live)
    return value


def session_cache(
    build: Callable[[], DataFrame], sf_dir: str, key: str, token: Hashable = None
) -> DataFrame:
    """The session's cached ``build()`` under ``key`` (see the module
    docstring for the reuse key); ``build`` runs only on a miss."""

    def make():
        handle = build().cache()
        return handle, lambda: _unpersist_quietly(handle), None

    return _lookup("cache", make, sf_dir, key, token)


def session_materialize(
    build: Callable[[], DataFrame], sf_dir: str, key: str, token: Hashable = None
) -> DataFrame:
    """Like :func:`session_cache`, but write ``build()`` to parquet in a
    PROCESS-scoped scratch dir and return a DataFrame that scans the
    files — i.e. every downstream plan starts from a scan LEAF.

    Why this exists next to ``session_cache``: caching serves the rows
    but leaves the full LOGICAL plan in place, and Spark's classic-mode
    eager analysis re-walks it on every transformation built on top —
    for the minhash signature table (64 aggregate expressions over a
    shingle explode) that re-analysis costs seconds per consumer query
    (measured: graph_label_spread spent ~9 s of a 12 s invocation in
    JVM analysis/canonicalization of plans embedding the signature
    subtree).  Materializing truncates the lineage exactly like
    ``_propagate_labels``' per-round parquet round-trip, for the same
    guide-§3.3/"very large plans" reason.

    Each materialization gets a fresh ``mkdtemp`` dir under the shared
    sweep-managed root, so nothing is ever served across processes — a
    fresh process always recomputes from the source parquet.
    A root sweep (``SQE_SCRATCH_TTL_SEC``) can reclaim a long-lived
    entry's files, so a hit first checks they still exist and refreshes
    the dir's mtime: a live entry ages from its last USE.  The read-back
    pins the built plan's schema, so the scan's types (and nullability)
    are exactly the plan's."""

    def make():
        from simple_query_engine_spark.operators.storage import scratch_dir

        df = build()
        root = scratch_dir("mat_", "sqe_session_mat")
        path = os.path.join(root, key)
        df.write.parquet(path)
        read_back = df.sparkSession.read.schema(df.schema).parquet(path)

        def live() -> bool:
            if not os.path.exists(path):
                return False
            try:
                os.utime(root, None)
            except OSError:
                pass
            return True

        return read_back, lambda: shutil.rmtree(root, ignore_errors=True), live

    return _lookup("materialize", make, sf_dir, key, token)


def session_value(
    build: Callable[[], Any], sf_dir: str, key: str, token: Hashable = None
) -> Any:
    """A driver-side value (e.g. a bounded collected edge list) under the
    same reuse key; ``build`` runs only on a miss.  Callers must treat
    the value as read-only — every hit shares it."""
    return _lookup("value", lambda: (build(), lambda: None, None), sf_dir, key, token)


def evict_all() -> None:
    """Release every entry (test hook / explicit reset)."""
    entries = list(_ENTRIES.values())
    _ENTRIES.clear()
    for entry in entries:
        entry.release()
