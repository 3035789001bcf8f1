"""Session registry for load-once/query-many derived state.

Several operators keep an expensive intermediate (shingle tables, LSH
signature/bucket tables, k-means centroids, the near-dup edge list, a
staged copy of a source table) for the session, because a typical
analytics session loads one corpus and runs many queries against it.

The registry has four tiers, one per kind of stored value:

* :func:`session_cache` — a cached DataFrame;
* :func:`session_materialize` — a DataFrame written to parquet in a
  process-private scratch dir and read back (a scan leaf);
* :func:`session_value` — a driver-side Python value;
* :func:`session_path` — a directory that a ``write(path)`` callback
  fills (a staged or re-laid-out copy of a source table), released with
  its files.

Every entry point takes a zero-argument ``build`` (or a ``write``) and
a *key*, and looks the entry up BEFORE anything is built: a hit returns
the stored value and never calls ``build``, so a warm caller pays
neither the plan construction (py4j round-trips plus classic-mode eager
analysis) nor any probe job inside ``build``.  The reuse key of an
entry is

* the current SparkSession (the registry belongs to one session: a
  value never outlives the session that made it);
* the tier, ``sf_dir`` and ``key`` — which must name everything the
  built value reads besides the tables of ``sf_dir`` (parameters such
  as a k, a key prefix or a split's constants go into the key string);
* the fingerprint of ``sf_dir``, the ``(name, size, mtime_ns)`` of
  every ``*.parquet`` under it (:func:`sources.catalog.dir_fingerprint`,
  the staleness rule of the catalog's handle memo);
* ``token`` — per-call state the value also reads (a scratch or managed
  table path, a change feed's table): a changed token rebuilds the entry
  and releases the old one.

Release is per dir: a request for ``sf_dir`` after one of its tables was
rewritten in place releases every entry built from the older generation
of that dir, and only those — entries of other dirs stay, so two roots
alternating in one session each build once.  A dir that cannot be
stamped (``dir_fingerprint`` is None: it cannot be listed, e.g. a
``file://`` URI root) has no staleness rule, so it is never served from
the registry: every call builds afresh and registers nothing, the rule
the catalog's handle memo follows for an unstampable file.

Assumes queries run sequentially in a session (the harness does): a
release can delete files that a lazy DataFrame of an earlier query still
scans.
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
    fingerprint: tuple
    token: Hashable
    value: Any
    release: Callable[[], None]
    # False when the stored value can no longer be served (swept scratch
    # files); None: always live.
    live: Callable[[], bool] | None = None


# (kind, sf_dir, key) -> entry, owned by one session: the engine runs one
# SparkSession per process, and the default session only changes after
# the previous one stopped, so a new owner releases the whole registry
# instead of serving handles from a dead session.
_ENTRIES: dict[tuple[str, str, str], _Entry] = {}
_OWNER: "weakref.ref[SparkSession] | None" = None


def _entries() -> dict[tuple[str, str, str], _Entry]:
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


def _scratch_write(
    key: str, write: Callable[[str], None]
) -> tuple[str, Callable[[], None], Callable[[], bool]]:
    """``write(path)`` into a fresh process-private dir (``mkdtemp`` under
    the shared sweep-managed scratch root) and the entry's
    ``(path, release, live)``: release deletes the dir; a root sweep
    (``SQE_SCRATCH_TTL_SEC``) can reclaim a long-lived entry's files, so
    ``live`` checks they still exist and refreshes the dir's mtime — a
    live entry ages from its last USE.  Nothing is ever served across
    processes: a fresh process always rebuilds from the source tables."""
    from simple_query_engine_spark.operators.storage import scratch_dir

    root = scratch_dir("mat_", "sqe_session_mat")
    path = os.path.join(root, key)
    try:
        write(path)
    except BaseException:
        shutil.rmtree(root, ignore_errors=True)
        raise

    def live() -> bool:
        if not os.path.exists(path):
            return False
        try:
            os.utime(root, None)
        except OSError:
            pass
        return True

    return path, lambda: shutil.rmtree(root, ignore_errors=True), live


def _lookup(
    kind: str,
    make: Callable[[], tuple[Any, Callable[[], None], Callable[[], bool] | None]],
    sf_dir: str,
    key: str,
    token: Hashable,
    fresh: Callable[[], Any] | None = None,
) -> Any:
    """The entry's value, ``make()``-ing ``(value, release, live)`` on a
    miss.  ``fresh`` is what an unstampable ``sf_dir`` gets instead of a
    registered value (default: ``make``'s value, never released)."""
    fingerprint = dir_fingerprint(sf_dir)
    if fingerprint is None:
        return fresh() if fresh is not None else make()[0]
    entries = _entries()
    for other, entry in list(entries.items()):
        if other[1] == sf_dir and entry.fingerprint != fingerprint:
            del entries[other]
            entry.release()
    full_key = (kind, sf_dir, key)
    entry = entries.get(full_key)
    if entry is not None:
        if entry.token == token and (entry.live is None or entry.live()):
            return entry.value
        del entries[full_key]
        entry.release()
    value, release, live = make()
    entries[full_key] = _Entry(fingerprint, token, value, release, live)
    return value


def session_cache(
    build: Callable[[], DataFrame], sf_dir: str, key: str, token: Hashable = None
) -> DataFrame:
    """The session's cached ``build()`` under ``key`` (see the module
    docstring for the reuse key); ``build`` runs only on a miss.  An
    unstampable dir gets ``build()`` uncached: Spark's cache manager
    matches plans by source path, so a cached copy would be served
    even after the files changed."""

    def make():
        handle = build().cache()
        return handle, lambda: _unpersist_quietly(handle), None

    return _lookup("cache", make, sf_dir, key, token, fresh=build)


def session_materialize(
    build: Callable[[], DataFrame], sf_dir: str, key: str, token: Hashable = None
) -> DataFrame:
    """Like :func:`session_cache`, but write ``build()`` to parquet in a
    process-private scratch dir and return a DataFrame that scans the
    files — i.e. every downstream plan starts from a scan LEAF.  The
    read-back is the stored value, so a hit costs no py4j call.

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

    The read-back pins the built plan's schema, so the scan's types (and
    nullability) are exactly the plan's.  An unstampable dir gets the
    plain ``build()``."""

    def make():
        df = build()
        path, release, live = _scratch_write(key, df.write.parquet)
        return df.sparkSession.read.schema(df.schema).parquet(path), release, live

    return _lookup("materialize", make, sf_dir, key, token, fresh=build)


def session_value(
    build: Callable[[], Any], sf_dir: str, key: str, token: Hashable = None
) -> Any:
    """A driver-side value (e.g. a bounded collected edge list) under the
    same reuse key; ``build`` runs only on a miss.  Callers must treat
    the value as read-only — every hit shares it."""
    return _lookup("value", lambda: (build(), lambda: None, None), sf_dir, key, token)


def session_path(
    write: Callable[[str], None], sf_dir: str, key: str, token: Hashable = None
) -> str:
    """A directory that ``write(path)`` filled — a staged or re-laid-out
    copy of a table of ``sf_dir`` — under the same reuse key; ``write``
    runs only on a miss, into a fresh process-private scratch dir whose
    last component is ``key``, and the directory is deleted when the
    entry is released.  An unstampable dir gets a fresh copy on every
    call, left to the scratch root's TTL sweep."""
    return _lookup(
        "path", lambda: _scratch_write(key, write), sf_dir, key, token
    )


def evict_all() -> None:
    """Release every entry (test hook / explicit reset)."""
    entries = list(_ENTRIES.values())
    _ENTRIES.clear()
    for entry in entries:
        entry.release()
