"""Multi-table catalog over a directory of Parquet tables.

The reference is hard-limited to one anonymous table per process (reference
``src/main.rs:20-29``; the grammar has no table names, ``src/query.rs:5-8``).
The natural Spark generalization is a catalog: every ``<name>.parquet`` in a
directory becomes a named temp view, queryable via DataFrame ops or
``spark.sql``.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The driver's synthetic star schema (TESTDATA.md).
TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Per-session memo of table HANDLES (lazy plans + the pyarrow nanos-schema
# probe), keyed by (path, size, mtime_ns) so an in-place regeneration of
# testdata invalidates.  This caches METADATA ONLY — no rows: every query
# still computes from the parquet files; what's skipped is re-listing the
# footer and re-probing the schema on every `table()` call (~80 ms/table,
# ~0.9 s per `load_tables`, paid by every query invocation before this).
# WeakKeyDictionary: a stopped/replaced session's handles die with it.
_HANDLES: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)
# Per-session marker of which (sf_dir, names) registered temp views last —
# re-registering identical views per query costs a py4j call per table.
_VIEWS: "weakref.WeakKeyDictionary[SparkSession, tuple]" = (
    weakref.WeakKeyDictionary()
)


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TABLE_NAMES,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load each ``<name>.parquet`` under ``sf_dir``; optionally register views.

    Loading is lazy (a DataFrame per table); nothing is scanned until a query
    runs, so "loading" 100 TB of tables is metadata-only.
    """
    tables: dict[str, DataFrame] = {}
    stamps: dict[str, tuple | None] = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        tables[name], stamps[name] = _read(spark, path)
    if register_views:
        # The marker holds each table's file stamp, the same (path, size,
        # mtime_ns) that keys the handle memo: an in-place regeneration
        # of the same sf_dir changes a stamp and re-registers the views.
        # (Object ids cannot serve here: CPython reuses the id of a freed
        # handle, so a fresh DataFrame can carry its predecessor's id.)
        marker = None  # an unstampable file: never trust the marker
        if all(stamp is not None for stamp in stamps.values()):
            marker = (
                os.path.abspath(sf_dir),
                tuple(sorted((name, *stamp) for name, stamp in stamps.items())),
            )
        if marker is None or _VIEWS.get(spark) != marker:
            for name, df in tables.items():
                df.createOrReplaceTempView(name)
            _VIEWS[spark] = marker
    return tables


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a single named table from ``sf_dir``."""
    return _read(spark, os.path.join(sf_dir, f"{name}.parquet"))[0]


def file_stamp(path: str) -> tuple[str, int, int] | None:
    """``(path, size, mtime_ns)`` of one file, or None when it cannot be
    stat'ed — the staleness rule for every session-scoped derivation of
    a source table: a rewrite in place changes the size or the mtime."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (path, st.st_size, st.st_mtime_ns)


def dir_fingerprint(sf_dir: str) -> tuple | None:
    """The sorted ``(name, size, mtime_ns)`` of every ``*.parquet`` under
    ``sf_dir`` (:func:`file_stamp`'s rule over the whole catalog), or
    None when the directory cannot be listed."""
    try:
        names = sorted(n for n in os.listdir(sf_dir) if n.endswith(".parquet"))
    except OSError:
        return None
    out = []
    for name in names:
        stamp = file_stamp(os.path.join(sf_dir, name))
        if stamp is not None:
            out.append((name, stamp[1], stamp[2]))
    return tuple(out)


def _read(
    spark: SparkSession, path: str
) -> tuple[DataFrame, tuple[str, int, int] | None]:
    """The memoized handle for ``path`` and the file stamp it is keyed on
    (None: unstampable, read afresh)."""
    key = file_stamp(path)
    if key is None:
        return _read_uncached(spark, path), None
    per_session = _HANDLES.setdefault(spark, {})
    df = per_session.get(key)
    if df is None:
        df = _read_uncached(spark, path)
        per_session[key] = df
        # Drop handles for older generations of the same path.
        for other in [k for k in per_session if k[0] == path and k != key]:
            del per_session[other]
    return df, key


def _read_uncached(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read tolerant of TIMESTAMP(NANOS) columns.

    Spark rejects nanosecond parquet timestamps outright
    (PARQUET_TYPE_ILLEGAL); with ``nanosAsLong`` — an engine-wide session
    default set in ``session._DEFAULT_CONF`` — they surface as epoch-nanos
    LongType, which we convert back to TimestampType (microsecond precision —
    the same truncation DuckDB applies, keeping oracle comparisons exact).
    """
    df = spark.read.parquet(path)
    nanos_cols = _nanos_timestamp_columns(path)
    dtypes = dict(df.dtypes)
    for col in nanos_cols:
        # Only convert if Spark actually surfaced the column as epoch-nanos
        # longs — pyarrow also reports legacy INT96 timestamps as
        # timestamp[ns], but Spark reads those as proper timestamps.
        if dtypes.get(col) == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def _nanos_timestamp_columns(path: str) -> list[str]:
    try:
        import pyarrow.dataset as ds
        import pyarrow as pa

        schema = ds.dataset(path, format="parquet").schema
        return [
            field.name
            for field in schema
            if pa.types.is_timestamp(field.type) and field.type.unit == "ns"
        ]
    except Exception:
        return []
