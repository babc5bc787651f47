"""Parquet reads that infer each schema once per session.

`spark.read.parquet(path)` without a schema runs a Spark job to merge
footer schemas, even for one file (~100 ms; ~17 ms with the schema
given).  The first read of a path infers exactly as Spark does; later
reads hand the recorded StructType to `spark.read.schema(...)`, so the
plan sees the same schema without the job.  The memo is keyed on the
session, the absolute path, a `(relpath, size, mtime_ns)` listing of
every file under it and the SQL confs that change inference, so a
rewritten, added or removed file, or a changed conf, infers again.
Non-local paths, globs and missing paths are not memoized.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession

_INFERENCE_CONFS = (
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# session -> {absolute path: ((listing, confs), schema)}
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_LOCK = threading.Lock()


def _local_path(path: str) -> str | None:
    if path.startswith("file:"):
        path = "/" + path[len("file:"):].lstrip("/")
    elif "://" in path:
        return None
    path = os.path.abspath(path)
    return path if os.path.exists(path) else None


def _listing(path: str) -> tuple:
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(dirpath, f)
            st = os.stat(full)
            out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)`, with the schema inferred at most once
    per (session, path, file listing, inference confs)."""
    local = _local_path(path)
    if local is None:
        return spark.read.parquet(path)
    key = (_listing(local), tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    with _LOCK:
        hit = _SCHEMAS.get(spark, {}).get(local)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    with _LOCK:
        _SCHEMAS.setdefault(spark, {})[local] = (key, df.schema)
    return df
