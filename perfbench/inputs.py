"""Seeded benchmark inputs, generated once per (workload, size, seed) and
cached under ``perfbench/.cache/inputs``.

Every table is a pure function of the seed: the same seed gives byte-
identical parquet files.  The program under test only ever sees these
files.  Each cache directory carries an ``_INPUT.json`` with the input
facts (rows, bytes, counts per duplicate kind or label) that the run
prints next to its metrics.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _cached(key: str, build) -> tuple[str, dict]:
    """Directory for `key`, built by `build(tmp_dir) -> facts` on a miss.
    The build goes to a temp dir that is renamed into place only when
    complete, so a killed run never leaves a half-written input."""
    path = os.path.join(CACHE, "inputs", key)
    facts_path = os.path.join(path, "_INPUT.json")
    if not os.path.exists(facts_path):
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        facts = build(tmp)
        facts["bytes"] = dir_bytes(tmp)
        with open(os.path.join(tmp, "_INPUT.json"), "w") as f:
            json.dump(facts, f, indent=1, sort_keys=True)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    with open(facts_path) as f:
        return path, json.load(f)


# ---------------------------------------------------------------------------
# images_pipeline: the package's own synthetic image corpus
# ---------------------------------------------------------------------------

def images(n_base: int, seed: int) -> tuple[str, dict]:
    def build(tmp: str) -> dict:
        import pandas as pd

        from who_owns_mass_processing_spark.synth import write_images_parquet

        ip, gp, _ga = write_images_parquet(tmp, n_base=n_base, seed=seed)
        kinds = pd.read_parquet(gp)["kind"].value_counts().sort_index()
        return {
            "rows": pq.ParquetFile(ip).metadata.num_rows,
            "input_parquet_bytes": os.path.getsize(ip),
            "dup_kinds": {k: int(v) for k, v in kinds.items()},
        }

    return _cached(f"images-n{n_base}-s{seed}", build)


# ---------------------------------------------------------------------------
# small_queries: a seeded row sample of the sf0.01 fixture tables
# ---------------------------------------------------------------------------

# A copy of the driver's sf0.01 tables (FIXTURES.md F4) that the
# small-query mix and the near-dup chains read, kept in the benchmark so a
# run reads nothing outside its checkout.
FIXTURE_DIR = os.path.join(HERE, "fixtures", "sf0.01")
FIXTURE_TABLES = ("orders", "lineitem", "customer", "events", "documents", "embeddings")


def _take(table: pa.Table, rng: np.random.Generator, n: int) -> pa.Table:
    """`n` rows drawn without replacement, in fixture order."""
    n = min(n, table.num_rows)
    return table.take(np.sort(rng.choice(table.num_rows, size=n, replace=False)))


def _isin(table: pa.Table, col: str, keys: pa.Array) -> pa.Table:
    return table.filter(pc.is_in(table[col], value_set=keys))


def query_tables(size: dict, seed: int) -> tuple[str, dict]:
    """An sf-style directory with every table the pass reads: a seeded
    sample of the fixture's orders with their lineitems and customers, and
    seeded samples of its events, documents and embeddings."""
    key = "-".join(f"{k}{v}" for k, v in sorted(size.items()))

    def build(tmp: str) -> dict:
        rng = np.random.default_rng([seed, 2])
        fx = {t: pq.read_table(os.path.join(FIXTURE_DIR, f"{t}.parquet")) for t in FIXTURE_TABLES}
        orders = _take(fx["orders"], rng, size["orders"])
        tables = {
            "orders": orders,
            "lineitem": _isin(fx["lineitem"], "l_orderkey", orders["o_orderkey"].combine_chunks()),
            "customer": _isin(
                fx["customer"], "c_custkey", pc.unique(orders["o_custkey"].combine_chunks())
            ),
            "events": _take(fx["events"], rng, size["events"]),
            "documents": _take(fx["documents"], rng, size["docs"]),
            "embeddings": _take(fx["embeddings"], rng, size["embeddings"]),
        }
        for name, table in tables.items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        labels = pc.value_counts(tables["embeddings"]["label"]).to_pylist()
        return {
            "tables": {name: t.num_rows for name, t in tables.items()},
            "rows": sum(t.num_rows for t in tables.values()),
            # embeddings carry their generator's cluster label: the
            # near-dup families the ANN chain looks for
            "embedding_labels": {str(d["values"]): d["counts"] for d in sorted(labels, key=lambda d: d["values"])},
        }

    return _cached(f"queries-{key}-s{seed}", build)

