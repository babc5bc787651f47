"""The closed-loop workloads.

Each workload is one client in one process: it submits its next
operation only when the last one has finished.  A workload prepares its
seeded inputs, then runs *passes*; a pass is a fixed list of operations,
each timed from submission until its result is on the driver.  Output
checks run after the timed window, on the results every operation kept.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import inputs
from procfs import tree_cpu_s


@dataclass
class Op:
    """One timed operation and the result its checks read."""

    kind: str
    seconds: float
    cpu_s: float  # CPU seconds of the driver, the JVM and its workers
    result: object = None
    facts: dict = field(default_factory=dict)


def value_hash(df: pd.DataFrame) -> str:
    """Hash of a frame after the `tools/oracle_check.py` normalization, so
    Spark and DuckDB frames of equal values hash equal."""
    from tools.oracle_check import normalize

    norm = normalize(df)
    h = hashlib.sha256(",".join(norm.columns).encode())
    h.update(pd.util.hash_pandas_object(norm, index=False).values.tobytes())
    return h.hexdigest()[:16]


def same_partition(a: pd.Series, b: pd.Series) -> bool:
    """True when two id -> cluster-label maps group the ids identically,
    whatever the labels are."""
    if set(a.index) != set(b.index):
        return False

    def canon(s: pd.Series) -> pd.Series:
        ids = pd.Series(s.index, index=s.index)
        return ids.groupby(s.values).transform("min").sort_index()

    return canon(a).equals(canon(b))


def timed(kind: str, fn, tracer=None) -> Op:
    span = tracer.operation(kind) if tracer else None
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    if span:
        with span:
            result = fn()
    else:
        result = fn()
    seconds = time.perf_counter() - t0
    return Op(kind, seconds, tree_cpu_s() - cpu0, result)


class Workload:
    name = ""
    sizes: dict = {}
    tiny_sizes: dict = {}
    nominal_pass_s = 1.0  # wall time of one warm pass on the reference host

    def __init__(self, spark, seed: int, tiny: bool = False):
        self.spark = spark
        self.seed = seed
        self.size = self.tiny_sizes if tiny else self.sizes
        self.tracer = None  # set for the traced passes
        self.facts: dict = {}
        self.reference: dict[str, object] = {}  # per op kind, from the warm pass

    def prepare(self) -> None:
        raise NotImplementedError

    def run_pass(self) -> list[Op]:
        raise NotImplementedError

    def warm_pass(self) -> list[Op]:
        """The discarded pass inside set-up; it runs every operation kind."""
        return self.run_pass()

    def check(self, op: Op) -> list[str]:
        raise NotImplementedError

    def finish(self) -> None:
        pass

    def detail(self, ops: list[Op]) -> dict:
        """Workload-specific figures, printed before the result line."""
        return {}


def median_of(ops: list[Op], kind: str) -> float:
    return float(np.median([o.seconds for o in ops if o.kind == kind]))


# ---------------------------------------------------------------------------
# images_pipeline
# ---------------------------------------------------------------------------

class ImagesPipeline(Workload):
    """The flagship staged pipeline: payload scan, pHash banding, PSNR
    decode, the tier thread pool, stage-catalog writes, the second network
    round and resume."""

    name = "images_pipeline"
    nominal_pass_s = 12.0
    sizes = {"n_base": 150}
    tiny_sizes = {"n_base": 40}

    def prepare(self) -> None:
        from who_owns_mass_processing_spark.config import DedupeConfig

        self.path, self.facts = inputs.images(self.size["n_base"], self.seed)
        self.images = self.spark.read.parquet(os.path.join(self.path, "images.parquet"))
        self.golden = pd.read_parquet(os.path.join(self.path, "golden_pairs.parquet"))
        self.cfg = DedupeConfig()
        self.workdir = os.path.join(inputs.CACHE, "work", f"stages-{os.getpid()}")

    def _jobs_launched(self) -> int:
        sc = self.spark.sparkContext
        return int(sc._jsc.sc().dagScheduler().numTotalJobs())

    def run_pass(self) -> list[Op]:
        from who_owns_mass_processing_spark.pipeline.run import run_pipeline

        shutil.rmtree(self.workdir, ignore_errors=True)
        fresh = timed(
            "fresh",
            lambda: run_pipeline(self.spark, self.images, self.workdir, self.cfg)["assignments"].toPandas(),
            self.tracer,
        )
        fresh.facts["stage_bytes"] = inputs.dir_bytes(self.workdir)
        second = timed(
            "second_round",
            lambda: run_pipeline(
                self.spark, self.images, self.workdir, self.cfg, second_round=True
            )["networks"].toPandas(),
            self.tracer,
        )
        second.facts["assignments"] = fresh.result
        jobs_before = self._jobs_launched()
        resume = timed(
            "resume",
            lambda: run_pipeline(self.spark, self.images, self.workdir, self.cfg, second_round=True),
            self.tracer,
        )
        resume.facts["jobs"] = self._jobs_launched() - jobs_before
        resume.result = None  # lazy frames over the workdir; nothing to keep
        return [fresh, second, resume]

    def check(self, op: Op) -> list[str]:
        errors = []
        if op.kind == "fresh":
            assigns = op.result.set_index("image_id").cluster_id
            if len(assigns) != self.facts["rows"] or not assigns.index.is_unique:
                errors.append(f"{len(assigns)} assignments for {self.facts['rows']} images")
                return errors
            dup = self.golden[self.golden.is_dup]
            hits = int((assigns[dup.a].values == assigns[dup.b].values).sum())
            if hits < 0.99 * len(dup):
                errors.append(f"dup-pair recall {hits}/{len(dup)} < 0.99")
            # a hard negative whose caption edit still clears the Jaccard
            # threshold is a true dup by the generator's own rule (is_dup)
            neg = self.golden[(self.golden.kind == "hardneg") & ~self.golden.is_dup]
            merged = int((assigns[neg.a].values == assigns[neg.b].values).sum())
            if merged:
                errors.append(f"{merged} hard-negative pairs share a cluster")
            ref = self.reference.setdefault("fresh", op.result)
            if not same_partition(assigns, ref.set_index("image_id").cluster_id):
                errors.append("assignments differ from the warm pass")
        elif op.kind == "second_round":
            nets = op.result.set_index("image_id").network_id
            assigns = op.facts["assignments"].set_index("image_id").cluster_id
            if not same_partition(nets, assigns):
                errors.append("network round disagrees with the tier-union assignments")
        elif op.kind == "resume" and op.facts["jobs"]:
            errors.append(f"resume launched {op.facts['jobs']} Spark jobs")
        return errors

    def finish(self) -> None:
        shutil.rmtree(self.workdir, ignore_errors=True)

    def detail(self, ops: list[Op]) -> dict:
        fresh = [o for o in ops if o.kind == "fresh"]
        ratio = [o.facts["stage_bytes"] / self.facts["input_parquet_bytes"] for o in fresh]
        return {
            "images_per_s": {"value": self.facts["rows"] / median_of(ops, "fresh"), "unit": "images/s"},
            "second_round_s": {"value": median_of(ops, "second_round"), "unit": "s"},
            "stage_bytes_per_input_byte": {"value": float(np.median(ratio)), "unit": "ratio"},
        }


# ---------------------------------------------------------------------------
# small_queries
# ---------------------------------------------------------------------------

SMALL_QUERIES = (
    "exact_dedup",
    "summary_metrics",
    "join_agg_topk",
    "windowed_event_counts",
    "text_metrics",
    "winnow_fingerprint",
    "repetition_metrics",
)
# near-dup chains over the same sample, small enough to share the pass
DOC_CHAINS = ("minhash_lsh_pairs", "dedup_cc_assignments", "simhash_pairs", "embedding_ann_lsh")
CHAIN_FIGURES = {
    "minhash_lsh_pairs": "lsh_pairs_s",
    "dedup_cc_assignments": "dedup_cc_s",
    "simhash_pairs": "simhash_pairs_s",
    "embedding_ann_lsh": "ann_pairs_s",
}
# each query runs this many times per pass, so the pooled percentiles sit
# on many samples; one round gave them run-to-run spreads near 0.25
QUERY_ROUNDS = 3
SIMHASH_RADIUS = 3
ANN_THRESHOLD = 0.45


class SmallQueries(Workload):
    """Seven short queries, where per-query fixed costs dominate (planning,
    AQE re-optimization, job launch, partition floors), and four near-dup
    chains, all over a seeded sample of the sf0.01 fixture."""

    name = "small_queries"
    nominal_pass_s = 20.0
    sizes = {"orders": 12000, "events": 8000, "docs": 400, "embeddings": 400}
    # the fixture holds 14 embedding pairs at cosine >= 0.45; fewer than
    # 300 rows often keep none of them
    tiny_sizes = {"orders": 1500, "events": 1000, "docs": 100, "embeddings": 300}

    def prepare(self) -> None:
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.sf_dir, self.facts = inputs.query_tables(self.size, self.seed)
        self.rng = random.Random(self.seed)

    def run_pass(self, rounds: int = QUERY_ROUNDS) -> list[Op]:
        """`rounds` rounds of the seven queries and one of the four chains,
        in a seeded order."""
        order = list(SMALL_QUERIES * rounds + DOC_CHAINS)
        self.rng.shuffle(order)
        ops = [
            timed(q, lambda q=q: self.queries[q](self.spark, self.sf_dir).toPandas(), self.tracer)
            for q in order
        ]
        # CC is checked against the LSH pairs of the same pass
        by_kind = {op.kind: op for op in ops}
        by_kind["dedup_cc_assignments"].facts["lsh_pairs"] = by_kind["minhash_lsh_pairs"].result
        return ops

    def warm_pass(self) -> list[Op]:
        return self.run_pass(rounds=1)

    def _oracle(self) -> dict[str, str]:
        """(rows, value hash) of each query's DuckDB twin, computed once."""
        if not hasattr(self, "_oracle_hashes"):
            import duckdb

            import __spark_entry__
            from who_owns_mass_processing_spark.functions import vectors

            # oracle_sql() also fits the IVF index of a fixed fixture
            # directory for a query this mix never runs; stub the fit so
            # building the SQL reads and writes nothing.
            fit, vectors.build_ivf_index = vectors.build_ivf_index, lambda *a, **k: ("", "")
            try:
                sql = __spark_entry__.oracle_sql()
            finally:
                vectors.build_ivf_index = fit
            con = duckdb.connect()
            for t in ("customer", "orders", "lineitem", "events", "documents"):
                con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            self._oracle_hashes = {}
            for q in SMALL_QUERIES:
                odf = con.sql(sql[q]).df()
                self._oracle_hashes[q] = (len(odf), value_hash(odf))
            con.close()
        return self._oracle_hashes

    def _tables(self) -> tuple[pd.DataFrame, pd.DataFrame]:
        if not hasattr(self, "_docs"):
            self._docs = pd.read_parquet(os.path.join(self.sf_dir, "documents.parquet")).set_index("doc_id")
            self._emb = pd.read_parquet(os.path.join(self.sf_dir, "embeddings.parquet")).set_index("vec_id")
        return self._docs, self._emb

    def check(self, op: Op) -> list[str]:
        if op.kind in SMALL_QUERIES:
            rows, h = self._oracle()[op.kind]
            if len(op.result) != rows:
                return [f"{len(op.result)} rows, oracle has {rows}"]
            if value_hash(op.result) != h:
                return ["values differ from the DuckDB oracle"]
            return []
        errors = getattr(self, f"_check_{op.kind}")(op.result, op)
        ref = self.reference.setdefault(op.kind, value_hash(op.result))
        if value_hash(op.result) != ref:
            errors.append("values differ from the warm pass")
        return errors

    def _check_minhash_lsh_pairs(self, pairs: pd.DataFrame, op: Op) -> list[str]:
        return [] if len(pairs) else ["no near-dup pairs"]

    def _check_dedup_cc_assignments(self, assigns: pd.DataFrame, op: Op) -> list[str]:
        """Equal to a driver-side union-find over the pass's LSH pairs."""
        from who_owns_mass_processing_spark.operators.connected_components import components_py

        docs, _ = self._tables()
        pairs = op.facts["lsh_pairs"]
        uf = components_py(list(zip(pairs.a, pairs.b)), list(docs.index))
        got = assigns.set_index("doc_id").cluster_id
        if len(got) != len(docs) or not got.index.is_unique:
            return [f"{len(got)} assignments for {len(docs)} documents"]
        if not same_partition(got, pd.Series(uf)):
            return ["clusters differ from the union-find over minhash_lsh_pairs"]
        return []

    def _check_simhash_pairs(self, pairs: pd.DataFrame, op: Op) -> list[str]:
        """Every pair's Hamming distance, recomputed on the driver."""
        from who_owns_mass_processing_spark.functions.simhash import simhash_py
        from who_owns_mass_processing_spark.synth import normalize_text

        docs, _ = self._tables()
        sig = {i: simhash_py(normalize_text(t)) for i, t in docs.text.items()}
        far = sum(
            bin((sig[a] ^ sig[b]) & (2**64 - 1)).count("1") > SIMHASH_RADIUS
            for a, b in zip(pairs.a, pairs.b)
        )
        return [f"{far} simhash pairs beyond Hamming {SIMHASH_RADIUS}"] if far else []

    def _check_embedding_ann_lsh(self, pairs: pd.DataFrame, op: Op) -> list[str]:
        """Every pair's cosine, recomputed on the driver."""
        _, emb = self._tables()
        if pairs.empty:
            return ["no ANN pairs"]
        va = np.stack(emb.embedding.loc[pairs.a].to_numpy()).astype(np.float64)
        vb = np.stack(emb.embedding.loc[pairs.b].to_numpy()).astype(np.float64)
        cos = (va * vb).sum(1) / (np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1))
        low = int((cos < ANN_THRESHOLD - 1e-6).sum())
        return [f"{low} ANN pairs below cosine {ANN_THRESHOLD}"] if low else []

    def detail(self, ops: list[Op]) -> dict:
        ms = [o.seconds * 1000 for o in ops if o.kind in SMALL_QUERIES]
        p50, p90 = np.percentile(ms, [50, 90])
        return {
            "small_query_p50_ms": {"value": float(p50), "unit": "ms", "samples": len(ms)},
            "small_query_p90_ms": {"value": float(p90), "unit": "ms", "samples": len(ms)},
            **{fig: {"value": median_of(ops, q), "unit": "s"} for q, fig in CHAIN_FIGURES.items()},
        }


WORKLOADS = {w.name: w for w in (ImagesPipeline, SmallQueries)}
