"""Layer spans recorded from outside the program.

`Tracer.install()` rebinds each layer's public functions, wherever the
program holds a reference to them (module attributes of the package and
of `__spark_entry__`), to a wrapper that opens a span around the call.
No program file is edited.

A span records its name, layer, start, end and parent.  While it is open
it adds a Spark job tag in its calling thread, so every job submitted
from that thread (and from the SQL broadcast threads that inherit its
local properties) carries the tag.  After each traced pass the tracer
drains the listener bus, reads every new job from the AppStatusStore and
gives each job to the deepest span whose tag it carries.  Jobs from the
program's own side threads (broadcast builds) carry no tag; they are
counted as `unattributed_jobs`.

Spans are kept in memory and written as one JSON file when the run ends.
Counts that need a Spark job of their own (pairs in and out, estimated
pairs) are taken after the pass, with tracing paused, so none of their
jobs lands inside a span.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "who_owns_mass_processing_spark"

# layer -> (module, public callables); "Class.method" wraps a method
LAYERS = {
    "session": ("session", ["get_spark"]),
    "pipeline.run": ("pipeline.run", ["run_pipeline"]),
    "pipeline.checkpoint": (
        "pipeline.checkpoint", ["StageCatalog.read_or_compute", "StageCatalog.write"]
    ),
    "operators.dedupe": (
        "operators.dedupe",
        [
            "minhash_signatures", "rep_pairs_from_sigs", "lsh_near_dup_pairs",
            "lsh_near_dup_edges", "simhash_near_dup_pairs", "exact_dup_groups",
        ],
    ),
    "operators.blocking": (
        "operators.blocking",
        ["candidate_pairs", "hamming_pairs", "with_surrogate_ids", "decode_pair_ids"],
    ),
    "operators.verify": (
        "operators.verify", ["verify_jaccard", "verify_psnr", "build_jaccard_mapside_bvar"]
    ),
    "functions.vectors": ("functions.vectors", ["ann_lsh_pairs"]),
    "operators.connected_components": ("operators.connected_components", ["connected_components"]),
    "operators.canonical": ("operators.canonical", ["with_singletons", "cluster_exemplars"]),
    "operators.diagnostics": ("operators.diagnostics", ["cluster_diagnostics"]),
    "operators.network": ("operators.network", ["network_round"]),
}
# the root span of every timed operation
OP_LAYER = "op"

# metrics per layer that go into the result line (the span file has all)
LAYER_FIELDS = ("self_s", "driver_gap_s", "jobs", "tasks", "shuffle_write_bytes")
# extra counts: layer -> names
EXTRA_COUNTS = {
    "pipeline.run": ["tier_overlap"],
    "pipeline.checkpoint": ["rows", "bytes_written"],
    "operators.blocking": ["est_pairs", "pairs_out", "yield", "salted_buckets", "stop_band_rows"],
    "operators.verify": ["mapside_built", "mapside_declined", "psnr_pass_ratio"],
    "functions.vectors": ["pairs_out"],
    "operators.connected_components": ["edges_in", "components_out"],
    "operators.canonical": ["rows_out"],
    "operators.diagnostics": ["rows_out"],
    "operators.network": ["rows_out"],
}
# the pipeline's tier phase: stages submitted together to its thread pool
TIER_STAGES = ("signatures", "caption_pairs", "image_exact_edges", "image_pairs", "partition_metrics_v2")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    tags: tuple = ()
    counts: dict = field(default_factory=dict)
    deferred: list = field(default_factory=list)  # thunks -> {count: value}, run after the pass
    jobs: list = field(default_factory=list)  # job ids given to this span
    pass_no: int | None = None


@dataclass
class Job:
    id: int
    start: float
    end: float
    tasks: int
    tags: tuple
    stage_ids: tuple


def _union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, dict] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op_stack: list[Span] | None = None  # stack of the thread running the operation
        self._lock = threading.Lock()
        self._pass_no: int | None = None
        self._last_job = -1
        self.unattributed: list[int] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _sc(self):
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def open(self, name: str, layer: str) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        if stack:
            parent = stack[-1].id
        elif self._op_stack:  # a program thread started inside the operation
            parent = self._op_stack[-1].id
        else:
            parent = None
        sp = Span(next(self._ids), name, layer, parent, time.time(), pass_no=self._pass_no)
        sc = self._sc()
        if sc is not None:
            sp.tags = (f"pb-span-{sp.id}",)
            sc.addJobTag(sp.tags[0])
        with self._lock:
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.time()
        stack = self._stack()
        stack.remove(sp)
        sc = self._sc()
        if sp.tags and sc is not None:
            sc.removeJobTag(sp.tags[0])

    class _Ctx:
        def __init__(self, tracer, name, layer):
            self.t, self.name, self.layer = tracer, name, layer

        def __enter__(self):
            self.sp = self.t.open(self.name, self.layer)
            if self.layer == OP_LAYER and self.sp is not None:
                self.t._op_stack = self.t._stack()
            return self.sp

        def __exit__(self, *exc):
            self.t.close(self.sp)
            if self.layer == OP_LAYER:
                self.t._op_stack = None
            return False

    def operation(self, kind: str):
        return self._Ctx(self, kind, OP_LAYER)

    # -- wrapping ------------------------------------------------------------

    def install(self) -> None:
        import importlib

        targets = []
        for layer, (mod_name, names) in LAYERS.items():
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            for qual in names:
                if "." in qual:
                    cls_name, meth = qual.split(".")
                    cls = getattr(mod, cls_name)
                    setattr(cls, meth, self._wrap(getattr(cls, meth), layer, qual))
                else:
                    targets.append((mod, qual, layer))
        importlib.import_module("__spark_entry__")
        holders = [
            m for n, m in list(sys.modules.items())
            if m is not None and (n == PKG or n.startswith(PKG + ".") or n == "__spark_entry__")
        ]
        for mod, qual, layer in targets:
            orig = getattr(mod, qual)
            wrapped = self._wrap(orig, layer, qual)
            for holder in holders:
                for attr, val in list(vars(holder).items()):
                    if val is orig:
                        setattr(holder, attr, wrapped)

    def _wrap(self, fn, layer: str, name: str):
        tracer = self
        extra = _EXTRAS.get(name)

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            sp = tracer.open(name, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(sp)
            if extra:
                extra(tracer, sp, args, kwargs, out)
            return out

        return functools.wraps(fn)(wrapper)

    # -- passes --------------------------------------------------------------

    def begin_pass(self, n: int) -> None:
        self._pass_no = n
        self.enabled = True

    def end_pass(self) -> None:
        """Pause tracing, read the pass's jobs, then take the deferred
        counts (their own jobs belong to no pass)."""
        self.enabled = False
        self.collect_jobs(self._pass_no)
        for sp in self.spans:
            for thunk in sp.deferred:
                sp.counts.update(thunk())
            sp.deferred.clear()
        self.collect_jobs(None)
        self._pass_no = None

    def collect_jobs(self, pass_no) -> None:
        sc = self._sc()
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        new = []
        it = store.jobsList(sc._jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            j = it.next()
            if j.jobId() <= self._last_job:
                continue
            subm, compl = j.submissionTime(), j.completionTime()
            new.append(
                Job(
                    id=j.jobId(),
                    start=subm.get().getTime() / 1000 if subm.isDefined() else 0.0,
                    end=compl.get().getTime() / 1000 if compl.isDefined() else time.time(),
                    tasks=j.numTasks() - j.numSkippedTasks(),
                    tags=tuple(t for t in j.jobTags().mkString(",").split(",") if t.startswith("pb-span-")),
                    stage_ids=tuple(int(x) for x in j.stageIds().mkString(",").split(",") if x),
                )
            )
        gw = sc._gateway
        st = store.stageList(
            sc._jvm.java.util.ArrayList(), False, False, gw.new_array(gw.jvm.double, 0),
            sc._jvm.java.util.ArrayList(),
        ).iterator()
        while st.hasNext():
            s = st.next()
            if str(s.status()) != "COMPLETE" or s.stageId() in self.stages:
                continue
            self.stages[s.stageId()] = {
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        by_tag = {sp.tags[0]: sp for sp in self.spans if sp.tags}
        depth = self._depths()
        for job in sorted(new, key=lambda j: j.id):
            self.jobs[job.id] = job
            self._last_job = max(self._last_job, job.id)
            owners = [by_tag[t] for t in job.tags if t in by_tag]
            if owners:
                max(owners, key=lambda sp: depth[sp.id]).jobs.append(job.id)
            elif pass_no is not None:
                self.unattributed.append(job.id)

    def _depths(self) -> dict[int, int]:
        parent = {sp.id: sp.parent for sp in self.spans}
        depth: dict[int, int] = {}
        for sid in parent:
            d, p = 0, parent[sid]
            while p is not None:
                d, p = d + 1, parent.get(p)
            depth[sid] = d
        return depth

    # -- summaries -----------------------------------------------------------

    def span_rows(self) -> list[dict]:
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        counted_stages: set[int] = set()
        rows = {}

        def subtree_jobs(sp: Span) -> list[int]:
            out = list(sp.jobs)
            for c in children.get(sp.id, []):
                out += subtree_jobs(c)
            return out

        for sp in self.spans:
            kids = children.get(sp.id, [])
            wall = sp.end - sp.start
            all_jobs = subtree_jobs(sp)
            if sp.layer == OP_LAYER:  # side-thread jobs run inside the operation too
                all_jobs += [j for j in self.unattributed if sp.start <= self.jobs[j].start <= sp.end]
            job_iv = [(self.jobs[j].start, self.jobs[j].end) for j in all_jobs if j in self.jobs]
            shuffle = spill = 0
            for j in sp.jobs:
                for sid in self.jobs[j].stage_ids:
                    if sid in self.stages and sid not in counted_stages:
                        counted_stages.add(sid)
                        shuffle += self.stages[sid]["shuffle_write_bytes"]
                        spill += self.stages[sid]["spill_bytes"]
            rows[sp.id] = {
                "id": sp.id,
                "name": sp.name,
                "layer": sp.layer,
                "parent": sp.parent,
                "pass": sp.pass_no,
                "start": sp.start,
                "end": sp.end,
                "wall_s": wall,
                "self_s": wall - _union_len([(c.start, c.end) for c in kids], sp.start, sp.end),
                "driver_gap_s": wall - _union_len(job_iv, sp.start, sp.end),
                "jobs": len(sp.jobs),
                "tasks": sum(self.jobs[j].tasks for j in sp.jobs),
                "shuffle_write_bytes": shuffle,
                "spill_bytes": spill,
                # a span that only builds a lazy plan launches no job; its
                # work lands in whichever span materializes the plan
                "eager": bool(all_jobs),
                **sp.counts,
            }
        return list(rows.values())

    def layer_metrics(self, rows: list[dict], n_passes: int) -> dict[str, float]:
        """Per-pass layer figures over the traced passes.  Time and job
        figures sum over a layer's spans, except wall and driver gap, which
        sum over its outermost spans only (nested spans of one layer would
        count twice)."""
        by_id = {r["id"]: r for r in rows}
        traced = [r for r in rows if r["pass"] is not None]
        out: dict[str, float] = {}
        layers = list(LAYERS) + [OP_LAYER]
        for layer in layers:
            mine = [r for r in (rows if layer == "session" else traced) if r["layer"] == layer]
            outer = [r for r in mine if not self._has_ancestor_in(r, layer, by_id)]
            per = 1 if layer == "session" else max(n_passes, 1)
            vals = {
                "self_s": sum(r["self_s"] for r in mine),
                "driver_gap_s": sum(r["driver_gap_s"] for r in outer),
                "jobs": sum(r["jobs"] for r in mine),
                "tasks": sum(r["tasks"] for r in mine),
                "shuffle_write_bytes": sum(r["shuffle_write_bytes"] for r in mine),
            }
            for k in LAYER_FIELDS:
                out[f"{layer}.{k}"] = vals[k] / per
            for k in EXTRA_COUNTS.get(layer, []):
                v = self._extra(layer, k, mine, rows)
                out[f"{layer}.{k}"] = v if k in self.RATIOS else v / per
        out["unattributed_jobs"] = len(self.unattributed) / max(n_passes, 1)
        return out

    @staticmethod
    def _has_ancestor_in(r: dict, layer: str, by_id: dict) -> bool:
        p = r["parent"]
        while p is not None:
            if by_id[p]["layer"] == layer:
                return True
            p = by_id[p]["parent"]
        return False

    RATIOS = ("yield", "psnr_pass_ratio", "tier_overlap")

    def _extra(self, layer: str, key: str, mine: list[dict], rows: list[dict]) -> float:
        """A count summed over the layer's spans, or one of RATIOS."""
        def total(k):
            return float(sum(r.get(k, 0) or 0 for r in mine))

        if key == "yield":
            est = total("est_pairs")
            return total("pairs_out") / est if est else 0.0
        if key == "psnr_pass_ratio":
            n_in = total("pairs_in")
            return total("pairs_out") / n_in if n_in else 0.0
        if key == "tier_overlap":
            ratios = []
            for run in mine:
                tiers = [
                    r for r in rows
                    if r["parent"] == run["id"] and r.get("stage") in TIER_STAGES and r["eager"]
                ]
                if tiers:
                    phase = max(r["end"] for r in tiers) - min(r["start"] for r in tiers)
                    ratios.append(sum(r["wall_s"] for r in tiers) / phase)
            return sum(ratios) / len(ratios) if ratios else 0.0
        return total(key)

    def accounting(self, rows: list[dict]) -> dict:
        """Per operation kind, averaged over its traced executions: wall,
        driver gap, jobs and tasks of the whole operation, and `share_s`,
        the wall split over layers.  At every instant the operation's time
        goes in equal parts to the innermost open spans (one per busy
        thread), so the shares of all layers add up to the wall even where
        the program runs stages from several threads."""
        by_parent: dict[int, list[dict]] = {}
        for r in rows:
            by_parent.setdefault(r["parent"], []).append(r)
        out: dict[str, dict] = {}
        for op in (r for r in rows if r["layer"] == OP_LAYER and r["pass"] is not None):
            tree, todo = [], [op]
            while todo:
                r = todo.pop()
                tree.append(r)
                todo += by_parent.get(r["id"], [])
            acc = out.setdefault(
                op["name"],
                {"ops": 0, "wall_s": 0.0, "driver_gap_s": 0.0, "jobs": 0, "tasks": 0, "share_s": {}},
            )
            acc["ops"] += 1
            acc["wall_s"] += op["wall_s"]
            acc["driver_gap_s"] += op["driver_gap_s"]
            acc["jobs"] += sum(r["jobs"] for r in tree)
            acc["tasks"] += sum(r["tasks"] for r in tree)
            cuts = sorted({t for r in tree for t in (r["start"], r["end"])})
            for lo, hi in zip(cuts, cuts[1:]):
                live = [r for r in tree if r["start"] <= lo and r["end"] >= hi]
                live_ids = {r["id"] for r in live}
                inner = [r for r in live if not any(c["id"] in live_ids for c in by_parent.get(r["id"], []))]
                for r in inner:
                    acc["share_s"][r["layer"]] = acc["share_s"].get(r["layer"], 0.0) + (hi - lo) / len(inner)
        for acc in out.values():
            n = acc.pop("ops")
            for k in ("wall_s", "driver_gap_s", "jobs", "tasks"):
                acc[k] /= n
            acc["share_s"] = {k: v / n for k, v in sorted(acc["share_s"].items(), key=lambda kv: -kv[1])}
            acc["executions"] = n
        return out

    def write(self, path: str, rows: list[dict], extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": rows, "jobs": [vars(j) for j in self.jobs.values()], **extra}, f, indent=1)


# ---------------------------------------------------------------------------
# extra counts per wrapped function
# ---------------------------------------------------------------------------

def _arg(args, kwargs, i, name, default=None):
    return args[i] if len(args) > i else kwargs.get(name, default)


def _blocking(tracer, sp, args, kwargs, out):
    pairs, skew = out
    bands = _arg(args, kwargs, 0, "bands_df")
    hard_cap = _arg(args, kwargs, 3, "hard_cap", 100000)

    def est_pairs():
        """Σ C(n, 2) over the live buckets (2 <= n <= hard_cap) of the
        banding input — the pre-predicate pair volume candidate_pairs
        plans for."""
        from pyspark.sql import functions as F

        n = F.col("count")
        est = (
            bands.groupBy("band_id", "band_hash").count()
            .where((n >= 2) & (n <= hard_cap))
            .agg(F.sum(n * (n - 1) / 2)).collect()[0][0]
        )
        return {"est_pairs": float(est or 0.0)}

    def skew_counts():
        by_class = {r["bucket_class"]: r for r in skew.collect()}
        return {
            "salted_buckets": int(by_class["salted"]["buckets"]) if "salted" in by_class else 0,
            "stop_band_rows": (
                int(by_class["dropped_stop_band"]["rows"]) if "dropped_stop_band" in by_class else 0
            ),
        }

    sp.deferred += [est_pairs, lambda: {"pairs_out": pairs.count()}, skew_counts]


def _count_out(key):
    def after(tracer, sp, args, kwargs, out):
        sp.deferred.append(lambda: {key: out.count()})

    return after


def _mapside(tracer, sp, args, kwargs, out):
    sp.counts["mapside_built" if out is not None else "mapside_declined"] = 1


def _psnr(tracer, sp, args, kwargs, out):
    pairs = _arg(args, kwargs, 0, "pairs")
    sp.deferred.append(lambda: {"pairs_in": pairs.count(), "pairs_out": out.count()})


def _cc(tracer, sp, args, kwargs, out):
    edges = _arg(args, kwargs, 0, "edges")
    sp.deferred.append(
        lambda: {"edges_in": edges.count(), "components_out": out.select("component").distinct().count()}
    )


def _stage_name(tracer, sp, args, kwargs, out):
    sp.counts["stage"] = _arg(args, kwargs, 1, "stage")


def _stage_write(tracer, sp, args, kwargs, out):
    cat, stage = args[0], _arg(args, kwargs, 1, "stage")
    sp.counts["stage"] = stage
    sp.counts["rows"] = int(cat._manifest["stages"][stage]["rows"])
    sp.counts["bytes_written"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(cat._stage_path(stage)) for f in files
    )


# wrapped function -> (tracer, span, args, kwargs, out) -> None, run after
# the call; a count that needs a Spark job goes to `span.deferred`
_EXTRAS = {
    "candidate_pairs": _blocking,
    "build_jaccard_mapside_bvar": _mapside,
    "verify_psnr": _psnr,
    "ann_lsh_pairs": _count_out("pairs_out"),
    "connected_components": _cc,
    "with_singletons": _count_out("rows_out"),
    "cluster_exemplars": _count_out("rows_out"),
    "cluster_diagnostics": _count_out("rows_out"),
    "network_round": _count_out("rows_out"),
    "StageCatalog.read_or_compute": _stage_name,
    "StageCatalog.write": _stage_write,
}


def unit_of(metric: str) -> str:
    key = metric.rsplit(".", 1)[-1]
    if key.endswith("_s"):
        return "s"
    if key.endswith("bytes") or key == "bytes_written":
        return "bytes"
    if key in Tracer.RATIOS:
        return "ratio"
    return "count"


def layer_table(metrics: dict[str, float]) -> str:
    """Per-layer self time and driver gap, one line per layer."""
    lines = [f"{'layer':34} {'self_s':>9} {'driver_gap_s':>13} {'jobs':>7}"]
    for layer in list(LAYERS) + [OP_LAYER]:
        lines.append(
            f"{layer:34} {metrics[f'{layer}.self_s']:9.3f} "
            f"{metrics[f'{layer}.driver_gap_s']:13.3f} {metrics[f'{layer}.jobs']:7.1f}"
        )
    return "\n".join(lines)
