"""Benchmark entry point.

    python3 perfbench/run.py --workload images_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One process, one closed-loop client,
Spark at local[<cores available>].  The run builds (or finds in its
cache) the seeded inputs, starts the session, runs one discarded warm
pass, then times passes for `--seconds`.  Output checks run after the
timed window.  The last line of stdout is the result object; the lines
before it carry the input facts, the workload's own figures and, with
`--trace 1`, the per-layer table.

With `--trace 0` the result holds the end-to-end metrics.  With
`--trace 1` the window runs pairs of passes, one untraced and one traced,
in alternating order; the result holds the per-layer metrics of the
traced passes and `trace_overhead_s`, the median over pairs of the traced
minus the untraced pass time.
The spans go to `perfbench/.cache/traces/<workload>-seed<seed>.json`.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

import numpy as np  # noqa: E402

from procfs import RssSampler  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
DEADLINE_S = 170  # a run must end within 180 s


def spark_env() -> None:
    """Pin every knob the session reads from the environment, and keep
    all scratch files inside the checkout."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(CACHE, d), exist_ok=True)
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_"):
            del os.environ[k]
    tmp = os.path.join(CACHE, "tmp")
    os.environ.update(
        {
            # python workers import the package from this checkout
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_DRIVER_MEM": "2g",
            "SPARK_GRAFT_OFFHEAP": "1g",
            "SPARK_LOCAL_DIRS": os.path.join(CACHE, "spark-local"),
            "TMPDIR": tmp,
            # every JVM (the launcher too) would otherwise write /tmp/hsperfdata_*
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
            # fixed JIT compiler threads, so procfs can leave their CPU out
            "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
            "SPARK_GRAFT_EXTRA_CONF": ";".join(
                [
                    "spark.ui.showConsoleProgress=false",
                    f"spark.sql.warehouse.dir={os.path.join(CACHE, 'warehouse')}",
                ]
            ),
        }
    )


def stop_spark(spark, pids: set[int]) -> None:
    """Stop the session, end the JVM, and wait until it and its workers
    are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            try:
                with open(f"/proc/{p}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


def n_passes(wl, seconds: float) -> int:
    """The passes that fill `seconds` at the workload's nominal pass time
    on the reference host (at least one).  The count is fixed by the
    arguments, not by the clock: the JVM is still warming up, so each pass
    costs less than the one before, and a count that followed the host's
    speed of the minute moved the medians more than anything else did."""
    return max(1, round(seconds / wl.nominal_pass_s))


def paired_passes(wl, seconds: float, tracer) -> tuple[list[list], list[list]]:
    """Untraced and traced passes in pairs, the order alternating from
    pair to pair (untraced first, then traced first), so the JVM's warm-up
    does not favour one side."""
    plain, traced = [], []
    for i in range(max(1, round(n_passes(wl, seconds) / 2))):
        for traced_side in ((False, True) if i % 2 == 0 else (True, False)):
            if not traced_side:
                plain.append(wl.run_pass())
                continue
            tracer.collect_jobs(None)  # everything so far is untraced
            wl.tracer = tracer
            tracer.begin_pass(len(traced))
            traced.append(wl.run_pass())
            tracer.end_pass()
            wl.tracer = None
    return plain, traced


def pass_seconds(passes: list[list], attr: str = "seconds") -> float:
    return float(np.median([sum(getattr(op, attr) for op in p) for p in passes]))


def end_to_end(setup_s: float, rss: RssSampler, passes: list[list]) -> dict:
    """The bounded metrics: CPU seconds, not wall seconds, for the passes
    and operations (see README.md, "End-to-end metrics")."""
    cpu_ms = [op.cpu_s * 1000 for p in passes for op in p]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "rss_mb": {"value": rss.median() / 2**20, "unit": "MB"},
        "pass_cpu_s": {"value": pass_seconds(passes, "cpu_s"), "unit": "s"},
        "op_cpu_p50_ms": {"value": float(np.percentile(cpu_ms, 50)), "unit": "ms"},
        "op_cpu_p90_ms": {"value": float(np.percentile(cpu_ms, 90)), "unit": "ms"},
    }


def wall_figures(rss: RssSampler, passes: list[list]) -> dict:
    ms = [op.seconds * 1000 for p in passes for op in p]
    return {
        "pass_s": {"value": pass_seconds(passes), "unit": "s"},
        "op_p50_ms": {"value": float(np.percentile(ms, 50)), "unit": "ms", "samples": len(ms)},
        "op_p90_ms": {"value": float(np.percentile(ms, 90)), "unit": "ms", "samples": len(ms)},
        "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MB"},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = ap.parse_args(argv)

    def on_deadline(*_):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)

    spark_env()
    sys.path[:0] = [ROOT, HERE]
    import who_owns_mass_processing_spark.session as session  # fails outside a full checkout
    import spans as tracing
    import workloads

    wl_cls = workloads.WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    tracer = tracing.Tracer() if args.trace else None
    spark, sampler = None, None
    try:
        if tracer:
            tracer.install()
            tracer.enabled = True  # the session span
        spark = session.get_spark(app_name="perfbench", cores=cores)
        if tracer:
            tracer.enabled = False
        spark.sparkContext.setLogLevel("ERROR")

        t_session = time.time()
        wl = wl_cls(spark, args.seed, tiny=args.tiny)
        wl.prepare()
        t_inputs = time.time()
        warm = wl.warm_pass()
        setup_s = time.time() - T_START
        setup = {
            "session_s": t_session - T_START,
            "inputs_s": t_inputs - t_session,
            "warm_pass_s": time.time() - t_inputs,
        }

        sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
        sampler.start()
        if tracer:
            plain, traced = paired_passes(wl, args.seconds, tracer)
            passes = plain + traced
        else:
            passes = [wl.run_pass() for _ in range(n_passes(wl, args.seconds))]
        sampler.stop()

        # the warm pass is checked first: it is the reference later passes
        # must reproduce
        warm_errors = [f"warm {op.kind}: {e}" for op in warm for e in wl.check(op)]
        ops = [op for p in passes for op in p]
        failed = 0
        for op in ops:
            errors = wl.check(op)
            failed += bool(errors)
            for e in errors:
                print(f"check failed: {op.kind}: {e}", file=sys.stderr)
        for e in warm_errors:
            print(f"check failed: {e}", file=sys.stderr)

        detail = {
            "workload": wl.name,
            "seed": args.seed,
            "cores": cores,
            "inputs": wl.facts,
            "setup": setup,
            "passes": len(passes),
            "ops": len(ops),
            # per operation kind, in first-run order: the timed sequence's
            # counts, wall seconds and CPU seconds
            "op_counts": {k: sum(o.kind == k for o in ops) for k in dict.fromkeys(o.kind for o in ops)},
            "op_seconds": {k: [o.seconds for o in ops if o.kind == k] for k in dict.fromkeys(o.kind for o in ops)},
            "op_cpu_s": {k: [o.cpu_s for o in ops if o.kind == k] for k in dict.fromkeys(o.kind for o in ops)},
            "metrics": {**wall_figures(sampler, passes), **wl.detail(ops)},
        }
        if tracer:
            rows = tracer.span_rows()
            layer = tracer.layer_metrics(rows, len(traced))
            layer["trace_overhead_s"] = float(
                np.median([pass_seconds([t]) - pass_seconds([p]) for p, t in zip(plain, traced)])
            )
            accounting = tracer.accounting(rows)
            for q in workloads.SMALL_QUERIES + workloads.DOC_CHAINS:
                for k in ("jobs", "tasks", "driver_gap_s"):
                    layer[f"query.{q}.{k}"] = accounting.get(q, {}).get(k, 0.0)
            metrics = {k: {"value": v, "unit": tracing.unit_of(k)} for k, v in layer.items()}
            span_path = os.path.join(CACHE, "traces", f"{wl.name}-seed{args.seed}.json")
            tracer.write(
                span_path,
                rows,
                {"workload": wl.name, "seed": args.seed, "traced_passes": len(traced),
                 "layer_metrics": layer, "accounting": accounting},
            )
            detail.update(
                span_file=os.path.relpath(span_path, ROOT),
                accounting=accounting,
                end_to_end_untraced=end_to_end(setup_s, sampler, plain),
                traced_pass_s=pass_seconds(traced),
            )
            print(tracing.layer_table(layer))
        else:
            metrics = end_to_end(setup_s, sampler, passes)
        wl.finish()
        print(json.dumps({"detail": detail}))
        print(
            json.dumps(
                {
                    "correct": failed == 0 and not warm_errors,
                    "attempted": len(ops),
                    "failed": failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        signal.alarm(0)
        pids = sampler.seen if sampler else set()
        stop_spark(spark, pids)


if __name__ == "__main__":
    sys.exit(main())
