"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload corpus_scan --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --workload all --smoke --seconds 1 --trace 1

Closed loop, one client: a single driver process on ``local[nproc]`` runs
one operation at a time for ``--seconds`` after set-up and warm-up. With
``--trace 0`` the last line carries the end-to-end metrics. With
``--trace 1`` untraced operations alternate with operations under spans and
py4j roundtrip counting, the workload's layer breakdown follows, and the
last line carries the per-layer metrics instead. ``--smoke`` shrinks every
input (sf0.001, a few thousand corpus rows); ``--workload all`` runs every
workload in one session and prints one line per workload before the
combined last line. Scratch data lives under ``.perfbench_work/`` in the
checkout and is removed at exit, except the trace files a traced run writes
to ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import harness  # noqa: E402
from perfbench.harness import Loop  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    OPERATOR_QUERIES, SIZES, WORKLOADS, Context,
)

END_TO_END = {
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "ok_frac": "fraction",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

PER_LAYER = {
    "compiler.compile_s": "s",
    "compiler.build_s": "s",
    "compiler.build_roundtrips": "count",
    "compiler.routed_frac": "fraction",
    "columnar.prepare_s": "s",
    "columnar.scan_s": "s",
    "columnar.parse_s": "s",
    "columnar.verdict_s": "s",
    "columnar.violations_s": "s",
    "columnar.rollup_s": "s",
    "columnar.ladder_gap_frac": "fraction",
    "interpreter.arrow_s": "s",
    "interpreter.loads_s": "s",
    "interpreter.eval_s": "s",
    "interpreter.docs_per_s": "docs/s",
    "checkpoint.unit_p50_s": "s",
    "checkpoint.unit_p90_s": "s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.write_amp": "ratio",
    "checkpoint.jobs": "count",
    **{f"operators.{q}_s": "s" for q in OPERATOR_QUERIES},
    **{f"operators.{q}_jobs": "count" for q in OPERATOR_QUERIES},
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.max_task_skew": "ratio",
    "spark.single_task_stages": "count",
    "spark.driver_gap_s": "s",
    "spark.core_busy_frac": "fraction",
    "trace.overhead_s": "s",
}


def run_workload(w, args, session_s: float) -> dict:
    tracer = w.ctx.tracer
    t0 = time.perf_counter()
    w.setup()
    t1 = time.perf_counter()
    warm = Loop()
    for which, ops in w.warmup:
        w.use(which)
        warm.run(w.op, w.check, seconds=0, min_ops=ops)
    w.use("timed")
    setup_s = session_s + time.perf_counter() - t0
    out = {"w": w, "setup_s": setup_s,
           "phases": {"session_s": session_s, "inputs_s": t1 - t0, "warmup_s": warm.times}}
    if not args.trace:
        out["timed"] = Loop().run(w.op, w.check, args.seconds)
        out["loops"] = [warm, out["timed"]]
        return out
    # Untraced and traced operations alternate, so the JIT's progress during
    # the loop does not land on one side of the overhead.
    untraced, traced = Loop(), Loop()
    start = time.time()
    while not traced.attempted or time.time() - start < args.seconds:
        untraced.run(w.op, w.check, seconds=0)
        tracer.enabled = True
        traced.run(w.op, w.check, seconds=0, tracer=tracer)
        tracer.enabled = False
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["trace.overhead_s"] = traced.median() - untraced.median()
    tracer.enabled = True
    layers = Loop().run(lambda: w.layers(m, untraced.median()), lambda _: None, seconds=0)
    tracer.enabled = False
    out.update(timed=untraced, loops=[warm, untraced, traced, layers], layers=m)
    return out


def _finite(x) -> float:
    """JSON has no NaN: a loop with no successful operation reports 0."""
    return float(x) if math.isfinite(x) else 0.0


def finish(r: dict, args, events, nproc: int) -> dict:
    """The result object for one workload."""
    attempted = sum(lp.attempted for lp in r["loops"])
    failed = sum(lp.failed for lp in r["loops"])
    if args.trace:
        m = r["layers"]
        ops = [(s["start"], s["end"]) for s in r["w"].ctx.tracer.spans if s["name"] == "op"]
        m.update(events.summary(ops, nproc))
        r["w"].event_layers(m, events)
        metrics = {k: {"value": _finite(m[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        wall = _finite(r["timed"].median())
        values = {
            "wall_s": wall,
            "rows_per_s": r["w"].rows_per_op / wall if wall else 0.0,
            "ok_frac": 1.0 - failed / attempted,
            "peak_rss_mb": r["peak_rss_mb"],
            "setup_s": r["setup_s"],
        }
        metrics = {k: {"value": _finite(values[k]), "unit": u} for k, u in END_TO_END.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    # The library is what is measured: import it before anything starts, so
    # a checkout without it fails here, quickly and without a result.
    import __spark_entry__  # noqa: F401
    import json_schemer_spark  # noqa: F401

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    run_id = uuid.uuid4().hex[:12]
    base = ROOT / ".perfbench_work"
    work = base / f"run-{run_id}"
    (work / "tmp").mkdir(parents=True)
    # Keep every file the run writes inside the checkout: Python's and the
    # JVM's temporary files, and HotSpot's /tmp/hsperfdata_* file, which the
    # spark-submit launcher JVM would otherwise create.
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    host = harness.host_info()
    conf = harness.spark_conf(work, host)
    meta = {"run_id": run_id, "workloads": names, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "smoke": args.smoke, "sizes": SIZES["smoke" if args.smoke else "full"],
            "host": host, "versions": harness.versions(), "source": harness.source_identity(),
            "spark_conf": conf}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_session(conf)
        session_s = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._gateway.proc.pid
        counter = harness.RoundtripCounter(spark)
        runs = []
        for name in names:
            ctx = Context(spark, work / name, args.seed, meta["sizes"], host["nproc"],
                          harness.Tracer(f"{run_id}/{name}", enabled=False), counter)
            r = run_workload(WORKLOADS[name](ctx), args, session_s)
            r["peak_rss_mb"] = harness.peak_rss_mb([os.getpid(), jvm_pid])
            runs.append(r)
        stopping, spark = spark, None
        harness.stop_session(stopping)
        events = harness.EventLog(work / "eventlog") if args.trace else None
        results = [finish(r, args, events, host["nproc"]) for r in runs]
        for name, r in zip(names, runs):
            meta.setdefault("samples", {})[name] = r["timed"].times
            meta.setdefault("setup", {})[name] = r["phases"]
            meta.setdefault("errors", {})[name] = [e for lp in r["loops"] for e in lp.errors][:5]
        if args.trace:
            harness.write_trace(base / "traces" / f"{args.workload}-seed{args.seed}-{run_id}.json",
                                meta, [r["w"].ctx.tracer for r in runs], events, results)
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"meta": meta}))
    if len(results) == 1:
        print(json.dumps(results[0]))
        return 0
    for name, res in zip(names, results):
        print(json.dumps({"workload": name, **res}))
    print(json.dumps({
        "correct": all(r["correct"] for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": {f"{n}/{k}": v for n, r in zip(names, results) for k, v in r["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
