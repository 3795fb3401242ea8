#!/usr/bin/env python3
"""Benchmark of the RAG engine: one workload per run, end to end or traced.

    python3 perfbench/run.py --workload serve_search --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The benchmark generates its inputs from
``--seed``, starts ``local[nproc]`` through the program's own session
factory, runs the workload's closed loop for ``--seconds``, checks every
result it can against an independent reference, and prints a report.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones of ``BENCHMARK.json``, with ``--trace 1``
the per-layer ones. A full record (inputs, host, sample counts, every
layer's samples) is written to ``perfbench/out/``, and spans too when
traced. Nothing outside the checkout is read or written.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_engineering_rag_spark"


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for base in paths:
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames if not d.startswith((".", "__")) and d != "out")
            for f in sorted(filenames):
                if f.endswith((".py", ".json")):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    """HEAD of the checkout when it is a git work tree (read, not run)."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None


def _environment(work: str) -> int:
    """Launcher environment, set before the JVM and its Python workers
    start: workers import the package by ``PYTHONPATH``, temporary files
    stay inside the checkout, and the reuse switch stays off."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # No JVM perf-data files in the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["TZ"] = "UTC"  # collected timestamps must match the oracles' naive ones
    time.tzset()
    os.environ.pop("SPARK_GRAFT_TFIDF_REUSE", None)
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    return nproc


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _stop(spark) -> None:
    """Stop Spark and wait for the Spark JVM (and so its workers) to end."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: run from a checkout of the program",
              file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    nproc = _environment(work)
    sys.path[:0] = [ROOT, HERE]

    from sparkmetrics import SparkProbe
    from spans import Tracer
    from workloads import WORKLOADS, Run

    from data_engineering_rag_spark.session import get_spark

    tracer = Tracer(enabled=bool(args.trace))
    t = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            },
        )
    session_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        run = Run(spark, SparkProbe(spark), tracer, args.seed, args.seconds, work)
        run.layers["session.start_s"].append(session_s)
        WORKLOADS[args.workload](run)
        rss = run.probe.jvm_peak_rss_mb()
        spark_version = spark.version
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    setup_s = run.setup_end - t_start
    ops_ms = [x * 1e3 for x in run.ops]
    failed = run.failed + run.failed_tasks
    end_to_end = {"setup_s": setup_s, "op_p50_ms": median(ops_ms)}
    # Also seen by a user, but not bounded: a failure ratio is 0 when all
    # is well, and retained cache and peak RSS vary too much between runs.
    also = {
        "operations": (len(ops_ms), "count"),
        "ops_failed_ratio": (failed / max(1, run.attempted), "ratio"),
        "cache_retained_mb": (run.retained_mb, "MB"),
        "jvm_peak_rss_mb": (rss, "MB"),
    }
    layer_values = {k: median(v) for k, v in run.layers.items() if v}
    layer_values["process.jvm_peak_rss_mb"] = rss
    layer_values["spark.storage.retained_mb"] = run.retained_mb
    if args.trace:
        # Traced against untraced operations of this same run (there
        # are none only when every untraced one failed).
        base = median(run.untraced_ops)
        if base:
            layer_values["trace.overhead_pct"] = (median(run.ops) / base - 1) * 100

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": platform.node(), "nproc": nproc, "spark_version": spark_version,
        "python": platform.python_version(), "git_sha": _git_sha(),
        "program_digest": _digest([os.path.join(ROOT, PACKAGE)]), "bench_digest": _digest([HERE]),
        "samples": {"ops": len(ops_ms), "untraced_ops": len(run.untraced_ops), **{k: len(v) for k, v in run.layers.items()}},
        "attempted": run.attempted, "failed": failed, "failed_tasks": run.failed_tasks,
        "failures": run.failures, "end_to_end": end_to_end, "also": {k: v for k, (v, _) in also.items()},
        "layers": layer_values, "inputs": run.info,
        "ops_ms": ops_ms, "untraced_ops_ms": [x * 1e3 for x in run.untraced_ops],
        "layer_samples": run.layers,
    }
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{stem}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        tracer.write(os.path.join(out_dir, f"spans-{stem}.json"))

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer_values if args.trace else end_to_end
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{run.attempted} checks, {failed} failed")
    for name, m in metrics.items():
        print(f"  {name:<48} {m['value']:>14.4f} {m['unit']}")
    for name, (value, unit) in also.items():
        print(f"  {name:<48} {value:>14.4f} {unit}")
    for f in run.failures:
        print(f"  FAILED: {f}")
    print(json.dumps({"correct": failed == 0, "attempted": max(1, run.attempted), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
