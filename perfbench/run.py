"""Benchmark entry point.

    python3 perfbench/run.py --workload vector_index --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. Builds nothing: the engine is imported from
the checkout's ``neighborly_spark`` package and Spark runs on local[nproc].
Every file it writes stays inside the checkout: scratch data under
``.bench_work/`` (removed at exit) and result stamps under ``.bench_out/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the ``end_to_end`` metrics of BENCHMARK.json, with ``--trace 1``
its ``per_layer`` metrics, read from spans recorded around every engine call.
Lines before it start with ``#`` and carry the stamp and per-workload detail.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: thread-count variables that change BLAS/OpenMP behaviour, recorded as found
_THREAD_ENV = (
    "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS", "BLIS_NUM_THREADS",
)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    # accepted and stamped; each workload runs a fixed sequence of operations
    # (README.md says why), so the measured time is a property of the engine
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _configure_env(work: str) -> None:
    """Point every scratch location of Spark, the JVM and the Python workers
    into ``work``, and make the checkout's engine importable by workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every stage back at exit; keep them all
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp}", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)


def _stop(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _per_layer(spec: list[dict], records: list[dict], totals: dict, overhead_s: float) -> dict:
    """Value of every per_layer metric: ``<span name>.<field>`` is the median
    of that field over the span's occurrences (0 when this workload never
    calls the layer); ``spark.*`` are whole-run totals."""
    by_name: dict[str, list[dict]] = {}
    for r in records:
        by_name.setdefault(r["name"], []).append(r)
    top_wall = sum(r["wall_s"] for r in records if r["parent"] is None)
    extra = {
        "tracing.overhead_s": overhead_s,
        "tracing.overhead_share": overhead_s / top_wall if top_wall else 0.0,
    }
    out = {}
    for m in spec:
        name = m["name"]
        if name in totals:
            value = totals[name]
        elif name in extra:
            value = extra[name]
        else:
            span, fld = name.rsplit(".", 1)
            vals = [r.get(fld, 0) for r in by_name.get(span, [])]
            value = statistics.median(vals) if vals else 0
        out[name] = {"value": value, "unit": m["unit"]}
    return out


def main(argv=None) -> int:
    args = _args(argv)
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "thread_env": {k: os.environ.get(k) for k in _THREAD_ENV},
    }
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "neighborly_spark", "__init__.py")):
        print(f"no neighborly_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)

    sys.path.insert(0, ROOT)
    import numpy
    import pandas
    import pyspark

    from neighborly_spark.session import get_spark
    from spans import SpanRecorder
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    stamp.update(spark=pyspark.__version__, numpy=numpy.__version__, pandas=pandas.__version__)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _configure_env(work)

    # a SIGTERM unwinds like an exception, so Spark and its JVM are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = get_spark(app_name="perfbench", cpus=stamp["nproc"])
    try:
        spark.sparkContext.setLogLevel("ERROR")
        rec = SpanRecorder(spark.sparkContext, enabled=bool(args.trace))
        ctx = Ctx(spark=spark, rec=rec, seed=args.seed, nproc=stamp["nproc"], work=work)
        t0 = time.perf_counter()
        with rec.span("run"):
            result = WORKLOADS[args.workload](ctx)
        stamp["run_s"] = time.perf_counter() - t0
        records, totals = rec.finish()
    finally:
        try:
            _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    detail = result.pop("detail")
    result["success_rate"] = 1.0 - ctx.failed / ctx.attempted
    if args.trace:
        metrics = _per_layer(spec["per_layer"], records, totals, rec.overhead_s)
        detail.update({f"traced_{k}": v for k, v in result.items()})
    else:
        metrics = {
            m["name"]: {"value": result[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]
        }

    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump({"stamp": stamp, "detail": detail, "metrics": metrics, "spans": records,
                   "spark_totals": totals, "attempted": ctx.attempted, "failed": ctx.failed},
                  f, indent=1, default=str)
    print("# stamp " + json.dumps(stamp))
    for k, v in detail.items():
        print(f"# {k} {v}")
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
