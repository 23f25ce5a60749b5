"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,query} --seed N --seconds S --trace {0,1}

Run from the repository root. It builds nothing: the program is the
``igd_spark`` package next to this directory, run on ``local[4]`` from one
process with one client thread. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, the spans are written to
``.perfbench_work/spans-<workload>-s<seed>.json``, and the lines above the
JSON give the tracing overhead against the last untraced run of the
workload with the same seed and the same program source in this checkout.

Generated inputs are cached in ``.perfbench_cache/``; each run's indexes and
Spark scratch live in ``.perfbench_work/`` and are removed when it ends.
``bench.py`` at the root is a separate, frozen harness and is not used here.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CACHE = os.path.join(ROOT, ".perfbench_cache")


def _manifest() -> dict:
    """BENCHMARK.json: the one list of workloads, metrics, units and bounds."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _source_digest() -> str:
    """Digest of the program's and the benchmark's Python sources, so a
    stored untraced run is compared only with a traced run of the same code."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "igd_spark"), HERE):
        for root, dirs, files in os.walk(top):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for name in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(root, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def _import_program():
    """Import igd_spark from this checkout, never from anywhere else."""
    sys.path.insert(0, ROOT)
    try:
        import igd_spark
    except ImportError as e:
        sys.exit(f"cannot import igd_spark from {ROOT}: {e}")
    if not os.path.abspath(igd_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"igd_spark resolved outside the checkout: {igd_spark.__file__}")


def _session(run_dir: str):
    """local[4] session through the program's own factory. Every scratch
    file Spark, the JVM or Python workers write stays in run_dir."""
    from igd_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the program reads tuning overrides (master, memory, partition caps,
    # routing budgets) from IGD_* variables: drop any the caller set, so
    # every run measures the program's defaults
    for var in [v for v in os.environ if v.startswith("IGD_")]:
        del os.environ[var]
    return get_spark(cores=4, app="perfbench", extra={
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of a run in the status store, so the
        # traced run's per-call counters never read evicted entries
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _layer_metrics(layers: list[dict], tracer, values: dict) -> dict:
    """Each per-layer metric: an explicit value, else the median over the
    run's spans of that name, else 0 (the workload never made that call)."""
    out = {}
    for m in layers:
        name, unit = m["name"], m["unit"]
        if name in values:
            v = values[name]
        else:
            span, fld = name.rsplit(".", 1)
            spans = tracer.named(span)
            if fld == "ms":
                vals = [1000 * s.wall_s for s in spans]
            elif fld == "wall_s":
                vals = [s.wall_s for s in spans]
            else:
                vals = [s[fld] for s in spans if fld in s]
            v = statistics.median(vals) if vals else 0
        out[name] = {"value": float(v), "unit": unit}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    manifest = _manifest()
    _import_program()
    import gen
    from metrics import MOVES
    from spans import Tracer
    from workloads import CONVS, WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        sys.exit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    gen.cached_corpus(CACHE, CONVS, args.seed)  # input generation is not set-up
    run_dir = os.path.join(WORK, f"run-{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    phases = {"start": time.perf_counter()}
    try:
        spark = _session(run_dir)
        phases["session"] = time.perf_counter()
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
                  work=run_dir, cache=CACHE, t_start=phases["start"])
        e2e = WORKLOADS[args.workload](ctx)
        phases.update(ctx.marks, checked=time.perf_counter())
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    phases["stop"] = time.perf_counter()
    print("phases: " + ", ".join(f"{k} {v - phases['start']:.1f} s" for k, v in phases.items()),
          file=sys.stderr)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}")
    for name, (v, unit) in ctx.named.items():
        print(f"  {name:28s} {v:14.4f} {unit}")
    print(f"  {'error_rate':28s} {ctx.failed / ctx.attempted:14.4f} "
          f"({ctx.failed} failed of {ctx.attempted} calls)")

    last = os.path.join(WORK, f"last-{args.workload}.json")
    key = {"seed": args.seed, "source": _source_digest()}
    if args.trace:
        spans_path = os.path.join(WORK, f"spans-{args.workload}-s{args.seed}.json")
        tracer.write(spans_path)
        metrics = _layer_metrics(manifest["per_layer"], tracer, ctx.layer_values)
        print(f"per-layer metrics (spans in {os.path.relpath(spans_path, ROOT)}):")
        for name, m in metrics.items():
            print(f"  {name:52s} {m['value']:16.4f} {m['unit']:6s} -> {MOVES.get(name, '')}")
        base = None
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
        if base is not None and base["key"] == key:
            print(f"tracing overhead (traced - untraced, seed {args.seed}):")
            for name, (v, unit) in ctx.named.items():
                if name in base["named"]:
                    print(f"  {name:28s} {v - base['named'][name][0]:+14.4f} {unit}")
        else:
            print("tracing overhead: run the same seed untraced first, on the same code")
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in manifest["end_to_end"]}
        for name, m in metrics.items():
            print(f"  e2e {name:24s} {m['value']:14.4f} {m['unit']}")
        with open(last, "w") as f:
            json.dump({"key": key, "named": ctx.named}, f)
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
