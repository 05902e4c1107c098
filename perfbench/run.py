"""spark-woe benchmark: one seeded workload on ``local[nproc]``.

    python3 perfbench/run.py --workload credit_fit_score --seed 1 --seconds 10 --trace 0

Run from the root of a checkout: the package under test is imported from
the current directory.  The run

1. generates its inputs from ``--seed`` (``gen.py``; not timed),
2. sets up: imports the package, starts the session with
   ``nproc`` cores and shuffle partitions, and runs every call shape of the
   workload on a tiny slice (``setup_s``),
3. with ``--trace 0``, runs closed-loop iterations of the workload
   (``workloads.py``) until ``--seconds`` have passed and reports the
   end-to-end metrics: the median over the run's iterations of each of its
   two steps (``step1_s``, ``step2_s``) and ``setup_s``;
4. with ``--trace 1``, instead runs the traced per-layer sweep of the
   workload (``layers.py``) and reports every per-layer metric, among them
   ``peak_rss_mb``, the summed peak resident size of the process tree
   (also in every report line).

Every call's output is checked; a call that raises or fails its check
counts as a failed operation.  The second-to-last stdout line is a report
(provenance, input properties, per-call samples and digests); the last line
is the result object ``{"correct", "attempted", "failed", "metrics"}``.  The
run writes only under ``.perfbench-work/`` in the current directory and
removes it on exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

PACKAGE = "woe_monotonic_binning_spark"


def _source_digest(root: str) -> str:
    """sha256 over the package's Python sources: identifies the program when
    the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(root, PACKAGE)
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _session(cores: int, work: str):
    from woe_monotonic_binning_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _units(root: str, kind: str) -> dict[str, str]:
    """Metric name -> unit for ``kind`` (``end_to_end`` or ``per_layer``)
    from the checkout's ``BENCHMARK.json``: the one list of metrics."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _median(xs: list[float]) -> float:
    """Median of the samples; 0.0 when every iteration failed (the result
    then reads ``"correct": false``)."""
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-woe benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # every file the run writes (inputs, Spark scratch, JVM temp files)
    # stays under the checkout
    work = os.path.join(root, ".perfbench-work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    for d in ("spark", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    try:
        import workloads as wl  # gen: numpy/pandas/pyarrow only

        if args.workload not in wl.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(wl.WORKLOADS)}",
                  file=sys.stderr)
            return 2
        return _run(args, root, work, wl)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _run(args, root: str, work: str, wl) -> int:
    cores = len(os.sched_getaffinity(0))
    from tracing import ProcSampler

    t_gen = time.perf_counter()
    workload = wl.WORKLOADS[args.workload](args.seed, work)
    gen_s = time.perf_counter() - t_gen

    with ProcSampler() as sampler:
        t0 = time.perf_counter()
        import pyspark
        import woe_monotonic_binning_spark  # noqa: F401

        t1 = time.perf_counter()
        spark = _session(cores, work)
        try:
            t2 = time.perf_counter()
            workload.warm(spark)
            t3 = time.perf_counter()
            setup_s = (t3 - T_START) - gen_s
            provenance = {
                "nproc": cores,
                "python": platform.python_version(),
                "pyspark": pyspark.__version__,
                "pyarrow": __import__("pyarrow").__version__,
                "java": spark.sparkContext._jvm.System.getProperty("java.version"),
                "commit": _commit(root),
                "source_digest": _source_digest(root),
                "seed": args.seed,
                "workload": args.workload,
                "seconds": args.seconds,
                "trace": args.trace,
                "inputs": workload.props,
                "gen_s": gen_s,
            }
            session = {
                "session.import_s": t1 - t0,
                "session.start_s": t2 - t1,
                "session.warm_s": t3 - t2,
            }
            if args.trace:
                units = _units(root, "per_layer")
                result, report = _traced(spark, workload, sampler, cores, session, units)
            else:
                units = _units(root, "end_to_end")
                result, report = _measure(args, spark, workload, setup_s, units)
        finally:
            _stop(spark)
        peak = sampler.peak_tree_mb()
    if args.trace:
        result["metrics"]["peak_rss_mb"] = {"value": peak, "unit": units["peak_rss_mb"]}
    report.update({"provenance": provenance, "session": session, "peak_rss_mb": peak})
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


def _measure(args, spark, workload, setup_s: float, units: dict[str, str]):
    """Closed loop: whole iterations until ``--seconds`` have passed."""
    calls: dict[str, list[float]] = {}
    steps: dict[str, list[float]] = {}
    digests: dict[str, set[str]] = {}
    failures: list = []
    attempted = 0
    t_end = time.perf_counter() + args.seconds
    while time.perf_counter() < t_end:
        times, digs, failed = workload.iterate(spark)
        attempted += len(times) + len(failed)
        failures += failed
        for k, v in times.items():
            calls.setdefault(k, []).append(v)
        for k, d in digs.items():
            digests.setdefault(k, set()).add(d)
        if not failed:
            for k, v in workload.step_times(times).items():
                steps.setdefault(k, []).append(v)
    unstable = sorted(k for k, d in digests.items() if len(d) > 1)
    correct = not failures and not unstable and bool(steps)
    values = {"setup_s": setup_s}
    for step in workload.STEPS:
        values[f"{step}_s"] = _median(steps.get(f"{step}_s", []))
    if set(values) != set(units):
        raise SystemExit(f"perfbench: metrics {sorted(values)} != BENCHMARK.json {sorted(units)}")
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    report = {
        "calls": {f"{k}_s": {"median": _median(v), "n": len(v), "samples": v}
                  for k, v in calls.items()},
        "steps": {k: {"median": _median(v), "n": len(v), "samples": v} for k, v in steps.items()},
        "failures": failures,
        "digests_differ": unstable,
        "digests": {k: sorted(d) for k, d in digests.items()},
    }
    result = {"correct": correct, "attempted": max(attempted, 1),
              "failed": len(failures) + len(unstable), "metrics": metrics}
    return result, report


def _traced(spark, workload, sampler, cores: int, session: dict, units: dict[str, str]):
    """One traced pass over the workload's layers (``layers.py``).  Every
    per-layer metric is reported; a layer the workload does not call reads 0."""
    import layers
    from tracing import Collector

    col = Collector(spark)
    failures: list = []
    metrics = dict.fromkeys(units, 0.0)
    metrics.update(session)
    try:
        metrics.update(layers.composite(spark, workload, col))
        metrics.update(layers.sweep(spark, workload, col, sampler, cores))
    except Exception as e:  # reported as a failed operation with its error
        failures.append(repr(e))
    unknown = sorted(set(metrics) - set(units))
    if unknown:
        raise SystemExit(f"perfbench: metrics not in BENCHMARK.json: {unknown}")
    fields = ("wall_s", "jobs", "stages", "executor_run_s", "shuffle_bytes", "spill_bytes",
              "input_records", "failed_tasks")
    report = {
        "spans": {k: {f: getattr(s, f) for f in fields} for k, s in col.spans.items()},
        "failures": failures,
    }
    result = {
        "correct": not failures,
        "attempted": max(1, len(col.spans)),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, report


if __name__ == "__main__":
    sys.exit(main())
