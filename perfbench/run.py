#!/usr/bin/env python3
"""Repo benchmark: run one workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload marts --seed 1 --seconds 10 --trace 0

Run from the repository root. The run

1. generates the workload's inputs from ``--seed`` under ``.perfbench/``
   (input generation is timed on its own, not as set-up),
2. sets up three times (session start plus warm-up; the first start also
   launches the JVM) and reports the median as ``setup_s``,
3. runs whole passes over the workload's units, one unit after another
   (a closed loop with one client): ``--seconds`` divided by the
   workload's nominal pass length ``pass_s``, rounded, and at least one,
4. checks the outputs against DuckDB outside the timed window,
5. writes a provenance payload to ``.perfbench/runs/`` and prints
   ``{"correct", "attempted", "failed", "metrics"}`` as its last line.

``--trace 0`` reports the end-to-end metrics with the Spark UI off. Each
unit counts at its mean latency over the warm passes, every pass but the
first, which still runs cold code. ``wall_s`` sums these over the units;
``unit_p50_s`` is their median. On a virtual
machine the hypervisor may run other guests while this one wants a CPU
(``steal`` in ``/proc/stat``); latencies and set-up times are scaled by
the share of the wanted CPU time the machine actually got, so they read
what the run would take with no steal. The payload keeps the raw times
and the steal shares.
``--trace 1`` turns the UI on, reads every unit's jobs, stages and SQL
executions from the REST API and reports the per-layer metrics, per pass.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import platform
import random
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PKG = "logistics_data_pipeline_project_spark"

SETUPS = 3
CHECK_UNITS = 1  # catalog units compared with their oracle per run

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "unit_p50_s": "s",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.cold_start_s": "s",
    "session.cold_warmup_s": "s",
    "queries.build_s": "s",
    "queries.eager_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "python.nodes": "count",
    "python.run_s": "s",
    "python.start_init_s": "s",
    "python.bytes_to_py": "bytes",
    "python.bytes_from_py": "bytes",
    "proc.driver_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.pyworker_cpu_s": "s",
    "jvm.peak_rss_mb": "MiB",
    "checkpoints.residual": "count",
    "storage.mem_bytes": "bytes",
    "store.overwrite_s": "s",
    "store.append_s": "s",
    "store.bytes_written": "bytes",
    "store.files_written": "count",
    "store.write_amp": "ratio",
    "runner.run_s": "s",
    "quality.check_s": "s",
    "streaming.batch_s": "s",
    "streaming.rows": "count",
    "trace.wall_s": "s",
    "trace.collect_s": "s",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs (sf0.001, 2 batches)")
    return p.parse_args(argv)


def _git_rev() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
        return out.stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def _source_sha() -> str:
    """Digest of the engine's sources (checkouts without git history)."""
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()


def _load1() -> float:
    return os.getloadavg()[0]


def _stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: run from the repository root (no {PKG}/ in {ROOT})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import probe
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench")
    cpus = min(os.cpu_count() or 1, 4)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")  # the run writes only inside the checkout
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    load_before = _load1()

    tracer = spans.Tracer(enabled=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](args.workload, work, args.seed, tracer, args.smoke)
    t0 = time.perf_counter()
    sizes = wl.prepare()
    gen_s = time.perf_counter() - t0

    from logistics_data_pipeline_project_spark.session import get_spark

    extra = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.enabled": "true" if args.trace else "false",
        "spark.ui.showConsoleProgress": "false",
        # the default 1g heap runs near full on these workloads, and its
        # GC cycles were the largest source of run-to-run spread
        "spark.driver.memory": "2g",
    }
    extra.update(wl.spec.get("conf", {}))
    if args.trace:
        extra["spark.ui.port"] = "0"  # any free port: runs may overlap
    setup_s, setup_steal, start_s, warm_s = [], [], [], []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        ts, h0 = time.perf_counter(), probe.host_cpu()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra)
        spark.sparkContext.setLogLevel("ERROR")
        tw = time.perf_counter()
        wl.warmup(spark)
        te = time.perf_counter()
        setup_steal.append(probe.steal_share(h0, probe.host_cpu()))
        setup_s.append((te - ts) * (1 - setup_steal[-1]))
        start_s.append(tw - ts)
        warm_s.append(te - tw)
    t0 = time.perf_counter()
    wl.prepare_spark(spark)  # input generation: excluded from set-up
    gen_s += time.perf_counter() - t0

    sc = spark.sparkContext
    rest = probe.SparkRest(spark) if args.trace else None
    jvm = probe.jvm_pids()
    units = wl.units()
    rng = random.Random(args.seed)
    lat: dict[str, list[float]] = {}
    unit_cpu: dict[str, list[float]] = {}
    # a fixed number of passes for a given --seconds: a unit keeps getting
    # faster while the JIT warms up, so a pass count that followed the
    # host's speed would move the figures with it
    n_pass = max(1, round(args.seconds / wl.spec["pass_s"]))
    passes: list[float] = []
    pass_cpu: list[float] = []
    per_unit: list[dict] = []
    failures: list[tuple[str, str]] = []
    collect_s = 0.0
    base_ckpt = set(sc._jsc.getPersistentRDDs().keySet())
    cpu0, host0 = probe.tree_cpu(), probe.host_cpu()
    tracer.spans.clear()
    window0 = time.perf_counter()
    n = 0
    for _ in range(n_pass):
        order = wl.pass_order(rng)
        p0, c_pass, pc0 = time.perf_counter(), collect_s, sum(probe.tree_cpu().values())
        for unit in order:
            tag = f"{args.workload}/{unit}#{n}"
            tracer.unit = tag
            row = {"unit": tag}
            since = -1
            wl.before_unit(spark)  # untimed: lands the unit's input
            if rest is not None:
                c0 = time.perf_counter()
                since = rest.last_job_id()
                collect_s += time.perf_counter() - c0
            u0, h0 = sum(probe.tree_cpu().values()), probe.host_cpu()
            try:
                with tracer.span("unit") as sp:
                    sc.setJobGroup(tag, tag)
                    extra_m = wl.run_unit(spark, unit, tag)
                row["s"] = sp.dur
                row["steal_share"] = probe.steal_share(h0, probe.host_cpu())
                lat.setdefault(unit, []).append(sp.dur * (1 - row["steal_share"]))
                unit_cpu.setdefault(unit, []).append(sum(probe.tree_cpu().values()) - u0)
                row.update(extra_m)
            except Exception as exc:  # a failed unit is counted, not fatal
                failures.append((tag, f"{type(exc).__name__}: {exc}"[:300]))
                row["error"] = failures[-1][1]
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            if rest is not None:
                c0 = time.perf_counter()
                row.update(rest.unit_metrics(tag, since))
                row["checkpoints.residual"] = len(set(sc._jsc.getPersistentRDDs().keySet()) - base_ckpt)
                collect_s += time.perf_counter() - c0
            per_unit.append(row)
            n += 1
        passes.append(time.perf_counter() - p0 - (collect_s - c_pass))
        pass_cpu.append(sum(probe.tree_cpu().values()) - pc0)
    window_s = time.perf_counter() - window0
    cpu1, host1 = probe.tree_cpu(), probe.host_cpu()
    rss = max(probe.peak_rss_mb(p) for p in jvm)

    t_check = time.perf_counter()
    try:
        failures.extend(wl.check(spark, CHECK_UNITS))
    except Exception as exc:
        failures.append(("check", f"{type(exc).__name__}: {exc}"[:300]))
    check_s = time.perf_counter() - t_check
    conf = dict(sc.getConf().getAll())
    java = spark._jvm.System.getProperty("java.runtime.version")
    children = probe.descendants()
    _stop_jvm(spark)
    probe.wait_gone(children)
    wl.close()

    cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
    # each unit at its mean over the warm passes: the first pass still runs
    # cold code (imports in the Python workers, the JIT), unless it is the only one
    warm_lat = [_warm_mean(v) for v in lat.values()]
    metrics = {
        "setup_s": statistics.median(setup_s),
        "wall_s": sum(warm_lat) if warm_lat else float("nan"),
        "unit_p50_s": statistics.median(warm_lat) if warm_lat else float("nan"),
    }
    layer = _layer_metrics(
        per_unit, tracer, cpu, start_s, warm_s, wl, metrics["wall_s"], collect_s, n_pass
    ) if args.trace else {}
    layer["jvm.peak_rss_mb"] = rss

    attempted = len(per_unit)
    payload = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "git_rev": _git_rev(),
        "source_sha256": _source_sha(),
        "utc": dt.datetime.now(dt.timezone.utc).isoformat(),
        "nproc": os.cpu_count(),
        "local_cores": cpus,
        "load1_before": load_before,
        "load1_after": _load1(),
        "window_steal_share": probe.steal_share(host0, host1),
        "python": platform.python_version(),
        "java": java,
        "pyspark": __import__("pyspark").__version__,
        "pyarrow": __import__("pyarrow").__version__,
        "spark_conf": conf,
        "inputs": sizes,
        "input_gen_s": gen_s,
        "setups_s": setup_s,
        "setup_steal_shares": setup_steal,
        "session_starts_s": start_s,
        "warmups_s": warm_s,
        "passes_s": passes,
        "pass_cpu_s": pass_cpu,
        "units_per_pass": len(units),
        "latencies_s": lat,
        "unit_cpu_s": unit_cpu,
        "window_s": window_s,
        "check_s": check_s,
        "failures": failures,
        "per_unit": per_unit,
        "metrics": metrics,
        "layer_metrics": layer,
        "span_self_s": spans.self_times(tracer.spans),
        "spans": tracer.dump(),
    }
    runs = os.path.join(work, "runs")
    os.makedirs(runs, exist_ok=True)
    stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%S%f")
    with open(os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json"), "w") as f:
        json.dump(payload, f, indent=1, default=str)

    chosen = layer if args.trace else metrics
    units_of = LAYER_UNITS if args.trace else E2E_UNITS
    out = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len({f[0] for f in failures}),
        "metrics": {k: {"value": v, "unit": units_of[k]} for k, v in chosen.items()},
    }
    for tag, why in failures:
        print(f"FAILED {tag}: {why}", file=sys.stderr)
    print(json.dumps(out))
    return 0


def _warm_mean(values: list[float]) -> float:
    return statistics.fmean(values[1:] if len(values) > 1 else values)


def _layer_metrics(per_unit, tracer, cpu, start_s, warm_s, wl, wall_s, collect_s, n_pass):
    """Per-layer figures per pass: what the window accumulated over its
    passes, divided by their number (session, skew and ratios as they are)."""
    sums = dict.fromkeys(LAYER_UNITS, 0.0)
    for row in per_unit:
        for k in LAYER_UNITS:
            if k != "spark.task_skew" and isinstance(row.get(k), (int, float)):
                sums[k] += row[k]
        sums["spark.task_skew"] = max(sums["spark.task_skew"], row.get("spark.task_skew", 0.0))
    spans = {}
    for s in tracer.spans:
        if s.parent is not None:  # inside a unit: not the landing between units
            spans[s.name] = spans.get(s.name, 0.0) + s.dur
    sums["queries.build_s"] = spans.get("queries.build", 0.0)
    sums["store.overwrite_s"] = spans.get("store.overwrite", 0.0)
    sums["store.append_s"] = spans.get("store.append", 0.0)
    sums["runner.run_s"] = spans.get("runner.run", 0.0)
    sums["quality.check_s"] = spans.get("quality.check", 0.0)
    sums["proc.driver_cpu_s"] = cpu["driver"]
    sums["proc.jvm_cpu_s"] = cpu["jvm"]
    sums["proc.pyworker_cpu_s"] = cpu["pyworker"]
    counters = getattr(wl, "counters", {})
    for k, v in counters.items():
        sums[k] = v
    sums["trace.collect_s"] = collect_s
    per_pass = {k: v / n_pass for k, v in sums.items() if k != "spark.task_skew"}
    sums.update(per_pass)
    sums["session.start_s"] = statistics.median(start_s)
    sums["session.warmup_s"] = statistics.median(warm_s)
    sums["session.cold_start_s"] = start_s[0]  # includes the JVM launch
    sums["session.cold_warmup_s"] = warm_s[0]
    change = getattr(wl, "change_bytes", 0)
    sums["store.write_amp"] = counters.get("store.bytes_written", 0) / change if change else 0.0
    sums["trace.wall_s"] = wall_s  # wall_s of the traced run, REST reads excluded
    return sums


if __name__ == "__main__":
    sys.exit(main())
