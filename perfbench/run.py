"""Repo benchmark: one closed-loop client against ``local[1]`` on one core.

Usage (from the repository root):

    python3 perfbench/run.py --workload curation_sf01 --seed 1 --seconds 20 --trace 0

Workloads: ``curation_sf01`` and ``etl_lifecycle`` (see
perfbench/README.md). A run

1. generates the workload's inputs from ``--seed`` into
   ``.perfbench/inputs`` (cached; never timed);
2. sets up: imports the engine, starts the session, registers the
   catalog and runs the workload's unmeasured warm passes (``setup_s``);
3. runs measured passes, one operation at a time, starting passes
   until ``--seconds`` have elapsed (so at least one, and at most the
   workload's ``max_passes``), releasing tracked caches after every
   pass. ``run_seconds`` in ``BENCHMARK.json`` is the value the
   spreads were measured with;
4. checks every operation's result outside the timed region;
5. prints the result as the last line of stdout.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` records
spans around the calls into every top-level engine module plus Spark
status counters, reports the per-layer metrics, and writes the spans
and the full per-layer report under ``.perfbench/traces``.
"""

from __future__ import annotations

import time

_T_PROC = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "sm_etl_cloud_run_spark"
LAYERS = ["session", "tables", "cache", "plans", "operators", "functions",
          "sources", "sinks", "pipelines", "streaming", "runner"]
WORKLOADS = ("curation_sf01", "etl_lifecycle")
# etl_lifecycle input size: shards x raw rows per shard
ETL_SHARDS, ETL_ROWS = 2, 250
DRIVER_MEM = "1g"
# Cores the run may use. On a shared 4-vCPU VM the time the hypervisor
# took from the VM (steal) grew with the cores in use and moved from run
# to run. Over ten curation_sf01 runs on two cores it was 4-12% of the
# VM's CPU time and the median pass time followed it, 2.9-4.5 s; on one
# core it was 0.6-1.3% and the median pass time 2.9-3.5 s.
CPUS = 1

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s", "setup.catalog_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.input_mb": "MB", "spark.job_busy_s": "s", "driver.gap_s": "s",
    "cache.release_s": "s", "trace.overhead_s": "s", "fail_frac": "ratio",
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def _pin_env(work: str) -> dict[str, str]:
    """The run environment, set before the JVM starts and recorded."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(local, ignore_errors=True)
    os.makedirs(local)
    os.makedirs(tmp, exist_ok=True)
    # the run, and every process it starts, keeps to CPUS cores
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:CPUS])
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        # temporary files stay in the run's directory: the py4j handshake
        # file, the JVM's temp dir, and no hsperfdata file under /tmp
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UseSerialGC",
        # a fixed heap: a growing one made later passes faster than earlier ones
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Xms{DRIVER_MEM} pyspark-shell",
        # Python workers import the engine (Arrow UDFs, mapInPandas)
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    return env


def _make_workload(name: str, seed: int, cache: str, work: str):
    from perfbench import datagen, queries
    from perfbench.etl import EtlLifecycle, write_shards

    if name == "curation_sf01":
        return queries.curation(cache, seed, ROOT)
    inputs = datagen.cached(
        cache, f"dbc_{ETL_SHARDS}x{ETL_ROWS}_seed{seed}",
        lambda d: write_shards(d, ROOT, seed, ETL_SHARDS, ETL_ROWS),
    )
    return EtlLifecycle(inputs, work)


def _java_pids(tree: list[int]) -> list[int]:
    out = []
    for pid in tree:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    out.append(pid)
        except OSError:
            pass
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measured time; passes run until it has elapsed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        _fail(f"engine package {PACKAGE}/ not found under {ROOT}")
    sys.path.insert(0, ROOT)
    state = os.path.join(ROOT, ".perfbench")
    cache = os.path.join(state, "inputs")
    work = os.path.join(state, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(cache, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = _pin_env(work)

    from perfbench import spans

    t0 = time.perf_counter()
    workload = _make_workload(args.workload, args.seed, cache, work)
    gen_s = time.perf_counter() - t0
    tracer = spans.Tracer(bool(args.trace))
    workload.tracer = tracer

    # ---- setup: engine import, session, catalog, warm passes -------------
    import sm_etl_cloud_run_spark.cache as cache_mod
    from sm_etl_cloud_run_spark import plans, runner  # noqa: F401  (load every layer)
    from sm_etl_cloud_run_spark.pipelines import rehearsal  # noqa: F401
    from sm_etl_cloud_run_spark.session import get_spark

    if tracer.enabled:
        spans.instrument(tracer, PACKAGE, LAYERS)
        get_spark = sys.modules[f"{PACKAGE}.session"].get_spark
    t = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return _measure(args, spark, workload, tracer, cache_mod, env, gen_s, session_s, state)
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started (JVM, Python worker daemon and workers) has exited."""
    from pyspark import SparkContext

    from perfbench import spans

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and len(spans.process_tree(os.getpid())) > 1:
        time.sleep(0.1)


def _measure(args, spark, workload, tracer, cache_mod, env, gen_s, session_s, state) -> int:
    from perfbench import spans

    t = time.perf_counter()
    workload.catalog(spark)
    catalog_s = time.perf_counter() - t
    # created after the catalog, so its jobs are not counted in a pass
    counters = spans.SparkCounters(spark) if tracer.enabled else None

    def run_pass(order_seed: int) -> dict:
        ops = workload.ops(order_seed)
        span0 = len(tracer.spans)
        cpu0 = spans.tree_cpu_s(os.getpid())
        t_pass = time.perf_counter()
        lat, results, errors = {}, {}, {}
        for op, fn in ops:
            if counters:
                counters.group(op)
            tracer.op = op
            t_op = time.perf_counter()
            with tracer.span(f"{workload.op_prefix}.{op}"):
                try:
                    results[op] = fn()
                except Exception as exc:  # counted, reported, never fatal
                    errors[op] = f"{type(exc).__name__}: {str(exc)[:300]}"
            lat[op] = time.perf_counter() - t_op
        tracer.op = ""
        t_rel = time.perf_counter()
        tracked = cache_mod.release_tracked()
        release_s = time.perf_counter() - t_rel
        wall = time.perf_counter() - t_pass
        cpu = spans.tree_cpu_s(os.getpid()) - cpu0
        spark_counts = counters.take() if counters else {}
        # checks run untimed; their Spark jobs are dropped from the counters
        t_check = time.perf_counter()
        problems = workload.check(results)
        if counters:
            counters.take()
        problems.update(errors)
        return {"wall": wall, "cpu": cpu, "lat": lat, "problems": problems,
                "tracked": tracked, "release_s": release_s, "spark": spark_counts,
                "spans": (span0, len(tracer.spans)),
                "check_s": time.perf_counter() - t_check}

    t = time.perf_counter()
    workload.expect()
    expect_s = time.perf_counter() - t
    warm = [run_pass(args.seed * 1000 - i - 1) for i in range(workload.warm_passes)]
    # inputs, oracle results and the warm passes' checks are not set-up work
    setup_s = time.perf_counter() - _T_PROC - gen_s - expect_s - sum(w["check_s"] for w in warm)
    # ---- measured passes -------------------------------------------------
    # peak memory counts from here: set-up and the oracle results do not
    # raise it
    mem_pids = [os.getpid()] + _java_pids(spans.process_tree(os.getpid()))
    for pid in mem_pids:
        spans.reset_hwm(pid)
    steal0 = spans.steal_ticks()
    passes = []
    overhead0 = tracer.overhead_s
    t_run = time.perf_counter()
    while not passes or (time.perf_counter() - t_run < args.seconds
                         and len(passes) < workload.max_passes):
        passes.append(run_pass(args.seed * 1000 + len(passes) + 1))
    steal1 = spans.steal_ticks()

    driver_hwm = spans.hwm_mb(os.getpid())
    jvm_hwm = sum(spans.hwm_mb(p) for p in mem_pids[1:])
    peak_rss = driver_hwm + jvm_hwm
    memory = {"driver_hwm_mb": driver_hwm, "jvm_hwm_mb": jvm_hwm, **spans.jvm_memory_mb(spark)}
    attempted = sum(len(p["lat"]) for p in passes)
    failed = sum(len(p["problems"]) for p in passes)
    labelled = [(f"warm {i + 1}", p) for i, p in enumerate(warm)]
    labelled += [(f"pass {i + 1}", p) for i, p in enumerate(passes)]
    for label, p in labelled:
        for op, why in sorted(p["problems"].items()):
            print(f"perfbench: {label} {op}: {why}", file=sys.stderr)
    med = statistics.median
    all_lat = [v for p in passes for v in p["lat"].values()]
    e2e = {
        "setup_s": setup_s,
        "wall_s": med(p["wall"] for p in passes),
        "op_p50_s": med(all_lat),
        "cpu_s": med(p["cpu"] for p in passes),
        "peak_rss_mb": peak_rss,
    }
    report = {
        "workload": args.workload, "seed": args.seed, "passes": len(passes),
        "attempted": attempted, "failed": failed, "fail_frac": failed / attempted,
        "env": env, "input_gen_s": gen_s, "oracle_s": expect_s, "memory": memory,
        "end_to_end": e2e,
        "op_s": {op: med(p["lat"][op] for p in passes) for op in passes[0]["lat"]},
        "warm_wall_s": [w["wall"] for w in warm],
        "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "pass_wall_s": [p["wall"] for p in passes],
    }
    if tracer.enabled:
        layer = _per_layer(tracer, workload, warm, passes, session_s, catalog_s)
        layer["trace.overhead_s"] = (tracer.overhead_s - overhead0) / len(passes)
        layer["fail_frac"] = failed / attempted
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        report["per_layer"] = layer
        out = os.path.join(state, "traces")
        os.makedirs(out, exist_ok=True)
        stem = os.path.join(out, f"{args.workload}-seed{args.seed}")
        tracer.dump(stem + ".spans.jsonl")
        with open(stem + ".json", "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(report, sort_keys=True), file=sys.stderr)
    correct = failed == 0 and not any(w["problems"] for w in warm)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _per_layer(tracer, workload, warm, passes, session_s, catalog_s) -> dict:
    """Per-pass medians of the traced layers, plus set-up phases."""
    med = statistics.median

    def per_pass(fn) -> float:
        return med(fn(p) for p in passes)

    def span_sum(p, pred, self_time=False) -> float:
        i0, i1 = p["spans"]
        return sum(s.self_s if self_time else s.dur
                   for s in tracer.spans[i0:i1] if s.end and pred(s.name))

    out = {
        "session.start_s": session_s,
        "setup.catalog_s": catalog_s,
        "warmup_s": sum(w["wall"] for w in warm),
        "tables.load_s": sum(s.dur for s in tracer.spans
                             if s.name == "tables.load_tables" and s.end and s.op == ""),
        "cache.release_s": per_pass(lambda p: p["release_s"]),
        "cache.tracked": per_pass(lambda p: p["tracked"]),
    }
    for key in ("jobs", "stages", "tasks", "failed_tasks", "input_mb", "shuffle_write_mb",
                "job_busy_s"):
        out[f"spark.{key}"] = per_pass(lambda p: p["spark"][key])
    out["driver.gap_s"] = per_pass(lambda p: p["wall"] - p["spark"]["job_busy_s"])
    for layer in LAYERS:
        out[f"self.{layer}_s"] = per_pass(
            lambda p: span_sum(p, lambda n: n.startswith(layer + "."), self_time=True))
    prefix = workload.op_prefix
    for op in passes[0]["lat"]:
        out[f"{prefix}.{op}_s"] = per_pass(lambda p: p["lat"][op])
    if prefix == "q":
        out["plans.build_s"] = per_pass(lambda p: span_sum(p, lambda n: n == "plans.build"))
        out["plans.exec_s"] = per_pass(lambda p: span_sum(p, lambda n: n == "plans.exec"))
    else:
        for key in ("rows_loaded", "write_amp"):
            out[f"sinks.{key}"] = med(s[key] for s in workload.stats[-len(passes):])
    return out


if __name__ == "__main__":
    sys.exit(main())
