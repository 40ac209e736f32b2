"""Benchmark entry point.

    python3 perfbench/run.py --workload odds_read --seed 1 --seconds 5 --trace 0

Run from the repository root. It starts one SparkSession on
``local[nproc]`` through the engine's ``get_spark``, runs one workload
(see ``workloads.py``) as a single closed-loop client, checks its
outputs and prints one JSON line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same workload traced (spans, job groups, Spark's event log) and prints
the per-layer metrics. The traced run also writes its spans and every
per-layer figure to ``perfbench/.runs/trace-<workload>-seed<n>.json``.
Every run appends its result and provenance to
``perfbench/.runs/results.jsonl``. ``run.py --setup-only`` (used by a
run for its later set-up samples) makes one cold set-up and prints its
phase times. All files the run writes stay under
``perfbench/.runs``. See ``perfbench/README.md`` for the method.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.001")
RUNS = os.path.join(HERE, ".runs")
PACKAGE = "football_data_pipeline_spark"
SETUPS = 2  # cold set-ups per run (this process and a child process); setup_s is their median CPU time

sys.path.insert(0, HERE)

import tracing  # noqa: E402
import workloads  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_ref": "ref",
    "op_cpu_geomean_ref": "ref",
    "retained_heap_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "catalog.loads": "count",
    "catalog.load_s": "s",
    "catalog.load_jobs": "count",
    "registry.fn_s": "s",
    "registry.fn_jobs": "count",
    "registry.fn_run_s": "s",
    "registry.fn_cpu_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.peak_mem_mb": "MB",
    "trace.overhead": "ratio",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if not args.setup_only and None in (args.workload, args.seed, args.seconds):
        p.error("--workload, --seed and --seconds are required")
    return args


def check_checkout() -> None:
    """Refuse to run without the engine sources or with tables that
    differ from the committed checksums."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        raise SystemExit(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a full checkout")
    with open(os.path.join(DATA, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(DATA, name), "rb") as g:
                if hashlib.sha256(g.read()).hexdigest() != digest:
                    raise SystemExit(f"perfbench: {name} does not match SHA256SUMS")


def environment(run_dir: str, trace: bool) -> str | None:
    """Process environment for the JVM and the Python workers, set
    before the JVM starts. Returns the event-log directory (traced)."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    args = [
        "--driver-java-options",
        f"'-Djava.io.tmpdir={tmp} --add-opens=jdk.management/com.sun.management.internal=ALL-UNNAMED'",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
    ]
    log_dir = None
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    sys.path.insert(0, ROOT)
    return log_dir


def start_engine(tracer: tracing.Tracer, t0: float):
    """One set-up: import the engine, start its session, run the
    warm-up job. Returns the session, the phase wall times and
    ``cpu_s``, the CPU seconds this process and the JVM used from
    their starts to the end of the warm-up."""
    catalog = importlib.import_module(f"{PACKAGE}.catalog")
    if tracer.enabled:
        load = catalog.load

        def traced_load(spark, sf_dir, name):
            group = spark.sparkContext.getLocalProperty(tracing.GROUP_PROP)
            group = f"{group.split('|')[0]}|catalog" if group else None
            with tracer.span("catalog.load", group=group):
                return load(spark, sf_dir, name)

        # before the query modules import it by name
        catalog.load = traced_load
    importlib.import_module(f"{PACKAGE}.all_queries")
    session = importlib.import_module(f"{PACKAGE}.session")
    t1 = time.perf_counter()
    spark = session.get_spark(app_name="perfbench")
    t2 = time.perf_counter()
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # bench.py's JVM warm-up
    t3 = time.perf_counter()
    cpu_s = workloads.cpu_clock(spark)()  # this process and the JVM, each since it started
    tracer.sc = spark.sparkContext
    return spark, {"wall_s": t3 - t0, "cpu_s": cpu_s, "import_s": t1 - t0, "start_s": t2 - t1,
                   "warmup_s": t3 - t2}


def run_child(argv: list[str], timeout: float) -> str:
    """Run this script in a child process (its own process group, so a
    timeout also ends the JVM it launched) and return its stdout."""
    proc = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv], cwd=ROOT,
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"perfbench: child run {argv} exited with {proc.returncode}")
    return stdout


def child_setups() -> list[dict]:
    """The set-up samples after this process's own: each is a fresh
    process that starts the interpreter, imports the engine, launches
    its JVM and runs the warm-up, like the first. They run one at a
    time, after this process's JVM has exited."""
    return [json.loads(run_child(["--setup-only"], 180).splitlines()[-1])
            for _ in range(SETUPS - 1)]


def retained_heap_mb(spark) -> float:
    """Heap in use after full GCs. Python first drops its py4j
    references, and each GC is followed by a pause so Spark's
    ContextCleaner can release the blocks of unreferenced broadcasts
    and shuffles before the next one."""
    gc.collect()
    jvm = spark._jvm
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def stop_engine(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM exits."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def provenance(args: argparse.Namespace, spark_version: str) -> dict:
    commit = None
    try:
        top = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        lines = top.stdout.split()
        if top.returncode == 0 and os.path.realpath(lines[0]) == os.path.realpath(ROOT):
            commit = lines[1]
    except (OSError, subprocess.SubprocessError, IndexError):
        pass
    def sources(top: str) -> str:
        digest = hashlib.sha256()
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if not x.startswith("."))
            for n in sorted(names):
                if n.endswith(".py"):
                    with open(os.path.join(d, n), "rb") as f:
                        digest.update(f.read())
        return digest.hexdigest()

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "sf": 0.001,
        "git_commit": commit,
        "source_sha256": sources(os.path.join(ROOT, PACKAGE)),
        "bench_sha256": sources(HERE),
        "spark": spark_version,
        "python": platform.python_version(),
        "query_order": workloads.query_order(args.seed) if args.workload == "odds_read" else None,
        "docs_per_batch": workloads.DOCS_PER_BATCH if args.workload == "odds_ingest" else None,
    }


def untraced_pass_cpu_ref(prov: dict) -> float:
    """The median untraced ``pass_cpu_ref`` recorded in this checkout for
    the same workload, engine and benchmark sources and nproc; with none
    recorded, run the untraced benchmark once with the same seed."""
    same = ("workload", "source_sha256", "bench_sha256", "nproc")

    def recorded() -> list[float]:
        path = os.path.join(RUNS, "results.jsonl")
        if not os.path.exists(path):
            return []
        with open(path) as f:
            rows = [json.loads(line) for line in f if line.strip()]
        return [
            r["metrics"]["pass_cpu_ref"]["value"]
            for r in rows
            if all(r["provenance"].get(k) == prov[k] for k in same)
            and r["provenance"]["trace"] == 0
            and r["correct"]
        ]

    base = recorded()
    if not base:
        run_child(["--workload", prov["workload"], "--seed", str(prov["seed"]),
                   "--seconds", str(prov["seconds"]), "--trace", "0"], 600)
        base = recorded()
    return statistics.median(base)


def per_layer(out: workloads.Outcome, tracer: tracing.Tracer, jobs: list[tracing.Job],
              setups: list[dict], peak_rss_mb: float, pass_cpu_ref: float, base_cpu_ref: float,
              workload: str) -> tuple[dict, dict]:
    """Per-layer figures per timed pass. Returns (printed, trace-only)."""
    spans = tracer.spans
    n_pass = len(out.passes)
    in_pass = [False] * len(spans)
    for i, s in enumerate(spans):
        p = s.parent
        in_pass[i] = s.name == "pass" or (p is not None and in_pass[p])

    def span_sum(name: str) -> tuple[int, float]:
        d = [s.end - s.start for i, s in enumerate(spans) if in_pass[i] and s.name == name]
        return len(d), sum(d)

    def groups(suffix: str, prefix: str = "") -> tracing.JobStats:
        return tracing.sum_jobs(jobs, lambda j: j.group.endswith(suffix) and j.group.startswith(prefix))

    med = statistics.median
    loads, load_s = span_sum("catalog.load")
    _, exec_s = span_sum("exec")
    cat = groups("|catalog")
    ex = groups("|exec")
    extra: dict = {}
    if workload == "odds_read":
        # inclusive, like fn_s: catalog.load runs inside the function
        _, fn_s = span_sum("registry.fn")
        fn = tracing.sum_jobs(jobs, lambda j: j.group.endswith(("|fn", "|catalog")))
        for q in workloads.ODDS_READ:
            extra[f"q.{q}.s"] = med(wall for wall, _ in out.ops[q])
            extra[f"q.{q}.jobs"] = groups("", f"{q}|").jobs / n_pass
    else:
        # the program's per-operation function here is the stream's
        # foreachBatch body; its jobs are those submitted inside it
        timed = {b["id"] for b in out.layer["batches"]}
        calls = [c for c in out.layer["body_calls"] if c[0] in timed]
        fn_s = sum(b - a for _, a, b in calls)
        fn = tracing.sum_jobs(jobs, lambda j: any(a <= j.submitted <= b for _, a, b in calls))
        extra.update(ingest_layers(out, jobs, n_pass))
        extra["reports.build_s"] = span_sum("reports.build")[1] / n_pass
        extra["reports.exec_s"] = exec_s / n_pass
    phases = {k: sum(out.layer.get(f"catalyst.{k}", [])) / n_pass
              for k in ("analysis", "optimization", "planning")}
    printed = {
        "session.start_s": med(s["start_s"] for s in setups),
        "session.warmup_s": med(s["warmup_s"] for s in setups),
        "session.jvm_peak_rss_mb": peak_rss_mb,
        "catalog.loads": loads / n_pass,
        "catalog.load_s": load_s / n_pass,
        "catalog.load_jobs": cat.jobs / n_pass,
        "registry.fn_s": fn_s / n_pass,
        "registry.fn_jobs": fn.jobs / n_pass,
        "registry.fn_run_s": fn.run_s / n_pass,
        "registry.fn_cpu_s": fn.cpu_s / n_pass,
        "catalyst.analysis_s": phases["analysis"],
        "catalyst.optimization_s": phases["optimization"],
        "catalyst.planning_s": phases["planning"],
        "exec.s": exec_s / n_pass,
        "exec.jobs": ex.jobs / n_pass,
        "exec.tasks": ex.tasks / n_pass,
        "exec.run_s": ex.run_s / n_pass,
        "exec.cpu_s": ex.cpu_s / n_pass,
        "exec.gc_s": ex.gc_s / n_pass,
        "exec.shuffle_read_mb": ex.shuffle_read_mb / n_pass,
        "exec.shuffle_write_mb": ex.shuffle_write_mb / n_pass,
        "exec.peak_mem_mb": ex.peak_mem_mb,
        "trace.overhead": pass_cpu_ref / base_cpu_ref,
    }
    extra["session.setups"] = setups
    extra["session.persisted_rdds"] = med(out.layer["session.persisted_rdds"])
    extra["exec.spill_mb"] = ex.spill_mb / n_pass
    return printed, extra


def ingest_layers(out: workloads.Outcome, jobs: list[tracing.Job], n_pass: int) -> dict:
    """The write-path layers of ``odds_ingest`` (trace file only)."""
    med = statistics.median
    batches = out.layer["batches"]
    sink_calls = out.layer["sink_calls"]

    def fact_s(batch_id: int) -> float:
        return sum(b - a for p, a, b in sink_calls if p.endswith(f"/batch_id={batch_id}"))

    timed = {b["id"] for b in batches}
    facts = [c for c in sink_calls if int(c[0].rsplit("=", 1)[1]) in timed]
    refresh = tracing.sum_jobs(jobs, lambda j: j.group.startswith("refresh|"))
    return {
        "pipeline.add_batch_s": med(b["durationMs"]["addBatch"] / 1e3 for b in batches),
        "pipeline.latest_offset_s": med(b["durationMs"]["latestOffset"] / 1e3 for b in batches),
        "pipeline.get_batch_s": med(b["durationMs"]["getBatch"] / 1e3 for b in batches),
        "pipeline.commit_s": med(b["durationMs"]["commitOffsets"] / 1e3 for b in batches),
        "pipeline.jobs_per_batch": med(
            sum(1 for j in jobs if b["land"] <= j.submitted <= b["commit"]) for b in batches
        ),
        "pipeline.dims_s": med(b["durationMs"]["addBatch"] / 1e3 - fact_s(b["id"]) for b in batches),
        "pipeline.batch_tail_s": tracing.tail([wall for wall, _ in out.ops["batch"]]),
        "sinks.fact_write_s": sum(b - a for _, a, b in facts) / n_pass,
        "sinks.fact_writes": len(facts) / n_pass,
        "silver.write_amp": out.layer["silver.write_amp"],
        "silver.mb": out.layer["silver.mb"],
        "silver.files": out.layer["silver.files"],
        "reports.jobs": refresh.jobs / n_pass,
    }


def result(out: workloads.Outcome, metrics: dict) -> dict:
    """The printed result. A run with a failed operation reports no
    metrics and is not correct."""
    ok = bool(metrics) and all(isinstance(v["value"], (int, float)) and math.isfinite(v["value"])
                               for v in metrics.values())
    return {"correct": out.failed == 0 and ok, "attempted": out.attempted,
            "failed": out.failed, "metrics": metrics}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    check_checkout()
    if args.setup_only:
        # one cold set-up sample; the parent run has set the environment
        spark, times = start_engine(tracing.Tracer(enabled=False, run_id="setup"), PROCESS_START)
        stop_engine(spark)
        print(json.dumps(times))
        return 0
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = os.path.join(RUNS, run_id)
    os.makedirs(run_dir)
    log_dir = environment(run_dir, bool(args.trace))
    tracer = tracing.Tracer(enabled=bool(args.trace), run_id=run_id)
    spark = None
    try:
        spark, first = start_engine(tracer, PROCESS_START)
        import pyspark

        prov = provenance(args, pyspark.__version__)
        print(f"perfbench provenance: {json.dumps(prov)}", file=sys.stderr)
        if args.workload == "odds_read":
            out = workloads.run_odds_read(spark, DATA, args.seed, args.seconds, tracer)
        else:
            out = workloads.run_odds_ingest(spark, os.path.join(run_dir, "ingest"),
                                            args.seed, args.seconds, tracer)
        done_s = time.perf_counter() - PROCESS_START
        heap_mb = retained_heap_mb(spark)
        app_id = spark.sparkContext.applicationId
        stop_engine(spark)
        spark = None
        # the JVM was this process's child, and has been waited for
        # (read before the set-up samples add more children)
        peak_rss_mb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024
        # a traced run's per-layer session figures come from its own
        # set-up, which keeps it, with a fallback base run, within time
        setups = [first] + (child_setups() if not args.trace else [])
        print(f"perfbench: set-ups {[round(x['wall_s'], 2) for x in setups]} s, workload done at "
              f"{done_s:.1f} s, set-up samples done at {time.perf_counter() - PROCESS_START:.1f} s",
              file=sys.stderr)
        values, walls = workloads.summarize(out, args.workload)
        complete = out.failed == 0 and bool(values)
        if complete:
            values["setup_s"] = statistics.median(s["cpu_s"] for s in setups)
            walls["setup_wall_s"] = statistics.median(s["wall_s"] for s in setups)
            values["retained_heap_mb"] = heap_mb
        if not complete:
            metrics = {}  # a failed operation leaves no figure to report
        elif args.trace:
            base_cpu_ref = untraced_pass_cpu_ref(prov)
            jobs = tracing.read_event_log(os.path.join(log_dir, app_id))
            printed, extra = per_layer(out, tracer, jobs, setups, peak_rss_mb,
                                       values["pass_cpu_ref"], base_cpu_ref, args.workload)
            tracer.write(
                os.path.join(RUNS, f"trace-{args.workload}-seed{args.seed}.json"),
                {"provenance": prov, "end_to_end": values, "wall_clock": walls,
                 "per_layer": printed, "detail": extra},
            )
            metrics = {k: {"value": printed[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    finally:
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    line = result(out, metrics)
    with open(os.path.join(RUNS, "results.jsonl"), "a") as f:
        f.write(json.dumps({**line, "provenance": prov, "setups": setups, "wall_clock": walls,
                            "samples": out.ops}) + "\n")
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
