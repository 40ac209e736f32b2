"""The benchmark's workloads and their output checks.

Each workload is one client in a closed loop: it sends the next
operation only after the previous one returned. A *pass* is a fixed
unit of work; the timed loop runs whole passes until ``--seconds``
have elapsed (at least one).

- ``odds_read``: the dashboard and alert read surface, one query after
  another over the fixed sf0.001 tables, each result collected to the
  client. A pass runs every query once, in the order the seed sets;
  the first pass also checks every result, off the clock.
- ``odds_ingest``: seeded collection documents (``docgen``) feed one
  long-running ``start_pipeline`` stream. A pass lands one micro-batch
  and, after its commit, refreshes ``dashboard_data`` over the silver
  tables. The dim tables hold earlier collections before the first
  landing (``seed_dims``).
"""

from __future__ import annotations

import functools
import hashlib
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
import zlib
from dataclasses import dataclass, field

from docgen import DocGenerator
from tracing import Tracer

#: The paper's dashboard and alert read surface. What is left out,
#: and why, is in perfbench/README.md ("Time budget").
ODDS_READ = (
    "q_star_join",
    "q_latest_per_key",
    "q_lag_movement",
    "q_group_multi",
    "q_topk_group",
    "q_range_join",
    "q_upsert_latest",
    "q_asof_join",
    "q_salted_join",
    "q_heavy_hitters",
)
WORKLOADS = ("odds_read", "odds_ingest")
#: documents per micro-batch: the 40-document (about 400 KB) batch the
#: workload was first sized with (README, "Workloads"); one document is
#: one collection job run (FIXTURES.md)
DOCS_PER_BATCH = 40
TRIGGER = "100 milliseconds"
SILVER_TABLES = ("fixtures", "teams", "leagues", "odds_history", "team_statistics")
ALL_SILVER = ("teams", "leagues", "fixtures", "players", "odds_history",
              "team_statistics", "head_to_head", "lineups")


@dataclass
class Outcome:
    """What a workload measured: per-operation samples plus the
    attempted/failed counts of every query run, check, micro-batch
    and refresh."""

    attempted: int = 0
    failed: int = 0
    passes: list = field(default_factory=list)  # (wall s, CPU s) of each timed pass
    reference: list = field(default_factory=list)  # reference_s() before and after each pass
    ops: dict = field(default_factory=dict)  # op name -> [(wall s, CPU s)]
    layer: dict = field(default_factory=dict)  # per-layer extras for the trace

    def record(self, name: str, wall: float, cpu: float) -> None:
        self.ops.setdefault(name, []).append((wall, cpu))

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)


def value_hash(pdf) -> str:
    """The verify gate's order-insensitive canonical form: columns
    sorted by name, floats rounded to 6 places, timestamps in ISO
    form, rows sorted, then hashed."""
    cols = sorted(pdf.columns)
    canon = []
    for _, row in pdf[cols].iterrows():
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append(repr(round(v, 6)))
            elif hasattr(v, "isoformat"):
                vals.append(v.isoformat())
            else:
                vals.append(str(v))
        canon.append("|".join(vals))
    canon.sort()
    return hashlib.md5("\n".join(canon).encode()).hexdigest()


def same_result(actual, expected) -> bool:
    return (
        sorted(actual.columns) == sorted(expected.columns)
        and len(actual) == len(expected)
        and value_hash(actual) == value_hash(expected)
    )


def cpu_clock(spark):
    """CPU seconds used so far by the JVM (all its threads: driver,
    executor tasks, JIT and GC) and by this Python process. Needs the
    JVM started with ``com.sun.management.internal`` opened (run.py)."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getOperatingSystemMXBean()
    return lambda: bean.getProcessCpuTime() / 1e9 + time.process_time()


@functools.lru_cache(maxsize=1)
def _reference_text() -> bytes:
    rng = random.Random(0)
    return "".join(rng.choice("abcdefghij ") for _ in range(200_000)).encode() * 8


def reference_s() -> float:
    """CPU seconds this process takes for a fixed reference job, now:
    zlib level 6 over 1.6 MB of seeded text, median of five. It runs
    no engine code, so it measures only how fast the host is running.
    The gated metrics divide CPU times by it (README)."""
    text = _reference_text()
    times = []
    for _ in range(5):
        c0 = time.process_time()
        zlib.compress(text, 6)
        times.append(time.process_time() - c0)
    return statistics.median(times)


def settle(spark) -> None:
    """Let the JIT compile backlog of the untimed work drain and start
    the timed loop on a collected heap, so neither lands in the first
    timed operation's CPU time."""
    time.sleep(2)
    spark._jvm.java.lang.System.gc()


def query_order(seed: int) -> list[str]:
    order = list(ODDS_READ)
    random.Random(seed).shuffle(order)
    return order


def oracle_connection(sf_dir: str):
    import duckdb

    from football_data_pipeline_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def catalyst_phases(df) -> dict[str, float]:
    """Plan the frame and read its QueryPlanningTracker phases (s)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()  # a Scala Map of PhaseSummary
    out = {}
    for k in ("analysis", "optimization", "planning"):
        summary = phases.get(k)
        if summary.isDefined():
            out[k] = summary.get().durationMs() / 1e3
    return out


def _add_phases(out: Outcome, phases: dict[str, float]) -> None:
    for k, v in phases.items():
        out.layer.setdefault(f"catalyst.{k}", []).append(v)


def check_result(con, name: str, actual, out: Outcome, expected=None) -> None:
    """Compare a query's collected result with its DuckDB oracle; a
    mismatch or an exception counts as a failed operation. ``expected``
    replaces the oracle result (the tests use it to prove that a wrong
    answer is counted)."""
    from football_data_pipeline_spark.registry import QUERIES

    out.attempted += 1
    try:
        if expected is None:
            expected = con.sql(QUERIES[name].oracle).df()
        if not same_result(actual, expected):
            raise AssertionError(f"{name}: result differs from its oracle")
    except Exception:
        out.fail(f"check {name}")


def run_odds_read(spark, sf_dir: str, seed: int, seconds: float, tracer: Tracer) -> Outcome:
    from football_data_pipeline_spark.registry import QUERIES

    out = Outcome()
    order = query_order(seed)
    sc = spark.sparkContext
    con = oracle_connection(sf_dir)
    cpu = cpu_clock(spark)
    settle(spark)
    out.reference.append(reference_s())
    start = time.perf_counter()
    while True:
        pass_s, pass_cpu, persisted = 0.0, 0.0, 0
        with tracer.span("pass"):
            for name in order:
                spark.catalog.clearCache()
                out.attempted += 1
                try:
                    with tracer.span(f"q.{name}"):
                        t0, c0 = time.perf_counter(), cpu()
                        with tracer.span("registry.fn", group=f"{name}|fn"):
                            df = QUERIES[name].fn(spark, sf_dir)
                        if tracer.enabled:
                            # plans the frame that toPandas then runs,
                            # so it stays inside the timed window
                            with tracer.span("catalyst", group=f"{name}|plan"):
                                _add_phases(out, catalyst_phases(df))
                        with tracer.span("exec", group=f"{name}|exec"):
                            actual = df.toPandas()
                        t1, c1 = time.perf_counter(), cpu()
                except Exception:
                    out.fail(f"run {name}")
                    continue
                wall, used = t1 - t0, c1 - c0
                out.record(name, wall, used)
                pass_s += wall
                pass_cpu += used
                # read before the next query clears the cache
                persisted += len(sc._jsc.getPersistentRDDs())
                if not out.passes:  # check each query once, off the clock
                    check_result(con, name, actual, out)
        out.passes.append((pass_s, pass_cpu))
        out.reference.append(reference_s())
        out.layer.setdefault("session.persisted_rdds", []).append(persisted)
        if time.perf_counter() - start >= seconds:
            break
    con.close()
    return out


class _CallTimer:
    """Times each call of a program function and keys it by the
    call's second argument (a path or a batch id). The stream thread
    makes these calls, so it only appends to a list."""

    def __init__(self, fn):
        self.fn = fn
        self.calls: list[tuple[object, float, float]] = []

    def __call__(self, *args, **kwargs):
        t0 = time.time()
        try:
            return self.fn(*args, **kwargs)
        finally:
            self.calls.append((args[1], t0, time.time()))


def _walk(root: str) -> dict[str, tuple[int, float]]:
    files = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            files[p] = (st.st_size, st.st_mtime_ns)
    return files


def run_odds_ingest(spark, work_dir: str, seed: int, seconds: float, tracer: Tracer) -> Outcome:
    from pyspark.sql import functions as F

    from football_data_pipeline_spark.operators.reports import dashboard_data
    from football_data_pipeline_spark.streaming import pipeline

    out = Outcome()
    src, landing = f"{work_dir}/bronze", f"{work_dir}/landing"
    silver, ckpt = f"{work_dir}/silver", f"{work_dir}/checkpoint"
    os.makedirs(src)
    os.makedirs(landing)
    gen = DocGenerator(seed, DOCS_PER_BATCH)
    sinks = body = None
    make_writer = pipeline.silver_batch_writer
    if tracer.enabled:
        sinks = _CallTimer(pipeline.write_silver)
        pipeline.write_silver = sinks

        def timed_writer(root: str):
            nonlocal body
            body = _CallTimer(make_writer(root))
            return body

        pipeline.silver_batch_writer = timed_writer
    try:
        query = pipeline.start_pipeline(spark, src, silver, ckpt, trigger=TRIGGER)
    finally:
        pipeline.silver_batch_writer = make_writer
    batches: list[dict] = []  # per timed batch: land/commit times, progress
    written, bronze_bytes, seen = 0, 0, {}

    cpu = cpu_clock(spark)

    def land() -> None:
        nonlocal written, bronze_bytes, seen
        data = gen.next_batch()
        n = len(batches)  # the stream's batch id
        tmp = f"{landing}/batch-{n:05d}.json"
        with open(tmp, "wb") as f:
            f.write(data)
        out.attempted += 1
        t_land, c_land = time.perf_counter(), cpu()
        w_land = time.time()
        with tracer.span("batch"):
            os.rename(tmp, f"{src}/batch-{n:05d}.json")  # atomic: one micro-batch
            query.processAllAvailable()
        t_commit, c_commit = time.perf_counter(), cpu()
        progress = query.lastProgress
        if progress is None or progress["batchId"] != n or progress["numInputRows"] != DOCS_PER_BATCH:
            raise AssertionError(f"micro-batch {n} did not commit {DOCS_PER_BATCH} documents")
        if tracer.enabled:
            now_files = _walk(silver)
            bronze_bytes += len(data)
            written += sum(sz for p, (sz, m) in now_files.items() if seen.get(p) != (sz, m))
            seen = now_files
        batches.append({"id": n, "land": w_land, "commit": time.time(),
                        "durationMs": dict(progress["durationMs"])})
        out.record("batch", t_commit - t_land, c_commit - c_land)

    def refresh() -> None:
        out.attempted += 1
        t0, c0 = time.perf_counter(), cpu()
        with tracer.span("refresh"):
            frames = []
            for t in SILVER_TABLES:
                with tracer.span("catalog.load", group="refresh|catalog"):
                    frames.append(spark.read.parquet(f"{silver}/{t}"))
            now = F.lit(gen.now()).cast("timestamp")
            with tracer.span("reports.build", group="refresh|fn"):
                df = dashboard_data(*frames, now)
            if tracer.enabled:
                with tracer.span("catalyst", group="refresh|plan"):
                    _add_phases(out, catalyst_phases(df))
            with tracer.span("exec", group="refresh|exec"):
                row = df.collect()[0]
        out.record("refresh", time.perf_counter() - t0, cpu() - c0)
        if row["stats"].asDict() != gen.expected.dashboard_stats():
            raise AssertionError(f"dashboard stats {row['stats']} != {gen.expected.dashboard_stats()}")

    try:
        seed_dims(spark, gen, landing, silver)
        if tracer.enabled:
            seen = _walk(silver)  # the seeded dims were not written by a batch
        settle(spark)
        out.reference.append(reference_s())
        start = time.perf_counter()
        while True:
            t_pass, c_pass = time.perf_counter(), cpu()
            with tracer.span("pass"):
                land()
                refresh()
            out.passes.append((time.perf_counter() - t_pass, cpu() - c_pass))
            out.reference.append(reference_s())
            if time.perf_counter() - start >= seconds:
                break
    except Exception:
        out.fail("ingest cycle")
    try:
        check_silver(spark, silver, gen, out)
        out.layer["session.persisted_rdds"] = [len(spark.sparkContext._jsc.getPersistentRDDs())]
    finally:
        query.stop()
        if sinks is not None:
            pipeline.write_silver = sinks.fn
    if tracer.enabled:
        files = _walk(silver)
        out.layer["silver.mb"] = sum(sz for sz, _ in files.values()) / 2**20
        out.layer["silver.files"] = len(files)
        out.layer["silver.write_amp"] = written / bronze_bytes if bronze_bytes else None
        out.layer["batches"] = batches
        out.layer["sink_calls"] = sinks.calls
        out.layer["body_calls"] = body.calls
    shutil.rmtree(work_dir, ignore_errors=True)
    return out


def seed_dims(spark, gen: DocGenerator, landing: str, silver: str) -> None:
    """Untimed: store the dims of earlier collections, so the timed
    batches' dim upserts (replace and insert-if-absent) hit existing
    keys. The engine's own readers and extractors build them; only
    the plain parquet write stands in for the pipeline's merge."""
    from football_data_pipeline_spark.operators.flatten import (
        derive_players,
        extract_fixtures,
        extract_leagues,
        extract_teams,
        flatten_lineups,
    )
    from football_data_pipeline_spark.sources.ingest import read_collections

    path = f"{landing}/history.json"
    with open(path, "wb") as f:
        f.write(gen.history_batch())
    bronze = read_collections(spark, path)
    dims = {
        "teams": extract_teams(bronze),
        "leagues": extract_leagues(bronze),
        "fixtures": extract_fixtures(bronze),
        "players": derive_players(flatten_lineups(bronze)),
    }
    for name, df in dims.items():
        df.write.parquet(f"{silver}/{name}")
    os.remove(path)


def check_silver(spark, silver: str, gen: DocGenerator, out: Outcome) -> None:
    """Silver row counts and dim key sets against the generator."""
    ex = gen.expected
    counts = ex.row_counts()
    keys = {
        "teams": (["id"], {(k,) for k in ex.teams}),
        "leagues": (["id", "season"], ex.leagues),
        "fixtures": (["id"], {(k,) for k in ex.fixtures}),
        "players": (["id"], {(k,) for k in ex.players}),
    }
    for t in ALL_SILVER:
        out.attempted += 1
        try:
            df = spark.read.parquet(f"{silver}/{t}")
            if t in keys:
                cols, want = keys[t]
                got = [tuple(r) for r in df.select(*cols).collect()]
                if len(got) != counts[t] or set(got) != want:
                    raise AssertionError(f"{t}: {len(got)} rows, keys differ from the generator's")
            elif df.count() != counts[t]:
                raise AssertionError(f"{t}: row count differs from the generator's {counts[t]}")
        except Exception:
            out.fail(f"silver {t}")


def _geomean(values) -> float:
    values = list(values)
    return math.exp(statistics.fmean(math.log(v) for v in values))


def summarize(out: Outcome, workload: str) -> tuple[dict[str, float], dict[str, float]]:
    """The gated end-to-end metrics (CPU times in units of the
    reference job's, see README) and the figures that are recorded but
    not gated. Both are empty unless every operation of the workload
    has a sample and a pass completed."""
    med = statistics.median
    names = list(ODDS_READ) if workload == "odds_read" else ["batch", "refresh"]
    if not out.passes or not all(out.ops.get(n) for n in names):
        return {}, {}
    per_op = {n: (med(w for w, _ in out.ops[n]), med(c for _, c in out.ops[n])) for n in names}
    ref = med(out.reference)
    pass_cpu = med(c for _, c in out.passes)
    op_cpu = _geomean(c for _, c in per_op.values())
    gated = {"pass_cpu_ref": pass_cpu / ref, "op_cpu_geomean_ref": op_cpu / ref}
    recorded = {
        "pass_cpu_s": pass_cpu,
        "op_cpu_geomean_s": op_cpu,
        "reference_s": ref,
        "wall_s": med(w for w, _ in out.passes),
        "geomean_query_s": _geomean(w for w, _ in per_op.values()),
    }
    if workload == "odds_ingest":
        recorded.update({
            "batch_p50_s": per_op["batch"][0],
            "docs_per_s": DOCS_PER_BATCH / per_op["batch"][0],
            "refresh_p50_s": per_op["refresh"][0],
            "batch_cpu_s": per_op["batch"][1],
            "refresh_cpu_s": per_op["refresh"][1],
        })
    return gated, recorded
