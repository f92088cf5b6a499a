#!/usr/bin/env python3
"""Warehouse engine benchmark.

    python3 perfbench/run.py --workload olap_sf0.01 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It generates the tables the workload
reads (always the same: see DATA_SEED), stages them through the engine's
ingest layout, runs one warm-up pass, then runs whole passes of the
workload (see workloads.py) until `--seconds` have gone by, and checks
every result. The seed sets the statement order within each pass and
the rows the DML cycles touch. All files it writes go under
`.perfbench_work/` in the checkout.

With `--trace 0` the last line of standard output carries the
end-to-end metrics; with `--trace 1` it carries the per-layer metrics of
a traced run. A traced run runs an even number of passes and traces
half of each pass's statements, chosen by name and swapped from one
pass to the next, so that each statement runs traced and untraced
equally often and the tracing overhead is measured in the same run.
Per-layer counts and times are per pass: summed over the traced
statements and divided by the passes' worth of statements they make
up. The line before the last is the full record: host stamp, sample
counts, per-statement latencies and the error text of every failed
statement. The same record, and the spans of a traced run, are
written under `.perfbench_work/results/`.

`--scale` overrides the workload's scale factor; the smoke test
(smoke.py) uses it, with `--seconds 0` for the fewest passes.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import datagen
import workloads
from tracing import StatementProbe, Tracer, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# workload name -> (workload kind in workloads.py, scale factor)
WORKLOADS = {
    "olap_sf0.01": ("olap", 0.01),
    "pgsql_sf0.01": ("pgsql", 0.01),
    "dml_sf0.01": ("dml", 0.01),
}
STAGING_REPEATS = 3
# The tables are the same on every run, so that each statement does the
# same work whatever the seed; the seed sets the statement order within
# each pass and the key slices the DML cycles touch.
DATA_SEED = 42

# Per-layer metrics of a traced run. Counts and times are per pass
# (see the module docstring) unless the name says otherwise.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "staging.generate_s": "s",
    "staging.load_s": "s",
    "workload.setup_s": "s",
    "warmup.pass_s": "s",
    "sql_dialect.rewrite_calls": "count",
    "sql_dialect.rewrite_ms_p50": "ms",
    "sql_dialect.rewrite_ms_p90": "ms",
    "sql_dialect.rewrite_ms_total": "ms",
    "sql_dialect.rewrite_share": "ratio",
    "engine.sql_calls": "count",
    "engine.sql_self_ms": "ms",
    "queries.build_ms": "ms",
    "queries.build_py4j_calls": "count",
    "queries.build_jobs": "count",
    "catalog.read_parquet_table_calls": "count",
    "catalog.read_parquet_table_ms": "ms",
    "catalog.read_parquet_table_jobs": "count",
    "catalyst.parsing_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "plan.exchanges": "count",
    "plan.reused_exchanges": "count",
    "plan.broadcast_joins": "count",
    "plan.python_evals": "count",
    "plan.final_share": "ratio",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.slot_idle_share": "ratio",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "fetch.ms": "ms",
    "fetch.rows": "count",
    "operators.dml.calls": "count",
    "operators.dml.ms": "ms",
    "operators.dml.bytes_written": "bytes",
    "operators.dml.write_amplification": "ratio",
    "operators.dml.table_files": "count",
    "write_p50_ms": "ms",
    "failed_share": "ratio",
    "jvm_peak_rss_mb": "MB",
    "trace.overhead_share": "ratio",
    "trace.overhead_ms": "ms",
    "trace.self_time_coverage_min": "ratio",
    "trace.self_time_coverage_p50": "ratio",
    "trace.spans": "count",
}

# Fixture tables with a heavy per-row payload get a file per 625 rows,
# plain facts a file per 10k rows, both capped at the core count: the
# ingest layout bench.py stages the fixtures with.
CONTENT_TABLES = {"documents", "embeddings"}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    """The machine's cumulative CPU time counters, from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between
    two cpu_times() readings (the 8th counter is steal)."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / max(1, sum(delta))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`, and
    let Spark's Python workers import the engine from any directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.chdir(work)


def start_session(work: str):
    from warehouse_pg_spark.session import SessionConfig, get_spark

    spark = get_spark(SessionConfig(
        app_name="warehouse_pg_spark-perfbench",
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    ))
    spark.sparkContext.setLogLevel("OFF")
    return spark


def stage(spark, raw_dir: str, dst: str, rows: dict[str, int], tables) -> None:
    from warehouse_pg_spark.catalog import read_parquet_table

    cores = spark.sparkContext.defaultParallelism

    def load(name: str) -> None:
        df = read_parquet_table(spark, os.path.join(raw_dir, f"{name}.parquet"))
        floor = 625 if name in CONTENT_TABLES else 10_000
        parts = max(1, min(cores, rows[name] // floor))
        df.repartition(parts).write.mode("overwrite").parquet(
            os.path.join(dst, f"{name}.parquet")
        )

    # tables load concurrently, as a parallel loader would
    with ThreadPoolExecutor(max_workers=cores) as pool:
        list(pool.map(load, tables))


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def stored_per_live(dirs: list[str]) -> float:
    """Bytes of the tables' files on disk per byte of their rows in
    Arrow's in-memory form."""
    import pyarrow.parquet as pq

    stored = live = 0
    for d in dirs:
        stored += sum(dir_files(d).values())
        live += pq.read_table(d).nbytes
    return stored / live


def jvm_tree(pid: int) -> list[int]:
    """pid and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_session(spark) -> None:
    """Stop Spark, its JVM and the Python workers the JVM started, and
    wait until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = jvm_tree(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for p in pids[1:]:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, 9)
            except OSError:
                pass


class Runner:
    def __init__(self, spark, workload, tracer, probe) -> None:
        self.spark = spark
        self.workload = workload
        self.tracer = tracer
        self.probe = probe
        self.records: list[dict] = []
        self.errors: dict[str, str] = {}
        self.wrong: set[str] = set()
        self.n_stmt = 0
        self.stored_per_live: list[float] = []

    def execute(self, stmt, pass_no: int, traced: bool):
        """One statement, timed from its build to its last Arrow batch."""
        if self.workload.clear_cache:
            self.spark.catalog.clearCache()
        self.n_stmt += 1
        sid = f"s{self.n_stmt}"
        before = None
        if traced:
            self.tracer.stmt = sid
            self.probe.begin(sid)
            if stmt.kind == "write":
                before = self.table_state()
            self.tracer.enabled = True
        tbl, err = None, None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("statement", stmt_name=stmt.name):
                if stmt.in_registry:
                    with self.tracer.span("queries.build", query=stmt.name):
                        df = stmt.build()
                else:
                    df = stmt.build()
                with self.tracer.span("fetch"):
                    tbl = df.toArrow()
        except Exception as exc:  # a failed statement is counted, not fatal
            err = f"{type(exc).__name__}: {exc}"[:2000]
        wall = time.perf_counter() - t0
        self.tracer.enabled = False
        rec = {"id": sid, "name": stmt.name, "kind": stmt.kind, "pass": pass_no,
               "traced": traced, "wall_s": wall, "error": err,
               "rows": tbl.num_rows if tbl is not None else None}
        if traced and err is None:
            rec["catalyst"] = self.probe.catalyst(df)
            rec["jobs"] = self.probe.jobs(sid)
            if stmt.kind == "write":
                rec["dml"] = self.write_effect(before, tbl)
        self.records.append(rec)
        if err is not None:
            self.errors.setdefault(stmt.name, err)
        return tbl

    def table_state(self) -> tuple[dict[str, int], int]:
        """The written tables' data files with their sizes, and their rows."""
        import pyarrow.parquet as pq

        files = {}
        for d in self.workload.table_dirs():
            files.update(dir_files(d))
        return files, sum(pq.ParquetFile(p).metadata.num_rows for p in files)

    def write_effect(self, before: tuple[dict[str, int], int], tbl) -> dict:
        files, rows_before = before
        after, _ = self.table_state()
        written = sum(size for p, size in after.items() if files.get(p) != size)
        changed = int(tbl.column("rows_affected")[0].as_py()) if "rows_affected" in tbl.column_names else 0
        bytes_per_row = sum(files.values()) / max(1, rows_before)
        return {
            "bytes_written": float(written),
            "write_amplification": written / (changed * bytes_per_row) if changed else 0.0,
            "table_files": float(len(after)),
        }

    def run_pass(self, pass_no: int, rng, trace: bool) -> list:
        """One pass; with `trace`, half of the statements are traced:
        those whose place in the workload's list of names has the parity
        of the pass, whatever order the pass runs them in."""
        results = []
        for stmt in self.workload.next_pass(rng):
            traced = trace and (self.workload.names.index(stmt.name) + pass_no) % 2 == 0
            results.append((stmt, self.execute(stmt, pass_no, traced)))
        for name, err in self.workload.check_pass(results).items():
            self.errors.setdefault(name, err)
            self.mark_wrong(pass_no, name)
        self.stored_per_live.append(stored_per_live(self.workload.table_dirs()))
        return results

    def mark_wrong(self, pass_no: int, name: str) -> None:
        for rec in self.records:
            if rec["pass"] == pass_no and rec["name"] == name and rec["error"] is None:
                rec["error"] = "wrong result"


def summarize_e2e(records: list[dict]) -> dict:
    ok = [r for r in records if r["error"] is None]
    lat = [r["wall_s"] * 1000 for r in ok]
    reads = [r["wall_s"] * 1000 for r in ok if r["kind"] == "read"]
    writes = [r["wall_s"] * 1000 for r in ok if r["kind"] == "write"]
    return {
        "statements_per_s": len(ok) / sum(r["wall_s"] for r in ok),
        "latency_p50_ms": statistics.median(lat),
        "latency_p90_ms": quantile(lat, 0.90),
        "read_p50_ms": statistics.median(reads),
        "write_p50_ms": statistics.median(writes) if writes else 0.0,
        "samples": len(lat),
        "samples_beyond_p90": sum(1 for x in lat if x > quantile(lat, 0.90)),
    }


def trace_overhead(records: list[dict]) -> tuple[float, float]:
    """Traced against untraced runs of the same statements in the timed
    passes: the relative increase of their summed mean latencies, and
    the median per-statement increase in ms."""
    walls: dict[tuple[str, bool], list[float]] = {}
    for r in records:
        if r["pass"] and r["error"] is None:
            walls.setdefault((r["name"], r["traced"]), []).append(r["wall_s"])
    pairs = [
        (statistics.mean(walls[(n, True)]), statistics.mean(walls[(n, False)]))
        for n, traced in walls if traced and (n, False) in walls
    ]
    share = sum(t for t, _ in pairs) / sum(u for _, u in pairs) - 1
    return share, statistics.median((t - u) * 1000 for t, u in pairs)


def latencies(records: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for r in records:
        out.setdefault(r["name"], []).append(round(r["wall_s"] * 1000, 1))
    return out


def summarize_layers(traced: list[dict], spans: list[dict], cores: int,
                     pass_size: int, coverage: dict[str, float]) -> dict:
    passes = len(traced) / pass_size
    ids = {r["id"] for r in traced}
    spans = [s for s in spans if s["stmt"] in ids]
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    out: dict[str, float] = {}

    def total(key: str, values) -> None:
        out[key] = sum(values) / passes

    def dur(s):
        return (s["end"] - s["start"]) * 1000

    def named(prefix):
        return [s for s in spans if s["name"].startswith(prefix)]

    def top_level(s, prefix):
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"].startswith(prefix):
                return False
            p = by_id[p]["parent"]
        return True

    wall_ms = sum(r["wall_s"] for r in traced) * 1000
    rw = [dur(s) for s in named("sql_dialect.rewrite")]
    total("sql_dialect.rewrite_calls", [1 for _ in rw])
    out["sql_dialect.rewrite_ms_p50"] = statistics.median(rw) if rw else 0.0
    out["sql_dialect.rewrite_ms_p90"] = quantile(rw, 0.90) if rw else 0.0
    rw_top = [dur(s) for s in named("sql_dialect.rewrite") if top_level(s, "sql_dialect.rewrite")]
    total("sql_dialect.rewrite_ms_total", rw_top)
    out["sql_dialect.rewrite_share"] = sum(rw_top) / wall_ms
    total("engine.sql_calls", [1 for _ in named("engine.sql")])
    total("engine.sql_self_ms", [selfs[s["id"]] * 1000 for s in named("engine.sql")])
    builds = named("queries.build")
    total("queries.build_ms", [dur(s) for s in builds])
    total("queries.build_py4j_calls", [s["py4j"] for s in builds])
    reads = named("catalog.read_parquet_table")
    total("catalog.read_parquet_table_calls", [1 for _ in reads])
    total("catalog.read_parquet_table_ms",
          [dur(s) for s in reads if top_level(s, "catalog.read_parquet_table")])

    # a job belongs to a span when its statement submitted it while the span was open
    jobs = [(r["id"], j) for r in traced for j in r["jobs"]]

    def jobs_in(span_list):
        return sum(1 for stmt, j in jobs for s in span_list
                   if s["stmt"] == stmt and s["start"] <= j["submitted"] <= s["end"])

    total("queries.build_jobs", [jobs_in(builds)])
    total("catalog.read_parquet_table_jobs", [jobs_in(reads)])
    for key in ("catalyst.parsing_ms", "catalyst.analysis_ms", "catalyst.optimization_ms",
                "catalyst.planning_ms", "plan.exchanges", "plan.reused_exchanges",
                "plan.broadcast_joins", "plan.python_evals"):
        total(key, [r["catalyst"][key] for r in traced])
    adaptive = [r["catalyst"]["plan.final"] for r in traced if r["catalyst"]["plan.adaptive"]]
    out["plan.final_share"] = statistics.mean(adaptive) if adaptive else 1.0
    total("exec.jobs", [len(jobs)])
    for key in ("exec.stages", "exec.tasks", "exec.failed_tasks", "exec.run_ms", "exec.cpu_ms",
                "exec.gc_ms", "exec.input_bytes", "exec.shuffle_read_bytes",
                "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.output_bytes"):
        total(key, [j[key] for _, j in jobs])
    out["exec.slot_idle_share"] = 1 - sum(j["exec.run_ms"] for _, j in jobs) / (wall_ms * cores)
    total("fetch.ms", [dur(s) for s in named("fetch")])
    total("fetch.rows", [r["rows"] for r in traced])
    dml_top = [s for s in named("operators.dml.") if top_level(s, "operators.dml.")
               and not s["name"].endswith(".read")]
    total("operators.dml.calls", [1 for _ in dml_top])
    total("operators.dml.ms", [dur(s) for s in dml_top])
    effects = [r["dml"] for r in traced if "dml" in r]
    total("operators.dml.bytes_written", [e["bytes_written"] for e in effects])
    amp = [e["write_amplification"] for e in effects if e["write_amplification"]]
    out["operators.dml.write_amplification"] = statistics.median(amp) if amp else 0.0
    out["operators.dml.table_files"] = (
        statistics.median(e["table_files"] for e in effects) if effects else 0.0)

    out["trace.self_time_coverage_min"] = min(coverage.values())
    out["trace.self_time_coverage_p50"] = statistics.median(coverage.values())
    total("trace.spans", [1 for _ in spans])
    return out


# Spans of the engine's own layers: the wrapped module functions and the
# registry query call. The benchmark's `statement` and `fetch` spans wrap
# everything and so are not layers.
LAYER_SPANS = ("queries.build", "engine.sql", "sql_dialect.rewrite",
               "catalog.read_parquet_table", "operators.dml.")


def layer_coverage(traced: list[dict], spans: list[dict]) -> dict[str, float]:
    """Statement id -> share of its wall time that some layer measured
    itself: the union of its engine layer spans, the Catalyst phase
    intervals of its QueryExecution and the run time of its Spark jobs.
    The rest is driver time no layer accounts for, such as the Arrow
    transfer after the last job, AQE re-planning between jobs and py4j
    round trips."""
    out = {}
    for r in traced:
        own = [s for s in spans if s["stmt"] == r["id"]]
        root = next(s for s in own if s["name"] == "statement")
        intervals = [(s["start"], s["end"]) for s in own if s["name"].startswith(LAYER_SPANS)]
        intervals += r["catalyst"]["catalyst.intervals"]
        intervals += [(j["submitted"], j["completed"]) for j in r["jobs"] if j["completed"]]
        covered, reach = 0.0, root["start"]
        for a, b in sorted(intervals):
            a, b = max(a, reach), min(b, root["end"])
            if b > a:
                covered += b - a
                reach = b
        out[r["id"]] = covered / (root["end"] - root["start"])
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None)
    args = ap.parse_args()
    kind, sf = WORKLOADS[args.workload]
    sf = args.scale if args.scale is not None else sf

    load_start = loadavg()
    work = os.path.join(WORK_ROOT, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        prepare_env(work)
        tracer = Tracer()
        if args.trace:
            tracer.install()
        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0
        log(f"session started {session_s:.2f}s")
        try:
            return run(args, spark, kind, sf, work, session_s, load_start, tracer)
        finally:
            stop_session(spark)
            log("stopped")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, spark, kind, sf, work, session_s, load_start, tracer) -> int:
    cores = spark.sparkContext.defaultParallelism
    probe = StatementProbe(spark)
    workload = workloads.make(kind)
    gen_s, stage_s = [], []
    for i in range(STAGING_REPEATS):
        raw, staged = os.path.join(work, f"raw{i}"), os.path.join(work, f"staged{i}")
        t = time.perf_counter()
        rows = datagen.generate(raw, sf, DATA_SEED, workload.tables())
        gen_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        stage(spark, raw, staged, rows, workload.tables())
        stage_s.append(time.perf_counter() - t)
        if i:
            shutil.rmtree(os.path.join(work, f"raw{i - 1}"))
            shutil.rmtree(os.path.join(work, f"staged{i - 1}"))
    t = time.perf_counter()
    workload.setup(spark, staged, raw, work)
    workload_s = time.perf_counter() - t
    log(f"staged {len(workload.tables())} tables at sf{sf}")

    rng = np.random.default_rng(args.seed)
    runner = Runner(spark, workload, tracer, probe)
    t = time.perf_counter()
    warm = runner.run_pass(0, rng, trace=False)
    warmup_s = time.perf_counter() - t
    log(f"warm-up pass {warmup_s:.2f}s")
    setup_s = (session_s + statistics.median(gen_s) + statistics.median(stage_s)
               + workload_s + warmup_s)

    # once per run, outside the timed passes: the warm-up results
    # against the registry's DuckDB oracles
    warm_rows = {s.name: tbl.num_rows for s, tbl in warm if tbl is not None}
    oracle_errors = workload.oracle_check({s.name: tbl for s, tbl in warm if tbl is not None})
    for name, err in oracle_errors.items():
        runner.errors.setdefault(name, err)
        runner.wrong.add(name)
        runner.mark_wrong(0, name)

    # whole passes until the time is up; a traced run stops only after an
    # even number, so that every statement is traced as often as not
    cpu_start = cpu_times()
    t_window = time.perf_counter()
    pass_no = 0
    while True:
        pass_no += 1
        runner.run_pass(pass_no, rng, trace=bool(args.trace))
        if args.trace and pass_no % 2:
            continue
        if time.perf_counter() - t_window >= args.seconds:
            break
    window_s = time.perf_counter() - t_window
    window_steal = steal_share(cpu_start, cpu_times())
    log(f"{pass_no} timed passes {window_s:.2f}s")

    # a statement whose warm-up result was wrong is wrong on every pass;
    # a timed result whose row count differs from the checked one is too
    for rec in runner.records:
        if rec["pass"] and rec["error"] is None and (
            rec["name"] in runner.wrong
            or (rec["name"] in warm_rows and rec["rows"] != warm_rows[rec["name"]])
        ):
            rec["error"] = "wrong result"
            runner.errors.setdefault(rec["name"], "row count differs from the checked warm-up result")

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss_mb = vm_hwm_mb(jvm_pid)
    spl = statistics.median(runner.stored_per_live)

    attempted = len(runner.records)
    failed = sum(1 for r in runner.records if r["error"] is not None)
    untraced = [r for r in runner.records if r["pass"] and not r["traced"]]
    e2e = summarize_e2e(untraced)
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "statements_per_s": (e2e["statements_per_s"], "1/s"),
        "latency_p50_ms": (e2e["latency_p50_ms"], "ms"),
        "latency_p90_ms": (e2e["latency_p90_ms"], "ms"),
        "read_p50_ms": (e2e["read_p50_ms"], "ms"),
        "stored_bytes_per_live_byte": (spl, "ratio"),
    }
    # peak RSS follows when the GC chose to grow the heap more than what
    # the run keeps, so it is reported but not bounded
    extra = {
        "jvm_peak_rss_mb": (rss_mb, "MB"),
        "write_p50_ms": (e2e["write_p50_ms"], "ms"),
        "failed_share": (failed / attempted, "ratio"),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "scale_factor": sf,
        "rows": rows,
        "stamp": {
            "nproc": nproc(),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark_driver_memory": spark.conf.get("spark.driver.memory"),
            "spark_cores": cores,
            "spark_version": spark.version,
            "python_version": platform.python_version(),
            "platform": platform.platform(),
            "loadavg_start": load_start,
            "loadavg_end": loadavg(),
            # CPU time taken by other guests of the host during the timed
            # passes; latencies rise with it, so compare runs with care
            "cpu_steal_share": window_steal,
        },
        "timed_passes": pass_no,
        "window_s": window_s,
        "samples": e2e["samples"],
        "samples_beyond_p90": e2e["samples_beyond_p90"],
        "latencies_ms": latencies(untraced),
        "setup": {"session.start_s": session_s, "staging.generate_s": gen_s,
                  "staging.load_s": stage_s, "workload.setup_s": workload_s,
                  "warmup.pass_s": warmup_s},
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in {**end_to_end, **extra}.items()},
        "attempted": attempted,
        "failed": failed,
        "errors": runner.errors,
    }

    if args.trace:
        traced = [r for r in runner.records if r["traced"] and r["error"] is None]
        coverage = layer_coverage(traced, tracer.spans)
        layers = summarize_layers(traced, tracer.spans, cores, len(warm), coverage)
        overhead_share, overhead_ms = trace_overhead(runner.records)
        layers.update({
            "session.start_s": session_s,
            "staging.generate_s": statistics.median(gen_s),
            "staging.load_s": statistics.median(stage_s),
            "workload.setup_s": workload_s,
            "warmup.pass_s": warmup_s,
            "write_p50_ms": e2e["write_p50_ms"],
            "failed_share": failed / attempted,
            "jvm_peak_rss_mb": rss_mb,
            "trace.overhead_share": overhead_share,
            "trace.overhead_ms": overhead_ms,
        })
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
        record["per_layer"] = metrics
        # the layers should account for at least 90% of each statement's
        # wall time; the outcome is reported, it does not fail the run
        record["self_time_coverage_ok"] = layers["trace.self_time_coverage_min"] >= 0.9
        record["low_coverage"] = sorted(
            (round(coverage[r["id"]], 3), r["name"]) for r in traced if coverage[r["id"]] < 0.9)
        log(f"layer coverage min {layers['trace.self_time_coverage_min']:.3f}, "
            f"{len(record['low_coverage'])} of {len(traced)} traced statements under 0.9")
        spans_path = os.path.join(WORK_ROOT, "results", f"{args.workload}-seed{args.seed}-spans.jsonl")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        tracer.dump(spans_path)
        record["spans_file"] = os.path.relpath(spans_path, ROOT)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}

    for k, m in {**record["end_to_end"], **record.get("per_layer", {})}.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    out_dir = os.path.join(WORK_ROOT, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
