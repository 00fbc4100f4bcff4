#!/usr/bin/env python3
"""Repo benchmark: one closed-loop client against the engine's layers.

    python3 perfbench/run.py --workload analytics-mix --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads (see ``workloads.py``):

- ``analytics-mix``: Zipf-skewed relational queries through the plan
  cache (``QuerySpec.fn``); execution-bound.
- ``llm-curation``: fresh builds (``QuerySpec.fresh``) of the LLM-data
  operators, whose plan construction runs eager Spark jobs.

Every run of either workload also carries the lakehouse read/write
stream: after the query window, one round of ACID commits (merge,
append, delete, optimize) interleaved with snapshot reads and a vacuum
on a table seeded from orders.  The commit and snapshot metrics come
from that segment; the ``op_*`` metrics from the query window only.

Each run generates its input tables from ``--seed`` (``gen.py``), pins
the environment (cores, temp and Spark local dirs, the package on the
Python workers' path, a fixed JVM heap, the JIT at C1), sets up
(import, session, scan plans, staging, one untimed execution of every
op, then a wait for the JIT queue to drain), then measures whole seeded
rounds of queries for about ``--seconds``: the first round's length
sets how many rounds fit, at least one.  After the windows, every
query's first result is checked against its DuckDB oracle
(``gate.py``), and the first plan-cache hit of each query against that
result; every snapshot read is checked against a DuckDB replay of the
applied commits.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the per-layer metrics, taken from spans recorded
around every layer call and written to ``.bench_work/traces``.  The
line before it is an ``info`` record: host, versions, load, tail rank,
gate verdicts.  Everything the run writes stays under the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import re
import shlex
import shutil
import statistics
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads as wl  # noqa: E402
from tracing import JobCounter, Tracer  # noqa: E402

WORKLOADS = ("analytics-mix", "llm-curation")
DRIVER_MEM = "2g"
SETTLE_CAP_S = 6.0
ACID_FN = {
    "merge": "merge_table",
    "append": "append_table",
    "delete": "delete_from_table",
    "optimize": "optimize_table",
}


# ---- environment ------------------------------------------------------

def pin_env(run_dir: str) -> int:
    """Pin cores, temp/local dirs and the workers' import path; return
    the core count.  Must run before pyspark is imported."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    cwd = os.path.join(run_dir, "cwd")
    for d in (tmp, local, cwd):
        os.makedirs(d, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_SHUFFLE_PARTITIONS"] = str(cpus)
    env["SPARK_DRIVER_MEM"] = DRIVER_MEM
    env["SPARK_LOCAL_DIRS"] = local
    env["TMPDIR"] = tmp
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # A heap fixed at DRIVER_MEM (-Xms = -Xmx) keeps the JVM's resident
    # size from depending on when G1 decides to grow the heap.  The JIT
    # stops at C1: with C2, background compilation took 11-28 s of CPU
    # in each 8-14 s window on 4 cores (90-124 s during set-up), varied
    # from run to run, and a run's op latencies followed it.  With C1 it
    # takes 2-3 s per window and 14-21 s in set-up.
    java_opts = f"-Xms{DRIVER_MEM} -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}"
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false --conf "
        + shlex.quote(f"spark.driver.extraJavaOptions={java_opts}")
        + " pyspark-shell"
    )
    tempfile.tempdir = tmp
    os.chdir(cwd)  # spark-warehouse, derby.log, metastore_db land here
    if ROOT not in sys.path:
        sys.path.insert(1, ROOT)
    return cpus


def process_age() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        up = float(fh.read().split()[0])
    return up - start_ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests so far (all cores)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except FileNotFoundError:
            pass
    return total / 1024.0


def clear_staging(tag: str) -> None:
    """Drop engine staging (``.scratch``) keyed on this input set's
    basename — the engine spells the key with ``-`` or ``_``."""
    scratch = os.path.join(ROOT, ".scratch")
    if not os.path.isdir(scratch):
        return
    pat = re.compile(
        "[-_]".join(re.escape(p) for p in re.split(r"[-_]", tag)) + r"(?![0-9])"
    )
    for name in os.listdir(scratch):
        if pat.search(name):
            p = os.path.join(scratch, name)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)


# ---- measurement --------------------------------------------------------

@dataclass
class Rec:
    op: object  # a workloads.QueryOp, or a lakehouse op kind
    latency: float
    status: str  # "ok" | "wrong" | "error"
    error: str = ""


def measure(rounds, run_op, seconds: float, on_round=None, first_id: int = 0):
    """Closed loop over whole rounds.  ``run_op(op, op_id)`` returns
    (result_ok, latency_s); an exception counts the op as failed and
    the loop goes on.  Runs as many rounds as the first one says fit in
    ``seconds``, at least one; returns (records, window seconds, rounds
    run)."""
    recs: list[Rec] = []
    t_start = time.perf_counter()
    planned = None
    done = 0
    for ops in rounds:
        if on_round is not None:
            on_round()
        for op in ops:
            t0 = time.perf_counter()
            try:
                ok, lat = run_op(op, first_id + len(recs))
                recs.append(Rec(op, lat, "ok" if ok else "wrong"))
            except Exception as ex:  # noqa: BLE001 — counted, never fatal
                recs.append(Rec(op, time.perf_counter() - t0, "error",
                                f"{type(ex).__name__}: {str(ex)[:300]}"))
        done += 1
        if planned is None:
            planned = max(1, int(seconds / (time.perf_counter() - t_start)))
        if done >= planned:
            break
    return recs, time.perf_counter() - t_start, done


def tail(values: list[float]) -> tuple[float, int, int]:
    """(value, rank, n): the highest order statistic with at least ten
    samples beyond it once that is at or above the 90th percentile
    (n >= 100); with fewer samples, the maximum."""
    v = sorted(values)
    n = len(v)
    rank = n - 10 if n >= 100 else n
    return v[rank - 1], rank, n


def median(values) -> float:
    return statistics.median(values) if values else 0.0


# ---- the run ------------------------------------------------------------

class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 sf_dir: str, run_dir: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.sf_dir, self.run_dir = sf_dir, run_dir
        self.tr = Tracer(trace)
        self.jobs = None
        self.spark = None
        self.lake = None
        self.first_results: dict[str, tuple] = {}  # name -> (df, rows, error)
        self.expected_rows: dict[str, int] = {}
        self.last_df: dict[str, object] = {}
        self.hit_results: dict[str, object] = {}  # name -> first cache hit's Arrow table
        self.fn_calls = self.hits = 0
        self.settle_s = 0.0

    # -- layer calls ----------------------------------------------------
    def _group(self, key: str, op_id: int):
        """Run the enclosed Spark jobs under a group of their own (timed
        ops of a traced run only)."""
        if self.jobs is None or op_id < 0:
            return contextlib.nullcontext()
        return self.jobs.group(f"{key}-{op_id}", key)

    def run_query(self, op: wl.QueryOp, op_id: int):
        spec = self.reg[op.name]
        span = self.tr.span
        t0 = time.perf_counter()
        with span(op.module, op_id):
            with span("registry.build", op_id), self._group("build", op_id):
                df = (spec.fn if op.cached else spec.fresh)(self.spark, self.sf_dir)
            with span("exec.collect", op_id), self._group("collect", op_id):
                table = df.toArrow()
        lat = time.perf_counter() - t0
        if op.cached:
            self.fn_calls += 1
            hit = df is self.last_df.get(op.name)
            self.hits += hit
            self.last_df[op.name] = df
            if hit:
                self.hit_results.setdefault(op.name, table)
        return table.num_rows == self.expected_rows.get(op.name, -1), lat

    def snapshot(self, lt: wl.LakeTable, op_id: int) -> tuple[int, float]:
        """(rows, price sum) of the table's latest snapshot."""
        from pyspark.sql import functions as F

        span = self.tr.span
        with span("sources.acid.read_table", op_id):
            df = self.acid.read_table(self.spark, lt.root).agg(
                F.count(F.lit(1)), F.sum("price")
            )
        with span("exec.collect", op_id):
            row = df.collect()[0]
        return int(row[0]), float(row[1])

    def run_lake(self, lt: wl.LakeTable, kind: str, op_id: int):
        span = self.tr.span
        if kind in wl.COMMITS:
            pdf = lt.source(kind)
            before = wl.dir_bytes(lt.root)
            t0 = time.perf_counter()
            with span("sources.acid." + ACID_FN[kind], op_id):
                lt.commit(self.acid, kind, pdf)
            lat = time.perf_counter() - t0
            lt.replay(kind, pdf)
            if op_id >= 0:
                lt.commit_bytes.append(wl.dir_bytes(lt.root) - before)
            return True, lat
        if kind == "vacuum":
            t0 = time.perf_counter()
            with span("sources.acid.vacuum", op_id):
                self.acid.vacuum(lt.root)
            return True, time.perf_counter() - t0
        t0 = time.perf_counter()
        with span("lake.snapshot_read", op_id):
            got = self.snapshot(lt, op_id)
        lat = time.perf_counter() - t0
        if op_id >= 0:
            lt.record_space(got[0])
        return wl.snapshot_matches(got, lt.expected()), lat

    # -- phases ---------------------------------------------------------
    def setup(self) -> None:
        span = self.tr.span
        with span("import"):
            import morphl_model_user_search_intent_spark as pkg
            from morphl_model_user_search_intent_spark import io, registry
            from morphl_model_user_search_intent_spark.sources import acid
        self.io, self.registry, self.acid = io, registry, acid
        self.reg = registry.REGISTRY
        with span("session.get_spark"):
            self.spark = pkg.get_spark(app_name="perfbench")
        if self.tr.enabled:
            self.jobs = JobCounter(self.spark.sparkContext)
        # Warm-up runs on a thread per core: Spark takes jobs from
        # several threads, and most first-execution cost is in the JVM
        # (codegen, class loading, JIT).  Every query runs WARM_RUNS
        # times before the window and the lakehouse table gets one
        # untimed round.  The two longest chains, the ANN index build
        # and the lakehouse round, start before the scan plans are built.
        names = wl.distinct_queries(self.workload)
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            futs = [pool.submit(self._stage_lake)]
            if self.workload == "llm-curation":
                names.remove("q_sim_index_serve")
                futs.append(pool.submit(self._index_then_serve))
            with span("io.load"):
                io.load(self.spark, self.sf_dir)
            with span("warmup"):
                futs += [pool.submit(self._warm_query, n) for n in names]
                for fut in futs:
                    fut.result()
        t0 = time.perf_counter()
        with span("settle"):
            self.settle()
        self.settle_s = time.perf_counter() - t0

    def _stage_lake(self) -> None:
        """Create the lakehouse table and run one untimed round on it."""
        self.lake = wl.LakeTable(
            self.spark, self.sf_dir, os.path.join(self.run_dir, "lake"), self.seed
        )
        with self.tr.span("sources.acid.create_table"):
            self.lake.create(self.acid, self.io)
        for kind in wl.LAKE_ROUND:
            self.run_lake(self.lake, kind, -1)

    def _index_then_serve(self) -> None:
        from morphl_model_user_search_intent_spark.llm import index

        with self.tr.span("llm.index.build_index"):
            index.build_index(self.spark, self.sf_dir)
        self._warm_query("q_sim_index_serve")

    def _warm_query(self, name: str) -> None:
        """Run a query WARM_RUNS times; the first result is the one the
        gate checks.

        Results reach the client as Arrow (``toArrow``), the engine's
        bulk path to Python; row-by-row ``collect`` would time Python
        object construction, not the engine."""
        spec = self.reg[name]
        try:
            df = spec.fresh(self.spark, self.sf_dir)
            rows = df.toArrow().to_pylist()
            self.first_results[name] = (df, rows, None)
            self.expected_rows[name] = len(rows)
            for _ in range(wl.WARM_RUNS - 1):
                spec.fresh(self.spark, self.sf_dir).toArrow()
        except Exception as ex:  # noqa: BLE001 — the gate reports it
            self.first_results.setdefault(
                name, (None, None, f"{type(ex).__name__}: {ex}"))

    def query_window(self):
        def new_round():
            self.registry.clear_plan_cache()
            self.last_df.clear()

        return measure(
            wl.query_rounds(self.workload, self.reg, self.seed),
            self.run_query,
            self.seconds,
            on_round=new_round if self.workload == "analytics-mix" else None,
        )

    def lake_window(self, first_id: int) -> list[Rec]:
        lt = self.lake
        recs, _, _ = measure(
            [wl.LAKE_ROUND], lambda k, i: self.run_lake(lt, k, i), 0,
            first_id=first_id,
        )
        return recs

    def gate(self, recs: list[Rec]) -> dict[str, str]:
        """Oracle verdicts per failing query ({} when all pass); marks
        the timed ops of a failing query as wrong results.

        Each query's first result is checked against its DuckDB oracle;
        the first plan-cache hit of each query in the window must hold
        the same rows as that checked result."""
        from gate import Gate

        g = Gate(ROOT, self.sf_dir)
        verdicts = {}
        for name, (df, rows, err) in self.first_results.items():
            try:
                reason = err or g.check(df, rows, self.reg[name].oracle)
                hit = self.hit_results.get(name)
                if not reason and hit is not None and not g.same_rows(hit.to_pylist(), rows):
                    reason = "plan-cache hit differs from the checked result"
            except Exception as ex:  # noqa: BLE001 — a verdict, never fatal
                reason = f"gate error {type(ex).__name__}: {ex}"
            if reason:
                verdicts[name] = reason
        for r in recs:
            if r.op.name in verdicts and r.status == "ok":
                r.status = "wrong"
        return verdicts

    def final_snapshot_ok(self) -> bool:
        try:
            got = self.snapshot(self.lake, -1)
        except Exception:  # noqa: BLE001 — an unreadable snapshot is a failure
            return False
        return wl.snapshot_matches(got, self.lake.expected())

    def settle(self) -> None:
        """Wait (at most SETTLE_CAP_S) until the JIT compile queue the
        parallel warm-up left behind has drained: compilation below a
        tenth of one core over a quarter second."""
        jit = self.spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        end = time.perf_counter() + SETTLE_CAP_S
        last = jit.getTotalCompilationTime()
        while time.perf_counter() < end:
            time.sleep(0.25)
            now = jit.getTotalCompilationTime()
            if now - last < 25:  # ms of compilation in 250 ms
                return
            last = now

    def jvm_busy_s(self) -> tuple[float, float]:
        """JVM seconds spent so far in garbage collection and in JIT compilation."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return gc / 1e3, mf.getCompilationMXBean().getTotalCompilationTime() / 1e3

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return gw.proc.pid if gw is not None and gw.proc is not None else None

    def close(self) -> None:
        """Stop Spark and wait until the JVM (and its Python workers) ended."""
        import subprocess

        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def layer_metrics(b: Bench, recs: list[Rec], window_s: float, setup_s: float) -> dict:
    """Per-layer metrics from the traced run's spans and job counts."""
    tr = b.tr
    n_query = len(recs)
    query = [s for s in tr.spans if 0 <= s[4] < n_query]
    lake = [s for s in tr.spans if s[4] >= n_query]
    q_self, l_self = tr.self_times(query), tr.self_times(lake)
    q_total = sum(r.latency for r in recs) or 1.0
    l_total = sum(s[2] - s[1] for s in lake if s[3] == -1) or 1.0

    def first(name):
        d = [s[2] - s[1] for s in tr.spans if s[0] == name]
        return d[0] if d else 0.0

    def p50(name, spans):
        return median([s[2] - s[1] for s in spans if s[0] == name])

    counts = b.jobs.totals()

    def mean_count(key, what):
        v = counts.get(key, {}).get(what, [])
        return sum(v) / len(v) if v else 0.0

    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (first("session.get_spark"), "s"),
        "io.load_s": (first("io.load"), "s"),
        "llm.index.build_index_share": (first("llm.index.build_index") / setup_s, "ratio"),
        "registry.build_s": (p50("registry.build", query), "s"),
        "registry.build_jobs": (mean_count("build", "jobs"), "count"),
        "registry.cache_hit_ratio": (b.hits / b.fn_calls if b.fn_calls else 0.0, "ratio"),
        "registry.self_share": (q_self.get("registry.build", 0.0) / q_total, "ratio"),
        "exec.collect_s": (p50("exec.collect", query), "s"),
        "exec.jobs": (mean_count("collect", "jobs"), "count"),
        "exec.stages": (mean_count("collect", "stages"), "count"),
        "exec.tasks": (mean_count("collect", "tasks"), "count"),
        "exec.self_share": (q_self.get("exec.collect", 0.0) / q_total, "ratio"),
        "bench.self_share": (
            sum(v for k, v in q_self.items() if k in wl.MODULES) / q_total, "ratio"),
    }
    for fn in ("merge_table", "append_table", "delete_from_table",
               "optimize_table", "vacuum", "read_table"):
        m[f"sources.acid.{fn}_s"] = (p50("sources.acid." + fn, lake), "s")
    lt = b.lake
    m["sources.acid.files_live"] = (
        float(len(b.acid.read_manifest(lt.root)["files"])), "count")
    m["sources.acid.bytes_written_per_commit"] = (
        sum(lt.commit_bytes) / max(1, len(lt.commit_bytes)), "bytes")
    m["sources.acid.self_share"] = (
        sum(v for k, v in l_self.items() if k.startswith("sources.acid.")) / l_total,
        "ratio")
    for mod in wl.MODULES:
        mine = [r for r in recs if r.op.module == mod]
        m[f"{mod}.busy_share"] = (sum(r.latency for r in mine) / window_s, "ratio")
        m[f"{mod}.ops"] = (float(len(mine)), "count")
        m[f"{mod}.failed"] = (float(sum(r.status != "ok" for r in mine)), "count")
    overhead = (len(query) + len(lake)) * tr.per_span_cost() + b.jobs.tag_s
    m["trace.overhead_share"] = (overhead / (window_s + l_total), "ratio")
    return m


def e2e_metrics(setup_s: float, recs: list[Rec], window_s: float,
                lake_recs: list[Rec], space_amp: list[float], ok_ratio: float,
                rss_mb: float) -> dict:
    """End-to-end metrics: query ops from the window, commits and
    snapshot reads from the lakehouse round.  Commits and reads are
    averaged, not ranked: a round holds four different commit kinds and
    reads of four different table states."""
    lat = [r.latency for r in recs]
    commits = [r.latency for r in lake_recs if r.op in wl.COMMITS]
    reads = [r.latency for r in lake_recs if r.op == "read"]
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (median(lat), "s"),
        "op_tail_s": (tail(lat)[0], "s"),
        "ops_per_s": (len(recs) / window_s, "1/s"),
        "ok_ratio": (ok_ratio, "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
        "commit_mean_s": (statistics.mean(commits), "s"),
        "commit_tail_s": (tail(commits)[0], "s"),
        "snapshot_read_mean_s": (statistics.mean(reads), "s"),
        "space_amp": (median(space_amp), "ratio"),
    }


def run(args) -> tuple[dict, dict]:
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    cpus = pin_env(run_dir)
    load_before = os.getloadavg()
    tag = f"bench-{args.workload}-s{args.seed}"
    sf_dir = gen.data_dir(os.path.join(run_dir, "data"), args.workload, args.seed)
    t0 = time.perf_counter()
    clear_staging(tag)
    gen.generate(sf_dir, args.seed)
    gen_s = time.perf_counter() - t0
    steal0 = steal_s()

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), sf_dir, run_dir)
    try:
        b.setup()
        setup_s = process_age() - gen_s
        busy = [b.jvm_busy_s()]
        recs, window_s, rounds = b.query_window()
        busy.append(b.jvm_busy_s())
        lake_recs = b.lake_window(len(recs))
        busy.append(b.jvm_busy_s())
        verdicts = b.gate(recs)
        final_ok = b.final_snapshot_ok()
        every = recs + lake_recs
        attempted = len(every) + 1  # + the final snapshot check
        failed = sum(r.status != "ok" for r in every) + (not final_ok)
        correct = final_ok and not any(r.status == "wrong" for r in every)
        rss = peak_rss_mb([os.getpid()] + [p for p in [b.jvm_pid()] if p])

        if args.trace:
            metrics = layer_metrics(b, recs, window_s, setup_s)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            b.tr.dump(os.path.join(WORK, "traces", f"{tag}-{os.getpid()}.jsonl"))
        else:
            metrics = e2e_metrics(setup_s, recs, window_s, lake_recs,
                                  b.lake.space_amp, 1.0 - failed / attempted, rss)
        _, tail_rank, n = tail([r.latency for r in recs])
        errors = [f"{getattr(r.op, 'name', r.op)}: {r.error}" for r in every if r.error]
        info = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": cpus, "load_before": load_before, "load_after": os.getloadavg(),
            "steal_s": steal_s() - steal0,
            "versions": versions(), "gen_s": gen_s, "window_s": window_s,
            "settle_s": b.settle_s,
            "rounds": rounds, "ops": n, "op_tail_rank": f"{tail_rank}/{n}",
            "lake_ops": len(lake_recs),
            "cache_hit_ratio": b.hits / b.fn_calls if b.fn_calls else None,
            "gate": verdicts or "pass",
            "final_snapshot": "pass" if final_ok else "FAIL",
            "errors": errors[:5],
            "latency_s": latencies(every),
            "jvm_gc_jit_s": {"setup": busy[0],
                             "window": [x - y for x, y in zip(busy[1], busy[0])],
                             "lake": [x - y for x, y in zip(busy[2], busy[1])]},
        }
        result = {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return info, result
    finally:
        b.close()
        clear_staging(tag)
        shutil.rmtree(run_dir, ignore_errors=True)


def latencies(recs: list[Rec]) -> dict[str, list[float]]:
    """Each op's latencies in run order, keyed by query name or lakehouse op."""
    out: dict[str, list[float]] = {}
    for r in recs:
        out.setdefault(getattr(r.op, "name", r.op), []).append(round(r.latency, 4))
    return out


def versions() -> dict:
    import duckdb
    import pyspark

    return {"pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "python": sys.version.split()[0]}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    info, result = run(parse_args(argv))
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
