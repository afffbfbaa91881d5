"""The workloads. Each drives the engine only through its public
surface and checks every answer against DuckDB.

- ``dashboard_rw``: commit cycles over a range-clustered, zone-mapped
  lineitem with an MV. Each cycle is an append commit, the refresh it
  triggers (the whole hot set once, so the planners run on every
  widget that reads lineitem) and re-fired bursts drawn Zipf-skewed
  from the hot set (all result-cache hits). One closed-loop client
  fires every burst through ``Engine.sql_many``.
- ``registry_batch``: a batch pipeline calling ``all_queries()[key]``
  builders plus ``.count()``; it bypasses ``Engine.sql``, every
  planner and the result cache. Every ``REG_LOG_EVERY`` ops it appends
  the counts to a run-log table in the lake.

Both time their writes the same way (``Appender.commit``): the Spark
data write, ``append_zonemap`` and the ``Engine.register`` rebind. A
commit never runs beside a query. ``Engine.register`` rebinds the view
outside the engine's plan lock, and a query inside its zone-map rebind
window restores the binding it captured, undoing the commit (every
later answer then misses the appended rows). The workloads keep that
known race out of the measured traffic.
"""

from __future__ import annotations

import concurrent.futures
import json
import os
import shutil
import statistics
import sys
import threading
import time
from typing import Any, Callable

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
from spans import Tracer, layer_metrics

SETUPS = 3  # set-ups per run; setup_s is their median
DASH_SF = 0.02
DASH_FILES = 8
DASH_BURST = 4
DASH_WIDGETS = 16
# re-fired bursts per commit cycle, after the refresh: result-cache
# hits. They count in ops_per_s; round_ms is the refresh alone
DASH_REFIRES = 8
MIN_CYCLES = 3  # a timed loop runs at least this many commit cycles
WARM_CYCLES = 1  # untimed cycle first: every widget planned and cached once
DELTA_SHARE = 0.002  # rows appended per commit, as a share of lineitem
REGISTRY_SF = 0.02
REG_LOG_EVERY = 4  # registry_batch appends its run log every this many ops
SMALL = ["supplier", "orders", "customer", "nation", "region", "part"]

# per-layer metrics a workload adds to the span-derived ones
LAYER_EXTRAS = [
    "engine.hit_ms_p50", "engine.miss_ms_p50", "engine.burst_parallelism",
    "engine.stale_answers", "inventory.build_ms", "inventory.exec_ms",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "trace.round_ms", "trace.overhead_ratio", "run.fail_ratio",
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pct(values: list[float], q: float) -> float:
    v = sorted(values)
    if not v:
        return 0.0
    return v[min(len(v) - 1, int(q * len(v)))]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _quartiles(values: list[float]) -> list[int]:
    """Min, quartiles and max, for the run log."""
    return [round(pct(values, q)) for q in (0.0, 0.25, 0.5, 0.75, 1.0)]


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class JobCounter:
    """Counts the Spark jobs, stages and tasks that finished since the
    last poll (ungrouped jobs, via the status tracker). Poll after
    every primary op; the status store keeps the last 100 jobs."""

    def __init__(self, spark) -> None:
        self.st = spark.sparkContext.statusTracker()
        self.seen = set(self.st.getJobIdsForGroup(None))
        self.jobs = self.stages = self.tasks = 0
        self._lock = threading.Lock()

    def poll(self) -> None:
        with self._lock:
            for j in self.st.getJobIdsForGroup(None):
                if j in self.seen:
                    continue
                self.seen.add(j)
                self.jobs += 1
                info = self.st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    si = self.st.getStageInfo(s)
                    self.stages += 1
                    self.tasks += si.numTasks if si else 0


class Timed:
    """What one timed loop measured: the latencies of each step of the
    workload's round, commit latencies, operations completed, wall
    time."""

    def __init__(self) -> None:
        self.steps: dict[Any, list[float]] = {}
        self.writes: list[float] = []
        self.ops = 0
        self.t0 = time.perf_counter()
        self.elapsed = 0.0

    def over(self, seconds: float) -> bool:
        return time.perf_counter() - self.t0 >= seconds

    def done(self) -> "Timed":
        self.elapsed = time.perf_counter() - self.t0
        return self

    def step(self, key: Any, ms: float) -> None:
        self.steps.setdefault(key, []).append(ms)

    def round_ms(self) -> float:
        """One round: every step once, each at its median latency.
        The sum of medians, not the median of round walls: a run has
        only 4-6 rounds, and a cut last round still counts."""
        return sum(median(v) for v in self.steps.values())


class Run:
    """State shared by one invocation: work dir, session, tracer."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str) -> None:
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer: Tracer | None = None
        self.spark = None
        self.setup_times: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.stale = 0
        self.t0 = time.perf_counter()
        self._lock = threading.Lock()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def attempt(self, what: str, fn: Callable[[], Any]) -> Any:
        """Run one operation; an engine error counts as a failed op,
        not a crash. Returns None when it raised."""
        with self._lock:
            self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - recorded, counted failed
            self.fail(f"{what} raised {type(e).__name__}: {e}"[:200])
            return None

    def fail(self, why: str) -> None:
        with self._lock:
            self.failed += 1
            if self.failed <= 20:
                log(f"FAIL {why}")

    def setups(self, one: Callable[[int], Any]) -> Any:
        """Run the workload's set-up SETUPS times, each on a fresh
        SparkSession (the JVM stays up) and into fresh directories;
        keep the last one's state. Traced runs record its spans."""
        from quack_reduce_spark import session

        if self.trace:
            self.tracer.install()  # set-up spans: session start, zone-map build
        try:
            out = None
            for i in range(SETUPS):
                if self.spark is not None:
                    self.spark.stop()
                t0 = time.perf_counter()
                self.spark = session.get_spark()
                out = one(i)
                self.setup_times.append(time.perf_counter() - t0)
                log(f"setup {i}: {self.setup_times[-1]:.2f}s")
        finally:
            if self.trace:
                self.tracer.uninstall()
        return out

    def peak_rss_mb(self) -> float:
        """Peak resident set of this driver process plus the JVM."""
        kb = _vm_hwm_kb(os.getpid())
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            kb += _vm_hwm_kb(proc.pid)
        return kb / 1024.0

    def e2e(self, t: Timed) -> dict[str, float]:
        return {
            "round_ms": t.round_ms(),
            "ops_per_s": t.ops / t.elapsed if t.elapsed > 0 else 0.0,
            "write_p50_ms": median(t.writes),
            "setup_s": median(self.setup_times),
            "peak_rss_mb": self.peak_rss_mb(),
        }

    def phases(self, loop: Callable[[float, JobCounter | None], Timed],
               ) -> tuple[dict[str, float], dict[str, float]]:
        """Timed loop with tracing off; in trace mode, then a second
        loop with the wrappers installed. Returns (end-to-end metrics
        of the untraced loop, per-layer metrics of the traced one)."""
        log(f"timed loop starts at {time.perf_counter() - self.t0:.1f}s")
        timed = loop(self.seconds, None)
        log(f"timed loop ends at {time.perf_counter() - self.t0:.1f}s: "
            f"{timed.ops} ops, {len(timed.writes)} commits; "
            f"round {timed.round_ms():.0f} ms, commit ms {_quartiles(timed.writes)}")
        log("samples " + json.dumps({"steps": {str(k): [round(x, 1) for x in v]
                                               for k, v in timed.steps.items()},
                                     "writes": [round(x, 1) for x in timed.writes],
                                     "elapsed": round(timed.elapsed, 3), "ops": timed.ops}))
        e2e = self.e2e(timed)
        if not self.trace:
            return e2e, {}
        jobs = JobCounter(self.spark)
        self.tracer.spans = [s for s in self.tracer.spans if s.root is None and s.op is None
                             and s.name in ("session.start", "zonemaps.build")]
        self.tracer.install()
        try:
            traced = loop(self.seconds, jobs)
        finally:
            self.tracer.uninstall()
        ops = max(1, traced.ops)
        lm = layer_metrics(self.tracer.spans, ops, SETUPS)
        lm["spark.jobs_per_op"] = jobs.jobs / ops
        lm["spark.stages_per_op"] = jobs.stages / ops
        lm["spark.tasks_per_op"] = jobs.tasks / ops
        lm["trace.round_ms"] = traced.round_ms()
        lm["trace.overhead_ratio"] = lm["trace.round_ms"] / e2e["round_ms"] if e2e["round_ms"] else 0.0
        self.tracer.dump(self.path("spans.jsonl"))
        return e2e, lm


class Appender:
    """The lake append path, the one write every workload times: Spark
    appends a staged delta to the table's directory, ``append_zonemap``
    stats the new file and ``Engine.register`` rebinds the view."""

    def __init__(self, run: Run, eng, name: str, path: str, cols: list[str]) -> None:
        self.run, self.eng, self.name, self.path, self.cols = run, eng, name, path, cols
        self.commits = 0

    def commit(self, delta: pa.Table) -> float:
        from quack_reduce_spark.operators import zonemaps

        self.commits += 1
        stage = self.run.path("stage", f"{self.name}{self.commits}.parquet")
        os.makedirs(os.path.dirname(stage), exist_ok=True)
        pq.write_table(delta, stage)
        spark = self.run.spark
        s = time.perf_counter()
        spark.read.parquet(stage).coalesce(1).write.mode("append").parquet(self.path)
        zonemaps.append_zonemap(spark, self.path, self.cols)
        self.eng.register(self.name, self.path)
        return (time.perf_counter() - s) * 1000.0


class EpochOracle:
    """DuckDB answers for lineitem after ``e`` commits (the base rows
    plus the first ``e`` deltas), next to the small tables. Answers
    that match only an older epoch are stale, the rest wrong."""

    def __init__(self, run: Run, small: dict[str, pa.Table], base: pa.Table,
                 deltas: list[pa.Table]) -> None:
        self.run, self.base, self.deltas = run, base, deltas
        self.con = oracle.connect(run.path("tmp"))
        oracle.register(self.con, small)
        self.con.register("li_base", base)
        self.epoch: int | None = None
        self.answers: dict[tuple[str, int], tuple] = {}

    def rows(self, sql: str, e: int) -> tuple:
        if (sql, e) not in self.answers:
            if self.epoch != e:
                self.con.register("li_delta", pa.concat_tables([self.base.slice(0, 0)] + self.deltas[:e]))
                self.con.execute("CREATE OR REPLACE VIEW lineitem AS "
                                 "SELECT * FROM li_base UNION ALL SELECT * FROM li_delta")
                self.epoch = e
            self.answers[(sql, e)] = oracle.rows(self.con, sql)
        return self.answers[(sql, e)]

    def check_all(self, what: str, checks: list[tuple[str, int, list]]) -> None:
        """``checks`` holds (sql, epoch, records) for every answer."""
        for sql, e, records in sorted(checks, key=lambda c: c[1]):
            if oracle.envelope_matches(records, *self.rows(sql, e)):
                continue
            if any(oracle.envelope_matches(records, *self.rows(sql, old)) for old in range(e)):
                self.run.stale += 1
                self.run.fail(f"{what} stale answer (epoch {e}): {sql[:80]}")
            else:
                self.run.fail(f"{what} wrong answer (epoch {e}): {sql[:80]}")
        self.con.close()


def _write_inputs(run: Run, tables: dict, names: list[str]) -> str:
    d = run.path("in")
    os.makedirs(d, exist_ok=True)
    for n in names:
        pq.write_table(tables[n], os.path.join(d, f"{n}.parquet"))
    return d


def _lake_setup(run: Run, inp: str) -> Callable[[int], Any]:
    """Corpus build (range-clustered lineitem + zone maps), MV and
    registration, into set-up ``i``'s own directory."""
    from quack_reduce_spark.engine import Engine

    def one(i: int):
        lake = run.path(f"lake{i}")
        if i > 0:
            shutil.rmtree(run.path(f"lake{i - 1}"), ignore_errors=True)
        eng = Engine(spark=run.spark)
        eng.write_clustered(
            run.spark.read.parquet(os.path.join(inp, "lineitem.parquet")),
            os.path.join(lake, "lineitem"), ["l_shipdate"],
            n_files=DASH_FILES, stats_cols=gen.ZONE_COLS,
        )
        eng.register("lineitem", os.path.join(lake, "lineitem"))
        for n in SMALL:
            eng.register(n, os.path.join(inp, f"{n}.parquet"))
        eng.create_materialized_view(
            "lineitem_mv", gen.MV_SQL, os.path.join(lake, "lineitem_mv")
        )
        return Appender(run, eng, "lineitem", os.path.join(lake, "lineitem"), gen.ZONE_COLS)

    return one


def _lineitem_deltas(run: Run, t: dict, first_key: int, app: Appender):
    """Commit ``k``: the seeded delta ``k``, appended through ``app``.
    Returns (commit function, the list of committed deltas)."""
    rows = max(4, int(t["lineitem"].num_rows * DELTA_SHARE))
    n_part, n_supp = t["part"].num_rows, t["supplier"].num_rows
    deltas: list[pa.Table] = []

    def commit() -> float:
        k = len(deltas) + 1
        delta = gen.append_delta(run.seed, k, rows, first_key + (k - 1) * rows, n_part, n_supp)
        ms = app.commit(delta)
        deltas.append(delta)
        return ms

    return commit, deltas


# -- dashboard_rw -----------------------------------------------------------

def dashboard_rw(run: Run) -> dict:
    t = gen.tables(run.seed, DASH_SF)
    inp = _write_inputs(run, t, ["lineitem"] + SMALL)
    app = run.setups(_lake_setup(run, inp))
    eng = app.eng
    commit, deltas = _lineitem_deltas(run, t, t["orders"].num_rows, app)

    widgets = gen.dashboard_widgets(run.seed, DASH_WIDGETS)
    refill = gen.dashboard_refill(DASH_WIDGETS, DASH_BURST)
    checks: list[tuple[str, int, list]] = []
    member_ms: dict[str, list[float]] = {"hit": [], "miss": []}
    parallelism: list[float] = []
    cycle = [0]

    def burst(picks: list[int], jobs: JobCounter | None) -> float | None:
        epoch = len(deltas)
        s = time.perf_counter()
        res = run.attempt("dashboard_rw burst",
                          lambda: eng.sql_many([widgets[i] for i in picks], max_threads=DASH_BURST))
        wall = (time.perf_counter() - s) * 1000.0
        if res is None:
            return None
        if jobs is not None:
            jobs.poll()
        for i, r in zip(picks, res):
            checks.append((widgets[i], epoch, r.records))
            hit = bool((r.metadata.get("result_cache") or {}).get("hit"))
            member_ms["hit" if hit else "miss"].append(float(r.metadata["timeMs"]))
        parallelism.append(sum(float(r.metadata["timeMs"]) for r in res) / wall if wall else 0.0)
        return wall

    def one_cycle(timed: Timed | None, jobs: JobCounter | None) -> None:
        """A commit; then the refresh it triggers; then the re-fired
        bursts, one after another from the one client."""
        cycle[0] += 1
        ms = run.attempt("dashboard_rw commit", commit)
        if timed is not None and ms is not None:
            timed.writes.append(ms)
        refires = gen.dashboard_refires(cycle[0], DASH_WIDGETS, DASH_BURST, DASH_REFIRES)
        for n, p in enumerate(refill + refires):
            wall = burst(p, jobs)
            if timed is not None and wall is not None:
                timed.ops += 1
                if n < len(refill):
                    timed.step(n, wall)

    for _ in range(WARM_CYCLES):
        one_cycle(None, None)

    def loop(seconds: float, jobs: JobCounter | None) -> Timed:
        timed = Timed()
        first = cycle[0]
        while cycle[0] - first < MIN_CYCLES or not timed.over(seconds):
            one_cycle(timed, jobs)
        return timed.done()

    e2e, lm = run.phases(loop)
    hits, misses = member_ms["hit"], member_ms["miss"]
    log(f"dashboard_rw: {len(hits)} hits / {len(misses)} misses over {len(deltas)} commits")
    EpochOracle(run, {k: t[k] for k in SMALL}, t["lineitem"], deltas).check_all("dashboard_rw", checks)
    log(f"dashboard_rw: checked {len(checks)} answers, stale {run.stale}")
    if lm:
        lm["engine.hit_ms_p50"] = median(hits)
        lm["engine.miss_ms_p50"] = median(misses)
        lm["engine.burst_parallelism"] = median(parallelism)
    return {"e2e": e2e, "layers": lm}


# -- registry_batch -----------------------------------------------------------

def registry_batch(run: Run) -> dict:
    from quack_reduce_spark import sources
    from quack_reduce_spark.engine import Engine
    from quack_reduce_spark.inventory import all_oracles, all_queries

    t = gen.tables(run.seed, REGISTRY_SF, text=True)
    sf_dir = _write_inputs(run, t, list(t))
    keys = gen.registry_order(run.seed)

    def one(i: int):
        builders = all_queries()
        for name in t:
            sources.read_parquet_table(run.spark, os.path.join(sf_dir, f"{name}.parquet"))
        # the pipeline's run log: one row per op, zone-mapped on op
        eng = Engine(spark=run.spark)
        path = run.path(f"runlog{i}")
        first = run.path(f"runlog{i}.parquet")
        pq.write_table(gen.run_log([(0, "start", 0)]), first)
        eng.write_clustered(run.spark.read.parquet(first), path, ["op"],
                            n_files=1, stats_cols=["op"])
        eng.register("runs", path)
        return builders, Appender(run, eng, "runs", path, ["op"])

    builders, app = run.setups(one)
    oracles = all_oracles()
    t_warm = time.perf_counter()

    # the DuckDB answers are computed on a side thread while Spark runs
    # the warm-up pass (neither is timed)
    con = oracle.connect(run.path("tmp"))
    oracle.register(con, t)
    with concurrent.futures.ThreadPoolExecutor(1) as side:
        want = {k: side.submit(oracle.rows_df, con, oracles[k]) for k in keys if k in oracles}
        warm: dict[str, int] = {}
        got: dict[str, tuple] = {}
        for k in keys:  # warm-up pass: every builder once, its rows for the oracle
            df = run.attempt(f"registry_batch {k}", lambda k=k: builders[k](run.spark, sf_dir))
            if df is None:
                continue
            got[k] = (df.columns, [r.asDict(recursive=True) for r in df.collect()])
            warm[k] = len(got[k][1])
        for k in keys:
            why = oracle.registry_matches(*want[k].result(), *got[k]) if k in want and k in got else None
            if why:
                run.fail(f"registry_batch {k}: {why}")
    con.close()
    log(f"registry_batch warm-up pass and oracle: {time.perf_counter() - t_warm:.1f}s")

    build_ms: list[float] = []
    exec_ms: list[float] = []
    logged: list[tuple[int, str, int]] = []
    pending: list[tuple[int, str, int]] = []
    n_op = [0]

    def flush(timed: Timed | None) -> None:
        ms = run.attempt("registry_batch run-log commit", lambda: app.commit(gen.run_log(pending)))
        if ms is not None:
            logged.extend(pending)
            if timed is not None:
                timed.writes.append(ms)
        pending.clear()

    pending.extend((0, k, warm.get(k, 0)) for k in keys[:REG_LOG_EVERY])
    flush(None)  # warm-up: the commit path once

    def op(k: str) -> tuple[float, int]:
        df = builders[k](run.spark, sf_dir)
        return time.perf_counter(), df.count()

    def loop(seconds: float, jobs: JobCounter | None) -> Timed:
        """Seed-ordered rounds over the keys until ``seconds`` are up,
        at least one whole round."""
        timed = Timed()
        i = 0
        while i < len(keys) or not timed.over(seconds):
            k = keys[i % len(keys)]
            i += 1
            n_op[0] += 1
            if run.tracer is not None:
                run.tracer.set_op(n_op[0])
            s = time.perf_counter()
            out = run.attempt(f"registry_batch {k}", lambda k=k: op(k))
            e = time.perf_counter()
            if out is None:
                continue
            m, n = out
            timed.ops += 1
            timed.step(k, (e - s) * 1000.0)
            if jobs is not None:
                build_ms.append((m - s) * 1000.0)
                exec_ms.append((e - m) * 1000.0)
                jobs.poll()
            if n != warm.get(k):
                run.fail(f"registry_batch {k}: count {n} != warm-up {warm.get(k)}")
            pending.append((n_op[0], k, n))
            if len(pending) == REG_LOG_EVERY:
                flush(timed)
        return timed.done()

    e2e, lm = run.phases(loop)
    if pending:
        flush(None)
    # the run log must hold every committed row
    res = run.attempt("registry_batch run-log read", lambda: app.eng.sql(
        "SELECT COUNT(*) AS n_rows, SUM(n) AS total FROM runs"))
    want_log = [{"n_rows": len(logged) + 1, "total": sum(r[2] for r in logged)}]
    if res is not None and res.records != want_log:
        run.fail(f"registry_batch run log {res.records} != {want_log}")
    if lm:
        lm["inventory.build_ms"] = median(build_ms)
        lm["inventory.exec_ms"] = median(exec_ms)
    return {"e2e": e2e, "layers": lm}


WORKLOADS = {
    "dashboard_rw": dashboard_rw,
    "registry_batch": registry_batch,
}
