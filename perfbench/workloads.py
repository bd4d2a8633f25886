"""The benchmark's workloads.  Each returns a `Result`: operation counts,
check problems, end-to-end metrics and (traced runs) per-layer metrics.

* job_drain   closed loop: `run_cycle` back to back until a backlog
              queued beside 10^5 history rows is empty; near-free stages.
* query_mix   closed loop: whole passes over 22 registry queries in a
              seeded order, each run to completion with the noop sink.
"""

from __future__ import annotations

import dataclasses
import os
import statistics
import subprocess
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import checks, inputs, stubs
from perfbench.tracing import JobCounter, Tracer

SETUP_REPS = 3  # input generation is repeated and its median kept
QUERY_SCALE = 0.5  # query tables at half the test data's sf0.01 (30k lineitem rows)
QUERY_DATA_SEED = 42  # fixed: a run's seed sets the query order, not the tables
QUERY_CLIENTS = 2  # concurrent closed-loop clients, each with its own order

# job_drain: 10^5 history rows; crash recovery hands back
# DRAIN_WARM_CYCLES claims' worth of jobs, worked off before timing; the
# pending backlog is one claim of `nproc` jobs per DRAIN_CYCLE_HINT_S of
# --seconds, so the seed commit drains it in about --seconds
DRAIN_HISTORY = 100_000
DRAIN_WARM_CYCLES = 1
DRAIN_CYCLE_HINT_S = 3.0
# near-free stages: CPU units (about 5 us each) per call
STAGE_UNITS = {"encode": 2_000, "loudness": 1_000, "mp4box": 500}


@dataclasses.dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = dataclasses.field(default_factory=list)
    e2e: dict[str, float] = dataclasses.field(default_factory=dict)
    layers: dict[str, float] = dataclasses.field(default_factory=dict)
    notes: dict[str, object] = dataclasses.field(default_factory=dict)


def pct(values: list[float], q: int) -> float:
    """Percentile `q` (1..99), interpolated between the nearest ranks;
    0 for an empty list."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus the Spark JVM (VmHWM)."""
    from pyspark import SparkContext

    pids = [os.getpid()]
    gw = SparkContext._gateway
    if gw is not None and getattr(gw, "proc", None) is not None:
        pids.append(gw.proc.pid)
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total_kb / 1024.0


class Session:
    """The Spark session plus the registry, started (and traced) the way
    every workload needs them."""

    def __init__(self, tracer: Tracer | None) -> None:
        from encodesrv_spark import session
        from encodesrv_spark.plans import registry

        if tracer is not None:
            tracer.wrap(session, "get_spark", "session.start")
            tracer.wrap(registry, "all_queries", "plans.registry_import")
        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        self.start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.queries = registry.all_queries()
        self.registry_import_s = time.perf_counter() - t0
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])

    def stop(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _median_timed(fn, reps: int = SETUP_REPS):
    """Run `fn` `reps` times; return (last result, median seconds)."""
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return out, statistics.median(times)


# --- job pipeline ------------------------------------------------------------


def _write_job_table(path: str, jobs: list[inputs.Job]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "id": pa.array([j.id for j in jobs], pa.int64()),
                "source_file": pa.array([j.source_file for j in jobs], pa.string()),
                "destination_file": pa.array([j.destination_file for j in jobs], pa.string()),
                "format_id": pa.array([j.format_id for j in jobs], pa.int32()),
                "status": pa.array([j.status for j in jobs], pa.string()),
                "video_id": pa.array([j.video_id for j in jobs], pa.int64()),
                "working_directory": pa.nulls(len(jobs), pa.string()),
                "user_id": pa.nulls(len(jobs), pa.int64()),
                "priority": pa.array([j.priority for j in jobs], pa.float64()),
            }
        ),
        path,
    )


def _write_video_table(path: str, jobs: list[inputs.Job]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    vids = [j.video_id for j in jobs if j.video_id is not None]
    pq.write_table(
        pa.table(
            {
                "id": pa.array(vids, pa.int64()),
                "is_enabled": pa.array([False] * len(vids), pa.bool_()),
                "size": pa.nulls(len(vids), pa.int64()),
            }
        ),
        path,
    )


class JobRig:
    """A job store, a video_files store, sources on disk and a scheduler
    wired to recording stubs, all under `root`."""

    def __init__(self, spark, root: str, seed: int, job_inputs: inputs.JobInputs,
                 slots: int) -> None:
        from encodesrv_spark.jobs.process import ProcessConfig
        from encodesrv_spark.jobs.scheduler import Scheduler, SchedulerConfig, prepare_formats
        from encodesrv_spark.jobs.schema import ENCODE_FORMATS_SCHEMA
        from encodesrv_spark.jobs.state import JobStore

        self.seed, self.inputs = seed, job_inputs
        self.media = os.path.join(root, "media")
        self.spans_dir = os.path.join(root, "stage_spans")
        os.makedirs(os.path.join(root, "scratch"), exist_ok=True)
        inputs.write_sources(seed, job_inputs.owned, self.media)
        _write_job_table(os.path.join(root, "jobs_init.parquet"), job_inputs.all_jobs)
        _write_video_table(os.path.join(root, "video_init.parquet"), job_inputs.all_jobs)
        self.jobs = JobStore(spark, os.path.join(root, "jobs"))
        self.jobs.init(spark.read.parquet(os.path.join(root, "jobs_init.parquet")))
        self.video_files = JobStore(spark, os.path.join(root, "video_files"))
        self.video_files.init(spark.read.parquet(os.path.join(root, "video_init.parquet")))
        formats = prepare_formats(
            spark.createDataFrame(inputs.format_rows(), ENCODE_FORMATS_SCHEMA)
        )
        self.scheduler = Scheduler(
            spark=spark,
            jobs=self.jobs,
            formats=formats,
            video_files=self.video_files,
            process_cfg=ProcessConfig(
                server=inputs.SERVER,
                scratch_root=os.path.join(root, "scratch"),
                **stubs.stages(self.spans_dir, **STAGE_UNITS),
            ),
            cfg=SchedulerConfig(
                server=inputs.SERVER, mount_prefix=root + "/", max_concurrent=slots
            ),
        )

    def cycle(self) -> list[int]:
        """One `run_cycle`; returns the ids of the jobs it finished."""
        res = self.scheduler.run_cycle()
        return [] if res is None else [r[0] for r in res.select("id").collect()]

    def check(self) -> list[str]:
        statuses = {r[0]: r[1] for r in self.jobs.read().select("id", "status").collect()}
        vf = {r[0]: (r[1], r[2]) for r in self.video_files.read().collect()}
        return checks.check_jobs(self.seed, self.inputs.owned, self.inputs.history, statuses, vf,
                                 self.media, stubs.read_spans(self.spans_dir))


def _trace_job_layers(tracer: Tracer) -> None:
    from encodesrv_spark.jobs import scheduler, state

    tracer.wrap(state, "claim_jobs", "state.claim")
    tracer.wrap(state.JobStore, "upsert", "state.upsert")
    tracer.wrap(scheduler.Scheduler, "run_cycle", "scheduler.run_cycle")
    tracer.wrap(scheduler.Scheduler, "startup_reset", "scheduler.startup_reset")


def _stage_spans_in(spans: list[dict], start: float, end: float) -> list[dict]:
    return [s for s in spans if start <= s["start"] <= end]


def _exec_span(inside: list[dict]) -> float:
    """Wall time from the first stage start to the last stage end."""
    return max(s["end"] for s in inside) - min(s["start"] for s in inside) if inside else 0.0


def _stage_layers(spans: list[dict], cycles: list[tuple[float, float, list[int]]],
                  slots: int) -> dict[str, float]:
    """process.* metrics from the stub spans of the timed cycles
    (start, end, job ids on the wall clock)."""
    busy = dict.fromkeys(("copy", "loudness", "encode", "mp4box", "publish"), 0.0)
    exec_spans, slot_time, waits = [], 0.0, []
    for start, end, _ in cycles:
        inside = _stage_spans_in(spans, start, end)
        if not inside:
            continue
        for s in inside:
            busy[s["stage"]] += s["end"] - s["start"]
        lo = min(s["start"] for s in inside)
        exec_spans.append(_exec_span(inside))
        slot_time += exec_spans[-1] * slots
        first: dict[int, float] = {}
        for s in inside:
            first[s["job"]] = min(first.get(s["job"], s["start"]), s["start"])
        waits.extend(t - lo for t in first.values())
    out = {f"process.busy_s.{k}": v for k, v in busy.items()}
    out["process.exec_span_s"] = mean(exec_spans)
    out["process.slot_utilization"] = sum(busy.values()) / slot_time if slot_time else 0.0
    out["process.task_wait_s"] = mean(waits)
    return out


def _job_trace_layers(tracer: Tracer, spans: list[dict], cycles, cycle_spark_jobs: list[int],
                      since: float, cpus: int) -> dict[str, float]:
    """Per-layer metrics of the timed window (spans starting at `since`)."""
    timed = [s for s in tracer.spans if s[2] is not None and s[1] >= since]

    def durs(name: str) -> list[float]:
        return [s[2] - s[1] for s in timed if s[0] == name and s[5]]

    layers = _stage_layers(spans, cycles, cpus)
    upserts = [s for s in timed if s[0] == "state.upsert"]
    publish = [s[2] - s[1] for s in upserts
               if s[5] and s[3] >= 0 and tracer.spans[s[3]][0] == "scheduler.run_cycle"]
    busy_cycles = [(s, e, ids) for s, e, ids in cycles if ids]
    jobs_done = sum(len(ids) for _, _, ids in busy_cycles)
    commits = sum(1 for s in upserts if s[5])
    walls = [e - s for s, e, _ in busy_cycles]
    overheads = [(e - s) - _exec_span(_stage_spans_in(spans, s, e)) for s, e, _ in busy_cycles]
    return {
        **layers,
        "state.claim_s": mean(durs("state.claim")),
        "state.publish_upsert_s": mean(publish),
        "state.commits_per_job": commits / jobs_done if jobs_done else 0.0,
        "scheduler.cycle_p50_s": pct(walls, 50),
        "scheduler.cycle_p90_s": pct(walls, 90),
        "scheduler.overhead_s": mean(overheads),
        "scheduler.spark_jobs_per_cycle": mean(
            [float(n) for n, (_, _, ids) in zip(cycle_spark_jobs, cycles) if ids]
        ),
        "scheduler.jobs_per_cycle": jobs_done / len(busy_cycles) if busy_cycles else 0.0,
        "scheduler.startup_reset_s": mean(tracer.durations("scheduler.startup_reset")),
    }


def _drain_run(sess: Session, tracer: Tracer | None, seed: int, seconds: float,
               work: str) -> Result:
    """Closed loop: `run_cycle` back to back until the pending backlog is
    empty.  Every pending job is due when the loop starts, so a job's
    latency is the time until the cycle that published it ended."""
    res = Result()
    slots = sess.cpus
    n_pending = slots * max(2, round(seconds / DRAIN_CYCLE_HINT_S))
    ji, gen_s = _median_timed(
        lambda: inputs.job_inputs(seed, DRAIN_HISTORY, DRAIN_WARM_CYCLES * slots, n_pending)
    )
    if tracer is not None:
        _trace_job_layers(tracer)
    t0 = time.perf_counter()
    rig = JobRig(sess.spark, os.path.join(work, "jobs"), seed, ji, slots)
    init_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    recovered = rig.scheduler.startup_reset()
    reset_s = time.perf_counter() - t0
    if recovered != len(ji.crashed):
        res.problems.append(f"startup_reset recovered {recovered} rows, not {len(ji.crashed)}")
    # warm-up: work off as many full claims as crash recovery handed back,
    # so exactly `n_pending` jobs remain for the timed loop
    t0 = time.perf_counter()
    for _ in range(DRAIN_WARM_CYCLES):
        rig.cycle()
    warm_s = time.perf_counter() - t0
    setup = {"generate_s": gen_s, "init_s": init_s, "reset_s": reset_s, "warm_s": warm_s}

    counter = JobCounter(sess.spark.sparkContext, tracer) if tracer else None
    cycles: list[tuple[float, float, list[int]]] = []  # (start, end, ids), wall clock
    spark_jobs: list[int] = []
    done_at: dict[int, float] = {}  # job id -> seconds after t0
    wall0 = time.time()
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < 3 * seconds + 30:
        group = counter.begin("cycle") if counter else None
        c_start = time.time()
        try:
            ids = rig.cycle()
        except Exception as exc:  # noqa: BLE001 - a failed cycle is a failed operation
            res.problems.append(f"run_cycle raised {type(exc).__name__}: {exc}")
            break
        cycles.append((c_start, time.time(), ids))
        if counter:
            spark_jobs.append(counter.count(group))
        if not ids:
            break
        t_done = time.perf_counter() - t0
        done_at.update(dict.fromkeys(ids, t_done))
    window = max(done_at.values(), default=time.perf_counter() - t0)

    res.problems += rig.check()
    res.attempted = len(ji.owned)
    res.failed = min(res.attempted, len(res.problems))
    latencies = list(done_at.values())
    res.e2e = {
        "setup_s": sess.start_s + sess.registry_import_s + sum(setup.values()),
        "ops_per_s": len(done_at) / window,
        "latency_p50_s": pct(latencies, 50),
        "latency_p90_s": pct(latencies, 90),
        "peak_rss_mb": peak_rss_mb(),
    }
    res.notes = {"jobs": len(done_at), "cycles": len(cycles), "window_s": window,
                 "latency_samples": len(latencies), "setup": setup}
    if tracer is not None:
        res.layers = {
            **_job_trace_layers(tracer, stubs.read_spans(rig.spans_dir), cycles, spark_jobs,
                                wall0, sess.cpus),
            "session.start_s": sess.start_s,
            "plans.registry_import_s": sess.registry_import_s,
            "latency_samples": float(len(latencies)),
            "trace.overhead_share": tracer.self_time / window,
        }
    return res


# --- query mix ---------------------------------------------------------------


def _check_queries(sess: Session, data_dir: str, names: list[str]) -> list[str]:
    """Run each query once (collecting its rows) and compare it with its
    DuckDB oracle.  Doubles as the warm-up pass."""
    import duckdb

    from encodesrv_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")

    def one(name: str, cur) -> list[str]:
        q = sess.queries[name]
        try:
            df = q.fn(sess.spark, data_dir)
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
        except Exception as exc:  # noqa: BLE001 - recorded as a failed check
            return [f"{name}: spark raised {type(exc).__name__}: {exc}"]
        if q.oracle is None:
            return []
        try:
            res = cur.execute(q.oracle)
            want_cols, want_rows = [d[0] for d in res.description], res.fetchall()
        except duckdb.Error as exc:
            return [f"{name}: oracle raised {type(exc).__name__}: {exc}"]
        return checks.compare_result(name, cols, rows, want_cols, want_rows)

    cursors = [con.cursor() for _ in names]  # one DuckDB connection per query
    with ThreadPoolExecutor(max_workers=sess.cpus) as pool:
        results = list(pool.map(one, names, cursors))
    for cur in cursors:
        cur.close()
    con.close()
    return [p for r in results for p in r]


def _query_run(sess: Session, tracer: Tracer | None, seed: int, seconds: float,
               work: str) -> Result:
    """Closed loop with QUERY_CLIENTS clients: whole passes over the query
    mix in seeded orders until each client has spent `seconds` in queries."""
    res = Result()
    data_dir = os.path.join(work, "tables")
    _, gen_s = _median_timed(
        lambda: inputs.write_query_tables(QUERY_DATA_SEED, data_dir, QUERY_SCALE)
    )
    t0 = time.perf_counter()
    # longest queries first, so the parallel check pass ends sooner
    res.problems += _check_queries(
        sess, data_dir, list(inputs.MULTI_ACTION_QUERIES + inputs.HEADLINE_QUERIES)
    )
    warm_s = time.perf_counter() - t0
    counter = JobCounter(sess.spark.sparkContext, tracer) if tracer else None

    sess.spark.sparkContext._jvm.System.gc()  # start timing from a collected heap
    lat: dict[str, list[float]] = {n: [] for n in inputs.QUERY_MIX}
    build_s, action_s, build_jobs, total_jobs = [], [], [], []
    executed = []

    def client(i: int) -> None:
        """One closed-loop client: whole passes in its own seeded orders
        until it has spent `seconds` inside queries."""
        busy = 0.0
        for order in inputs.query_order(seed, passes=64, client=i):
            if busy >= seconds:
                return
            for name in order:
                q = sess.queries[name]
                executed.append(name)
                t0 = time.perf_counter()
                try:
                    if tracer is None:
                        q.fn(sess.spark, data_dir).write.mode("overwrite").format("noop").save()
                    else:
                        g_build = counter.begin(f"{name}-build")
                        span = tracer.open("plans.build")
                        df = q.fn(sess.spark, data_dir)
                        tracer.close(span)
                        t_mid = time.perf_counter()
                        g_act = counter.begin(f"{name}-action")
                        span = tracer.open("plans.action")
                        df.write.mode("overwrite").format("noop").save()
                        tracer.close(span)
                        build_s.append(t_mid - t0)
                        action_s.append(time.perf_counter() - t_mid)
                        nb = counter.count(g_build)
                        build_jobs.append(nb)
                        total_jobs.append(nb + counter.count(g_act))
                except Exception as exc:  # noqa: BLE001 - a failed query is a failed operation
                    res.problems.append(f"{name}: raised {type(exc).__name__}: {exc}")
                    busy += time.perf_counter() - t0
                    continue
                lat[name].append(time.perf_counter() - t0)
                busy += lat[name][-1]

    t_start = time.perf_counter()
    with ThreadPoolExecutor(max_workers=QUERY_CLIENTS) as pool:
        for f in [pool.submit(client, i) for i in range(QUERY_CLIENTS)]:
            f.result()
    window = time.perf_counter() - t_start
    n_exec = len(executed)

    all_lat = [x for v in lat.values() for x in v]
    res.attempted = n_exec + len(inputs.QUERY_MIX)
    res.failed = min(res.attempted, len(res.problems))
    res.e2e = {
        "setup_s": sess.start_s + sess.registry_import_s + gen_s + warm_s,
        "ops_per_s": len(all_lat) / window,
        "latency_p50_s": pct(all_lat, 50),
        "latency_p90_s": pct(all_lat, 90),
        "peak_rss_mb": peak_rss_mb(),
    }
    res.notes = {"executions": n_exec, "window_s": window, "latency_samples": len(all_lat),
                 "setup": {"generate_s": gen_s, "check_and_warm_s": warm_s},
                 "query_s": {n: statistics.median(v) for n, v in lat.items() if v}}
    if tracer is not None:
        layers = {
            "session.start_s": sess.start_s,
            "plans.registry_import_s": sess.registry_import_s,
            "plans.build_s": mean(build_s),
            "plans.build_spark_jobs": mean([float(x) for x in build_jobs]),
            "plans.action_s": mean(action_s),
            "plans.spark_jobs": mean([float(x) for x in total_jobs]),
            "latency_samples": float(len(all_lat)),
            "trace.overhead_share": tracer.self_time / window,
        }
        for name, v in lat.items():
            layers[f"query.{name}.s"] = statistics.median(v) if v else 0.0
        res.layers = layers
    return res


WORKLOADS = {"job_drain": _drain_run, "query_mix": _query_run}


def run(name: str, seed: int, seconds: float, trace: bool, work: str, trace_out: str) -> Result:
    """Run one workload with its inputs under `work`; a traced run writes
    its spans to `trace_out`.  Spark is stopped however the run ends."""
    tracer = Tracer(f"{name}-{seed}") if trace else None
    sess = Session(tracer)
    try:
        return WORKLOADS[name](sess, tracer, seed, seconds, work)
    finally:
        if tracer is not None:
            tracer.restore()
            tracer.write(trace_out)
        sess.stop()
