"""The control loop (§3.1): poll → claim → execute → publish, as
micro-batch cycles over a JobStore.

Maps the reference's daemon loop (encodesrv/__init__.py:54-141) onto
Spark:

* threads + queue.Queue      → Spark task scheduling over the claimed
                               batch (a local relation: one job per task)
* per-row UPDATE statements  → keyed upserts on the JobStore
* 60 s sleep / 300 s backoff → injectable clock+sleeper (testable);
                               the Structured Streaming twin uses
                               trigger(processingTime='60 seconds')
* >1 day watchdog            → driver-side staleness check (ST6)

Admission control (ST2): the reference claims `1 - qsize` jobs per
poll — at most one per minute.  That throttle is an artifact of its
single-queue design (SURVEY §7.3.3); here the claim limit is
`max_concurrent - in_flight`, preserving the backpressure *intent*
(never over-claim) without the accidental 1/min ceiling.

Materialization and commits follow the JobStore rule: each frame a
cycle passes between commits is bounded by its `k` claimed rows, so the
claimed batch (inside `state.claim_jobs`), the results and the
crash-reset rows are collected once, where they are produced, into a
driver-held local relation (`state.local_frame`); every commit goes
through `state.retry_commit`.  The formats dimension is collected the
same way once, when the `Scheduler` is built, so an edit to the formats
table takes effect on restart.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from encodesrv_spark.jobs import state
from encodesrv_spark.jobs.pools import run_claimed_by_pool
from encodesrv_spark.jobs.process import ProcessConfig, run_claimed_jobs
from encodesrv_spark.jobs.state import JobStore


@dataclass
class SchedulerConfig:
    server: str = "Encode Server"
    mount_prefix: str = ""
    max_concurrent: int = 4
    poll_interval_s: float = 60.0
    backoff_s: float = 300.0
    watchdog: timedelta = timedelta(days=1)
    # execute each claimed batch as per-ef_priority-band concurrent
    # actions pinned to weighted FAIR pools (jobs/pools.py) — on a
    # FAIR-mode cluster high-priority encodes get weighted executor
    # share; under FIFO it degrades to the unpooled behavior
    fair_pools: bool = False


@dataclass
class Scheduler:
    """The poll→claim→execute→publish loop over `jobs`.  `formats` is
    read once, here: encode_formats is a static dimension (§1.2), so a
    format edit takes effect when the scheduler restarts."""

    spark: SparkSession
    jobs: JobStore
    formats: DataFrame
    video_files: JobStore | None = None
    process_cfg: ProcessConfig = field(default_factory=ProcessConfig)
    cfg: SchedulerConfig = field(default_factory=SchedulerConfig)
    clock: Callable[[], datetime] = datetime.utcnow
    sleeper: Callable[[float], None] = time.sleep

    def __post_init__(self) -> None:
        self.formats = state.local_frame(self.formats)

    def startup_reset(self) -> int:
        """ST5 crash recovery: my in-flight, non-Error rows →
        'Not Encoding'."""
        updates = state.local_frame(
            state.crash_reset_updates(self.jobs.read(), self.cfg.server)
        )
        n = len(updates.collect())
        if n:
            state.retry_commit(lambda: self.jobs.upsert(updates, ["status"]), "crash reset")
        return n

    def run_cycle(self, free_slots: int | None = None) -> DataFrame | None:
        """One poll→claim→execute→publish micro-batch.  Returns the
        result frame (or None when nothing was claimed)."""
        if free_slots is None:
            free_slots = self.cfg.max_concurrent
        # exactly-once claim: conditional MERGE + optimistic CAS commit,
        # retried on conflict — safe even with multiple servers polling
        # the same store (ST3, SURVEY §7.3.1)
        candidates = state.claim_jobs(self.jobs, self.cfg.server, free_slots)
        if candidates.isEmpty():
            return None
        claimed = state.rewrite_mounts(candidates, self.cfg.mount_prefix)

        # J1: broadcast FK join to formats, NULL→'' coalesce done by
        # the argv layer.  The local batch holds one row per partition
        # up to the core count, so each job is its own task (the Spark
        # analog of the reference's thread pool, ST8)
        with_fmt = claimed.join(
            F.broadcast(self.formats), claimed.format_id == self.formats.id_fmt
        )
        # the stages run exactly once, here; both publishes read this
        if self.cfg.fair_pools:
            results = run_claimed_by_pool(with_fmt, self.process_cfg)
        else:
            results = state.local_frame(run_claimed_jobs(with_fmt, self.process_cfg))

        # terminal status upserts (S8 sink): another server's racing
        # claim commit must not drop our Done/Error rows
        terminal = results.select("id", F.col("final_status").alias("status"))
        state.retry_commit(lambda: self.jobs.upsert(terminal, ["status"]), "terminal status")
        # video_files publish (J2/S11)
        if self.video_files is not None:
            vf_updates = state.video_files_updates(
                results.filter(F.col("final_status").isin("Done", "Encoded"))
            )
            if not vf_updates.isEmpty():
                state.retry_commit(
                    lambda: self.video_files.upsert(vf_updates, ["is_enabled", "size"]),
                    "video_files publish",
                )
        return results

    def loop(self, max_cycles: int) -> None:
        """The daemon loop with backoff + watchdog (ST6).  `max_cycles`
        bounds the run (the reference loops forever)."""
        last_success = self.clock()
        for _ in range(max_cycles):
            try:
                self.run_cycle()
                last_success = self.clock()
                self.sleeper(self.cfg.poll_interval_s)
            except Exception:
                if self.clock() - last_success > self.cfg.watchdog:
                    raise  # reference: critical log + daemon exit
                self.sleeper(self.cfg.backoff_s)


def prepare_formats(formats: DataFrame) -> DataFrame:
    """Rename the dimension key so the FK join is unambiguous."""
    return formats.withColumnRenamed("id", "id_fmt")
