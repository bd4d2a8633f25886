"""FAIR-scheduler pool dispatch for claimed jobs — the ST8
generalization (SURVEY §2.9, VERDICT r05 #7).

The reference claims jobs in priority order
(`/root/reference/encodesrv/__init__.py:103` — ``ORDER BY priority
DESC LIMIT 1-qsize``) but then executes them through one
undifferentiated thread pool: a high-priority encode enqueued behind a
slow two-pass job still waits its full turn.  Its format dimension
carries ``ef_priority`` (`/root/reference/schema.sql`) for exactly this
distinction, unused beyond the schema.

Here the column maps onto Spark's native mechanism for weighted
resource sharing between CONCURRENT actions: FAIR scheduler pools.
Each claimed micro-batch splits into priority bands; each band's
execution runs as its own concurrent action from its own thread, pinned
to a weighted pool via the ``spark.scheduler.pool`` thread-local
property.  On a FAIR-mode cluster (``spark.scheduler.mode=FAIR`` plus
the allocation file this module generates) a high band receives a 4×
weighted share of executor slots and a ``minShare`` floor, so urgent
encodes start immediately even while a wide low-priority band is
running — at 1000 executors this is the difference between "priority"
meaning claim order only and meaning end-to-end latency.  Under the
default FIFO mode the pool property is simply ignored, so the dispatch
degrades gracefully to the unpooled behavior and is safe to enable
unconditionally.

PySpark's pinned-thread mode (default since 3.2) maps each Python
thread to its own JVM thread, so per-thread ``setLocalProperty`` is
exactly the per-action isolation the FAIR scheduler expects.
"""

from __future__ import annotations

import logging
import threading
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from encodesrv_spark.jobs.process import ProcessConfig, run_claimed_jobs
from encodesrv_spark.jobs.state import local_frame

log = logging.getLogger(__name__)

# pool name -> (weight, minShare): weights set the steady-state slot
# ratio between non-empty pools; minShare guarantees the high band a
# foothold even when a wide lower band is already running.
POOLS: dict[str, tuple[int, int]] = {
    "ef-high": (4, 2),
    "ef-normal": (2, 1),
    "ef-low": (1, 0),
}

_HIGH_THRESHOLD = 2  # ef_priority >= 2 -> high, 1 -> normal, else low

# The banding rule, stated ONCE: first floor an ef_priority meets wins;
# NULL / below-every-floor lands in the default pool.  Both the scalar
# (tests, docs) and the Column (production routing) forms derive from
# this table, so the rule cannot drift between them.
_BANDS: tuple[tuple[int, str], ...] = (
    (_HIGH_THRESHOLD, "ef-high"),
    (1, "ef-normal"),
)
_DEFAULT_POOL = "ef-low"


def pool_for(ef_priority: int | None) -> str:
    """Band an ``ef_priority`` value into a scheduler pool name.
    NULL (formats predating the column) lands in the low band, matching
    the reference's behavior of giving unprioritized work no boost."""
    if ef_priority is not None:
        for floor, name in _BANDS:
            if ef_priority >= floor:
                return name
    return _DEFAULT_POOL


def pool_column(df: DataFrame) -> DataFrame:
    """Tag each claimed row with its execution pool (the same
    :data:`_BANDS` table as :func:`pool_for`, as a codegen'd
    conditional — no UDF)."""
    if "ef_priority" not in df.columns:
        return df.withColumn("__pool", F.lit(_DEFAULT_POOL))
    p = F.col("ef_priority")
    col = None
    for floor, name in _BANDS:
        cond, lit = p >= floor, F.lit(name)
        col = F.when(cond, lit) if col is None else col.when(cond, lit)
    return df.withColumn("__pool", col.otherwise(F.lit(_DEFAULT_POOL)))


def allocation_xml() -> str:
    """The fairscheduler.xml matching :data:`POOLS` — point
    ``spark.scheduler.allocation.file`` at a file holding this and set
    ``spark.scheduler.mode=FAIR`` when building the session."""
    pools = "\n".join(
        f"  <pool name=\"{name}\">\n"
        f"    <schedulingMode>FAIR</schedulingMode>\n"
        f"    <weight>{weight}</weight>\n"
        f"    <minShare>{min_share}</minShare>\n"
        f"  </pool>"
        for name, (weight, min_share) in POOLS.items()
    )
    return f"<?xml version=\"1.0\"?>\n<allocations>\n{pools}\n</allocations>\n"


def write_allocation_file(path: str) -> str:
    """Write the allocation file; returns the path for builder configs:
    ``.config("spark.scheduler.mode", "FAIR")
    .config("spark.scheduler.allocation.file", path)``."""
    with open(path, "w") as fh:
        fh.write(allocation_xml())
    return path


def run_claimed_by_pool(
    claimed_with_format: DataFrame,
    cfg: ProcessConfig,
    probe: Callable[[str, str | None], None] | None = None,
) -> DataFrame:
    """Execute a claimed batch with per-priority-band FAIR dispatch.

    Splits the batch into its non-empty pools and runs each band's
    `run_claimed_jobs` action from its own thread with
    ``spark.scheduler.pool`` set, so the FAIR scheduler arbitrates
    executor slots BETWEEN the bands while every band makes progress
    concurrently.  Results are the exact union of the unpooled path
    (asserted in tests/test_fair_pools.py).

    ``probe`` (tests): called in each worker thread with
    ``(pool_name, sc.getLocalProperty("spark.scheduler.pool"))`` right
    before the action, witnessing the thread-local wiring.

    The batch (≤ max_concurrent rows) is collected once into a
    :func:`~encodesrv_spark.jobs.state.local_frame`, so the active bands
    and each band's rows come from the driver without a job; only bands
    that hold rows are dispatched, so the common single-priority
    micro-batch costs one action, not three.  Each band's action
    collects its results, and all bands' rows return as ONE local
    relation (a union of local frames would run a job per action on it).

    Failure semantics match the unpooled path: a band whose ACTION
    dies (infra failure — per-job ffmpeg errors surface as 'Error'
    rows, not exceptions) aborts the cycle, and the watchdog /
    crash-reset path re-queues the in-flight jobs.  Every failed
    band's error is logged with its pool name before the first is
    re-raised, so a multi-band failure cannot hide its root cause."""
    spark = claimed_with_format.sparkSession
    src = local_frame(pool_column(claimed_with_format))
    sc = spark.sparkContext

    # which bands have work? (driver rows of the local batch, no job)
    active = {r["__pool"] for r in src.select("__pool").collect()}
    to_run = [pool for pool in POOLS if pool in active]
    if not to_run:  # empty claim batch: preserve unpooled schema/result
        return local_frame(run_claimed_jobs(src.drop("__pool"), cfg))

    results: dict[str, tuple[StructType, pa.Table]] = {}
    errors: dict[str, BaseException] = {}

    def run_band(pool: str) -> None:
        sc.setLocalProperty("spark.scheduler.pool", pool)
        try:
            if probe is not None:
                probe(pool, sc.getLocalProperty("spark.scheduler.pool"))
            band = src.filter(F.col("__pool") == pool).drop("__pool")
            out = run_claimed_jobs(band, cfg)
            # the ACTION must run in this thread for the pool to apply
            results[pool] = (out.schema, out.toArrow())
        except BaseException as exc:  # surfaced to the caller below
            errors[pool] = exc
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    threads = [
        threading.Thread(target=run_band, args=(pool,), name=f"pool-{pool}")
        for pool in to_run
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        for pool, exc in errors.items():
            log.error("band %s failed: %s", pool, exc, exc_info=exc)
        raise next(iter(errors.values()))

    schema = results[to_run[0]][0]
    rows = pa.concat_tables([results[pool][1] for pool in to_run])
    return spark.createDataFrame(rows, schema)
