"""SparkSession factory tuned for this engine.

Scale posture (100 TB / 1000-executor design; local[32] for tests):
- AQE on (runtime coalesce, skew-join splitting, broadcast conversion).
- Arrow on (every heavy scalar function here is a pandas UDF).
- shuffle.partitions sized for local runs; on a real cluster this is set
  per-job via spark-submit conf (the code never assumes a value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# only put shuffle files on tmpfs when it currently has this much headroom —
# a RAM-backed dir that fills mid-shuffle fails the job with ENOSPC
_TMPFS_MIN_FREE_BYTES = 16 << 30


def _local_dirs() -> str:
    """spark.local.dir choice: tmpfs ONLY while it has headroom, /tmp when it
    doesn't. Measured on this host: shuffle blocks on overlayfs /tmp cost
    45-75% kernel time, and Spark hashes files EVENLY across a dir list — so
    a tmpfs,/tmp pair drags every shuffle phase halfway back to the slow
    path (measured +30% flagship wall vs tmpfs-only). The ENOSPC risk of a
    RAM-backed dir is handled by the upfront free-space gate instead of a
    standing overflow dir. Overridable via SPARK_GRAFT_LOCAL_DIR."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    if os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= _TMPFS_MIN_FREE_BYTES:
                return "/dev/shm/spark-local"
        except OSError:
            pass
    return "/tmp/spark-local"


def tune_for_input_size(spark: SparkSession, approx_rows: int) -> None:
    """Set runtime confs by input size. AQE's per-shuffle re-optimization
    costs ~0.5-1 s per exchange — a pure win at TB scale, a 6× slowdown on
    kB-scale fixture runs (measured: 596 s → 98 s with AQE off at fixture
    scale). Both knobs are runtime-settable, so this works on a session we
    did not create (e.g. the driver's).

    SPARK_GRAFT_FORCE_LARGE=1 pins the ≥1M-row posture regardless of the
    estimate — the oracle/equivalence tests use it to exercise the
    large-corpus configuration (AQE on, forced broadcast off) at small input
    sizes."""
    if os.environ.get("SPARK_GRAFT_FORCE_LARGE") == "1":
        approx_rows = max(approx_rows, 1_000_000)
    if approx_rows < 1_000_000:
        # AQE off below 1M rows: per-exchange re-planning is serial driver
        # time that dwarfs per-stage compute at this size (596→98 s at
        # fixture scale). Partition count is CORES-AWARE, 2× total cores —
        # the conventional rule, re-validated in r3 under concurrent-stage
        # execution + serialized checkpoint blocks (replicate-4 sf0.1,
        # local[32]: 16→667 s, 32→587 s, 64→485 s, 128→679 s; the r2-era
        # "16 beats 64" finding belonged to the serialized-JOB + deser-block
        # regime and no longer holds). Tiny fixture inputs stay at ≤16 so
        # per-task overhead can't dominate kB-scale stages.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        if approx_rows < 50_000:
            parts = min(16, max(4, approx_rows // 2000))
        else:
            # Partition count derived from INPUT SIZE, capped by core count —
            # not a cores-only constant (guide §2: make partitioning
            # scale-adaptive; a constant tuned for either local mode or the
            # cluster is wrong at the other size). The engine's row-scale
            # intermediates run ~5-15× the input rows, and below ~12k input
            # rows per partition the per-task floor (scheduling, shuffle
            # block count, checkpoint block management) dominates compute:
            # measured on the sf0.1 suite flagship (165k input rows,
            # local[32]) 64 parts → 118.6 s wall, 32 → 105.0, 16 → 91.9,
            # 12 → 85.3, 8 → 87.0; the r3 "2×cores" calibration was taken
            # at replicate-4 (~660k rows), where this formula lands at ~55 —
            # consistent with that measurement (64 ≈ best there). ≥1M rows
            # takes the AQE branch below, where runtime coalescing owns the
            # problem.
            parts = min(
                2 * spark.sparkContext.defaultParallelism,
                max(8, approx_rows // 12_000),
            )
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        # small corpus: the per-table / per-column-pair dims really are tiny,
        # and lazily-checkpointed frames carry no stats, so the explicit
        # broadcast hints (annotation.bcast) are both safe and necessary
        spark.conf.set("spark.graft.forcedBroadcast", "true")
    else:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        # large corpus: frames like tbl (row per table) and cpa_k (row per
        # table×column-pair) grow with the corpus — a forced broadcast hint
        # would bypass the 64 MB autoBroadcast safety and collect O(#tables)
        # rows onto the driver. Let AQE pick the join strategy from runtime
        # sizes instead.
        spark.conf.set("spark.graft.forcedBroadcast", "false")


def ckpt(df, eager: bool = False):
    """localCheckpoint with SERIALIZED memory+disk blocks. Checkpointed
    blocks are unevictable for the run and the scaling ceiling of a
    memory-path-bound host is its memory bandwidth, so trading a little
    decode CPU for 3-5× smaller blocks measured 10% off the replicate-4
    flagship. NB Spark 3.4+/4.x naming: MEMORY_AND_DISK is the serialized
    variant, MEMORY_AND_DISK_DESER the deserialized default."""
    from pyspark.storagelevel import StorageLevel

    return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK)


def bcast(df):
    """Size-gated broadcast hint for the engine's small-dim joins.

    The hinted frames (per-table / per-column-pair aggregates, hot-gram
    sets, token IDF) are tiny at any bench scale but grow with the corpus,
    and lazily-checkpointed frames carry no stats — so an unconditional
    ``F.broadcast`` is required below ~1M input rows (auto-broadcast can
    never fire) yet unsafe above it (it bypasses the 64 MB autoBroadcast
    ceiling and would collect O(#tables) rows per executor). The gate is the
    ``spark.graft.forcedBroadcast`` conf set by ``tune_for_input_size``:
    small corpus → hint applied; large corpus → hint dropped and AQE picks
    the join strategy from runtime sizes."""
    from pyspark.sql import functions as F

    forced = df.sparkSession.conf.get("spark.graft.forcedBroadcast", "true")
    return F.broadcast(df) if forced != "false" else df


from contextlib import contextmanager

# every job group the engine tags; pipeline.run reports a per-group job
# count in its metrics so the driver-floor term (per-job latency × job
# count) is legible round-over-round in the bench artifact (VERDICT r4 #7)
JOB_GROUPS = [
    "stage_prep", "stage_lookup",
    # annot_pass1 holds the one mapInPandas job that runs passes 1–4, one
    # kernel call per partition
    "annot_build_inputs", "annot_pass1",
    "stage_materialize",
]


@contextmanager
def job_group(spark: SparkSession, name: str):
    """Tag every job submitted inside the block (and lazy frames whose FIRST
    action lands inside it) with ``name``. Jobs of frames built here but
    materialized later are attributed to the group active at action time —
    by design: the count measures where driver latency is actually paid."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def job_counts(spark: SparkSession) -> dict[str, int]:
    """Cumulative per-group job counts for this session (plus ungrouped)."""
    tracker = spark.sparkContext.statusTracker()
    out = {g: len(tracker.getJobIdsForGroup(g)) for g in JOB_GROUPS}
    out["ungrouped"] = len(tracker.getJobIdsForGroup(None))
    return out


def get_spark(
    app_name: str = "table_annotation_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    # Python workers import this package by name (every mapInPandas /
    # pandas-UDF function lives in it), but they inherit only the JVM's
    # environment, not the driver's sys.path: put the package's parent
    # directory first on theirs, keeping any inherited PYTHONPATH after it
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_path = os.pathsep.join(
        p for p in (pkg_parent, os.environ.get("PYTHONPATH", "")) if p
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or 32),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # broadcast sides are deliberately computed subtrees (small dims
        # derived from lazily-checkpointed intermediates); their first
        # evaluation can pull a long upstream chain, so the 5-min default
        # timeout is too tight under load
        .config("spark.sql.broadcastTimeout", "3600")
        # shuffle/spill files on tmpfs when available: the flagship writes
        # ~50k small shuffle blocks per run; on an overlayfs /tmp that is
        # 45-75% kernel time (measured via top %sy), on tmpfs it is memory.
        # _local_dirs() returns ONE dir: tmpfs alone when it has ≥16 GB
        # headroom at session build, else /tmp alone. A tmpfs,/tmp pair was
        # measured +30% wall (Spark hashes blocks evenly across the list),
        # so ENOSPC safety comes from the upfront free-space gate, not an
        # overflow dir. SPARK_GRAFT_LOCAL_DIR overrides the choice.
        .config("spark.local.dir", _local_dirs())
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
