"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every knob is chosen for the
1000-executor / 100 TB target:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on (all Python UDF surfaces are pandas/Arrow-batched)
- shuffle partitions ∝ parallelism (overridable via env)
- broadcast threshold raised so KG dimension tables (ontology closure,
  redirect edges) always broadcast; the *entity index* is joined via
  normal equi-join so it can scale past broadcast size unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def scratch_root() -> str:
    """Root for shuffle/spill files and stage-barrier parquet.

    Prefers a RAM-backed tmpfs (/dev/shm) with ≥32 GiB free over the
    disk-backed temp dir. Rationale: this single-node sandbox has ONE
    virtual disk, so disk-bound shuffle/spill/barrier I/O is a fixed
    pipe that does not widen with cores — measured as barrier-write
    actions scaling only ~1.9× from local[2] to local[8] while
    compute-bound actions reached ~2.6×. A real N→4N executor cluster
    brings 4× the local disks (I/O bandwidth scales with the cluster),
    so tmpfs — whose bandwidth scales with memory channels, not one
    virtio queue — is the faithful single-box emulation, exactly like
    heap ∝ cores in bench._scaling_session. Override with
    SPARK_GRAFT_LOCAL_DIR.
    """
    d = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if d:
        return d
    shm = "/dev/shm"
    try:
        st = os.statvfs(shm)
        if st.f_bavail * st.f_frsize >= 32 * 2**30:
            return os.path.join(shm, "tds_spark")
    except OSError:
        pass
    import tempfile

    return tempfile.gettempdir()


def _ensure_worker_import_path() -> None:
    """Make this package importable by locally-spawned Python workers.

    Workers inherit ``PYTHONPATH`` from the driver process environment
    (PythonWorkerFactory builds the worker env from the JVM's, which
    the driver Python process launched) — they do NOT inherit the
    driver's ``sys.path`` mutations or its cwd-relative imports. A
    driver started outside the repo root (pytest from ``tests/``, a
    notebook, a script a directory up) can import this package while
    its workers cannot: every closure cloudpickle serializes by
    REFERENCE (any UDF touching a module-level helper) then dies on
    the worker with ``ModuleNotFoundError`` at ``read_udfs``. On a
    real cluster ``spark-submit --py-files`` fills this seam
    (tests/test_spark_submit.py); for local sessions, prepend the
    package's parent — a directory, or the ``--py-files`` zip itself
    when running zipimported (both are legal ``sys.path`` entries) —
    to ``PYTHONPATH`` before the JVM gateway launches.
    """
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if root not in [p for p in existing.split(os.pathsep) if p]:
        os.environ["PYTHONPATH"] = (
            root + os.pathsep + existing if existing else root
        )


def default_driver_mem() -> str:
    """Driver heap sized from the host: a fifth of the lower of the
    cgroup memory limit and MemTotal, at least 1 GB. Leaves room for a
    second JVM (tests and spark-submit children start one next to the
    session's) and the Python workers. ``SPARK_DRIVER_MEM`` overrides."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                mem = min(mem, int(f.read().strip()))
        except (OSError, ValueError):
            continue
    return f"{max(1, mem // 5 // 2**30)}g"


def get_spark(
    app_name: str = "tabular-data-semantics-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    _ensure_worker_import_path()
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]*")) if "[" in master else 32
        except ValueError:
            n = 32
        shuffle_partitions = max(n, int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", n)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # floor for AQE partition coalescing: with the default (1m), a
        # small-in-bytes stage output coalesces to ONE partition, and a
        # localCheckpoint taken there pins every consumer stage fused
        # on top of it to one task (a few KB of dimension rows can
        # carry an explode fan-out of millions). 16k keeps tiny-dim
        # checkpoints at a handful of partitions; inert at real scale
        # where partitions are MBs. NOTE: an explicit repartition is
        # NOT a substitute here — a user-specified distribution on a
        # join input disables broadcasting that side.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        # AQE's parallelism-first coalescing targets
        # totalBytes / defaultParallelism, and defaultParallelism on
        # local[N] is N — so the SAME shuffle coalesces to ~N
        # partitions at every cluster size, i.e. exactly ~1.2 ragged
        # waves of the fattest tasks regardless of N (event-log
        # profiled: the CEA explode/join chain ran 9-11 tasks of ~5 s
        # at local[8] — 135 task-seconds packed into 2 waves with 6
        # cores idle in the second, while local[2] packed the same 10
        # tasks into 5 full waves; N→4N efficiency of that stage
        # capped at ~2.5x/4). Partitioning must follow the DATA, not
        # the cluster: pin defaultParallelism to the shuffle width so
        # the coalesce target (bytes/width) is identical at every
        # parallelism, stages keep width-granular tasks (4 waves at
        # 4N, 16 at N), and a straggler costs 1/width, not 1/N.
        # Tiny dims still coalesce to the 16k floor above.
        .config("spark.default.parallelism", str(shuffle_partitions))
        # AQE coalesce target: Spark's 64m default, env-overridable.
        # (A 16m override shipped briefly in r3 on the theory that
        # finer tasks fix ragged waves; the measurements behind it
        # were taken under co-tenant memory contention — see
        # ROUND_NOTES r3 weather — and clean-weather reruns show 64m
        # equal or better across the pipeline. At real scale this is
        # a per-cluster tuning knob.)
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "64m"),
        )
        # file-scan analogue of the floor above: maxSplitBytes =
        # min(maxPartitionBytes, max(openCostInBytes, bytes/parallelism)),
        # and the 4m default openCost floors a snappy-parquet stage
        # barrier (~10× compressed KG strings) at 1-2 splits — the
        # scan's consumers then run 3M rows on 2 tasks. 64k makes
        # splits data-proportional; genuinely big scans still cap at
        # maxPartitionBytes (128m), so the 100 TB regime is unchanged.
        .config("spark.sql.files.openCostInBytes", "65536")
        # File-scan split count follows the DATA, not the core count:
        # maxSplitBytes = min(maxPartitionBytes, max(openCost,
        # bytes/minPartitionNum)), and minPartitionNum defaults to
        # defaultParallelism — which makes every stage rooted at a
        # parquet stage-barrier scan open with ~cores splits, i.e.
        # ~1.2 ragged waves at any cluster size (event-log profiled:
        # 9-10-task scan stages at local[8] vs 4 at local[2] on the
        # same barrier — a uniform ~2.5x instead of 4x N→4N speedup
        # across the whole pipeline). Pinning it to the shuffle width
        # gives scan stages the same wave granularity as shuffle
        # stages at both cluster sizes.
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_mem)
        # Xms=Xmx + AlwaysPreTouch: fault the whole heap in at session
        # startup, BEFORE any timed work. This host intermittently
        # serves first-touch page faults ~1000x slow (host-side memory
        # pressure, ROUND_NOTES r3); without pre-touch, heap growth
        # lands mid-job and the same pipeline swings 4-10x between
        # reps. On a real cluster this is the standard
        # latency-stabilization flag; the startup cost is paid once
        # per executor. Disable with SPARK_GRAFT_NO_PRETOUCH=1.
        .config(
            "spark.driver.extraJavaOptions",
            ""
            if os.environ.get("SPARK_GRAFT_NO_PRETOUCH") == "1"
            else f"-Xms{driver_mem} -XX:+AlwaysPreTouch",
        )
        # shuffle/spill dir: tmpfs when available (see scratch_root).
        # Spark deletes its blockmgr/spill dirs under this root on
        # clean JVM shutdown, so tmpfs residue is bounded to crashed
        # runs (and cleared by reboot).
        .config(
            "spark.local.dir", os.path.join(scratch_root(), "local")
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # profiling hook (perfbench/run.py --trace 1): uncompressed event
    # log so the task-metrics rollup can attribute wall to stages
    # without a zstd dependency
    evt_dir = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if evt_dir:
        os.makedirs(evt_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", evt_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    return builder.getOrCreate()
