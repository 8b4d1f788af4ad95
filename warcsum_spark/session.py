"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]``; production target is a
multi-executor cluster (``spark-submit --py-files``) against ~100 TB of
Iceberg web-pages data. Every config below is chosen to survive that
scale-up, not just to pass tests:

* AQE on — runtime coalescing, skew-join splitting, broadcast demotion.
* Arrow on, bounded batch size — every Python-side operator in this repo is
  an Arrow-batched UDF; the batch bound caps Python-worker peak memory when
  rows carry multi-MB ``html``/``payload`` binaries.
* shuffle.partitions defaults to cores locally; on a real cluster callers
  pass ``shuffle_partitions`` sized to ~128 MB per task post-shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch sizing: the BYTE bound is what protects Python workers from
# rows carrying multi-MB html/payload binaries; the RECORD bound alone
# (the old 2048 cap) strangled narrow-row UDFs — a 4M-row URL column
# became ~2000 batches/partition whose per-batch overhead was ~10× the
# regex kernel itself (measured in the frontier stage). Large record cap +
# 32 MB byte cap gives big batches for narrow rows and bounded memory for
# fat ones.
ARROW_MAX_RECORDS_PER_BATCH = 65536
ARROW_MAX_BYTES_PER_BATCH = str(32 * 1024 * 1024)


#: legacy ``pid-<pid>`` dirs (no starttime token) older than this are
#: reaped even if some process holds the pid — the age fallback for
#: pid reuse where ownership can't be proven either way
_STALE_DIR_MAX_AGE_SEC = 6 * 3600


def _proc_starttime(pid: int) -> int | None:
    """Kernel starttime (clock ticks since boot) of ``pid``, or None if
    the process doesn't exist / can't be read. Parsed after the last ')'
    so a comm containing spaces or parens can't shift the fields."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
        return int(data.rsplit(b")", 1)[1].split()[19])
    except (OSError, IndexError, ValueError):
        return None


def _local_dir() -> str:
    """Per-process spark.local.dir under a shared base, with stale-dir
    reaping.

    The base default is RAM-backed tmpfs (this box's disk anti-scales
    under 32 concurrent shuffle writers — see the config comment below),
    which adds a failure mode disk does not have: Spark removes its
    local dir via a JVM shutdown hook, so a SIGKILLed/OOM-killed JVM
    leaves its shuffle spill RESIDENT IN RAM forever. One crashed
    big-shuffle run then starves every later run on the box (observed:
    84 GB of orphaned spill → host OOM-killer cascade). Keying the dir
    by (pid, process starttime) and reaping dirs whose owner is gone
    makes each new session clean up after any crashed predecessor —
    and the starttime token makes reaping robust to PID REUSE: a
    recycled pid belongs to a process with a different starttime, so
    the orphan is still reclaimed (``os.kill(pid, 0)`` alone would skip
    it forever). Legacy ``pid-<pid>`` dirs fall back to liveness + age."""
    import time

    base = os.environ.get("WARCSUM_LOCAL_DIR", "/dev/shm/warcsum_spark_local")
    try:
        for name in os.listdir(base):
            if not name.startswith("pid-"):
                continue
            parts = name[4:].split("-")
            try:
                pid = int(parts[0])
                st = int(parts[1]) if len(parts) > 1 else None
            except ValueError:
                continue
            if pid == os.getpid():
                continue
            path = os.path.join(base, name)
            live_st = _proc_starttime(pid)
            if st is not None:
                stale = live_st != st  # gone, unreadable, or pid recycled
            elif live_st is None:
                stale = True  # legacy dir, owner gone
            else:
                # legacy dir, SOME process holds the pid — original owner
                # or a recycled pid; reap only past the age bound
                try:
                    stale = (
                        time.time() - os.stat(path).st_mtime
                        > _STALE_DIR_MAX_AGE_SEC
                    )
                except OSError:
                    stale = False
            if stale:
                import shutil

                shutil.rmtree(path, ignore_errors=True)
    except FileNotFoundError:
        pass
    my_st = _proc_starttime(os.getpid())
    suffix = f"-{my_st}" if my_st is not None else ""
    return os.path.join(base, f"pid-{os.getpid()}{suffix}")


def default_cores() -> str:
    """Local-mode core count: ``$SPARK_GRAFT_CPUS``, else every core."""
    return os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap: ``$WARCSUM_DRIVER_MEM``, else half the host's
    ``MemTotal``. In local mode the driver JVM runs every task, so a
    fixed heap larger than the host lets it grow until the kernel's OOM
    killer ends it; half leaves room for the Python workers."""
    mem = os.environ.get("WARCSUM_DRIVER_MEM")
    if mem:
        return mem
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return f"{int(line.split()[1]) // 2048}m"  # kB → MiB, halved
    raise RuntimeError(f"no MemTotal in {meminfo}; set WARCSUM_DRIVER_MEM")


def get_spark(
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "warcsum_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` is only meaningful in local mode ("local[N]" master); on a
    cluster the master comes from spark-submit and this argument is ignored
    by Spark. ``shuffle_partitions`` defaults to the core count locally.
    """
    if cores is None:
        cores = default_cores()
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cores), 8)
        except (TypeError, ValueError):  # cores == "*"
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # call-site capture for DataFrame error context does an inspect
        # stack walk + 2 extra py4j round trips on EVERY DataFrame API
        # call (pyspark/errors/utils.py::_with_origin); expression-heavy
        # query builds spend ~1/3 of their driver time there (profiled:
        # good_turing build 9174 py4j commands → ~3000 with it off).
        # Debugging aid, off in this production session factory.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            ARROW_MAX_BYTES_PER_BATCH,
        )
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        # local-mode shuffle spills to spark.local.dir; this box's disk
        # anti-scales under 32 concurrent shuffle writers (measured 2×
        # slowdown 8→32 threads) while the memory-backed tmpfs scales.
        # Per-pid subdir + stale reaping: see _local_dir. On a real
        # cluster the cluster manager overrides local dirs.
        .config("spark.local.dir", _local_dir())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_min_parallelism(df, target: int | None = None):
    """Round-robin repartition ``df`` up to ``target`` partitions (default
    ``sparkContext.defaultParallelism``) — but ONLY if it currently has
    fewer. Compute-bound Arrow-kernel stages (minhash/simhash signatures,
    per-row scoring) want parallelism ≥ cores; a parquet source that is a
    single file with a single row group is unsplittable and scans as ONE
    task, serializing the whole kernel. At production scale the input has
    ≥ parallelism splits and this is a no-op — the shuffle only exists in
    exactly the small-input regime where it is cheap (the whole source
    fits in a few tasks) and the kernel time it unlocks dominates it."""
    sc = df.sparkSession.sparkContext
    if target is None:
        target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def loop_plan_conf(*frames):
    """Context manager: plain (non-adaptive) execution for an iterative
    operator's per-round plans — ONLY in the small-state regime.

    Iterative operators (BFS sweeps, power iterations, label propagation)
    materialize one checkpoint per round; under AQE every per-round
    exchange becomes its own scheduled job, so a round costs 3-6 job
    launches even when its state is a few thousand rows (measured:
    bowtie_decomposition 116 jobs → 55, hop_distance 45 → 18 with plain
    planning). When every anchor frame is at most ``defaultParallelism``
    partitions, the loop is fixed-overhead-dominated: disable AQE and pin
    ``spark.sql.shuffle.partitions`` to the anchor partition count for
    the duration of the loop, so each round is ONE job with
    state-proportional task counts. At production scale (anchor frames
    wider than the cluster's parallelism) this is a NO-OP and AQE keeps
    its coalescing / skew-split behavior — the policy is derived from the
    input, never from the local core count (guide §2: scale-adaptive
    partitioning, not constants).

    The switch is SESSION-GLOBAL: for the loop's duration it sets
    ``spark.sql.adaptive.enabled=false`` and pins
    ``spark.sql.shuffle.partitions`` on the shared ``SparkSession`` conf,
    restoring both on exit. Any other query planned on the same session
    meanwhile (another thread) gets those settings too, so this assumes
    one query is planned at a time per session.
    """
    from contextlib import contextmanager

    @contextmanager
    def _cm():
        if not frames:
            yield
            return
        sess = frames[0].sparkSession
        sc = sess.sparkContext
        n = max(f.rdd.getNumPartitions() for f in frames)
        if n > sc.defaultParallelism:
            yield
            return
        # bytes guard: partition count is a poor size proxy (AQE
        # coalesces aggressively), so ALSO require the anchors to be
        # small in bytes — Catalyst stats are exact for materialized
        # localCheckpoint frames (LogicalRDD), estimates otherwise. The
        # budget scales with the cluster (1 MB/core): above it, a
        # pinned-partition round would serialize real data, so AQE
        # keeps the loop.
        try:
            total = sum(
                int(
                    f._jdf.queryExecution()
                    .optimizedPlan()
                    .stats()
                    .sizeInBytes()
                )
                for f in frames
            )
        except Exception:
            yield
            return
        if total > sc.defaultParallelism * (1 << 20):
            yield
            return
        old_aqe = sess.conf.get("spark.sql.adaptive.enabled")
        old_sp = sess.conf.get("spark.sql.shuffle.partitions")
        sess.conf.set("spark.sql.adaptive.enabled", "false")
        sess.conf.set("spark.sql.shuffle.partitions", str(max(n, 1)))
        try:
            yield
        finally:
            sess.conf.set("spark.sql.adaptive.enabled", old_aqe)
            sess.conf.set("spark.sql.shuffle.partitions", old_sp)

    return _cm()
