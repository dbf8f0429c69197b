"""SparkSession factory.

Single place where all scale-relevant configs live. Local mode is used for
tests/bench (`local[N]`), but every config is chosen so the same code runs
unchanged on a multi-executor cluster:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting): block
  keys in entity resolution are Zipf-skewed, so skew-join handling is not
  optional at 100 TB.
- Arrow on: all custom logic is pandas/Arrow UDFs; Arrow batch size is capped
  so a quadratic pair batch stays in executor memory.
- Deterministic session timezone (UTC) so DuckDB oracle comparisons are stable.
- ``guard_zip_invalidation``: a zip archive on the Python path is re-read
  only when it changed, so a UDF task does not pay 0.15-0.5 s re-reading
  pyspark.zip and the Spark core jar before its body runs.
- ``materialize``: the one lifetime rule for a pinned table — an eager
  checkpoint that Spark frees once nothing references it, never a cache
  that must be released by hand.
"""

from __future__ import annotations

import os
import re
import sys
import zipimport

from pyspark.sql import SparkSession

# Default driver heap: a quarter of the host's MemTotal, capped at the 48g
# the engine was tuned with on large hosts. The rest of the host is left to
# the JVM's off-heap memory, one Python worker per core and the page cache:
# a fixed 48g let the local-mode JVM grow to ~12 GB RSS on a 15 GB host
# until the kernel killed it. Without a MemTotal line (non-Linux hosts) the
# heap falls back to 4g.
_HEAP_SHARE = 4
_HEAP_CAP_MB = 48 * 1024
_HEAP_FALLBACK = "4g"


def default_driver_memory(meminfo: str) -> str:
    """``spark.driver.memory`` for a host whose ``/proc/meminfo`` reads
    ``meminfo``: MemTotal / 4 in MiB, at most 48g, at least 1g."""
    m = re.search(r"^MemTotal:\s+(\d+)\s*kB", meminfo, re.MULTILINE)
    if m is None:
        return _HEAP_FALLBACK
    mb = int(m.group(1)) // 1024 // _HEAP_SHARE
    return f"{max(1024, min(mb, _HEAP_CAP_MB))}m"


def _host_driver_memory() -> str:
    try:
        with open("/proc/meminfo") as f:
            return default_driver_memory(f.read())
    except OSError:
        return _HEAP_FALLBACK


def guard_zip_invalidation() -> None:
    """Make ``zipimport.zipimporter.invalidate_caches`` skip an unchanged
    archive, once per process.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task. Before CPython 3.13 each cached ``zipimporter`` then re-reads
    its archive's whole central directory in pure Python: a warm worker holds
    16 of them (pyspark.zip and its subpackage paths, the py4j zip, the Spark
    core jar), 0.15-0.5 s of CPU per task. The guard stamps each importer
    with its archive's ``(st_mtime_ns, st_size, st_ino)`` as of its last read
    and re-reads only when the stamp changes. When ``stat`` fails the stdlib
    method runs, which empties the importer's files as before. Importers
    already cached are read once here, so their stamps match their files.
    A second call does nothing; so does any call on 3.13+, whose method only
    drops the cache and re-reads lazily."""
    if sys.version_info >= (3, 13):
        return
    unguarded = zipimport.zipimporter.invalidate_caches
    if getattr(unguarded, "stat_guarded", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self._archive_stamp = None
            return unguarded(self)
        # stat before the read: a change during the read leaves a stale stamp,
        # which costs one more read, never a stale file table
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        if getattr(self, "_archive_stamp", None) != stamp:
            unguarded(self)
            self._archive_stamp = stamp

    invalidate_caches.stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


def get_spark(
    master: str | None = None,
    app_name: str = "name_matching_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default: the
    host's core count). The driver heap is ``$SPARK_DRIVER_MEM`` (default:
    ``default_driver_memory`` of this host). ``shuffle_partitions``
    defaults to the local core count — at cluster scale this is overridden
    to ~2-3x total cores via ``extra_conf`` or left to AQE coalescing.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] → cpu count
        inner = master.split("[")[-1].rstrip("]")
        if inner == "*" or not inner.isdigit():
            shuffle_partitions = os.cpu_count() or 8
        else:
            shuffle_partitions = int(inner)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bound Arrow batches: pair-scoring UDFs see ~20k rows/batch, keeping
        # per-task Python memory flat even when a join output is huge. 20k
        # measured best at both local[8] and local[32] (the kernels chunk
        # internally at 8192, so bigger batches only cut per-batch JVM/Python
        # dispatch overhead — 10k/20k/50k sweep, bench.py --score-job).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _host_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # SPARK_GRAFT_EXTRA_CONF="k=v;k=v" — ad-hoc conf injection for perf
    # probes (e.g. cache compression, GC threads) without code edits
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for item in filter(None, env_conf.split(";")):
        k, _, v = item.partition("=")
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


# ---------------------------------------------------------------------------
# materialization policy (lineage cuts)
# ---------------------------------------------------------------------------

_RELIABLE_DIR: str | None = None


def set_reliable_checkpoint_dir(path: str | None) -> None:
    """Configure fault-tolerant checkpointing for every ``materialize`` call.

    ``None`` (default) → executor-local ``localCheckpoint`` blocks: fastest,
    right for local mode and short-lived stages, but blocks die with their
    executor. A path (HDFS/S3/local dir) → ``df.checkpoint()`` to that dir:
    on a real cluster an executor loss mid-CC recovers by re-reading the
    checkpoint instead of failing the job. Also settable via env
    ``SPARK_GRAFT_CHECKPOINT_DIR`` (useful under spark-submit)."""
    global _RELIABLE_DIR
    _RELIABLE_DIR = path


def materialize(df, eager: bool = True):
    """Cut lineage at a pipeline materialization point: the one way the
    batch path pins a table that more than one branch reads (the CC
    rounds, the prepared names, the human parse, the tf-idf weights, the
    blocking indexes, the candidates and the kept master, the pre-screen's
    feature table and its labeled training rows).
    Uses the policy set by ``set_reliable_checkpoint_dir``; defaults to
    localCheckpoint. Nothing is released by hand: Spark's ContextCleaner
    frees a local checkpoint's blocks once no DataFrame references them,
    and reliable mode leaves the checkpoint files in the directory."""
    dir_ = _RELIABLE_DIR or os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if dir_:
        sc = df.sparkSession.sparkContext
        sc.setCheckpointDir(dir_)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
