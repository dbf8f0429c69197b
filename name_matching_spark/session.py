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
"""

from __future__ import annotations

import os
import re

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


def persist_now(df):
    """persist() + a count() trigger: pins a DataFrame that feeds MULTIPLE
    branches of a downstream join before the consuming job runs. persist()
    alone is lazy — if the first action triggers several branches at once,
    each branch races the cold cache and recomputes the full lineage
    (the round-1 per-branch re-evaluation defect). The count is one cheap
    job over the cached data; unlike an eager checkpoint there is no block
    copy, and unlike localCheckpoint the cached plan keeps its statistics
    for join planning."""
    df = df.persist()
    df.count()
    return df


def materialize(df, eager: bool = True):
    """Cut lineage at a pipeline materialization point (iterative CC rounds,
    the match-master table, tf-idf weights). Uses the policy set by
    ``set_reliable_checkpoint_dir``; defaults to localCheckpoint."""
    dir_ = _RELIABLE_DIR or os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if dir_:
        sc = df.sparkSession.sparkContext
        sc.setCheckpointDir(dir_)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
