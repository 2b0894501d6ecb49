"""SparkSession builder with scale-appropriate defaults.

Replaces the reference's memory-profile / reducer-count plumbing
(``mr-blocking/MemProfileUtil.java:11-56``, ``HammingLSHFPSToolV0.java:89-91``)
with Spark conf: AQE (runtime re-planning + skew-join), Arrow batching sized
for N-bit Bloom filters, and a tunable shuffle-partition count. Also holds
:func:`evict_zip_finders`, which every library function that Spark runs in
a Python worker calls on entry to shed a per-task setup cost.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


# D5: the reference's LO/HI per-stage memory profiles
# (mr-blocking/MemProfileUtil.java:11-56: map/reduce 1024 vs 2048 MB with
# matching -Xmx java opts, "MAP/REDUCE" spec strings validated). Spark's
# analog is executor memory + overhead + maxPartitionBytes sized so one
# shuffle partition fits the heap; same LO/HI ladder, same "X/Y" spec form.
MEM_PROFILES: dict[str, dict[str, str]] = {
    "LO": {
        "spark.executor.memory": "1g",
        "spark.executor.memoryOverhead": "384m",
        "spark.sql.files.maxPartitionBytes": str(64 * 1024 * 1024),
    },
    "HI": {
        "spark.executor.memory": "2g",
        "spark.executor.memoryOverhead": "768m",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    },
}


def mem_profile_conf(profile: str) -> dict[str, str]:
    """'LO', 'HI' or the reference's 'MAP/REDUCE' pair form ('LO/HI').

    In Spark there is no map/reduce memory split — executors run both sides —
    so a pair spec resolves to the LARGER profile (a reducer-OOM is the
    failure the reference's HI setting exists to prevent).
    """
    parts = profile.split("/")
    if len(parts) > 2 or not all(p in MEM_PROFILES for p in parts):
        raise ValueError(f"unknown memory profile: {profile!r} (LO, HI, or X/Y)")
    chosen = "HI" if "HI" in parts else "LO"
    return dict(MEM_PROFILES[chosen])


def build_session(
    app_name: str = "pprl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_max_records: int = 10_000,
    extra_conf: dict | None = None,
    mem_profile: str | None = None,
    prefer_shuffled_hash: bool = False,
) -> SparkSession:
    """``prefer_shuffled_hash``: sets spark.sql.join.preferSortMergeJoin=false.
    Opt-in for hot-path PPRL sessions (bench, submit) where every big join
    feeds a hash aggregation and no sort order is consumed downstream — A/B:
    candidates stage ~40% faster at local[16]. NOT the library default:
    shuffled-hash build sides can still exceed a partition's memory after bad
    size estimates (e.g. downstream of Python-UDF stages, where Spark's
    stats are guesses), and SMJ's sort-spill path is the safer general
    default even though SHJ has spill support since Spark 3.1.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 32)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_max_records))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # tmpfs-backed shuffle: the container's overlay /tmp serializes
        # shuffle-heavy stages; /dev/shm keeps them memory-speed
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
    )
    if prefer_shuffled_hash:
        b = b.config("spark.sql.join.preferSortMergeJoin", "false")
    if mem_profile:
        for k, v in mem_profile_conf(mem_profile).items():
            b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def evict_zip_finders() -> None:
    """Drop every ``zipimporter`` from ``sys.path_importer_cache``.

    Spark's Python worker calls ``importlib.invalidate_caches()`` at the
    start of every task (``pyspark/worker_util.py``, ``setup_spark_files``).
    On CPython 3.11 and 3.12 that makes each cached zipimporter re-read its
    whole archive directory: a worker that has run one pandas UDF holds 12
    for package directories inside ``pyspark.zip`` (1,328 entries, ~9 ms
    each) and 2 for the spark-core jar that Spark puts on the worker's
    PYTHONPATH (5,359 entries, 30-37 ms each), 150-210 ms of CPU per task
    before any UDF sees a row. A missing entry is rebuilt by the next import
    that needs that path, from zipimport's directory cache, so evicting them
    costs nothing later. Call it on entry to every function Spark runs in a
    Python worker; it is cheap enough to run once per Arrow batch.

    The rebuilt entry reuses the archive directory read earlier, so an
    archive rewritten in place while the worker lives is not re-read.
    """
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        cache.pop(path, None)
