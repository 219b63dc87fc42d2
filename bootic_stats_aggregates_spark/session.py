"""SparkSession construction and per-session tuning.

The driver harness passes its own ``SparkSession`` into ``entry()`` /
``queries()`` callables, so nothing here may rely on session-creation-time
config: everything correctness-critical (UTC timezone) or
performance-critical (AQE, shuffle partitions) is applied at *runtime* via
:func:`tune`, which every query builder calls (idempotent, cheap).

Scale notes (SURVEY.md §7.3): the same settings are what we would ship on a
1000-executor cluster — AQE on (runtime coalescing + skew-join splitting),
modest shuffle partitioning for the local harness via ``SPARK_GRAFT_SHUFFLE``
(on a real cluster this would be ~2-3x total cores and AQE coalesces down).
"""

from __future__ import annotations

import os
import weakref
from typing import Any

from pyspark.sql import SparkSession

#: Per-session cache store. Keyed by a weakref to the live SparkSession
#: object itself — NOT ``id(spark)``, which can be recycled by the allocator
#: after a session is stopped and garbage-collected, serving DataFrames bound
#: to a dead JVM session (ADVICE r1). When the session is collected its
#: namespaces drop with it.
_SESSION_CACHES: "weakref.WeakKeyDictionary[SparkSession, dict[str, dict]]" = (
    weakref.WeakKeyDictionary()
)


def session_cache(spark: SparkSession, namespace: str) -> dict[Any, Any]:
    """A mutable dict scoped to (live session, namespace).

    Entries die with the session, so a recycled ``id()`` can never alias a
    new session onto a dead one's cached plans.
    """
    caches = _SESSION_CACHES.get(spark)
    if caches is None:
        caches = {}
        _SESSION_CACHES[spark] = caches
    return caches.setdefault(namespace, {})

#: Runtime-settable confs applied to whatever session the driver hands us.
#: SPARK_GRAFT_AQE=false turns adaptive execution off: AQE materializes each
#: shuffle stage and re-plans between them, a pure win on big shuffles but a
#: measurable fixed latency (~10 ms/stage, measured sf0.1) on sub-100 ms
#: interactive queries. Cluster/100 TB deployments keep the default (on);
#: bench.py opts out because the DuckDB baseline it races has no such
#: inter-stage barrier either.
_RUNTIME_CONF = {
    # Correctness: oracle comparison assumes UTC bucketing (FIXTURES.md rule 4).
    "spark.sql.session.timeZone": "UTC",
    # spark.sql.adaptive.enabled comes from SPARK_GRAFT_AQE, read per
    # call in _runtime_confs().
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Dimension tables (region/nation/supplier/part/customer at test SFs) are
    # broadcast-sized; keep the planner eager about it.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for any pandas interchange (UDF fallbacks, toPandas in tests).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.ts is parquet TIMESTAMP(NANOS). Older Spark builds refuse it
    # unless this legacy conf maps it to a raw long; newer 4.1.x builds
    # ignore the conf and read it natively as TIMESTAMP_NTZ (micros,
    # floor-truncated). io.normalize_ts() handles BOTH forms, so the conf
    # stays only for back-compat with builds that still honor it.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def shuffle_partitions() -> int:
    """Shuffle parallelism: env override, else 8 (BASELINE.md bench config).

    At sf0.1-local the data is tiny; 8 post-shuffle partitions keeps task
    scheduling overhead out of the 2x-of-baseline budget. AQE coalescing makes
    the exact number non-critical; at cluster scale this would be sized to
    cores and AQE still owns the final partition count.
    """
    return int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8"))


def _runtime_confs() -> dict[str, str]:
    """Every conf :func:`tune` sets. The env knobs are read per call, not
    at import time, so a consumer that imports the package before
    exporting them still gets the right mode."""
    confs = {
        **_RUNTIME_CONF,
        # Let AQE re-plan at shuffle boundaries (coalesce tiny
        # partitions, demote to broadcast, split skewed partitions) —
        # our 100 TB safety net.
        "spark.sql.adaptive.enabled": os.environ.get(
            "SPARK_GRAFT_AQE", "true"
        ),
        "spark.sql.shuffle.partitions": str(shuffle_partitions()),
    }
    # Input split size: 128 MB (cluster default) unless overridden — the
    # local bench shrinks it so a single-file fixture still scans on all
    # cores (bench.py sets 4 MB).
    mpb = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
    if mpb:
        confs["spark.sql.files.maxPartitionBytes"] = mpb
    return confs


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a (possibly driver-owned) session. Idempotent.

    A conf the session refuses (locked down by the driver, or an invalid
    env override) does not fail the query: it is recorded with its error
    text, and :func:`unapplied_confs` reports it."""
    unapplied = session_cache(spark, "unapplied_confs")
    unapplied.clear()
    for key, value in _runtime_confs().items():
        try:
            spark.conf.set(key, value)
        except Exception as e:  # noqa: BLE001 - recorded, not swallowed
            unapplied[key] = f"{type(e).__name__}: {e}"
    return spark


def unapplied_confs(spark: SparkSession) -> dict[str, str]:
    """Conf key -> error text for each conf the latest :func:`tune` call
    on ``spark`` could not set; empty when every conf applied."""
    return dict(session_cache(spark, "unapplied_confs"))


def get_spark(app_name: str = "bootic-stats-aggregates-spark") -> SparkSession:
    """Build (or reuse) a local session — used by tests and bench.py.

    ``local[N]`` with N from ``SPARK_GRAFT_CPUS`` (default: all cores), single
    JVM. Multi-executor behavior is exercised via partitioning, not processes.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions()))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
        # Local-mode job-latency knobs (measured r5: a pristine session's
        # 1-row count costs ~50-80 ms; these cut the floor to ~38-45 ms).
        # locality.wait=0 — there is no data locality to wait for in a
        # single JVM; revive.interval=1ms — the scheduler's task-offer
        # loop, creation-time-only so it lives here, not in tune().
        # A cluster deployment sizes both for its network instead.
        .config("spark.locality.wait", "0ms")
        .config("spark.scheduler.revive.interval", "1ms")
        # Past this many paths (default 32) Spark lists files with a Spark
        # job of one task per path. In a single JVM that job runs on the
        # driver's own cores and only adds scheduling: reading 40 parquet
        # paths took 576-919 ms with the job against 72-95 ms listed on
        # the driver, and 2,560 paths 12.2-13.1 s against 0.54-0.64 s
        # (4 cores). A file-stream micro-batch lists its ~80 new files on
        # every trigger. A cluster deployment sizes it for its file system.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                str(1 << 20))
    )
    return tune(builder.getOrCreate())
