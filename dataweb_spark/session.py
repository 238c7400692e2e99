"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the configs below are chosen so the same
code is correct and fast on a large cluster:

* AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast) — replaces hand-tuned partition counts.
* Arrow-enabled Python interop — all Pandas UDF / toPandas traffic is
  columnar (the reference's transport is Arrow RecordBatch streams;
  ``core/src/execute/data_stores/mod.rs:110-114``).
* Modest auto-broadcast threshold; dimension tables (region/nation/...)
  broadcast, fact tables shuffle.
"""

from __future__ import annotations

import os
import threading
from weakref import WeakKeyDictionary

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"

# Memo for queries.register_views: session → last-registered sf_dir.
# Lives here (dependency-free) so the federation layer can invalidate it
# when it rebinds an entity view over one of the canonical table names
# (e.g. the `lineitem` entity view clobbers the raw `lineitem` view).
_VIEW_MEMO: "WeakKeyDictionary[SparkSession, str]" = WeakKeyDictionary()


def view_memo_get(spark: SparkSession) -> str | None:
    return _VIEW_MEMO.get(spark)


def view_memo_set(spark: SparkSession, sf_dir: str) -> None:
    _VIEW_MEMO[spark] = sf_dir


_PROXY_GENERATIONS: "WeakKeyDictionary[SparkSession, dict]" = \
    WeakKeyDictionary()
_PROXY_LOCK = threading.Lock()
_ROTATE_CAP = 8  # live generations per site (deepest same-site fan-out
#                  in one declared query is 3; gates/loops need 1)


def rotate_persist(df, site: str):
    """``df.persist()`` with GENERATION ROTATION, for a call site that
    returns a LAZY result over the persisted frame and so cannot release
    it in-call (pagerank's k-deep consumer has no bounded result to
    checkpoint). The CacheManager holds SQL caches until an explicit
    unpersist — the ContextCleaner never frees them on GC — so such a
    site would leak one cache per call in a long-lived session. Rotation
    unpersists the frames earlier calls persisted under ``site``,
    bounding the session to ``_ROTATE_CAP`` live generations per site.
    An earlier caller's still-unconsumed lazy result only loses the cache
    HINT (recompute stays correct — persist is advisory). Sites with a
    bounded result materialize it and unpersist in-call instead.

    Generations are keyed by the frame's ``semanticHash`` so that
    (a) a RE-invocation on the same input evicts its predecessor BEFORE
    persisting — the CacheManager dedupes identical analyzed plans, so
    persisting first would hand back the old entry and the eviction
    would remove the very cache the new call relies on; evict-first
    also guarantees a fresh call never starts against a warm cache of
    its own subplan; while
    (b) sibling calls WITHIN one query (pagerank's cold/prior/warm
    loops) persist DIFFERENT plans and coexist up to the FIFO cap, so
    none loses its cache before the query's single consuming action."""
    key = df.semanticHash()
    with _PROXY_LOCK:
        gens = _PROXY_GENERATIONS.setdefault(df.sparkSession, {}) \
            .setdefault(site, {})
        if key in gens:
            _unpersist(gens.pop(key))
        gens[key] = df.persist()  # dicts preserve insertion order (FIFO)
        while len(gens) > _ROTATE_CAP:
            _unpersist(gens.pop(next(iter(gens))))
    return df


def _unpersist(df) -> None:
    try:
        df.unpersist()
    except Exception:  # noqa: BLE001 — a dead session is fine
        pass


def view_memo_invalidate(spark: SparkSession) -> None:
    """Call after registering any temp view that may shadow a canonical
    table name — the next register_views() then re-registers."""
    _VIEW_MEMO.pop(spark, None)


def scratch_dir(prefix: str) -> str:
    """A new temporary directory, removed when the interpreter exits — for
    indexes, checkpoints, staged corpora and job results. Not earlier: the
    DataFrames read from these files are lazy."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def get_spark(app_name: str = "dataweb_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``)
    so the driver's bench harness controls parallelism.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    # Scale-adaptive partition floors (guide §2.2/§6): default both the
    # shuffle-partition count and the scan-split floor to the declared
    # core count instead of a constant — the harness also runs at lower
    # core counts, where 32 fixed floors mean waves of tiny tasks. On a
    # cluster, set SPARK_GRAFT_SHUFFLE_PARTITIONS / _MIN_PARTITIONS
    # explicitly (hundreds–thousands, sized to ~100MB-1GB per shuffle
    # partition); AQE coalescing remains the runtime control either way.
    core_floor = cpus if cpus.isdigit() else DEFAULT_SHUFFLE_PARTITIONS
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS",
                                   core_floor)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Small single-file inputs would otherwise scan as ONE task and
        # serialize the whole pipeline; force file splits up to the core
        # count. On a real cluster with many files this is a no-op.
        .config("spark.sql.files.minPartitionNum",
                os.environ.get("SPARK_GRAFT_MIN_PARTITIONS", core_floor))
        # ... and drop the 4 MiB open-cost floor so a ~1 MiB file can still
        # split into minPartitionNum pieces (harmless at scale: the split
        # size formula is min(maxPartitionBytes, max(openCost, bytes/core))).
        .config("spark.sql.files.openCostInBytes", str(64 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
