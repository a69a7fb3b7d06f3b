"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the configuration is chosen so the same code
scales to a multi-executor cluster: AQE on (runtime re-planning, skew-join
handling, partition coalescing), shuffle partitions sized by env, UTC session
timezone so results compare exactly against a DuckDB oracle, Arrow enabled for
the Pandas-UDF slow path.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

_COMPAT_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "compat")
# Directory whose presence on sys.path/PYTHONPATH makes ``google.protobuf``
# importable via the vendored gcloud runtime (see compat/pbshim).
_PBSHIM_DIR = os.path.join(_COMPAT_DIR, "pbshim")
_VENDORED_PB = "/usr/lib/google-cloud-sdk/lib/third_party/cloudsdk/google/protobuf"
# Directory holding the Python worker daemon module (compat/daemon).
_DAEMON_DIR = os.path.join(_COMPAT_DIR, "daemon")
DAEMON_MODULE = "milan_daemon"


def _add_worker_path(path: str) -> None:
    """Prepend ``path`` to ``PYTHONPATH``, which the JVM — and through it
    every Python worker — inherits when it launches."""
    parts = os.environ.get("PYTHONPATH", "")
    if path not in parts.split(os.pathsep):
        os.environ["PYTHONPATH"] = path + (os.pathsep + parts if parts else "")


def _workers_see(path: str) -> bool:
    """Whether Spark's Python workers will have ``path`` on their path. They
    get the JVM's PYTHONPATH, frozen at JVM launch: read it from the running
    JVM, or from this process's environment before the JVM starts. A JVM
    that launched this process (spark-submit) has an environment this
    process cannot see yet: answer False."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        if "PYSPARK_GATEWAY_PORT" in os.environ:
            return False
        pp = os.environ.get("PYTHONPATH", "")
    else:
        pp = gateway.jvm.java.lang.System.getenv("PYTHONPATH") or ""
    return path in pp.split(os.pathsep)


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable if at all possible; return whether
    it is. ``transformWithStateInPandas`` requires it in the driver worker and
    every executor worker, so this MUST run before the JVM starts (workers
    inherit the JVM's environment): ``get_spark`` calls it ahead of
    ``getOrCreate``. With a pip-installed protobuf this is a no-op; without
    one, the pbshim directory (which redirects to the pure-python runtime the
    Google Cloud SDK vendors) is appended to ``sys.path`` for this process
    and to ``PYTHONPATH`` for the workers. Returns False when neither exists
    — callers then fall back to ``applyInPandasWithState``.
    """
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        pass
    if not os.path.isdir(_VENDORED_PB):
        return False
    if _PBSHIM_DIR not in sys.path:
        sys.path.insert(0, _PBSHIM_DIR)
    _add_worker_path(_PBSHIM_DIR)
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False

# Name of the monotonic arrival-order column used by order-sensitive operators
# (scans, argmax ties, enrichment joins). Mirrors the reference's per-record
# sequence numbers (milan-flink-compiler .../types/RecordWrapper.scala:23).
SEQ_COL = "__seq"


def workers_can_import_protobuf() -> bool:
    """Whether every SPARK WORKER (not just this driver process) will be able
    to import ``google.protobuf`` — the condition transformWithStateInPandas
    actually needs. Driver-side importability is NOT enough in the shim case:
    workers inherit the JVM's environment, frozen at JVM launch, so a session
    created before :func:`ensure_protobuf` ran (e.g. a session handed to us
    by an external harness) has workers that cannot see the shim even though
    this process can. Decision:

    - no protobuf at all -> False;
    - a real installation (site-packages, not the shim) -> True: workers run
      the same interpreter and share its site-packages;
    - the vendored shim -> True only if the shim directory is on the
      PYTHONPATH the JVM inherited (JVM running: read its env; JVM not yet
      launched: the env var set by ensure_protobuf will be inherited).
    """
    if not ensure_protobuf():
        return False
    import google.protobuf as _pb

    origin = (getattr(_pb, "__file__", "") or "") + str(getattr(_pb, "__path__", ""))
    if "cloudsdk" not in origin and "pbshim" not in origin:
        return True
    return _workers_see(_PBSHIM_DIR)


def get_spark(app_name: str = "milan_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Create or reuse a SparkSession with engine defaults.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    On a real cluster the master/memory settings are supplied by spark-submit;
    everything set here is cluster-safe.

    Python workers start from the engine's daemon module
    (``compat/daemon/milan_daemon.py``: cheap task launch on CPython < 3.12)
    whenever the workers can import it — always for a JVM this call launches.

    Stateful streaming queries do not use the batch
    ``spark.sql.shuffle.partitions`` set here for their state stores: every
    sink in ``milan_spark.streaming`` starts through
    ``streaming.start_query``, which pins a stateful query's state-partition
    count to ``SPARK_GRAFT_STREAM_PARTITIONS`` or, by default, one wave of
    tasks, ``min(8, defaultParallelism)``. Stateless queries keep the batch
    count.
    """
    ensure_protobuf()  # before the JVM exists, so workers inherit the path
    _add_worker_path(_DAEMON_DIR)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark lacks a nanos
        # timestamp type, so read as long and convert in sources.table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: the driver JVM IS the executor, so this is the whole
        # heap for all N concurrent tasks. 8g measurably GC-throttled the
        # text-dedup operators at 10x sf0.1 (ngram_jaccard 60s -> 19s at a
        # bigger heap; see SCALE.md); ~0.75g/core is the floor for 32 cores.
        # On a real cluster spark-submit sizes executors and this is unused.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if _workers_see(_DAEMON_DIR):
        builder = builder.config("spark.python.daemon.module", DAEMON_MODULE)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_cached(spark: SparkSession) -> int:
    """Blocking-release every cached block in the session: catalog-cached
    DataFrames AND bare persisted/localCheckpoint RDDs.

    ``spark.catalog.clearCache()`` drops cached *queries* but unpersists
    asynchronously and never touches ``localCheckpoint`` RDDs (they are not
    catalog entries), so a long-lived session that runs many multi-pass
    operators (dedup indexes, Cycle fixpoints) accumulates dead blocks and
    evicts live ones. Measured at 10x sf0.1: back-to-back passes of
    ngram_jaccard_dedup degraded 22s -> 59s -> 78s without this; flat with
    it. Harness layers (bench.py, tools/) call this between queries; user
    code with one query per session never needs it. Returns the number of
    RDDs released.
    """
    spark.catalog.clearCache()
    sc = spark.sparkContext._jsc.sc()
    jmap = spark._jvm.scala.collection.JavaConverters.mapAsJavaMap(sc.getPersistentRDDs())
    rdds = list(jmap.values())
    for rdd in rdds:
        rdd.unpersist(True)  # blocking: blocks are gone before we return
    return len(rdds)
