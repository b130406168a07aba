"""SparkSession factory with scale-appropriate defaults.

The reference impls hand-tune confs per script (e.g. Kryo + shuffle
partitions, reference ``impl/pyspark-pivot.py:166-175``; the pathological
``spark.sql.shuffle.partitions=1`` in ``impl/pyspark-case-when.py:85``).
We centralize one AQE-first profile instead: adaptive execution owns
post-shuffle partition coalescing, skew-join splitting and join-strategy
choice at runtime, which is what survives a 100 TB / 1000-executor
scale-up without per-query retuning.
"""

from __future__ import annotations

import glob
import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def comet_jar() -> str | None:
    """Locate an Apache DataFusion Comet jar if one is present
    (``SPARK_GRAFT_COMET_JAR`` or a ``comet-spark-*.jar`` on disk).

    An EXPLICITLY configured path that doesn't exist raises — silently
    falling back would run the 'comet'-labeled profile on vanilla Spark
    and quietly invalidate an A/B measurement. The no-env discovery path
    stays best-effort (absence is a valid state), and picks the highest
    VERSION, not the lexicographically largest name (0.10 > 0.9)."""
    env = os.environ.get("SPARK_GRAFT_COMET_JAR")
    if env:
        if not os.path.exists(env):
            raise FileNotFoundError(
                f"SPARK_GRAFT_COMET_JAR={env} does not exist — refusing "
                "to silently run the comet profile without Comet"
            )
        return env
    import re

    for root in ("/opt", os.path.expanduser("~")):
        hits = glob.glob(
            os.path.join(root, "**", "comet-spark-*.jar"), recursive=True
        )
        if hits:
            def version_key(path: str) -> tuple:
                nums = re.findall(r"\d+", os.path.basename(path))
                return tuple(int(n) for n in nums), path

            return max(hits, key=version_key)
    return None


#: Conf profile mirroring the reference's Comet launcher
#: (``run_comet.sh:4-22``): session extension + native shuffle manager +
#: full native exec with row→columnar conversion at the scan boundary.
#: Applied only when a Comet jar is actually present — ``get_spark(
#: profile="comet")`` is a clean no-op otherwise, so callers can request
#: the accelerated profile unconditionally.
COMET_CONF: dict[str, str] = {
    "spark.sql.extensions": "org.apache.comet.CometSparkSessionExtensions",
    "spark.shuffle.manager": (
        "org.apache.spark.sql.comet.execution.shuffle.CometShuffleManager"
    ),
    "spark.comet.enabled": "true",
    "spark.comet.exec.enabled": "true",
    "spark.comet.exec.all.enabled": "true",
    "spark.comet.explainFallback.enabled": "true",
    "spark.comet.exec.shuffle.enabled": "true",
    "spark.comet.exec.shuffle.mode": "native",
    "spark.comet.memory.overhead.factor": "0.3",
    "spark.comet.rowToColumnar.enabled": "true",
}


#: Runtime-settable subset of the engine profile, for sessions the engine
#: did not build (the driver's vanilla session): AQE + coalescing + cached
#: -plan repartitioning. Iterative operators call this best-effort — on a
#: vanilla 200-shuffle-partition session a 5-iteration loop over cached
#: invariants otherwise pays thousands of near-empty tasks.
_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Best-effort apply of the runtime-settable engine confs (no-op for
    engine-built sessions, which already carry them)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def default_parallelism() -> int:
    """Cores the driver environment asks us to use (local mode)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _cache_entries(spark: SparkSession) -> list:
    """The session's CacheManager entries (``CachedData``), newest first.

    Spark 4.1 exposes ``numCachedEntries``, ``lookupCachedData`` and
    ``uncacheQuery`` but no listing, so this reads the manager's private
    ``cachedData`` field by reflection."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    seq = field.get(cm)
    return [seq.apply(i) for i in range(seq.size())]


@contextmanager
def cache_scope(spark: SparkSession):
    """Release the storage a query pins; the one release path.

    A query function ``.cache()``s a frame its returned plan reads two or
    more times, and iterative operators ``localCheckpoint`` to cut plan
    depth. Those pins must outlive the function (the caller's action reads
    them), so the caller releases them by consuming inside a scope:

        with cache_scope(spark):
            df = queries["funnel_conversions"](spark, sf_dir)
            df.collect()          # caches materialize here
        # exit: the cache and the pinned RDDs are back to their entry state

    On exit every CacheManager entry added inside the scope is removed
    with ``uncacheQuery`` (so re-running the same query in a later scope
    caches again instead of finding a stale entry), then every RDD
    persisted inside the scope (``localCheckpoint`` blocks) is
    unpersisted. Entries and RDDs that existed at entry are untouched. Do
    not reuse a scope's DataFrames after exit.
    """
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    before_rdds = set(jsc.getPersistentRDDs().keySet().toArray())
    before_entries = jvm.java.util.IdentityHashMap()
    for entry in _cache_entries(spark):
        before_entries.put(entry, True)
    try:
        yield spark
    finally:
        cm = spark._jsparkSession.sharedState().cacheManager()
        # newest first: a cached frame built on another new one goes
        # before its input, so no removal re-plans a doomed entry
        for entry in _cache_entries(spark):
            if not before_entries.containsKey(entry):
                cm.uncacheQuery(spark._jsparkSession, entry.plan(), False, False)
        pinned = jsc.getPersistentRDDs()
        for rdd_id in pinned.keySet().toArray():
            if rdd_id not in before_rdds:
                rdd = pinned.get(rdd_id)
                if rdd is not None:
                    rdd.unpersist(False)


def get_spark(
    app_name: str = "feature-generation-benchmark-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    profile: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's conf profile.

    Notes on the profile:

    - AQE on (+ coalescing): at cluster scale the static shuffle-partition
      number is always wrong for at least one stage; AQE right-sizes.
    - ``spark.sql.session.timeZone=UTC``: testdata timestamps are naive;
      pinning the zone makes date arithmetic deterministic and equal to
      DuckDB's naive-timestamp semantics.
    - Arrow on: every pandas/Arrow UDF boundary is vectorized.
    - Kryo: cheap win for shuffle-heavy wide-row plans (the reference uses
      it in all Spark impls).
    - ``profile="comet"``: apply the reference's native-accelerator confs
      (``run_comet.sh``) when a Comet jar is found; silent no-op without
      one. The reference's best medium number (412 s) is its Comet pivot —
      this profile is the parity knob for plugging the same accelerator.
    """
    # Protobuf fallback must be on PYTHONPATH before the JVM launches so
    # executor-side Python workers (which inherit the JVM's environment)
    # can import the transformWithState state-server protocol modules.
    from feature_generation_benchmark_spark.vendor import ensure_protobuf

    ensure_protobuf()

    cores = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cores))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Start shuffles WIDE and let AQE coalesce down: the static
        # cores-sized number under-partitions high-cardinality aggs (1M-key
        # bucket_pivot at 1.2B rows: 808 s at 32 partitions vs 634 s at
        # 256 — per-task spill was the bottleneck), while AQE merges the
        # excess away for small stages at no measurable cost.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(cores * 8),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing floor (r7 plan audit): with parallelismFirst
        # (default) AQE sizes post-shuffle partitions at
        # max(bytes/parallelism, minPartitionSize); the 1 MB default
        # floor collapses byte-SMALL but CPU-DENSE stages (pair
        # verification over hash arrays, codec work, window sorts of
        # compact rows) to 1-2 tasks, leaving 30 of 32 cores idle —
        # In-session interleaved A/B over the 10 heaviest suite queries
        # (same host window, medians of 3): 1m floor 44.7 s, 64k 38.0 s,
        # 256k 31.1 s — dedup_jaccard_incremental alone 12.5 → 5.5 s.
        # 256k only lowers the floor: stages whose bytes/parallelism
        # exceed it (any real at-scale shuffle) coalesce exactly as
        # before, so the floor is scale-neutral.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        # Let AQE right-size CACHED plans too: by default Spark pins a
        # cache's output partitioning (uncoalesced, e.g. 256-1024 tiny
        # partitions for a dim-sized distinct), and every downstream pass
        # over the cache pays the full task count — the iterative
        # operators (pagerank, k-means, connected components) re-read
        # their cached invariants once per iteration, so this compounds.
        # Measured: pagerank_suppliers sf0.1 16.7 s → 4.2 s warm.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.parquet.filterPushdown", "true")
        # zstd for shuffle/spill IO (Spark default is lz4): measured
        # NEUTRAL on the sf0.1 suite (160.2 vs 159.3 s — small shuffles
        # are overhead-bound) and decisively better when the shuffle is
        # the workload — medium flagship 247.5 -> 143.5 s median, big_keys
        # 633.8 -> 456.1 s, and ~2x smaller spill on disk (the 1M-key rep
        # dropped from ~60 GB to fitting a 68 GB budget). At cluster
        # scale the same bytes cross the network, so the trade improves.
        .config("spark.io.compression.codec", "zstd")
        # Driver testdata parquet carries TIMESTAMP(NANOS) which Spark has
        # no native type for; read as long (ns since epoch) and convert
        # explicitly (sources/testdata.py::event_ts).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Console progress bars write \r-separated spam that has truncated
        # a driver-captured BENCH artifact (r2: `parsed: null`); the engine
        # never wants them.
        .config("spark.ui.showConsoleProgress", "false")
    )
    if profile == "comet":
        jar = comet_jar()
        if jar is not None:
            builder = builder.config("spark.jars", jar)
            builder = builder.config("spark.driver.extraClassPath", jar)
            builder = builder.config("spark.executor.extraClassPath", jar)
            for k, v in COMET_CONF.items():
                builder = builder.config(k, v)
    elif profile is not None:
        raise ValueError(f"unknown session profile {profile!r}")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # ad-hoc conf A/Bs without code edits (JSON object), e.g.
    # SPARK_GRAFT_EXTRA_CONF='{"spark.io.compression.codec":"zstd"}' —
    # used by the big-ladder runs to trade CPU for ~2x smaller shuffle
    # spill on disk-constrained boxes
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        import json as _json

        for k, v in _json.loads(env_conf).items():
            builder = builder.config(k, str(v))
    return builder.getOrCreate()
