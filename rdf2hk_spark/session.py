"""SparkSession factory tuned for the sandbox (local[N]) but configured the
way a multi-executor deployment would be: AQE on (skew-join splitting +
partition coalescing), Arrow on for every pandas-UDF boundary, shuffle
partitions sized to the parallelism level instead of the 200 default.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger("rdf2hk_spark")


def _default_driver_memory() -> str:
    """Size the local-mode JVM heap to the host instead of a constant.

    In local[N] the driver JVM IS the executor: N concurrent tasks share one
    heap, plus every persisted/localCheckpoint-ed block. An 8g heap on a
    32-core host left execution memory starved when cached frames were
    columnar-compressed (identical warm parses varied 6.8–13.5 s from GC
    thrash); 12g measured fastest clean-run bench totals, while very large
    heaps (24g) produced multi-second GC/page-fault stalls on this
    virtualized host. Default to a tenth of host RAM clamped to [8g, 12g];
    any deployment that is not local-mode-on-one-box should set
    SPARK_DRIVER_MEMORY (and executor memory) explicitly — the env override
    wins unchanged."""
    try:
        page = os.sysconf("SC_PAGE_SIZE")
        phys = os.sysconf("SC_PHYS_PAGES")
        total_gb = page * phys / (1 << 30)
    except (ValueError, OSError, AttributeError):
        return "8g"
    return f"{max(8, min(12, int(total_gb / 10)))}g"


def materialize_pending_caches(df) -> int:
    """Populate every un-materialized cache (InMemoryRelation) in ``df``'s
    plan, sequentially, and return how many were populated.

    AQE submits a plan's independent leaf shuffle stages CONCURRENTLY, and a
    leaf stage that reaches an unpopulated cache recomputes the cached
    subtree instead of waiting (cache population is per-partition and
    non-blocking — tasks never block on a peer computing the same
    partition). So a caller that persists an upstream frame lazily and then
    fans out into N branches runs the cached pipeline up to N times — the
    web pipeline's lazy ``ext.persist()`` feeding 4 extraction branches
    measured 4 concurrent full runs of the extract UDF. Populating each
    pending cache with one sequential pass first makes every branch a cache
    read. Same total work as the lazy path ideally does, strictly less than
    what it actually does under AQE.

    Best-effort: reaches into the JVM plan (stable Spark 4 internals —
    ``InMemoryRelation.cacheBuilder.isCachedColumnBuffersLoaded`` is the
    same surface CacheManager uses); on any reflection surprise it logs
    the exception to the ``rdf2hk_spark`` logger and returns 0, and the
    caller's plan still computes correctly, just lazily."""
    try:
        spark = df.sparkSession
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        done = 0
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() != "InMemoryRelation":
                continue
            if leaf.cacheBuilder().isCachedColumnBuffersLoaded():
                continue
            spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                spark._jsparkSession, leaf
            ).count()
            done += 1
    except Exception:
        log.warning("materialize_pending_caches skipped", exc_info=True)
        return 0
    log.info("materialize_pending_caches populated %d caches", done)
    return done


def get_spark(
    app: str = "rdf2hk_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalesces post-shuffle partitions by BYTES; with tiny shuffle
        # payloads the 1m minPartitionSize floor binds and compute-dense
        # reducers (entity assembly: md5 mint + map aggregation over ~1-3 MB
        # of shuffle bytes) collapse to 2-3 tasks on a 32-core host. Paired
        # A/B at three settings (3 alternating bench pairs each): 64k wins
        # the parse-path queries (kg_properties 6.4->4.2 median) but loses
        # the array-heavy pair aggregations (doc_jaccard 3.4->5.1) to task
        # overhead; 256k keeps the parse gains (kg_properties 4.3-4.4)
        # without the array-agg losses and gave the best flagship-pipeline
        # times of the session. Only shuffles under ~256k/partition-target
        # are affected — at production scale per-reducer bytes dwarf either
        # floor, so the decision there is unchanged (scale-adaptive, not a
        # local constant: it is a FLOOR, not a partition count).
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()))
        # Throughput collector for batch work: G1 (the JDK default) pays
        # region management + write-barrier + concurrent-cycle overhead to
        # bound pause times this engine does not need. Paired A/B on the
        # 22-query bench (alternating runs to cancel host drift): the
        # non-flagship query sum dropped 47.0s -> 38.8s (median of 3 pairs)
        # under ParallelGC AND the run-to-run spread collapsed (45/47/74 ->
        # 37/39/41 — G1's concurrent cycles were a major variance source).
        # Scale note: the same reasoning applies to batch executors; a
        # latency-sensitive deployment overrides via SPARK_GC_OPTS.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GC_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark 4 DataFrame debugging wraps EVERY Python DataFrame/Column op
        # with a call-site capture: a conf RPC + PySparkCurrentOrigin.set/
        # clear RPCs + a sys._getframe walk per call. Our operators build
        # plans from hundreds of ops, so this tripled Python-side plan-
        # construction time (measured: ~1.2 s of a 2.6 s parse_quads build).
        # It only enriches error messages with user line numbers — off.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Columnar-cache compression (dictionary/RLE per string column) was
        # measured at 13× the cost of COMPUTING the frame being cached: the
        # web pipeline's 465k-row annotated-quads persist took 27 s to build
        # compressed vs 2 s uncompressed, with equal downstream scan speed.
        # Our cached frames are wide string frames where those encoders
        # thrash; memory is the cheaper currency (MEMORY_AND_DISK spill
        # still goes through spark.io.compression.codec on disk).
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        # InferFiltersFromGenerate adds `size(arr)>0 AND isnotnull(arr)`
        # below every explode; filter pushdown then inlines the ENTIRE
        # array-building expression (for the text ops: the k-gram
        # constructor, with the token split re-inlined per element_at)
        # into a non-codegen Filter at the scan — each row paid the gram
        # construction ~3x in interpreted mode. The filter is semantically
        # redundant (explode drops empty/null arrays itself) and our
        # explodes run in the same stage as the array construction, so
        # skipping rows early saves nothing. Measured: decontaminate
        # full-column materialization 17.8s -> 1.2s at sf0.1.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
