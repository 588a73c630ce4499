"""SparkSession factory.

One place to pin the configs that matter for both the local[32] test
harness and a real multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) — the 100 TB safety net.
- shuffle.partitions sized to cores locally; on a cluster AQE re-coalesces.
- Arrow on, so pandas_udf / applyInPandas / toPandas use columnar batches.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "epic_pandas_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    On a real cluster, pass ``master=None`` with spark-submit providing the
    master URL, or set it explicitly.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_s = os.environ.get("SPARK_GRAFT_CPUS", "")
        shuffle_partitions = int(cpus_s) if cpus_s.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # scan-split size: Spark's 128MB default assumes many files per
        # query; a local harness reading a handful of big parquet files
        # gets starved (a 1.7GB file -> 14 scan tasks on 32 cores left
        # q1 at 63s; 32MB splits -> 36 tasks -> 7.7s). On a real cluster
        # raise it back via SPARK_GRAFT_MAX_PARTITION_BYTES — with
        # thousands of input files per 100 TB scan, bigger splits
        # amortize task overhead and the default is right.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(32 * 1024 * 1024)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # driver testdata writes events.ts as parquet timestamp[ns], which
        # Spark's vectorized reader rejects; read as long and convert in
        # load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # shuffle cleanup is the ONE ContextCleaner path that is
        # fire-and-forget by default; making it blocking means that once
        # the cleaner's queue is observed empty, finished queries' shuffle
        # files and map-output state are actually GONE — the property
        # reset_session_state() relies on. Only the cleaner thread slows
        # down; queries never wait on it.
        .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-generated parquet table (TESTDATA.md).

    events.ts has shipped as parquet timestamp[ns] in some driver testdata
    generations and timestamp[us] (tz-naive) in others; normalize BOTH to a
    plain UTC TIMESTAMP so downstream `unix_micros`/window arithmetic never
    sees a LongType or TIMESTAMP_NTZ surprise:

    - ns → read as long (nanosAsLong), integer-div to µs (float division
      would corrupt the microsecond digit at ~1.7e18), timestamp_micros;
    - tz-naive µs → Spark 4 infers TIMESTAMP_NTZ; cast to timestamp —
      lossless because the session timezone is pinned UTC, and it matches
      DuckDB's naive-UTC read of the same file."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if name == "events":
        # set at runtime too: the caller may hand us a session built
        # without the factory (e.g. the driver's own harness session),
        # and the ns-timestamp parquet is unreadable without it
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# upper bound on reset_session_state's wait for the cleaner to go idle
_DRAIN_TIMEOUT_S = 10.0


def reset_session_state(spark: SparkSession) -> None:
    """Deterministically release the state a finished query leaves behind
    in a long-lived session — the between-jobs hygiene of a query service.

    Spark reclaims shuffle files, broadcast blocks and accumulators only
    when the driver JVM garbage-collects the corresponding dependency
    objects (ContextCleaner is GC-triggered, see its class doc). A session
    that runs hundreds of queries back-to-back on a large heap GCs rarely,
    so dozens of queries' shuffle/broadcast state piles up in the block
    manager and on disk; when a GC finally fires, the resulting removal
    storm runs CONCURRENTLY with whatever query is executing. Both effects
    were measured here at several-x per-query inflation late in long
    sessions (the same query 3-6x slower mid-session than solo, the slow
    set differing run to run).

    This makes the cleanup deterministic and charges it to no query:

    1. unpersist every persisted RDD (blocking) — localCheckpoint blocks;
    2. drop this Python process's cached py4j references to finished
       plans (gc.collect()) so the JVM objects become unreachable;
    3. System.gc() to enqueue the dead references with ContextCleaner;
    4. wait until the cleaner's reference buffer stops shrinking — i.e.
       all newly dead shuffle/broadcast/accumulator state is processed.
       With spark.cleaner.referenceTracking.blocking.shuffle=true (set by
       get_spark) a drained buffer means removals have COMPLETED, so no
       removal storm races the next query.

    The buffer is reached via reflection (it is private); if the Spark
    version moved it, fall back to GC plus a short fixed sleep. No data
    is cached across calls.

    Step 1 is not limited to finished queries: it unpersists EVERY
    persisted RDD in the session, including the localCheckpoint blocks
    of a DataFrame a caller still holds. Such a frame cannot be
    recomputed — running it again after the reset fails with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (e.g. ``held =
    spark.range(1000).localCheckpoint(eager=True)``, reset, then
    ``held.count()``). Call this only between queries whose frames are
    all dropped; releasing just one query's state (ROADMAP item 1) is
    the fix. Steps 2-4 are safe for held frames: reachable shuffle and
    broadcast state is never enqueued with the cleaner."""
    import gc as _pygc

    sc = spark.sparkContext
    for rdd in dict(sc._jsc.getPersistentRDDs()).values():
        rdd.unpersist(True)  # blocking: no removal racing the next query
    _pygc.collect()
    cleaner_opt = sc._jsc.sc().cleaner()
    buf = None
    if not cleaner_opt.isEmpty():
        try:
            field = cleaner_opt.get().getClass().getDeclaredField("referenceBuffer")
            field.setAccessible(True)
            buf = field.get(cleaner_opt.get())
        except Exception:
            buf = None
    sc._jvm.System.gc()
    if buf is None:
        time.sleep(0.3)
        return
    # drain: the buffer never reaches 0 (live queries keep reachable
    # references enqueued-in-waiting), so wait for it to go STABLE —
    # no shrinking observed for a full second after the GC (single
    # removals can take >50ms, so a short stability window exits while
    # the cleaner is still grinding through the storm).
    last = buf.size()
    stable = 0
    deadline = time.time() + _DRAIN_TIMEOUT_S
    while time.time() < deadline and stable < 20:
        time.sleep(0.05)
        size = buf.size()
        if size >= last:
            stable += 1
        else:
            stable = 0
        last = size
