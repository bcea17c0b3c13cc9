package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the settings the Graft engine relies on.
  *
  * Design note (100 TB): everything here is declarative DataFrame planning —
  * AQE handles runtime re-partitioning / join-strategy switching / skew
  * splitting, so the same plans scale from `local[32]` to a 1000-executor
  * cluster without code changes.
  */
object GraftSession {

  /** Apply the session-level SQL confs Graft needs to an existing session.
    * Safe to call repeatedly; all of these are runtime-settable.
    *
    * `spark.sql.legacy.parquet.nanosAsLong`: earlier testdata generations
    * carried `events.ts` as parquet TIMESTAMP(NANOS), which Spark has no
    * native type for — this conf reads such columns as raw epoch-nanos
    * longs. Current generations write TIMESTAMP(MICROS), where the conf is
    * inert; [[Tables.events]] normalizes either shape to epoch-micros longs
    * by inspecting the loaded type.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.files.openCostInBytes", openCostInBytes.toString)
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    spark
  }

  /** Entries of the JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The four-query
    * streaming topology ([[graft.streaming.Topology]]) needs 208 entries per
    * trigger: 84 distinct classes, each cached ~2.5× because the cache key
    * includes the classloader (driver thread and executor task loaders in
    * local mode). At 100 the LRU evicted every class before the next trigger
    * needed it, so each steady trigger recompiled ~90 classes (~2 s of
    * Janino on the driver, the serial cost that kept a catch-up trigger as
    * slow on 4 cores as on 1). 512 is ~2.5× that working set, room for a
    * batch query mix beside the streams; 256 would leave only 1.2×. A STATIC
    * conf: it takes effect only if set before the JVM's first compile, so it
    * lives in [[build]] only.
    *
    * `spark.sql.codegen.useIdInClassName=false` (runtime, set in both
    * [[build]] and [[tune]]): with ids in the name, a plan that gains one
    * union leaf per trigger (anything reading [[graft.streaming.ObservedKeySet]]'s
    * append-delta frame) shifts every later whole-stage id, so code identical
    * line for line except `…CodegenStage7` → `…Stage8` missed the cache —
    * ~15 new compiles per trigger. `explain()` still prints stage ids; only
    * stack traces lose the numeric suffix. Together: 97–123 compiles per
    * steady trigger → 0 (548 → 5 compiles and 10.8 s → 0.15 s of compile
    * time over the measured triggers of one catch-up run on 4 cores). */
  val codegenCacheEntries: Int = 512

  /** Scan-split open cost (`spark.sql.files.openCostInBytes`). Spark's 4 MB
    * default models remote-object-store opens and FLOORS the split size
    * (`maxSplitBytes = min(maxPartitionBytes, max(openCost, total/minPartitionNum))`),
    * so a table held in a handful of small-MB files scans with a handful of
    * tasks no matter how many cores exist — measured on the bench corpus:
    * the q85 CMS register build ran its corpus fold in 3 tasks on 32 cores
    * (7.2 s stage) purely from this floor. 128 KB reflects a local-disk /
    * fast-store file open; at production scale files are ≥ 128 MB and the
    * `total/minPartitionNum` term dominates, so the setting is inert there —
    * it is NOT a local-only parallelism hack, just a removal of the
    * small-file anti-floor. Env-overridable for deployments where opens are
    * genuinely expensive. */
  def openCostInBytes: Long =
    sys.env.get("SPARK_GRAFT_OPEN_COST_BYTES").map(_.toLong).getOrElse(131072L)

  /** Switch Structured Streaming state to the RocksDB provider (per-session;
    * applies to queries STARTED afterwards). The default HDFS-backed store
    * keeps every (key, window) state row on the executor JVM heap — at
    * 100 TB-scale streams (wide watermark horizons × high key cardinality)
    * that heap bound is the first thing to break; RocksDB keeps state
    * off-heap + on local disk with incremental checkpointing, at identical
    * query semantics (asserted by the streaming parity suite). */
  def useRocksDbStateStore(spark: SparkSession): SparkSession = {
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // bound RocksDB native memory per executor (local-mode friendly too)
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
    spark
  }

  def build(
      master: String = "local[32]",
      appName: String = "graft",
      shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.files.openCostInBytes", openCostInBytes.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
      // ContextCleaner only reclaims broadcast/shuffle blocks when driver
      // GC collects their refs; a large heap can defer full GC for the
      // default 30 MIN, during which every build-once/probe-many query's
      // broadcasts pile up in the block manager and throttle later jobs
      // (measured: d13 probes degraded 6 s → 50 s across one session at
      // 10× sf0.1; stable at ~5.5 s with timely cleanup — SCALE.md round
      // 9). One minute bounds the pile at any heap size.
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
