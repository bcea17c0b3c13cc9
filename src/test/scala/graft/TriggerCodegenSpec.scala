package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.{GlobalConfig, TableConfig}
import graft.streaming.Topology

/** A steady streaming trigger compiles no new generated classes: the
  * codegen cache holds a trigger's working set, and a plan that grows by one
  * union leaf per trigger (anything reading the [[graft.streaming.ObservedKeySet]])
  * reuses its classes because stage ids are not part of the class names
  * ([[GraftSession.codegenCacheEntries]]). */
class TriggerCodegenSpec extends SparkSpec {

  private val cfg = GlobalConfig(
    brokers = None, jdbcUrl = None,
    watermarkDelay = "10 minutes", shufflePartitions = 4,
    tables = Seq(
      TableConfig("events", isOperational = true, Seq("equip"), "ts_us", None, None, None),
      TableConfig("equipment", isOperational = false, Seq("equip"), "ord",
        filterColumn = None, topicName = None, retentionDays = None),
      TableConfig("shifts", isOperational = false, Seq("equip"), "ord",
        filterColumn = Some("equip"), topicName = None, retentionDays = None)))

  private val dimSchemas = Map(
    "equipment" -> StructType.fromDDL("equip BIGINT, ord BIGINT, planned DOUBLE"),
    "shifts" -> StructType.fromDDL("equip BIGINT, ord BIGINT, shift STRING"))

  test("GraftSession.build sizes the codegen cache and drops stage ids from class names") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.codegenCacheEntries.toString)
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("steady triggers of the on-demand topology compile no new classes") {
    import spark.implicits._
    val root = tmpDir("codegen-topo")
    val topo = new Topology(spark, cfg, s"$root/ckpt", dimSchemas)
    // the compacted shifts topic the back-fill reads: keys 0..199
    val topic = s"$root/topic"
    (0L until 200L).map(k => (k, 1L, if (k % 3 == 0) "night" else "day"))
      .toDF("equip", "ord", "shift").write.parquet(topic)

    val equipCdc = MemoryStream[(Long, Long, Double)](spark)
    val shiftCdc = MemoryStream[(Long, Long, String)](spark)
    val dimQs = topo.startDimensions {
      case "equipment" => equipCdc.toDF().toDF("equip", "ord", "planned")
      case "shifts" => shiftCdc.toDF().toDF("equip", "ord", "shift")
    }
    // two consumers of one event topic, fed in turn so that each trigger's
    // keys are registered and back-filled before the operational query runs
    val keyFeed = MemoryStream[(Long, Long)](spark)
    val opFeed = MemoryStream[(Long, Long)](spark)
    def events(feed: MemoryStream[(Long, Long)]) = feed.toDF().toDF("equip", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val keyQ = topo.startKeyRegistration(
      events(keyFeed), Map("shifts" -> (() => spark.read.parquet(topic))))
    val emitted = new java.util.concurrent.atomic.AtomicLong
    val opEvents = events(opFeed)
    val opQ = topo.startOperational(
      opEvents, "ts", opEvents.schema,
      Seq("performance" -> (lit(1.0) / col("planned")))) { (batch, _) =>
      emitted.addAndGet(batch.count())
      ()
    }

    // Every trigger: ten never-seen keys (registration grows the key set by
    // one delta, back-fill, on-demand CDC against the grown set), ten known
    // ones, and one key the topic lacks, which parks for good so the late
    // buffer is never empty after the first trigger.
    def trigger(b: Int): Unit = {
      val keys = (b * 10L until b * 10L + 10L) ++ (0L until 10L) :+ (1000L + b)
      equipCdc.addData(Seq((b.toLong, 1L + b, 12.0)))
      shiftCdc.addData(keys.map(k => (k, 1L + b, "day")) :+ ((1500L + b, 1L, "night")))
      dimQs.values.foreach(_.processAllAvailable())
      val evs = keys.map(k => (k, 1700000000000000L + b * 1000000L))
      keyFeed.addData(evs)
      keyQ.processAllAvailable()
      opFeed.addData(evs)
      opQ.processAllAvailable()
    }
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    try {
      equipCdc.addData((0L until 2000L).map(k => (k, 1L, 10.0 + k % 7)))
      (1 to 3).foreach(trigger)
      val before = compiles
      (4 to 6).foreach(trigger)
      val added = compiles - before
      assert(added == 0, s"the last 3 triggers compiled $added new classes")
      // the driven path is the real one: keys 0..69 and six orphans
      // registered, every event but the orphans emitted
      assert(topo.observedKeys.current.count() == 70 + 6)
      assert(emitted.get() == 6 * 20)
    } finally (dimQs.values.toSeq :+ keyQ :+ opQ).foreach(_.stop())
  }
}
