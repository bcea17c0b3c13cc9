package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** `batch_mix`: named queries over generated tables, each submitted once in
  * the given (seed-shuffled) order to the noop sink. A query's latency is
  * its first submission in the JVM: the planning, codegen and scheduling
  * floor is part of what a user waits for. */
object BatchMix {
  /** Generic warm-up: one of each common operator shape (scan/filter,
    * aggregate, shuffle and broadcast joins, window, explode, JSON, pivot,
    * sort) over the generated tables, none of them a benchmarked query. */
  private def warmUp(spark: SparkSession, dir: String): Unit = {
    def t(name: String) = spark.read.parquet(s"$dir/$name.parquet")
    def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val (li, o, ev) = (t("lineitem"), t("orders"), t("events"))
    run(li.filter(col("l_quantity") > 10)
      .select(col("l_orderkey"), col("l_extendedprice") * (lit(1) - col("l_discount"))))
    run(li.groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1))))
    run(li.join(o, li("l_orderkey") === o("o_orderkey")))
    run(li.join(broadcast(t("part")), li("l_partkey") === col("p_partkey")))
    run(ev.withColumn("r", row_number().over(Window.partitionBy("user_id").orderBy("ts"))))
    run(t("documents").select(explode(split(col("text"), " ")).as("w")).groupBy("w").count())
    run(ev.select(get_json_object(col("props"), "$.k")))
    run(o.groupBy("o_orderpriority").pivot("o_orderstatus").count())
    run(ev.select("user_id").distinct().orderBy("user_id"))
  }

  private def pinned(spark: SparkSession): (Int, Long) = {
    val sc = spark.sparkContext
    val ids = sc.getPersistentRDDs.keySet
    (ids.size, sc.getRDDStorageInfo.filter(i => ids(i.id)).map(i => i.memSize + i.diskSize).sum)
  }

  def run(args: Args, heap: HeapPeak): Map[String, Any] = {
    val dir = args.inputs
    var spark: SparkSession = null
    val setups = (1 to args.setupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Main.session(args)
      warmUp(spark, dir)
      (System.nanoTime() - t0) / 1e9
    }
    // untimed, once: catalogue queries outside the sweep that share its
    // joins, windows and sketches, so the JIT's first pass over that code
    // is not charged to whichever query the seed puts first
    val leadStart = Now.ms()
    args.leadQueries.foreach(n =>
      SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save())
    val leadMs = Now.ms() - leadStart
    var gateWriteMs, heapGcMs = 0.0
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val workloadSpan = tracer.map(_.newId())
    val (pin0, pinBytes0) = pinned(spark)
    // every query starts on a collected heap, the first one too (a full GC
    // follows each query, outside its latency)
    System.gc()
    val results = mutable.ArrayBuffer.empty[Map[String, Any]]
    tracer.foreach(_.arm())
    val wallStart = Now.ms()
    for (name <- args.queries) {
      val spanId = tracer.map(_.newId())
      spanId.foreach(id => spark.sparkContext.setLocalProperty("perfbench.span", id.toString))
      val t0 = Now.ms()
      var t1 = t0
      var t2 = t0
      val error = try {
        val df = SparkEntry.queries(name)(spark, dir)
        t1 = Now.ms()
        df.write.format("noop").mode("overwrite").save()
        t2 = Now.ms()
        // the output for the oracle gate: untimed and untraced
        tracer.foreach(_.disarm())
        df.coalesce(1).write.mode("overwrite").parquet(s"${args.work}/out/$name")
        gateWriteMs += Now.ms() - t2
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      if (t2 == t0) t2 = Now.ms()
      val gc0 = Now.ms()
      heap.sample()
      heapGcMs += Now.ms() - gc0
      tracer.foreach(_.arm())
      spark.sparkContext.setLocalProperty("perfbench.span", null)
      for (tr <- tracer; id <- spanId) tr.addSpan(id, workloadSpan, "query", name, t0, t2)
      results += Map("name" -> name, "t0" -> t0, "t1" -> t1,
        "build_ms" -> (t1 - t0), "execute_ms" -> (t2 - t1),
        "total_ms" -> (t2 - t0), "error" -> error)
    }
    val wallEnd = Now.ms()
    val (pin1, pinBytes1) = pinned(spark)
    val traced = for (tr <- tracer; id <- workloadSpan)
      yield tr.result(args.workload, args.startMs, wallStart, wallEnd, id)
    Json.write(s"${args.work}/out/oracle_sql.json",
      args.queries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
    spark.stop()
    Map("setup_s" -> setups, "queries" -> results.toSeq,
      "pinned_rdds" -> (pin1 - pin0), "pinned_bytes" -> (pinBytes1 - pinBytes0),
      "trace" -> traced,
      // where the untimed part of the run goes
      "harness_ms" -> Map("lead" -> leadMs, "gate_write" -> gateWriteMs, "heap_gc" -> heapGcMs,
        "sweep_wall" -> (wallEnd - wallStart)))
  }
}
