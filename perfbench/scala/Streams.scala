package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.model.Config
import graft.streaming.Topology

/** Generated stream inputs (see gen.py `stream_inputs`), indexed by tick. */
final class StreamInputs(val dir: String) {
  val meta = Json.read(s"$dir/meta.json")
  val ticks: Int = meta.get("ticks").asInt
  val flushTicks: Int = meta.get("flush_ticks").asInt
  val tailTicks: Int = meta.get("tail_ticks").asInt
  val leadTicks: Int = meta.get("lead_ticks").asInt
  val tickMs: Int = meta.get("tick_ms").asInt
  val topicChunkTicks: Int = meta.get("topic_chunk_ticks").asInt
  val shiftNames: IndexedSeq[String] =
    meta.get("shift_names").elements().asScala.map(_.asText).toIndexedSeq

  private def l(n: String) = Columns.longs(dir, n)
  val evEid = l("ev_eid"); val evKey = l("ev_key"); val evTick = l("ev_tick")
  val evNew = l("ev_new"); val evQty = Columns.doubles(dir, "ev_qty")
  val tickOff = l("tick_off")
  val eqKey = l("eq_key"); val eqOrd = l("eq_ord"); val eqLine = l("eq_line"); val eqOff = l("eq_off")
  val shKey = l("sh_key"); val shOrd = l("sh_ord"); val shCrew = l("sh_crew"); val shOff = l("sh_off")
  val initKey = l("init_key"); val initLine = l("init_line"); val initCrew = l("init_crew")

  def planned(k: Long): Double = 20.0 + (k * 7919 % 80)
  def shift(k: Long): String = shiftNames((k % shiftNames.size).toInt)

  /** Event time of a tick: ticks are spaced by the tick period (1 s when
    * the workload has none), so event time never runs backwards. */
  def tsUs(tick: Long): Long = 1700000000000000L + tick * math.max(tickMs, 1000) * 1000L

  def events(t: Int): Seq[Rig.Ev] = (tickOff(t).toInt until tickOff(t + 1).toInt).map { i =>
    (evEid(i), evKey(i), evTick(i), tsUs(evTick(i)), evQty(i), evNew(i))
  }
  def equipCdc(t: Int): Seq[Rig.Eq] = (eqOff(t).toInt until eqOff(t + 1).toInt)
    .map(i => (eqKey(i), eqOrd(i), planned(eqKey(i)), eqLine(i)))
  def shiftCdc(t: Int): Seq[Rig.Sh] = (shOff(t).toInt until shOff(t + 1).toInt)
    .map(i => (shKey(i), shOrd(i), shift(shKey(i)), shCrew(i)))
  def equipInitial: Seq[Rig.Eq] =
    initKey.indices.map(i => (initKey(i), 1L, planned(initKey(i)), initLine(i)))
  def shiftInitial: Seq[Rig.Sh] =
    initKey.indices.map(i => (initKey(i), 1L, shift(initKey(i)), initCrew(i)))
}

object Rig {
  type Ev = (Long, Long, Long, Long, Double, Long) // eid, equip, tick, ts_us, qty, nk
  type Eq = (Long, Long, Double, Long)              // equip, ord, planned, line
  type Sh = (Long, Long, String, Long)              // equip, ord, shift, crew

  /** Equipment is replicated in full; shifts on demand unless `onDemand` is
    * off (the replicate-everything baseline of the paper's comparison). */
  def config(onDemand: Boolean): String =
    s"""{"watermarkDelay": "10 minutes", "tables": [
      |  {"tableName": "events", "isOperational": true,
      |   "keyColumns": ["equip"], "ordColumn": "ts_us"},
      |  {"tableName": "equipment", "isOperational": false,
      |   "keyColumns": ["equip"], "ordColumn": "ord"},
      |  {"tableName": "shifts", "isOperational": false,
      |   "keyColumns": ["equip"], "ordColumn": "ord"${if (onDemand) """, "filterColumn": "equip"""" else ""}}
      |]}""".stripMargin

  /** One sink record: what a micro-batch emitted for one (tick, new-key)
    * group, and when the sink had it. */
  final case class Emit(batch: Long, tick: Long, nk: Long, n: Long, sumEid: Long,
      sumEid2: Long, perf: Double, night: Long, atNs: Long)
}

/** One running topology: the program's four streaming queries over
  * MemoryStream feeds. The operational query and key registration read two
  * feeds that always receive the same events, as two consumers of one topic
  * would; they cannot share one MemoryStream. */
final class Rig(spark: SparkSession, in: StreamInputs, root: String, topicPath: String,
    onDemand: Boolean) {
  import Rig._
  import spark.implicits._

  Files.createDirectories(Paths.get(root))
  Files.writeString(Paths.get(s"$root/topology.json"), config(onDemand))
  private val cfg = Config.load(spark, s"$root/topology.json")
  val checkpointRoot = s"$root/ckpt"
  val topo = new Topology(spark, cfg, checkpointRoot, Map(
    "equipment" -> StructType.fromDDL("equip BIGINT, ord BIGINT, planned DOUBLE, line BIGINT"),
    "shifts" -> StructType.fromDDL("equip BIGINT, ord BIGINT, shift STRING, crew BIGINT")))

  private val equipFeed = MemoryStream[Eq](spark)
  private val shiftFeed = MemoryStream[Sh](spark)
  private val opFeed = MemoryStream[Ev](spark)
  private val keyFeed = MemoryStream[Ev](spark)

  val emits = new ConcurrentLinkedQueue[Emit]()
  val emitted = new AtomicLong(0L)
  val ingested = new AtomicLong(0L)
  /** Cumulative events per operational-feed offset, for parked-row counts. */
  val offsetRows = mutable.ArrayBuffer(0L)
  val ingestedTicks = mutable.ArrayBuffer.empty[Int]
  private var nextFlush = in.ticks + 1

  private def events(feed: MemoryStream[Ev]): DataFrame =
    feed.toDF().toDF("eid", "equip", "tick", "ts_us", "qty", "nk")
      .withColumn("ts", timestamp_micros(col("ts_us")))

  /** The shifts topic as the on-demand back-fill reads it: the compacted
    * base, the CDC chunks whose ticks have all been emitted, and the rows of
    * emitted ticks past the last whole chunk. */
  private def topic(): DataFrame = {
    val last = synchronized(ingestedTicks.filter(_ <= in.ticks).maxOption.getOrElse(0))
    val chunk = in.topicChunkTicks
    val whole = last / chunk * chunk
    val files = s"$topicPath/base.parquet" +: (1 to whole by chunk).map(f =>
      s"$topicPath/ticks-$f-${math.min(f + chunk - 1, in.ticks)}.parquet")
    val tail = (whole + 1 to last).flatMap(in.shiftCdc)
    spark.read.parquet(files: _*)
      .unionByName(tail.toDF("equip", "ord", "shift", "crew"))
  }

  private val sink: (DataFrame, Long) => Unit = (batch, id) => {
    val rows = batch.groupBy("tick", "nk").agg(
      count(lit(1)), sum("eid"), sum(col("eid") * col("eid")), sum("performance"),
      sum(when(col("shift") === "night", 1L).otherwise(0L))).collect()
    val at = System.nanoTime()
    rows.foreach { r =>
      emits.add(Emit(id, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getLong(6), at))
      emitted.addAndGet(r.getLong(2))
    }
  }

  val dims: Map[String, StreamingQuery] = topo.startDimensions {
    case "equipment" => equipFeed.toDF().toDF("equip", "ord", "planned", "line")
    case "shifts" => shiftFeed.toDF().toDF("equip", "ord", "shift", "crew")
  }
  val keyReg: StreamingQuery =
    topo.startKeyRegistration(events(keyFeed), Map("shifts" -> (() => topic())))
  val operational: StreamingQuery = {
    val ev = events(opFeed)
    topo.startOperational(ev, "ts", ev.schema,
      Seq("performance" -> col("qty") / col("planned")))(sink)
  }

  def queries: Map[String, StreamingQuery] =
    Map("operational" -> operational, "keyreg" -> keyReg,
      "dim.equipment" -> dims("equipment"), "dim.shifts" -> dims("shifts"))

  /** Initial dimension load: all of equipment, and all of shifts only when
    * shifts are replicated in full (on demand they arrive by back-fill). */
  def loadDimensions(): Unit = {
    equipFeed.addData(in.equipInitial)
    if (!onDemand) shiftFeed.addData(in.shiftInitial)
  }

  /** Hand one tick of generated input to the feeds; returns its events.
    * With `keysFirst` the key registration (and its back-fill) consumes the
    * tick before the operational query sees it, so nothing parks. */
  def emitTick(t: Int, keysFirst: Boolean = false): Int = {
    val eq = in.equipCdc(t)
    if (eq.nonEmpty) equipFeed.addData(eq)
    val sh = in.shiftCdc(t)
    if (sh.nonEmpty) shiftFeed.addData(sh)
    val ev = in.events(t)
    keyFeed.addData(ev)
    if (keysFirst) keyReg.processAllAvailable()
    synchronized {
      opFeed.addData(ev)
      ingestedTicks += t
      offsetRows += offsetRows.last + ev.size
    }
    ingested.addAndGet(ev.size)
    ev.size
  }

  /** Wait until every query has consumed everything handed to it. */
  def drain(): Unit = {
    dims.values.foreach(_.processAllAvailable())
    keyReg.processAllAvailable()
    operational.processAllAvailable()
  }

  /** Parked events retry only on the next operational batch, so one-event
    * flush ticks are fed until everything ingested has been emitted. */
  def flush(): Boolean = {
    drain()
    while (emitted.get < ingested.get && nextFlush <= in.ticks + in.flushTicks) {
      emitTick(nextFlush)
      nextFlush += 1
      drain()
    }
    emitted.get == ingested.get
  }

  def stop(): Unit = queries.values.foreach(_.stop())

  /** Final dimension states, for the gate. */
  def dumpStates(dir: String): Unit = {
    topo.maintainers("equipment").current.select("equip", "ord")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/equipment")
    topo.maintainers("shifts").current.select("equip", "ord", "shift", "crew")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/shifts")
  }
}

/** The two stream workloads. Set-up builds a session and a topology, loads
  * equipment, registers every active key with a warm-up tick and waits until
  * the warm-up events are emitted; it runs `--setup-reps` times and the last
  * rig is the one measured. */
object Streams {
  private def openLoop(rig: Rig, in: StreamInputs, seconds: Double): Map[String, Any] = {
    val tickNs = in.tickMs * 1000000L
    val measured = math.min(in.ticks - in.tailTicks, math.round(seconds * 1000 / in.tickMs).toInt)
    val last = math.min(in.ticks, measured + in.tailTicks)
    val due = new Array[Long](last + 1)
    val lagMs = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime() + 20000000L
    for (t <- 1 to last) {
      due(t) = t0 + (t - 1) * tickNs
      val wait = due(t) - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      lagMs += (System.nanoTime() - due(t)) / 1e6
      rig.emitTick(t)
    }
    Map("mode" -> "open", "measured_ticks" -> measured, "lead_ticks" -> 0, "due_ns" -> due.toSeq,
      "gen_lag_ms" -> lagMs.toSeq)
  }

  /** Replays the backlog past its lead ticks, one trigger in flight. */
  private def closedLoop(rig: Rig, in: StreamInputs, heap: HeapPeak): Map[String, Any] = {
    val subNs = new Array[Long](in.ticks + 1)
    val doneNs = new Array[Long](in.ticks + 1)
    for (t <- in.leadTicks + 1 to in.ticks) {
      subNs(t) = System.nanoTime()
      rig.emitTick(t)
      rig.drain()
      doneNs(t) = System.nanoTime()
      heap.sample()
    }
    Map("mode" -> "closed", "measured_ticks" -> in.ticks, "lead_ticks" -> in.leadTicks,
      "due_ns" -> subNs.toSeq,
      "done_ns" -> doneNs.toSeq)
  }

  def run(args: Args, heap: HeapPeak): Map[String, Any] = {
    val in = new StreamInputs(args.inputs)
    val topicPath = s"${args.inputs}/topic"
    var spark: SparkSession = null
    var rig: Rig = null
    val setups = (1 to args.setupReps).map { i =>
      if (rig != null) { rig.stop(); spark.stop() }
      val t0 = System.nanoTime()
      spark = Main.session(args)
      val sessionNs = System.nanoTime() - t0
      val t1 = System.nanoTime()
      rig = new Rig(spark, in, s"${args.work}/rig$i", topicPath, args.onDemand)
      rig.loadDimensions()
      rig.dims.values.foreach(_.processAllAvailable())
      rig.emitTick(0, keysFirst = true)
      require(rig.flush(),
        s"set-up $i: ${rig.emitted.get} of ${rig.ingested.get} warm-up events emitted")
      (sessionNs + System.nanoTime() - t1) / 1e9
    }
    // lead ticks: full-size triggers replayed untimed and untraced (their
    // events still pass through the correctness gate)
    for (t <- 1 to in.leadTicks) { rig.emitTick(t); rig.drain() }
    System.gc() // as after every measured trigger
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val fs0 = Main.localFsWrites()
    val ingestedAtArm = rig.ingested.get
    tracer.foreach(_.arm())
    val wallStart = Now.ms()
    val loop =
      if (in.tickMs > 0) openLoop(rig, in, args.seconds)
      else closedLoop(rig, in, heap)
    val flushed = rig.flush()
    if (in.tickMs > 0) heap.sample() // a full GC inside an open loop would stall it
    val wallEnd = Now.ms()
    val fs1 = Main.localFsWrites()
    val traced = tracer.map(_.result(args.workload, args.startMs, wallStart, wallEnd))
    rig.dumpStates(s"${args.work}/states")
    val queryIds = rig.queries.map { case (n, q) => q.id.toString -> n }
    val files = Files.walk(Paths.get(rig.checkpointRoot)).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
    val checkpointBytes = files.map(Files.size).sum
    // files still present that the measured region created or rewrote
    val filesWritten = files.count(Files.getLastModifiedTime(_).toMillis >= wallStart.toLong)
    val out = Map[String, Any](
      "setup_s" -> setups,
      "loop" -> loop,
      "flushed" -> flushed,
      "ingested_ticks" -> rig.ingestedTicks.toSeq,
      "ingested" -> rig.ingested.get, "emitted" -> rig.emitted.get,
      "ingested_at_arm" -> ingestedAtArm,
      "clock_sync" -> Seq[Any](System.nanoTime(), Now.ms()),
      "emits" -> rig.emits.asScala.toSeq.map(e =>
        Seq[Any](e.batch, e.tick, e.nk, e.n, e.sumEid, e.sumEid2, e.perf, e.night, e.atNs)),
      "offset_rows" -> rig.offsetRows.toSeq,
      "query_ids" -> queryIds,
      "fs_bytes_written" -> (fs1 - fs0), "files_written" -> filesWritten,
      "checkpoint_bytes" -> checkpointBytes,
      "trace" -> traced)
    rig.stop()
    spark.stop()
    out
  }
}
