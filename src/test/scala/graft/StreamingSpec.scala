package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Compaction
import graft.streaming.{DimensionHistory, DimensionMaintainer, ObservedKeySet, Pipeline}

/** Streaming-vs-batch parity (SURVEY §5.4): the streaming forms of the
  * compaction (q07), CDC upsert (q12), and windowed-agg (q17) semantics must
  * equal their batch analogs over the same finite input, via MemoryStream.
  * Plus watermark late-data drop (T1/T3) observed through query progress. */
class StreamingSpec extends SparkSpec {

  private def eventRows(n: Int, seed: Int): Seq[(Long, String, Long, Double)] = {
    val rng = new scala.util.Random(seed)
    (1 to n).map { i =>
      (rng.nextInt(5).toLong, s"t${rng.nextInt(3)}",
        1700000000000000L + rng.nextInt(3600) * 1000000L, rng.nextDouble())
    }
  }

  test("q07 parity: streaming latestByKey == batch compaction") {
    import spark.implicits._
    val stream = MemoryStream[(Long, String, Long, Double)](spark)
    val df = stream.toDF().toDF("user_id", "event_type", "ts", "value")
    val out = Pipeline.latestByKey(df, "user_id", "ts")
    val q = out.writeStream.format("memory").queryName("q07_stream")
      .outputMode("complete").start()
    try {
      val rows = eventRows(200, 5)
      // distinct ts per key so the argmax is unique
      val uniq = rows.groupBy(r => (r._1, r._3)).map(_._2.head).toSeq
      stream.addData(uniq.take(100))
      q.processAllAvailable()
      stream.addData(uniq.drop(100))
      q.processAllAvailable()
      val got = spark.table("q07_stream")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val expect = Compaction.latestByKey(
          uniq.toDF("user_id", "event_type", "ts", "value"), Seq("user_id"), "ts")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == expect)
    } finally q.stop()
  }

  test("q07 parity: mapGroupsWithState latestByKeyStateful == batch compaction") {
    import spark.implicits._
    val stream = MemoryStream[(Long, String, Long, Double)](spark)
    val ds = stream.toDS()
    val out = Pipeline.latestByKeyStateful[Long, (Long, String, Long, Double)](
      ds, _._1, _._3)
    // update mode: each batch re-emits the keys it changed; fold emissions
    // in batch order to recover the final per-key state
    val latest = scala.collection.mutable.Map.empty[Long, (Long, String, Long, Double)]
    val q = out.writeStream
      .outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, String, Long, Double)], _: Long) =>
        b.collect().foreach(r => latest(r._1) = r)
        ()
      }
      .option("checkpointLocation", tmpDir("ckpt-mgws"))
      .start()
    try {
      val rows = eventRows(200, 7)
      val uniq = rows.groupBy(r => (r._1, r._3)).map(_._2.head).toSeq
      stream.addData(uniq.take(100)); q.processAllAvailable()
      stream.addData(uniq.drop(100)); q.processAllAvailable()
      val expect = Compaction.latestByKey(
          uniq.toDF("user_id", "event_type", "ts", "value"), Seq("user_id"), "ts")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(latest.values.toSet == expect)
    } finally q.stop()
  }

  test("sessionizeStateful emits gap-closed and timeout-closed sessions (flatMapGroupsWithState)") {
    import spark.implicits._
    val base = 1700000000000L // epoch millis
    def ts(offMin: Long) = new java.sql.Timestamp(base + offMin * 60000L)
    val stream = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val out = Pipeline.sessionizeStateful(stream.toDS(), gapMinutes = 30, delay = "5 minutes")
    val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)], _: Long) =>
        sessions ++= b.collect().map(s =>
          (s._1, (s._2.getTime - base) / 60000L, (s._3.getTime - base) / 60000L, s._4))
        ()
      }
      .option("checkpointLocation", tmpDir("ckpt-sess"))
      .start()
    try {
      // key 1: two events 10 min apart (one session), then a 60-min gap
      // within the SAME batch opens another. The watermark advances to 65
      // (70-5) after the data batch and the follow-up batch fires the
      // timeout: [0, 40) is sealed (no admissible event can bridge it),
      // [70, 100) is not (65 < 100) and stays held.
      stream.addData(Seq((1L, ts(0)), (1L, ts(10)), (1L, ts(70))))
      q.processAllAvailable()
      assert(sessions.toList == List((1L, 0L, 40L, 2L)), s"got $sessions")
      // watermark -> 295: seals key 1's held [70, 100)
      stream.addData(Seq((2L, ts(300))))
      q.processAllAvailable()
      assert(sessions.toSet.contains((1L, 70L, 100L, 1L)), s"got $sessions")
    } finally q.stop()
  }

  test("sessionizeStateful: out-of-order event beyond the gap forms its own session") {
    import spark.implicits._
    val base = 1700000000000L
    def ts(offMin: Long) = new java.sql.Timestamp(base + offMin * 60000L)
    val stream = MemoryStream[(Long, java.sql.Timestamp)](spark)
    // delay (60) > gap (30): the watermark admits events older than the gap,
    // the regime where a naive `t - last < gap` merge test is trivially true
    // for ANY out-of-order event and welds sessions across long silences
    val out = Pipeline.sessionizeStateful(stream.toDS(), gapMinutes = 30, delay = "60 minutes")
    val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)], _: Long) =>
        sessions ++= b.collect().map(s =>
          (s._1, (s._2.getTime - base) / 60000L, (s._3.getTime - base) / 60000L, s._4))
        ()
      }
      .option("checkpointLocation", tmpDir("ckpt-sess-ooo"))
      .start()
    try {
      stream.addData(Seq((5L, ts(100)))) // opens (100, 100); watermark -> 40
      q.processAllAvailable()
      // out-of-order event at 45: admitted (> watermark 40) but 55 min
      // before the open session — an 80+-minute silence >= gap, so it must
      // stay its OWN session, not weld onto (100, 100)
      stream.addData(Seq((5L, ts(45))))
      q.processAllAvailable()
      // flush: advance the watermark far past both sessions, then one more
      // batch so key 5's timeout fires
      stream.addData(Seq((6L, ts(400)))); q.processAllAvailable()
      stream.addData(Seq((6L, ts(401)))); q.processAllAvailable()
      assert(sessions.toList.filter(_._1 == 5L)
        == List((5L, 45L, 75L, 1L), (5L, 100L, 130L, 1L)), s"got $sessions")
    } finally q.stop()
  }

  test("sessionizeStateful: late bridge event welds two held sessions exactly") {
    import spark.implicits._
    val base = 1700000000000L
    def ts(offMin: Long) = new java.sql.Timestamp(base + offMin * 60000L)
    val stream = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val out = Pipeline.sessionizeStateful(stream.toDS(), gapMinutes = 30, delay = "120 minutes")
    val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)], _: Long) =>
        sessions ++= b.collect().map(s =>
          (s._1, (s._2.getTime - base) / 60000L, (s._3.getTime - base) / 60000L, s._4))
        ()
      }
      .option("checkpointLocation", tmpDir("ckpt-sess-bridge"))
      .start()
    try {
      // events at 0 and 50: 50 >= gap apart -> two separate sessions, both
      // held (nothing sealed). The round-4 implementation emitted [0, 30)
      // here and could never repair it.
      stream.addData(Seq((1L, ts(0)), (1L, ts(50))))
      q.processAllAvailable()
      assert(sessions.isEmpty)
      // the bridge arrives out of order: 25 is within the gap of BOTH —
      // the three events are one session [0, 80) of 3
      stream.addData(Seq((1L, ts(25))))
      q.processAllAvailable()
      // flush + timeout batch
      stream.addData(Seq((2L, ts(500)))); q.processAllAvailable()
      stream.addData(Seq((2L, ts(501)))); q.processAllAvailable()
      assert(sessions.toList.filter(_._1 == 1L) == List((1L, 0L, 80L, 3L)),
        s"got $sessions")
    } finally q.stop()
  }

  test("sessionizeStateful parity: shuffled OOO corpus with bridges == batch session_window") {
    import spark.implicits._
    val base = 1700000000000L
    def ts(offMin: Long) = new java.sql.Timestamp(base + offMin * 60000L)
    // random corpus over 3 keys, offsets in [0, 600) minutes — dense enough
    // for multi-event sessions, sparse enough for several sessions per key
    val rng = new scala.util.Random(17)
    val corpus = Seq.fill(120)((rng.nextInt(3).toLong + 1L, rng.nextInt(600).toLong))
      .distinct.map { case (k, off) => (k, ts(off)) }
    val shuffled = rng.shuffle(corpus)
    val stream = MemoryStream[(Long, java.sql.Timestamp)](spark)
    // delay longer than the corpus span: every event is admitted no matter
    // how disordered — the regime where only exact merging gives parity
    val out = Pipeline.sessionizeStateful(stream.toDS(), gapMinutes = 30, delay = "700 minutes")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)], _: Long) =>
        got ++= b.collect().map(s => (s._1, s._2.getTime, s._3.getTime, s._4))
        ()
      }
      .option("checkpointLocation", tmpDir("ckpt-sess-parity"))
      .start()
    try {
      shuffled.grouped(30).foreach { g => stream.addData(g); q.processAllAvailable() }
      // flush far past span+delay, then one more batch to fire timeouts
      stream.addData(Seq((99L, ts(5000)))); q.processAllAvailable()
      stream.addData(Seq((99L, ts(5001)))); q.processAllAvailable()
      val expect = corpus.toDF("k", "ts")
        .groupBy(col("k"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("cnt"))
        .collect()
        .map(r => (r.getLong(0), r.getStruct(1).getTimestamp(0).getTime,
          r.getStruct(1).getTimestamp(1).getTime, r.getLong(2)))
        .toSet
      assert(got.filter(_._1 != 99L).toSet == expect,
        s"streaming != batch session_window")
    } finally q.stop()
  }

  test("q12 parity: DimensionMaintainer CDC == batch applyUpserts") {
    import spark.implicits._
    val schema = StructType.fromDDL("k BIGINT, ord BIGINT, v STRING")
    val dim = new DimensionMaintainer(spark, "dim_test", Seq("k"), "ord", schema)
    val stream = MemoryStream[(Long, Long, String)](spark)
    val q = dim.attachTo(
      stream.toDF().toDF("k", "ord", "v"), tmpDir("ckpt-dim"))
    try {
      val b1 = Seq((1L, 1L, "a1"), (2L, 1L, "b1"), (3L, 1L, "c1"))
      val b2 = Seq((1L, 2L, "a2"), (4L, 1L, "d1"))
      val b3 = Seq((2L, 0L, "stale-b0"), (4L, 3L, "d3")) // stale update must lose
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
      stream.addData(b3); q.processAllAvailable()
      val got = dim.current.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val expect = Compaction.latestByKey(
          (b1 ++ b2 ++ b3).toDF("k", "ord", "v"), Seq("k"), "ord")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(got == expect)
      assert(got.contains((4L, 3L, "d3")) && got.contains((2L, 1L, "b1")))
      // the registered temp view serves the same snapshot
      assert(spark.table("dim_test").count() == got.size)
      // K5 eviction
      dim.evict(Seq(Tuple1(1L)).toDF("k"), "k")
      assert(!dim.current.collect().map(_.getLong(0)).contains(1L))
    } finally q.stop()
  }

  test("temporal enrichment: late events pick the dimension version AT event time") {
    import spark.implicits._
    val schema = StructType.fromDDL("k BIGINT, ord BIGINT, v STRING")
    val hist = new DimensionHistory(spark, "hist_test", Seq("k"), "ord", schema)
    // dimension timeline: k=1 has v10 (from t=10) then v20 (from t=20);
    // k=2 has w15 (from t=15)
    hist.applyBatch(Seq((1L, 10L, "v10"), (2L, 15L, "w15")).toDF("k", "ord", "v"), 0L)
    hist.applyBatch(Seq((1L, 20L, "v20")).toDF("k", "ord", "v"), 1L)
    // idempotent re-apply (foreachBatch replay): no duplicate versions
    hist.applyBatch(Seq((1L, 20L, "v20")).toDF("k", "ord", "v"), 1L)
    assert(hist.current.count() == 3)

    val got = scala.collection.mutable.Map[Long, Option[String]]()
    val stream = MemoryStream[(Long, Long, Long)](spark) // (event_id, k, t)
    val events = stream.toDF().toDF("event_id", "k", "t")
      .withColumn("ts_utc", timestamp_micros(col("t") * 1000000L))
    val q = Pipeline.operationalQueryTemporal(
        events, "ts_utc", "t", hist, Seq("k"), Seq("v"), Nil) {
        (batch, _) =>
          batch.collect().foreach(r =>
            got(r.getAs[Long]("event_id")) = Option(r.getAs[String]("v")))
      }
      .option("checkpointLocation", tmpDir("ckpt-temporal"))
      .start()
    try {
      stream.addData(Seq(
        (100L, 1L, 12L), // late: between v10 and v20 -> must see v10
        (101L, 1L, 25L), // after v20 -> v20
        (102L, 1L, 20L), // exactly at the version's ord -> inclusive, v20
        (103L, 2L, 5L),  // before any version -> null
        (104L, 2L, 15L)))
      q.processAllAvailable()
      assert(got(100L) === Some("v10"),
        "late event must NOT pick up the newer version")
      assert(got(101L) === Some("v20"))
      assert(got(102L) === Some("v20"))
      assert(got(103L) === None)
      assert(got(104L) === Some("w15"))
    } finally q.stop()

    // watermark-aligned pruning: horizon 21 keeps only the newest version
    // per key at-or-below it (plus anything newer) — as-of answers at t >=
    // horizon are unchanged
    hist.pruneBefore(21L)
    val left = hist.current.collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(left === Set((1L, "v20"), (2L, "w15")), s"got $left")
    val enriched = hist.asOfEnrich(
        Seq((200L, 1L, 25L)).toDF("event_id", "k", "t"), Seq("k"), "t", Seq("v"))
      .collect().head.getAs[String]("v")
    assert(enriched === "v20")
    hist.release()
  }

  test("temporal enrichment auto-prunes history to the watermark horizon") {
    import spark.implicits._
    val schema = StructType.fromDDL("k BIGINT, ord BIGINT, v BIGINT")
    val hist = new DimensionHistory(spark, "hist_prune", Seq("k"), "ord", schema)
    val got = scala.collection.mutable.Map[Long, Option[Long]]()
    val stream = MemoryStream[(Long, Long, Long)](spark) // (event_id, k, t_us)
    val events = stream.toDF().toDF("event_id", "k", "t")
      .withColumn("ts_utc", timestamp_micros(col("t")))
    val minuteUs = 60L * 1000000L
    val base = 1700000000000000L
    val q = Pipeline.operationalQueryTemporal(
        events, "ts_utc", "t", hist, Seq("k"), Seq("v"), Nil,
        delay = "2 minutes", pruneEvery = 4) {
        (batch, _) =>
          batch.collect().foreach(r =>
            got(r.getAs[Long]("event_id")) =
              Option(r.getAs[java.lang.Long]("v")).map(_.longValue()))
      }
      .option("checkpointLocation", tmpDir("ckpt-temporal-prune"))
      .start()
    try {
      // 24 batches of continuous CDC + events, times advancing 1 min/batch:
      // 48 versions accumulate unpruned = the unbounded-growth defect; the
      // auto-prune must keep history ∝ the 2-minute horizon instead
      for (b <- 0 until 24) {
        val t = base + b * minuteUs
        hist.applyBatch(
          Seq((1L, t, b.toLong), (2L, t, 100L + b)).toDF("k", "ord", "v"), b.toLong)
        stream.addData(Seq((b.toLong, 1L, t)))
        q.processAllAvailable()
      }
      val rows = hist.current.count()
      assert(rows <= 12,
        s"history must stay bounded by the horizon, got $rows of 48 versions")
      assert(rows >= 2, "newest-below-horizon version per key must survive")
      // a maximally-late admissible event (exactly at the watermark horizon)
      // still enriches with the version in effect at ITS time
      val lastT = base + 23 * minuteUs
      val lateT = lastT - 2 * minuteUs // = horizon after the last prune
      stream.addData(Seq((900L, 1L, lateT)))
      q.processAllAvailable()
      assert(got(900L) === Some(21L),
        s"late admissible event must see the version at its event time")
      // events at the current edge see the newest version
      assert(got(23L) === Some(23L))
    } finally { q.stop(); hist.release() }
  }

  test("q17 parity: streaming windowedAgg == batch window aggregate") {
    import spark.implicits._
    val stream = MemoryStream[(Long, Long, Double)](spark)
    val df = stream.toDF().toDF("user_id", "ts_us", "value")
      .withColumn("ts_utc", timestamp_micros(col("ts_us")))
    val out = Pipeline.windowedAgg(df, "ts_utc", "user_id", "value")
    val q = out.writeStream.format("memory").queryName("q17_stream")
      .outputMode("complete").start()
    try {
      val rows = eventRows(300, 9).map(r => (r._1, r._3, r._4))
      stream.addData(rows.take(150)); q.processAllAvailable()
      stream.addData(rows.drop(150)); q.processAllAvailable()
      val got = spark.table("q17_stream").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
          math.round(r.getDouble(3) * 1e6))).toSet
      val expect = rows.toDF("user_id", "ts_us", "value")
        .withColumn("ts_utc", timestamp_micros(col("ts_us")))
        .groupBy(col("user_id"), window(col("ts_utc"), "10 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
        .select(col("user_id"), col("w.start"), col("n_events"), col("sum_value"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
          math.round(r.getDouble(3) * 1e6))).toSet
      assert(got == expect)
    } finally q.stop()
  }

  test("T1/T3: watermark drops late rows (observed via numRowsDroppedByWatermark)") {
    import spark.implicits._
    val stream = MemoryStream[(Long, Long, Double)](spark)
    val df = stream.toDF().toDF("user_id", "ts_us", "value")
      .withColumn("ts_utc", timestamp_micros(col("ts_us")))
    val out = Pipeline.windowedAgg(df, "ts_utc", "user_id", "value",
      windowLen = "10 minutes", delay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("t3_stream")
      .outputMode("append").start()
    try {
      val base = 1700000000000000L
      val hour = 3600L * 1000000L
      stream.addData(Seq((1L, base, 1.0), (1L, base + 2 * hour, 1.0)))
      q.processAllAvailable() // watermark advances to base + 2h - 10min
      stream.addData(Seq((1L, base + 1000L, 9.9))) // 2h late -> dropped
      q.processAllAvailable()
      stream.addData(Seq((1L, base + 3 * hour, 1.0)))
      q.processAllAvailable()
      val dropped = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1, s"expected a late-dropped row, got $dropped")
      // and the late row's value never appeared in any emitted window
      val sums = spark.table("t3_stream").collect().map(_.getDouble(3))
      assert(!sums.exists(s => math.abs(s - 9.9) < 1e-9 || math.abs(s - 10.9) < 1e-9))
    } finally q.stop()
  }

  test("on-demand: ObservedKeySet prunes the maintained dimension (F1/J4)") {
    import spark.implicits._
    val schema = StructType.fromDDL("k BIGINT, ord BIGINT, v STRING")
    val dim = new DimensionMaintainer(spark, "dim_od", Seq("k"), "ord", schema)
    dim.applyBatch(
      Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"), (4L, 1L, "d"))
        .toDF("k", "ord", "v"), 0L)
    val keys = new ObservedKeySet(spark, "k", "BIGINT")
    val stream = MemoryStream[Long](spark)
    val q = keys.attachTo(stream.toDF().toDF("k"), tmpDir("ckpt-keys"))
    try {
      stream.addData(Seq(2L, 4L, 2L)); q.processAllAvailable()
      val pruned = dim.onDemandView(keys.current, "k")
        .collect().map(_.getLong(0)).toSet
      assert(pruned == Set(2L, 4L))
      // eviction candidates: observed keys no longer present in a new stream
      val evict = keys.except(Seq(Tuple1(2L)).toDF("k"), "k")
        .collect().map(_.getLong(0)).toSet
      assert(evict == Set(4L))
    } finally q.stop()
  }

  test("F1: on-demand replication filters CDC records at apply time") {
    import spark.implicits._
    val schema = StructType.fromDDL("k BIGINT, ord BIGINT, v STRING")
    val dim = new DimensionMaintainer(spark, "dim_ondemand", Seq("k"), "ord", schema)
    val keys = new ObservedKeySet(spark, "k", "BIGINT")
    keys.observeBatch(Seq(Tuple1(2L), Tuple1(4L)).toDF("k"), 0L)
    val stream = MemoryStream[(Long, Long, String)](spark)
    val q = dim.attachToOnDemand(
      stream.toDF().toDF("k", "ord", "v"), tmpDir("ckpt-od"),
      () => keys.current, "k")
    try {
      stream.addData(Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"), (4L, 1L, "d")))
      q.processAllAvailable()
      // only observed keys replicated — state ∝ active key set
      assert(dim.current.collect().map(_.getLong(0)).toSet == Set(2L, 4L))
      // a key observed later applies from the NEXT batch on (the tail alone
      // does not back-fill; the automated path is ObservedKeySet.attachTo's
      // onNewKeys -> DimensionMaintainer.backfill, tested separately)
      keys.observeBatch(Seq(Tuple1(3L)).toDF("k"), 1L)
      stream.addData(Seq((3L, 2L, "c2"), (5L, 1L, "e")))
      q.processAllAvailable()
      assert(dim.current.collect().map(_.getLong(0)).toSet == Set(2L, 3L, 4L))
    } finally q.stop()
  }

  test("operationalQuery sees CDC updates applied between micro-batches (live dim)") {
    import spark.implicits._
    val schema = StructType.fromDDL("k BIGINT, ord BIGINT, planned DOUBLE")
    val dim = new DimensionMaintainer(spark, "dim_live", Seq("k"), "ord", schema)
    dim.applyBatch(Seq((1L, 1L, 10.0)).toDF("k", "ord", "planned"), 0L)
    val stream = MemoryStream[(Long, Long, Double)](spark)
    val events = stream.toDF().toDF("k", "ts_us", "qty")
      .withColumn("ts_utc", timestamp_micros(col("ts_us")))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val q = Pipeline.operationalQuery(
        events, "ts_utc", () => dim.current, "k", "k", Seq("planned"),
        Seq("performance" -> (col("qty") / col("planned")))) { (batch, _) =>
        seen ++= batch.select("k", "performance").collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
      }
      .option("checkpointLocation", tmpDir("ckpt-live"))
      .start()
    try {
      stream.addData(Seq((1L, 1700000000000000L, 5.0)))
      q.processAllAvailable()
      dim.applyBatch(Seq((1L, 2L, 5.0)).toDF("k", "ord", "planned"), 1L)
      stream.addData(Seq((1L, 1700000060000000L, 5.0)))
      q.processAllAvailable()
      // first event saw planned=10 (perf 0.5); second saw the update (perf 1.0)
      assert(seen.toList == List((1L, 0.5), (1L, 1.0)))
    } finally q.stop()
  }

  test("F6/T3: late-data buffer holds unmatched events and re-emits on dim arrival") {
    import spark.implicits._
    val schema = StructType.fromDDL("k BIGINT, ord BIGINT, planned DOUBLE")
    val dim = new DimensionMaintainer(spark, "dim_buf", Seq("k"), "ord", schema)
    dim.applyBatch(Seq((1L, 1L, 10.0)).toDF("k", "ord", "planned"), 0L)
    val stream = MemoryStream[(Long, Long, Double)](spark)
    val events = stream.toDF().toDF("k", "ts_us", "qty")
      .withColumn("ts_utc", timestamp_micros(col("ts_us")))
    val buffer = new graft.streaming.LateDataBuffer(
      spark, StructType.fromDDL("k BIGINT, ts_us BIGINT, qty DOUBLE, ts_utc TIMESTAMP"))
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val q = Pipeline.operationalQueryBuffered(
        events, "ts_utc", () => dim.current, "k", "k", Seq("planned"),
        Seq("performance" -> (col("qty") / col("planned"))), buffer) { (batch, _) =>
        emitted ++= batch.select("k", "performance").collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
      }
      .option("checkpointLocation", tmpDir("ckpt-buf"))
      .start()
    try {
      // k=9 has no dimension row yet: must buffer, not emit
      stream.addData(Seq((1L, 1700000000000000L, 5.0), (9L, 1700000000000000L, 9.0)))
      q.processAllAvailable()
      assert(emitted.toList == List((1L, 0.5)))
      assert(buffer.current.count() == 1)
      // the dimension catches up; next batch drains the buffer
      dim.applyBatch(Seq((9L, 1L, 3.0)).toDF("k", "ord", "planned"), 1L)
      stream.addData(Seq((1L, 1700000060000000L, 5.0)))
      q.processAllAvailable()
      assert(emitted.toSet == Set((1L, 0.5), (9L, 3.0)))
      assert(buffer.current.count() == 0)
    } finally q.stop()
  }

  test("T5/T7: restart from checkpoint resumes at committed offsets (no reprocessing)") {
    val inDir = tmpDir("files-in")
    val ckpt = tmpDir("ckpt-restart")
    def writeFile(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(inDir, name), rows.mkString("\n") + "\n")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def start() = graft.sources.Sources
      .fileStream(spark, inDir, "csv", "id BIGINT, v DOUBLE")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen ++= b.collect().map(_.getLong(0))
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()

    writeFile("f1.csv", Seq("1,0.5", "2,0.5", "3,0.5"))
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(seen.sorted == Seq(1L, 2L, 3L))

    writeFile("f2.csv", Seq("4,0.5", "5,0.5"))
    val q2 = start() // same checkpoint: must NOT re-read f1
    try { q2.processAllAvailable() } finally q2.stop()
    assert(seen.sorted == Seq(1L, 2L, 3L, 4L, 5L), s"got $seen")
  }

  test("T2/T7: windowedAgg parity holds on the RocksDB state store") {
    import spark.implicits._
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    GraftSession.useRocksDbStateStore(spark)
    try {
      val stream = MemoryStream[(Long, Long, Double)](spark)
      val df = stream.toDF().toDF("user_id", "ts_us", "value")
        .withColumn("ts_utc", timestamp_micros(col("ts_us")))
      val out = Pipeline.windowedAgg(df, "ts_utc", "user_id", "value")
      val q = out.writeStream.format("memory").queryName("q17_rocks")
        .outputMode("complete").start()
      try {
        val rows = eventRows(200, 41).map(r => (r._1, r._3, r._4))
        stream.addData(rows.take(100)); q.processAllAvailable()
        stream.addData(rows.drop(100)); q.processAllAvailable()
        // the running query really uses RocksDB (operator metrics expose it)
        val provider = q.lastProgress.stateOperators.head
          .customMetrics.keySet.toString
        assert(provider.contains("rocksdb"), s"metrics: $provider")
        val got = spark.table("q17_rocks").collect()
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
            math.round(r.getDouble(3) * 1e6))).toSet
        val expect = rows.toDF("user_id", "ts_us", "value")
          .withColumn("ts_utc", timestamp_micros(col("ts_us")))
          .groupBy(col("user_id"), window(col("ts_utc"), "10 minutes").as("w"))
          .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
          .select(col("user_id"), col("w.start"), col("n_events"), col("sum_value"))
          .collect()
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
            math.round(r.getDouble(3) * 1e6))).toSet
        assert(got == expect)
      } finally q.stop()
    } finally prior match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("flatMapGroupsWithState parity on the RocksDB state store (sessionizeStateful)") {
    import spark.implicits._
    // the windowedAgg RocksDB test covers built-in streaming aggregation
    // state; this covers the ARBITRARY typed-state family (every
    // flatMapGroupsWithState operator — sessions, funnel, as-of, z-score,
    // sampler — shares the provider-facing surface: Encoder-serialized
    // state rows + event-time timeouts), proving the operators are
    // provider-agnostic end to end, timeouts included
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    GraftSession.useRocksDbStateStore(spark)
    try {
      val base = 1700000000000L
      def ts(offMin: Long) = new java.sql.Timestamp(base + offMin * 60000L)
      val stream = MemoryStream[(Long, java.sql.Timestamp)](spark)
      val out = Pipeline.sessionizeStateful(stream.toDS(), gapMinutes = 30, delay = "5 minutes")
      val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      val q = out.writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)], _: Long) =>
          sessions ++= b.collect().map(s =>
            (s._1, (s._2.getTime - base) / 60000L, (s._3.getTime - base) / 60000L, s._4))
          ()
        }
        .option("checkpointLocation", tmpDir("ckpt-sess-rocks"))
        .start()
      try {
        // the sessionize exemplar scenario: in-batch split + timeout-sealed
        // tail must behave identically to the default-provider test above
        stream.addData(Seq((1L, ts(0)), (1L, ts(10)), (1L, ts(70))))
        q.processAllAvailable()
        val provider = q.lastProgress.stateOperators.head
          .customMetrics.keySet.toString
        assert(provider.contains("rocksdb"), s"metrics: $provider")
        assert(sessions.toList == List((1L, 0L, 40L, 2L)), s"got $sessions")
        stream.addData(Seq((2L, ts(300))))
        q.processAllAvailable()
        assert(sessions.toSet.contains((1L, 70L, 100L, 1L)), s"got $sessions")
      } finally q.stop()
    } finally prior match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("T7: dimension snapshot survives process restart (durable stateDir)") {
    import spark.implicits._
    val schema = StructType.fromDDL("k BIGINT, ord BIGINT, v STRING")
    val inDir = tmpDir("cdc-in")
    val ckpt = tmpDir("ckpt-durable")
    val stateDir = ckpt + "/snapshot"
    def writeFile(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(inDir, name), rows.mkString("\n") + "\n")
    def cdcStream = graft.sources.Sources
      .fileStream(spark, inDir, "csv", "k BIGINT, ord BIGINT, v STRING")

    val dim1 = new DimensionMaintainer(
      spark, "dim_durable", Seq("k"), "ord", schema, Some(stateDir))
    writeFile("b1.csv", Seq("1,1,a1", "2,1,b1"))
    val q1 = dim1.attachTo(cdcStream, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    dim1.drop()

    // "restart": a NEW maintainer restores the pre-crash snapshot from disk,
    // BEFORE any stream processing
    val dim2 = new DimensionMaintainer(
      spark, "dim_durable", Seq("k"), "ord", schema, Some(stateDir))
    val restored = dim2.current.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(restored == Set((1L, 1L, "a1"), (2L, 1L, "b1")), s"got $restored")

    // offsets resume past b1 (not reprocessed), and the restored snapshot
    // still serves its rows — the round-3 verdict's data-loss scenario
    writeFile("b2.csv", Seq("1,2,a2", "3,1,c1"))
    val q2 = dim2.attachTo(cdcStream, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val after = dim2.current.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(after == Set((1L, 2L, "a2"), (2L, 1L, "b1"), (3L, 1L, "c1")), s"got $after")
    dim2.drop()
  }

  test("F6/T3: writeBatch failure does not drain the buffer (retry-safe order)") {
    import spark.implicits._
    val schema = StructType.fromDDL("k BIGINT, ord BIGINT, planned DOUBLE")
    val dim = new DimensionMaintainer(spark, "dim_retry", Seq("k"), "ord", schema)
    dim.applyBatch(Seq((1L, 1L, 10.0)).toDF("k", "ord", "planned"), 0L)
    val inDir = tmpDir("buf-in")
    val ckpt = tmpDir("ckpt-retry")
    val bufDir = ckpt + "/buffer"
    def writeFile(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(inDir, name), rows.mkString("\n") + "\n")
    val bufSchema = StructType.fromDDL("k BIGINT, ts_us BIGINT, qty DOUBLE, ts_utc TIMESTAMP")
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def start(buffer: graft.streaming.LateDataBuffer) = Pipeline.operationalQueryBuffered(
        graft.sources.Sources.fileStream(spark, inDir, "csv", "k BIGINT, ts_us BIGINT, qty DOUBLE")
          .withColumn("ts_utc", timestamp_micros(col("ts_us"))),
        "ts_utc", () => dim.current, "k", "k", Seq("planned"),
        Seq("performance" -> (col("qty") / col("planned"))), buffer) { (batch, _) =>
        if (failOnce.getAndSet(false)) sys.error("transient sink failure")
        emitted ++= batch.select("k", "performance").collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
      }
      .option("checkpointLocation", ckpt)
      .start()

    // k=9 has no dim row: parks. First attempt fails in writeBatch.
    writeFile("e1.csv", Seq("1,1700000000000000,5.0", "9,1700000000000000,9.0"))
    val buf1 = new graft.streaming.LateDataBuffer(spark, bufSchema, Some(bufDir))
    val q1 = start(buf1)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    assert(emitted.isEmpty) // failed attempt emitted nothing...
    assert(buf1.current.count() == 0) // ...and did NOT mutate the buffer

    // restart from the same checkpoint: batch replays, emits k=1, parks k=9
    val q2 = start(buf1)
    try q2.processAllAvailable() finally q2.stop()
    assert(emitted.toList == List((1L, 0.5)))
    assert(buf1.current.select("k").collect().map(_.getLong(0)).toSet == Set(9L))

    // process restart: a NEW buffer restores the parked event from disk
    val buf2 = new graft.streaming.LateDataBuffer(spark, bufSchema, Some(bufDir))
    assert(buf2.current.select("k").collect().map(_.getLong(0)).toSet == Set(9L))

    // dim catches up -> the restored buffer drains on the next batch
    dim.applyBatch(Seq((9L, 1L, 3.0)).toDF("k", "ord", "planned"), 1L)
    writeFile("e2.csv", Seq("1,1700000060000000,5.0"))
    val q3 = start(buf2)
    try q3.processAllAvailable() finally q3.stop()
    assert(emitted.toSet == Set((1L, 0.5), (9L, 3.0)))
    assert(buf2.current.count() == 0)
  }

  test("ObservedKeySet: per-batch shuffle and write ∝ batch delta, not the set") {
    import spark.implicits._
    val dir = tmpDir("okeys-incr")
    val keys = new ObservedKeySet(spark, "k", "BIGINT", Some(dir))
    // accumulate a 5000-key set over 50 batches
    (0 until 50).foreach { b =>
      keys.observeBatch(
        ((b * 100) until ((b + 1) * 100)).map(i => Tuple1(i.toLong)).toDF("k"),
        b.toLong)
    }
    assert(keys.current.count() == 5000)
    // measure one more small batch (10 keys, 5 genuinely new): with the
    // incremental fold only the BATCH side shuffles; the old full-set
    // distinct would move ~5000 rows here
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) shuffled.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      keys.observeBatch(
        (Seq(1L, 2L, 3L, 4L, 5L) ++ (9000L until 9005L)).map(Tuple1(_)).toDF("k"), 50L)
      org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(keys.current.count() == 5005)
    assert(shuffled.get() < 500,
      s"batch shuffled ${shuffled.get()} rows — proportional to the set, not the batch")
    // a batch with NO new keys writes nothing (steady state of a warm stream)
    val verBefore = new java.io.File(dir).listFiles().map(_.getName).toSet
    keys.observeBatch(Seq(1L, 2L, 3L).map(Tuple1(_)).toDF("k"), 51L)
    assert(new java.io.File(dir).listFiles().map(_.getName).toSet == verBefore)
    // restart restores the full set from snapshot + delta chain
    val keys2 = new ObservedKeySet(spark, "k", "BIGINT", Some(dir))
    assert(keys2.current.count() == 5005)
  }

  test("J4: automated back-fill — pruned CDC key re-applied when observed late") {
    import spark.implicits._
    val schema = StructType.fromDDL("k BIGINT, ord BIGINT, planned DOUBLE")
    val dim = new DimensionMaintainer(spark, "dim_backfill", Seq("k"), "ord", schema)
    val keySet = new ObservedKeySet(spark, "k", "BIGINT")
    // the compacted CDC topic as a bounded batch snapshot source — holds the
    // latest value per key, including the row the on-demand tail pruned
    val topic = Seq((1L, 1L, 10.0), (2L, 2L, 22.0), (3L, 1L, 30.0))
      .toDF("k", "ord", "planned")
    val cdc = MemoryStream[(Long, Long, Double)](spark)
    val qCdc = dim.attachToOnDemand(
      cdc.toDF().toDF("k", "ord", "planned"), tmpDir("ckpt-bf-cdc"),
      () => keySet.current, "k")
    val keyStream = MemoryStream[Long](spark)
    val qKeys = keySet.attachTo(
      keyStream.toDF().toDF("k"), tmpDir("ckpt-bf-keys"),
      onNewKeys = (nk, id) => dim.backfill(topic, nk, "k", id))
    val events = MemoryStream[(Long, Long, Double)](spark)
    val evDf = events.toDF().toDF("k", "ts_us", "qty")
      .withColumn("ts_utc", timestamp_micros(col("ts_us")))
    val buffer = new graft.streaming.LateDataBuffer(
      spark, StructType.fromDDL("k BIGINT, ts_us BIGINT, qty DOUBLE, ts_utc TIMESTAMP"))
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val qOp = Pipeline.operationalQueryBuffered(
        evDf, "ts_utc", () => dim.current, "k", "k", Seq("planned"),
        Seq("performance" -> (col("qty") / col("planned"))), buffer) { (b, _) =>
        emitted ++= b.select("k", "performance").collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
      }
      .option("checkpointLocation", tmpDir("ckpt-bf-op"))
      .start()
    try {
      // CDC row for k=2 arrives while k=2 is unobserved -> pruned
      cdc.addData(Seq((2L, 2L, 22.0))); qCdc.processAllAvailable()
      assert(dim.current.count() == 0)
      // operational event for k=2 parks: its dimension row was pruned
      events.addData(Seq((2L, 1700000000000000L, 11.0))); qOp.processAllAvailable()
      assert(emitted.isEmpty && buffer.current.count() == 1)
      // k=2 observed for the first time -> back-fill pulls ONLY its row
      // from the compacted topic (the reference's re-dump, bounded)
      keyStream.addData(Seq(2L)); qKeys.processAllAvailable()
      assert(dim.current.collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
        == Set((2L, 22.0)))
      // next operational batch drains the parked event, enriched
      events.addData(Seq((9L, 1700000060000000L, 1.0))) // trigger; k=9 parks
      qOp.processAllAvailable()
      assert(emitted.toList == List((2L, 0.5)), s"got $emitted")
      // re-observing k=2 later back-fills nothing (empty delta, no churn)
      keyStream.addData(Seq(2L)); qKeys.processAllAvailable()
      // and subsequent CDC updates for the now-observed key keep applying
      cdc.addData(Seq((2L, 3L, 44.0))); qCdc.processAllAvailable()
      assert(dim.current.collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
        == Set((2L, 44.0)))
    } finally { qCdc.stop(); qKeys.stop(); qOp.stop() }
  }

  test("J4: a CDC update landing between the back-fill's read and registration is applied") {
    import spark.implicits._
    val schema = StructType.fromDDL("k BIGINT, ord BIGINT, planned DOUBLE")
    val dim = new DimensionMaintainer(spark, "dim_bf_window", Seq("k"), "ord", schema)
    val keySet = new ObservedKeySet(spark, "k", "BIGINT")
    val cdc = MemoryStream[(Long, Long, Double)](spark)
    val qCdc = dim.attachToOnDemand(
      cdc.toDF().toDF("k", "ord", "planned"), tmpDir("ckpt-bfw-cdc"),
      () => keySet.current, "k")
    // The back-fill reads the compacted topic while it holds ord 1 for k=7;
    // right after that read, ord 2 reaches the topic and the CDC stream
    // applies it — before the key-registration batch has returned.
    val topicAtRead = Seq((7L, 1L, 10.0)).toDF("k", "ord", "planned")
    def snapshot(): org.apache.spark.sql.DataFrame = {
      cdc.addData(Seq((7L, 2L, 20.0)))
      qCdc.processAllAvailable()
      topicAtRead
    }
    val keyStream = MemoryStream[Long](spark)
    val qKeys = keySet.attachTo(
      keyStream.toDF().toDF("k"), tmpDir("ckpt-bfw-keys"),
      onNewKeys = (nk, id) => dim.backfill(snapshot(), nk, "k", id))
    try {
      keyStream.addData(Seq(7L)); qKeys.processAllAvailable()
      // newest-wins: the stream's ord 2 survives the back-fill's ord 1
      assert(dim.current.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet == Set((7L, 2L, 20.0)))
      assert(keySet.current.collect().map(_.getLong(0)).toSeq == Seq(7L))
    } finally { qCdc.stop(); qKeys.stop() }
  }

  test("lineage stays bounded across many state swaps (ObservedKeySet/DurableState)") {
    import spark.implicits._
    val keys = new ObservedKeySet(spark, "k", "BIGINT") // no stateDir: localCheckpoint path
    (1 to 50).foreach { i =>
      keys.observeBatch(Seq(Tuple1(i.toLong), Tuple1((i % 7).toLong)).toDF("k"), i.toLong)
    }
    val nodes = keys.current.queryExecution.optimizedPlan.collect { case p => p }.size
    // one union+distinct per batch would be 100+ nodes after 50 batches; the
    // delta-compaction cadence re-roots the plan, bounding depth
    assert(nodes <= 40, s"optimized plan has $nodes nodes — lineage is growing unbounded")
    assert(keys.current.count() == 51) // {1..50} ∪ {0..6}
  }

  test("concurrent applyBatch/evict serialize without losing either update") {
    import spark.implicits._
    val schema = StructType.fromDDL("k BIGINT, ord BIGINT, v STRING")
    val dim = new DimensionMaintainer(spark, "dim_conc", Seq("k"), "ord", schema)
    dim.applyBatch(
      (1L to 40L).map(i => (i, 0L, s"init$i")).toDF("k", "ord", "v"), 0L)
    // two writers racing: upserts on keys 1..20 vs evictions of 31..40.
    // The builder-under-lock contract means neither effect can be built
    // from a stale snapshot and overwrite the other.
    val t1 = new Thread(() =>
      (1 to 5).foreach { r =>
        dim.applyBatch(
          (1L to 20L).map(i => (i, r.toLong, s"up$r-$i")).toDF("k", "ord", "v"),
          r.toLong)
      })
    val t2 = new Thread(() =>
      (0 until 10).foreach { j =>
        dim.evict(Seq(Tuple1(31L + j)).toDF("k"), "k")
      })
    t1.start(); t2.start(); t1.join(); t2.join()
    val rows = dim.current.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byKey = rows.map(r => r._1 -> r).toMap
    assert(rows.length == 30, s"got ${rows.length} rows") // 40 - 10 evicted
    (1L to 20L).foreach(i => assert(byKey(i) == ((i, 5L, s"up5-$i")), s"key $i"))
    (21L to 30L).foreach(i => assert(byKey(i)._3 == s"init$i"))
    (31L to 40L).foreach(i => assert(!byKey.contains(i), s"key $i not evicted"))
    dim.drop()
  }

  test("K6: drop unregisters the dimension temp view") {
    import spark.implicits._
    val schema = StructType.fromDDL("k BIGINT, ord BIGINT, v STRING")
    val dim = new DimensionMaintainer(spark, "dim_drop", Seq("k"), "ord", schema)
    dim.applyBatch(Seq((1L, 1L, "x")).toDF("k", "ord", "v"), 0L)
    assert(spark.catalog.tableExists("dim_drop"))
    dim.drop()
    assert(!spark.catalog.tableExists("dim_drop"))
  }

  test("operational pipeline: enrich + metric columns over a stream") {
    import spark.implicits._
    val dimDf = Seq((1L, 10.0, "A"), (2L, 20.0, "B")).toDF("k", "planned", "grp")
    val stream = MemoryStream[(Long, Long, Double, Boolean, Boolean)](spark)
    val events = stream.toDF()
      .toDF("k", "ts_us", "qty", "down", "bad")
      .withColumn("ts_utc", timestamp_micros(col("ts_us")))
    val out = Pipeline.operational(
      events, "ts_utc", dimDf, "k", "k", Seq("planned", "grp"),
      Pipeline.oeeColumns(col("qty"), col("planned"), col("down"), col("bad")))
    val q = out.writeStream.format("memory").queryName("op_stream")
      .outputMode("append").start()
    try {
      stream.addData(Seq(
        (1L, 1700000000000000L, 5.0, false, false),
        (2L, 1700000000000000L, 5.0, true, false),
        (3L, 1700000000000000L, 5.0, false, false))) // no dim row -> null enrich
      q.processAllAvailable()
      val rows = spark.table("op_stream")
        .select("k", "grp", "performance", "availability", "quality", "oee")
        .collect().map(r => r.getLong(0) ->
          (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
            Option(r.get(4)), Option(r.get(5))))
        .toMap
      assert(rows(1L) == ((Some("A"), Some(0.5), Some(1.0), Some(1.0), Some(0.5))))
      assert(rows(2L) == ((Some("B"), Some(0.25), Some(0.0), Some(1.0), Some(0.0))))
      assert(rows(3L)._1.isEmpty) // left join kept the unmatched event
      assert(rows(3L)._5.isEmpty) // missing dim -> null metric (NaN→0 is for NaN only)
    } finally q.stop()
  }

  test("dedupStream: cross-batch duplicates drop within the watermark, firsts emit immediately") {
    import spark.implicits._
    val base = 1700000000000000L // epoch micros
    val stream = MemoryStream[(Long, Long, String)](spark)
    val df = stream.toDF().toDF("doc_id", "ts_us", "text_hash")
      .withColumn("ts_utc", timestamp_micros(col("ts_us")))
    val out = Pipeline.dedupStream(df, "ts_utc", "10 minutes", Seq("text_hash"))
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      // batch 1: h0..h4, unique within the batch (which row survives a
      // WITHIN-batch dup is not deterministic under shuffle — cross-batch
      // suppression is the contract pinned here) -> all 5 emit
      stream.addData((0 until 5).map(i =>
        (i.toLong, base + i * 1000L, s"h$i")))
      q.processAllAvailable()
      // batch 2: all 5 hashes again 1 min later (inside the watermark)
      // plus one genuinely new hash -> only the new one emits
      stream.addData((0 until 6).map(i =>
        (100L + i, base + 60000000L + i * 1000L, s"h$i")))
      q.processAllAvailable()
      val got = spark.table("dedup_stream")
        .select("doc_id", "text_hash").collect()
        .map(r => r.getLong(0) -> r.getString(1))
      assert(got.length === 6, s"expected 6 firsts, got ${got.toSeq}")
      assert(got.map(_._2).sorted.toSeq ===
        Seq("h0", "h1", "h2", "h3", "h4", "h5"))
      // the kept h0..h4 rows are batch-1 firsts (doc_id < 10), h5 is new
      assert(got.filter(_._2 != "h5").forall(_._1 < 10L))
      // parity with the batch rule: same firsts as incrementalDedup's
      // first-in-batch pick against an empty corpus
      val all = ((0 until 5).map(i => (i.toLong, s"h$i")) ++
        (0 until 6).map(i => (100L + i, s"h$i")))
        .toDF("doc_id", "text")
      val batchFirsts = graft.operators.Dedup
        .incrementalDedup(all, all.limit(0), "doc_id", "text")
        .filter(col("kept")).select("doc_id").as[Long].collect().toSet
      assert(got.map(_._1).toSet === batchFirsts)
    } finally q.stop()
  }

  test("StreamingFunnel TTL: aged-out entities are evicted (state count drops) while live entities keep batch parity") {
    import spark.implicits._
    val steps = Seq("view", "click", "purchase")
    val latest = scala.collection.mutable.Map.empty[String, Seq[Option[Long]]]
    val stream = MemoryStream[(String, String, Long)](spark)
    def sec(s: Long) = s * 1000000L // event-time contract: epoch micros
    val q = graft.streaming.StreamingFunnel.attach(
      stream.toDF().toDF("u", "typ", "ts"), "u", "typ", "ts", steps,
      checkpoint = tmpDir("funnel-ttl-ckpt"),
      inactivity = Some(java.time.Duration.ofSeconds(60))) { (batch, _) =>
      latest.synchronized {
        batch.collect().foreach(r => latest(r.getString(0)) =
          (1 to 3).map(i => Option(r.get(i)).map(_.asInstanceOf[Long])))
      }
    }
    try {
      // u1 and u2 both start; watermark reaches 30s
      stream.addData(Seq(("u1", "view", sec(10)), ("u2", "view", sec(30))))
      q.processAllAvailable()
      // u2 stays live; watermark reaches 80s — past u1's horizon
      // (last step 10s + 60s TTL = 70s), so u1 is evicted in the
      // watermark-advance follow-up batch
      stream.addData(Seq(("u2", "click", sec(80))))
      q.processAllAvailable()
      // a filtered-out event type still triggers a batch (belt and
      // braces for the timeout batch) without advancing the watermark
      stream.addData(Seq(("zz", "other", sec(81))))
      q.processAllAvailable()
      // u1's click WOULD have qualified (100s > view at 10s) had state
      // survived — it must not: the evicted entity restarts from empty,
      // where a click with no view is unqualified and emits nothing.
      // u2 is live and completes the funnel.
      stream.addData(Seq(("u1", "click", sec(100)), ("u2", "purchase", sec(100))))
      q.processAllAvailable()
      assert(latest.synchronized(latest("u1")) ==
        Seq(Some(sec(10)), None, None), "evicted u1 must not extend its funnel")
      // live-entity parity with the batch funnel over u2's full history
      val wantU2 = graft.operators.Sequence.funnelTimes(
          Seq(("u2", "view", sec(30)), ("u2", "click", sec(80)),
            ("u2", "purchase", sec(100))).toDF("u", "typ", "ts"),
          "u", "typ", "ts", steps)
        .collect().map(r => r.getString(0) ->
          (1 to 3).map(i => Option(r.get(i)).map(_.asInstanceOf[Long]))).toMap
      assert(latest.synchronized(latest("u2")) == wantU2("u2"))
      // state count dropped: both entities were resident at some point,
      // only u2 remains after eviction
      val counts = q.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal)
      assert(counts.max >= 2, s"expected both entities in state once: $counts")
      assert(counts.last == 1, s"expected only u2 resident after eviction: $counts")
      // an evicted entity that re-engages restarts from an empty funnel
      stream.addData(Seq(("u1", "view", sec(120))))
      q.processAllAvailable()
      assert(latest.synchronized(latest("u1")) ==
        Seq(Some(sec(120)), None, None), "re-engaged u1 restarts from scratch")
    } finally q.stop()
  }

  test("StreamingFunnel + LateDataBuffer: cross-trigger disorder reordered by the buffer reaches batch parity") {
    import spark.implicits._
    val steps = Seq("view", "click", "purchase")
    // Reorder gate in front of the funnel, per the StreamingFunnel class
    // contract ("feed genuinely late sources through LateDataBuffer
    // first"): events are parked in the buffer until the frontier
    // (max seen ts − allowed lateness L) passes them, then released in
    // event-time order. Under the bounded-lateness assumption (an event
    // arrives before the frontier passes its ts), releases are
    // non-decreasing in ts ACROSS triggers — exactly the funnel's
    // in-order contract. The released rows relay to the funnel query
    // through a file stream (the standard query-chaining channel).
    def sec(s: Long) = s * 1000000L
    val L = sec(50)
    val relayDir = tmpDir("funnel-relay")
    val buffer = new graft.streaming.LateDataBuffer(
      spark, StructType.fromDDL("u STRING, typ STRING, ts BIGINT"))
    var maxSeen = Long.MinValue
    var relayed = 0
    val gateStream = MemoryStream[(String, String, Long)](spark)
    val gate = gateStream.toDF().toDF("u", "typ", "ts")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val all = batch.unionByName(buffer.current)
        val batchMax = batch.agg(max("ts")).head().get(0)
        if (batchMax != null) maxSeen = math.max(maxSeen, batchMax.asInstanceOf[Long])
        val frontier = maxSeen - L
        val ready = all.filter(col("ts") <= frontier)
          .orderBy("ts").collect() // tiny spec frame; production would file-sink
        if (ready.nonEmpty) {
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(relayDir, s"release-$id.csv"),
            ready.map(r => s"${r.getString(0)},${r.getString(1)},${r.getLong(2)}")
              .mkString("", "\n", "\n"))
          relayed += ready.length
        }
        buffer.replaceWith(all.filter(col("ts") > frontier))
        ()
      }
      .option("checkpointLocation", tmpDir("funnel-gate-ckpt"))
      .start()
    val latest = scala.collection.mutable.Map.empty[String, Seq[Option[Long]]]
    val funnel = graft.streaming.StreamingFunnel.attach(
      graft.sources.Sources.fileStream(
        spark, relayDir, "csv", "u STRING, typ STRING, ts BIGINT"),
      "u", "typ", "ts", steps, checkpoint = tmpDir("funnel-relay-ckpt")) { (b, _) =>
      latest.synchronized {
        b.collect().foreach(r => latest(r.getString(0)) =
          (1 to 3).map(i => Option(r.get(i)).map(_.asInstanceOf[Long])))
      }
    }
    def drain(): Unit = { gate.processAllAvailable(); funnel.processAllAvailable() }
    try {
      // genuine cross-trigger disorder: the click arrives one trigger
      // BEFORE the earlier-ts view. Fed directly, the click would be
      // rejected forever (no view yet) and the funnel would end
      // (view, None, None) — the buffer is what restores parity.
      gateStream.addData(Seq(("u1", "click", sec(100)))); drain()
      gateStream.addData(Seq(("u1", "view", sec(60)))); drain()
      assert(latest.synchronized(latest.isEmpty), "nothing released yet")
      assert(buffer.current.count() == 2, "both events parked in the buffer")
      // purchase@150 moves the frontier to 100: view@60 and click@100
      // release together, in ts order
      gateStream.addData(Seq(("u1", "purchase", sec(150)))); drain()
      // a high-ts closer moves the frontier past the purchase
      gateStream.addData(Seq(("zz", "other", sec(300)))); drain()
      val want = graft.operators.Sequence.funnelTimes(
          Seq(("u1", "view", sec(60)), ("u1", "click", sec(100)),
            ("u1", "purchase", sec(150))).toDF("u", "typ", "ts"),
          "u", "typ", "ts", steps)
        .collect().map(r => r.getString(0) ->
          (1 to 3).map(i => Option(r.get(i)).map(_.asInstanceOf[Long]))).toMap
      assert(latest.synchronized(latest("u1")) == want("u1"),
        s"buffered replay must equal the batch funnel; got ${latest.synchronized(latest.toMap)}")
      // the closer itself stays parked (its ts is past the frontier)
      assert(relayed == 3, s"view, click and purchase release: $relayed")
    } finally { gate.stop(); funnel.stop() }
  }

  test("StreamingTopTerms: per-trigger top-k == batch topTerms over everything seen") {
    import spark.implicits._
    val stream = MemoryStream[String](spark)
    val q = graft.streaming.StreamingTopTerms.attach(
      stream.toDF().toDF("text"), "text", k = 3,
      queryName = "tt_stream", checkpoint = tmpDir("tt-ckpt"))
    // batch 2 makes a term that was NEVER in any single batch's top-3
    // globally heavy — the case per-batch top-k merging gets wrong
    val b1 = Seq("a a a a b b c d e", "a b c c")
    val b2 = Seq("e e e e e d d d", "e d b")
    try {
      var seen = Seq.empty[String]
      for (b <- Seq(b1, b2)) {
        stream.addData(b); q.processAllAvailable()
        seen = seen ++ b
        val got = spark.table("tt_stream")
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val expect = graft.operators.TextAnalysis.topTerms(
            seen.toDF("text"), "text", 3)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        assert(got == expect, s"after ${seen.size} docs: got $got expect $expect")
      }
    } finally q.stop()
  }

  test("StreamingSample: state survives a checkpoint restart; post-restart sample == batch over ALL data") {
    import spark.implicits._
    val inDir = tmpDir("samp-in")
    val ckpt = tmpDir("samp-restart-ckpt")
    def writeFile(name: String, rows: Seq[(Long, Double)]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(inDir, name),
        rows.map { case (i, w) => s"$i,$w" }.mkString("\n") + "\n")
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    def start() = {
      val ds = graft.sources.Sources
        .fileStream(spark, inDir, "csv", "id BIGINT, w DOUBLE")
        .as[(Long, Double)]
      graft.streaming.StreamingSample.updates(ds, n = 5)
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Double, Double)], _: Long) =>
          emitted.synchronized { emitted ++= b.collect().map(r => (r._1, r._3)) }
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
    }
    val b1 = (0L until 40L).map(i => (i, 1.0))
    writeFile("f1.csv", b1)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // heavy late arrivals MUST displace restored members — which only
    // happens if the pre-restart state came back from the checkpoint
    val b2 = (100L until 105L).map(i => (i, 1000.0))
    writeFile("f2.csv", b2)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = emitted.synchronized {
      emitted.groupBy(_._1).map { case (id, ks) => (id, ks.head._2) }.toSeq
        .sortBy { case (id, k) => (-k, id) }.take(5).map(_._1).toSet
    }
    val expect = graft.operators.TopK.weightedSampleNoReplacement(
        (b1 ++ b2).toDF("id", "w"), "id", "w", 5)
      .collect().map(_.getLong(0)).toSet
    assert(got == expect, s"got $got expect $expect")
    assert((100L until 105L).toSet.subsetOf(got), "restored state must merge with new data")
  }

  test("StreamingSample: running top-n == batch A-ES sample over the union after every trigger") {
    import spark.implicits._
    val stream = MemoryStream[(Long, Double)](spark)
    val out = graft.streaming.StreamingSample.updates(stream.toDS(), n = 5)
      .toDF("id", "w", "samp_key")
    val q = out.writeStream.format("memory").queryName("samp_stream")
      .outputMode("update")
      .option("checkpointLocation", tmpDir("samp-ckpt"))
      .start()
    // weights chosen so later batches displace earlier sample members
    val b1 = (0L until 40L).map(i => (i, 1.0))
    val b2 = (40L until 60L).map(i => (i, if (i % 7 == 0) 500.0 else 1.0))
    val b3 = Seq((60L, 1000.0), (61L, 1000.0), (62L, 0.0), (63L, -2.0))
    try {
      var seen = Seq.empty[(Long, Double)]
      for (b <- Seq(b1, b2, b3)) {
        stream.addData(b); q.processAllAvailable()
        seen = seen ++ b
        val latest = spark.table("samp_stream")
        val expect = graft.operators.TopK.weightedSampleNoReplacement(
            seen.toDF("id", "w"), "id", "w", 5)
          .collect().map(_.getLong(0)).toSet
        // reconstruct the current sample: rows emitted in the LAST trigger
        // (update sink appends; take the 5 rows with the highest batch
        // presence = the final emit). Simpler: rerun a deterministic
        // reconstruction by taking each id's latest emitted key and
        // selecting the top 5 — equal to the maintained state by
        // construction.
        val got = latest.collect().map(r => (r.getLong(0), r.getDouble(2)))
          .groupBy(_._1).map { case (id, ks) => (id, ks.head._2) }.toSeq
          .sortBy { case (id, k) => (-k, id) }.take(5).map(_._1).toSet
        assert(got == expect, s"after batch: got $got expect $expect")
      }
      // the zero/negative-weight rows never appear anywhere in the sink
      val ids = spark.table("samp_stream").collect().map(_.getLong(0)).toSet
      assert(!ids.contains(62L) && !ids.contains(63L))
      // the heavy late arrivals displaced earlier members in the final state
      assert(spark.table("samp_stream").collect().map(_.getLong(0)).toSet
        .contains(60L))
    } finally q.stop()
  }
}
