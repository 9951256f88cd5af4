package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{Child, Lookup, SnowflakePlan}
import graft.streaming.Streams

class StreamsSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("4")

  test("invalidateSchema refreshes the schema of stream reads") {
    // stream reads share the batch loader's schema cache, so the one
    // documented refresh covers both
    val dir = java.nio.file.Files.createTempDirectory("graft_schema_").toString
    try {
      val s = spark
      import s.implicits._
      val path = s"$dir/t.parquet"
      Seq((1L, "a")).toDF("id", "x").write.parquet(path)
      assert(StreamCatalog.streamRead(spark, dir, "t").columns.toSeq == Seq("id", "x"))
      Seq((1L, "a", 2.0)).toDF("id", "x", "added").write.mode("overwrite").parquet(path)
      SparkEntry.invalidateSchema(dir, "t")
      assert(StreamCatalog.streamRead(spark, dir, "t").columns.toSeq == Seq("id", "x", "added"))
      assert(SparkEntry.loader(spark, dir)("t").columns.toSeq == Seq("id", "x", "added"))
    } finally {
      SparkEntry.invalidateSchema(dir)
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("statePartitions: floor at bench volumes, scales up with source bytes") {
    // r15 (VERDICT r14 #7): the drain knob is volume-derived. At the
    // bench SFs every source is a few MB -> the documented floor of 8;
    // shrinking the per-partition target makes the same file resolve to
    // ceil(bytes/target); a missing file degrades to the floor.
    val dir = "/root/testdata/sf0.01"
    assert(StreamCatalog.statePartitions(spark, dir, "events") === 8)
    val bytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(dir, "events.parquet"))
    spark.conf.set("spark.graft.streamStateTargetBytes", "1024")
    try {
      val expected = ((bytes + 1023) / 1024).toInt
      assert(StreamCatalog.statePartitions(spark, dir, "events") === expected)
    } finally spark.conf.unset("spark.graft.streamStateTargetBytes")
    assert(StreamCatalog.statePartitions(spark, dir, "no_such_table") === 8)
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowedCounts: event-time windows with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Double)]
    val agg = Streams.windowedCounts(
      in.toDF().toDF("ts", "value"), "ts", "value",
      windowLen = "10 minutes", slide = "10 minutes", watermark = "5 minutes")
    val q = agg.writeStream.format("memory").queryName("win").outputMode(OutputMode.Complete).start()
    in.addData(
      (ts("2024-01-01 00:01:00"), 1.0),
      (ts("2024-01-01 00:04:00"), 2.0),
      (ts("2024-01-01 00:12:00"), 10.0))
    q.processAllAvailable()
    val rows = spark.table("win").orderBy("window_start")
      .select("n", "total").as[(Long, Double)].collect()
    q.stop()
    assert(rows.toSeq === Seq((2L, 3.0), (1L, 10.0)))
  }

  test("intervalJoinStream: same-key matches inside [ts, ts+within] only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp, Long)]
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val joined = Streams.intervalJoinStream(
        views.toDF().toDF("user_id", "ts", "event_id"),
        clicks.toDF().toDF("user_id", "ts", "event_id"),
        "user_id", "ts", within = "30 minutes", watermark = "1 hour")
      .select(col("l.event_id").as("view_id"), col("r.event_id").as("click_id"))
    val q = joined.writeStream.format("memory").queryName("sjoin")
      .outputMode(OutputMode.Append).start()
    views.addData(
      (1L, ts("2024-01-01 10:00:00"), 100L),
      (2L, ts("2024-01-01 10:00:00"), 101L))
    clicks.addData(
      (1L, ts("2024-01-01 10:10:00"), 200L), // in window → match
      (1L, ts("2024-01-01 10:31:00"), 201L), // past ts+30min → no match
      (1L, ts("2024-01-01 09:59:00"), 202L), // before the view → no match
      (2L, ts("2024-01-01 10:30:00"), 203L), // boundary: exactly +30min → match
      (3L, ts("2024-01-01 10:10:00"), 204L)) // key never viewed → no match
    q.processAllAvailable()
    val rows = spark.table("sjoin").select("view_id", "click_id")
      .as[(Long, Long)].collect().toSet
    q.stop()
    assert(rows === Set((100L, 200L), (101L, 203L)))
  }

  test("dedupStream drops within-watermark exact duplicates, keeps first") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val out = Streams.dedupStream(
      in.toDF().toDF("doc_id", "text", "ts"), "text", "ts", delay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append).start()
    in.addData(
      (1L, "the same doc", ts("2024-01-01 00:00:00")),
      (2L, "THE  same   doc", ts("2024-01-01 00:01:00")), // normalized dup of 1
      (3L, "a different doc", ts("2024-01-01 00:02:00")))
    q.processAllAvailable()
    in.addData((4L, "the same doc", ts("2024-01-01 00:03:00"))) // still within horizon
    q.processAllAvailable()
    val ids = spark.table("dedup").select("doc_id").as[Long].collect().sorted
    q.stop()
    assert(ids.toSeq === Seq(1L, 3L))
  }

  test("sessionize (batch mode): gap splits sessions, open ones withheld") {
    import spark.implicits._
    val events = Seq(
      Streams.Event(1, ts("2024-01-01 00:00:00"), 1.0),
      Streams.Event(1, ts("2024-01-01 00:00:30"), 2.0),
      Streams.Event(1, ts("2024-01-01 00:05:00"), 5.0), // > 1 min gap → closes first
      Streams.Event(1, ts("2024-01-01 00:30:00"), 9.0), // closes second
      Streams.Event(2, ts("2024-01-01 00:00:00"), 7.0)).toDS()
    val closed = Streams.sessionize(events, gapMs = 60000).collect()
    // user 1: two closed sessions; the trailing 9.0 and all of user 2
    // remain open (no gap-exceeding successor) — the state contract
    assert(closed.map(s => (s.userId, s.nEvents, s.total)).sortBy(_._3).toSeq ===
      Seq((1L, 2L, 3.0), (1L, 1L, 5.0)))
  }

  test("sessionWindowAgg: native session_window finalizes on watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.Event]
    val agg = Streams.sessionWindowAgg(
      in.toDF().toDF("userId", "ts", "value"), "ts", "value", "userId",
      gap = "1 minute", watermark = "1 second")
    val q = agg.writeStream.format("memory").queryName("swin").outputMode(OutputMode.Append).start()
    in.addData(
      Streams.Event(1, ts("2024-01-01 00:00:00"), 1.0),
      Streams.Event(1, ts("2024-01-01 00:00:30"), 2.0),
      Streams.Event(1, ts("2024-01-01 00:05:00"), 5.0),
      Streams.Event(2, ts("2024-01-01 00:00:00"), 7.0))
    q.processAllAvailable()
    // advance watermark far beyond all sessions → everything finalizes
    in.addData(Streams.Event(9, ts("2024-01-01 01:00:00"), 0.0))
    q.processAllAvailable()
    val rows = spark.table("swin").orderBy("userId", "session_start")
      .select("userId", "n", "total").as[(Long, Long, Double)].collect()
    q.stop()
    assert(rows.toSeq === Seq((1L, 2L, 3.0), (1L, 1L, 5.0), (2L, 1L, 7.0)))
  }

  test("extractStream: micro-batch snowflake assembly against static dims") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val static = Map(
      "customer" -> Seq((1L, "alice"), (2L, "bob")).toDF("c_id", "c_name"),
      "items" -> Seq((100L, 10L, 5.0), (101L, 10L, 7.0)).toDF("i_id", "o_id", "price"))
    val plan = SnowflakePlan("orders", "o_id",
      lookups = Seq(Lookup("cust", "customer", SnowflakePlan("customer", "c_id"))),
      children = Seq(Child("o_id", "items", SnowflakePlan("items", "i_id"))))

    val in = MemoryStream[(Long, Long)]
    val collected = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val writer = Streams.extractStream(in.toDF().toDF("o_id", "cust"), plan, static) {
      (docs, _) => collected ++= docs.collect()
    }
    val q = writer.start()
    in.addData((10L, 1L), (11L, 2L))
    q.processAllAvailable()
    q.stop()
    assert(collected.size === 2)
    val d10 = collected.find(_.getLong(0) == 10L).get
    assert(d10.getStruct(d10.fieldIndex("customer")).getString(1) === "alice")
    assert(d10.getSeq[Any](d10.fieldIndex("items")).size === 2)
    val d11 = collected.find(_.getLong(0) == 11L).get
    assert(d11.isNullAt(d11.fieldIndex("items"))) // no items → null array
  }

  test("extractStreamNotified: one message per micro-batch after the sink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val static = Map("customer" -> Seq((1L, "alice")).toDF("c_id", "c_name"))
    val plan = SnowflakePlan("orders", "o_id",
      lookups = Seq(Lookup("cust", "customer", SnowflakePlan("customer", "c_id"))))
    val in = MemoryStream[(Long, Long)]
    val sunk = scala.collection.mutable.ArrayBuffer[Long]()
    val msgs = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val writer = Streams.extractStreamNotified(
      in.toDF().toDF("o_id", "cust"), plan, static,
      (m: Map[String, Any]) => msgs.synchronized { msgs += m }, "s3://bucket/out") {
      (docs, id) => sunk += docs.count(); ()
    }
    val q = writer.start()
    in.addData((10L, 1L))
    q.processAllAvailable()
    in.addData((11L, 1L))
    q.processAllAvailable()
    q.stop()
    assert(sunk.toSeq === Seq(1L, 1L))
    assert(msgs.size === 2)
    assert(msgs.forall(m => m("bucket") == "s3://bucket/out" &&
      m.contains("key") && m.contains("timestamp") && m.contains("date/time")))
  }

  test("windowedOhlc: drained candle = batch candle of the finalized window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Double)]
    val candles = Streams.windowedOhlc(
      in.toDF().toDF("ts", "id", "v"), "ts", "v", col("id"),
      windowLen = "10 minutes", watermark = "5 minutes")
    val q = candles.writeStream.format("memory").queryName("ohlcwin")
      .outputMode(OutputMode.Append).start()
    in.addData((ts("2024-01-01 00:01:00"), 1L, 10.50),
      (ts("2024-01-01 00:04:00"), 2L, 30.25),
      (ts("2024-01-01 00:08:00"), 3L, 5.75))
    q.processAllAvailable()
    in.addData((ts("2024-01-01 00:21:00"), 4L, 1.0)) // finalize window 1
    q.processAllAvailable()
    val got = spark.table("ohlcwin")
      .select("open", "high", "low", "close", "volume", "total_cents")
      .as[(Double, Double, Double, Double, Long, Long)].collect()
    q.stop()
    assert(got.toSeq === Seq((10.50, 30.25, 5.75, 5.75, 3L, 4650L)))
  }

  test("windowedCmSketch: drained cells = batch sketch's nonzero cells") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val sk = Streams.windowedCmSketch(
      in.toDF().toDF("ts", "k"), "ts", "k",
      windowLen = "10 minutes", watermark = "5 minutes", w = 32, d = 3)
    val q = sk.writeStream.format("memory").queryName("cmwin")
      .outputMode(OutputMode.Append).start()
    in.addData((ts("2024-01-01 00:01:00"), "x"), (ts("2024-01-01 00:02:00"), "y"),
      (ts("2024-01-01 00:03:00"), "x"))
    q.processAllAvailable()
    in.addData((ts("2024-01-01 00:21:00"), "z")) // finalize the first window
    q.processAllAvailable()
    val got = spark.table("cmwin").orderBy("row", "bucket")
      .select("row", "bucket", "cnt").as[(Int, Int, Long)].collect()
    q.stop()
    val batch = graft.ops.Sketches.cmSketch(
        Seq("x", "y", "x").toDF("k"), "k", w = 32, d = 3)
      .where(col("cnt") > 0).orderBy("row", "bucket")
      .select("row", "bucket", "cnt").as[(Int, Int, Long)].collect()
    assert(got.toSeq === batch.toSeq)
  }

  test("windowedDistinctHll: drained registers = batch sketch of the finalized window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val regs = Streams.windowedDistinctHll(
      in.toDF().toDF("ts", "uid"), "ts", "uid",
      windowLen = "10 minutes", watermark = "5 minutes", p = 8)
    val q = regs.writeStream.format("memory").queryName("hllwin")
      .outputMode(OutputMode.Append).start()
    // window [00:00, 00:10): users 1,2,3 (2 twice — dup must not bump a
    // register); late watermark push finalizes it
    in.addData((ts("2024-01-01 00:01:00"), 1L), (ts("2024-01-01 00:02:00"), 2L),
      (ts("2024-01-01 00:03:00"), 2L), (ts("2024-01-01 00:04:00"), 3L))
    q.processAllAvailable()
    in.addData((ts("2024-01-01 00:21:00"), 9L)) // watermark → 00:16 > 00:10
    q.processAllAvailable()
    val drained = spark.table("hllwin")
    q.stop()
    val got = drained.orderBy("bucket")
      .select("bucket", "reg").as[(Int, Int)].collect()
    val batch = graft.ops.Sketches.hllRegisters(
        Seq(1L, 2L, 3L).toDF("uid"), "uid", p = 8)
      .where(col("reg") > 0).orderBy("bucket")
      .select("bucket", "reg").as[(Int, Int)].collect()
    assert(got.toSeq === batch.toSeq)
    assert(got.length <= 3) // sparse: at most one touched bucket per distinct key
    // and the grouped sparse estimator agrees with the dense one
    val est = graft.ops.Sketches.hllEstimateGrouped(
      drained.select(lit(1).as("g"), col("bucket"), col("reg")), Seq("g"), p = 8)
      .select("v_zero", "s_scaled", "estimate").collect().head
    val dense = graft.ops.Sketches.hllEstimate(
      graft.ops.Sketches.hllRegisters(Seq(1L, 2L, 3L).toDF("uid"), "uid", p = 8), p = 8)
      .select("v_zero", "s_scaled", "estimate").collect().head
    assert((est.getLong(0), est.getLong(1), est.getDouble(2)) ===
           (dense.getLong(0), dense.getLong(1), dense.getDouble(2)))
  }
}
