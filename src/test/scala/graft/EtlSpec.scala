package graft

import java.time.Instant
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl._

/** Counter replay determinism (the reference's tests/test_counters.py
  * contract) + incremental extract end-to-end on the testdata. */
class EtlSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("4")

  private def weekChain(): BatchCounterLike =
    new DurationCounter(Instant.parse("2024-01-01T00:00:00Z"), DurationUnit.Week,
      new BatchCounter(0, 3, new RowCounter(0)))

  /** Runs `f`; its result, Spark jobs and SQL execution names. */
  private def counted[T](f: => T): (T, Int, Seq[String]) = {
    val (r, jobs, execs) = SparkCounts(spark)(f)
    (r, jobs, execs.map(_._1))
  }

  private val keys: Seq[Seq[Any]] = {
    // strictly-increasing (time, id) tuples spanning two weeks
    val t0 = Instant.parse("2024-01-01T00:00:00Z")
    (0 until 20).map(i => Seq(t0.plusSeconds(i * 90000L), i.toLong))
  }

  test("counter chain: replay from every cut point reproduces the tail") {
    val full = { val c = weekChain(); keys.map(c.next) }
    for (cut <- 1 until keys.length) {
      val c2 = weekChain()
      c2.reset(Some(full(cut - 1)))
      // resume: the coordinate of the row AFTER the cut must match,
      // provided we replay from the last-emitted coordinate
      val resumed = keys.drop(cut - 1).map(c2.next)
      assert(resumed.tail === full.drop(cut), s"divergence replaying from cut=$cut")
    }
  }

  test("toInstant accepts JDBC Integer/Float epochs") {
    // a MySQL INT epoch-seconds column arrives as java.lang.Integer —
    // it must not throw "not a time value" (review r9)
    assert(DurationCounter.toInstant(Int.box(86400)) ===
      Instant.parse("1970-01-02T00:00:00Z"))
    assert(DurationCounter.toInstant(java.lang.Float.valueOf(1.5f)) ===
      Instant.ofEpochMilli(1500L))
  }

  test("duration units floor correctly") {
    val t = Instant.parse("2024-02-14T13:47:21Z") // a Wednesday
    assert(DurationUnit.Week.floor(t) === Instant.parse("2024-02-11T00:00:00Z")) // Sunday
    assert(DurationUnit.Month.floor(t) === Instant.parse("2024-02-01T00:00:00Z"))
    assert(DurationUnit.Year.floor(t) === Instant.parse("2024-01-01T00:00:00Z"))
    assert(DurationUnit.Seconds(86400).floor(t) === Instant.parse("2024-02-14T00:00:00Z"))
  }

  test("extract: first run writes docs + watermark; second run is incremental no-op") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_etl")
    val load = SparkEntry.loader(spark, "/root/testdata/sf0.001")
    val plan = SnowflakePlan("orders", "o_orderkey",
      lookups = Seq(Lookup("o_custkey", "customer", SnowflakePlan("customer", "c_custkey"))),
      children = Seq(Child("l_orderkey", "lineitems", SnowflakePlan("lineitem", "l_orderkey"))))
    val cfg = ExtractConfig(
      plan, timeField = Some(("o_orderdate", DurationUnit.Month)),
      idField = "o_orderkey", batchSize = 1000,
      start = Instant.parse("1992-01-01T00:00:00Z"),
      destination = tmp.resolve("out").toString,
      lastFile = tmp.resolve("last.json"))

    val r1 = Extract.run(spark, cfg, load)
    assert(r1.rows > 0 && r1.batches > 0)

    val written = spark.read.json(cfg.destination)
    assert(written.count() === r1.rows)
    // docs carry the nested shapes + lineage envelope
    assert(written.columns.toSet.contains("orders"))
    assert(written.columns.toSet.contains("etl"))
    val one = written.select(col("orders.customer.c_name"),
      size(col("orders.lineitems"))).where(col("orders.customer.c_name").isNotNull)
    assert(one.count() > 0)

    // watermark advanced → immediate re-run extracts nothing new
    val r2 = Extract.run(spark, cfg, load)
    assert(r2.rows === 0L)
    assert(r2.watermark === r1.watermark)

    // an empty increment must NOT rewrite the watermark (a time-less
    // watermark would poison the next keyset filter with .get on None)
    val wmAfter = Extract.readWatermark(cfg.lastFile).get
    assert(wmAfter.lastTime.isDefined)
  }

  test("extract: one notification per written batch; single pass over the source") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_etl_notify")
    val load = SparkEntry.loader(spark, "/root/testdata/sf0.001")
    val plan = SnowflakePlan("orders", "o_orderkey",
      children = Seq(Child("l_orderkey", "lineitems", SnowflakePlan("lineitem", "l_orderkey"))))
    val notifications = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val cfg = ExtractConfig(
      plan, timeField = Some(("o_orderdate", DurationUnit.Month)),
      idField = "o_orderkey", batchSize = 500,
      start = Instant.parse("1992-01-01T00:00:00Z"),
      destination = tmp.resolve("out").toString,
      lastFile = tmp.resolve("last.json"),
      notifier = m => notifications.synchronized { notifications += m })

    val (r, jobs, execs) = counted(Extract.run(spark, cfg, load))

    assert(r.batches > 1)
    // exactly one message per (batch_t, batch_i), reference message shape
    assert(notifications.size === r.batches)
    val keys = notifications.map(_("key").toString).sorted
    val written = spark.read.json(cfg.destination)
      .select(concat_ws(".", col("batch_t"), col("batch_i"))).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    assert(keys.toSeq === written)
    notifications.foreach { m =>
      assert(m("bucket") === cfg.destination)
      assert(m.contains("timestamp") && m.contains("date/time"))
    }
    // one increment = one cached scan, one aggregate, one write: exactly
    // two SQL executions, the per-bucket aggregate (its collect gives the
    // driver rows, batch keys and watermark) and the write, which ranks
    // the cached rows, semi-joins the children down to the increment's
    // keys and assembles the docs around the ranked rows. A bucket-size
    // probe would add an execution, a coordinate re-join jobs to the
    // write. Jobs: the aggregate's scan of the source into the cache, then
    // AQE's stages of the write and the broadcast of the key set;
    // measured 9.
    assert(execs.size === 2, s"expected aggregate + write, saw $execs")
    assert(jobs <= 9, s"expected a single-pass extract, saw $jobs jobs")

    // FileNotifier round-trips the same shape as NDJSON
    val fn = new Notifier.FileNotifier(tmp.resolve("notify.ndjson"))
    notifications.foreach(fn.add)
    val lines = java.nio.file.Files.readAllLines(tmp.resolve("notify.ndjson"))
    assert(lines.size() === notifications.size)
    assert(lines.get(0).contains("\"bucket\":") && lines.get(0).contains("\"key\":"))
  }

  test("doc assembly: reference_only lookup inlines the value") {
    val load = SparkEntry.loader(spark, "/root/testdata/sf0.001")
    val plan = SnowflakePlan("customer", "c_custkey",
      lookups = Seq(Lookup("c_nationkey", "nation",
        SnowflakePlan("nation", "n_nationkey", referenceOnly = Some("n_name"), showForeignKeys = false))))
    val df = DocAssembler.assemble(plan, load)
    assert(df.schema("nation").dataType.typeName === "string")
    assert(df.where(col("nation").isNotNull).count() > 0)
  }

  test("incremental runs append: run 2 must not delete run 1's batches") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_etl_incr")
    val full = SparkEntry.loader(spark, "/root/testdata/sf0.001")
    val plan = SnowflakePlan("orders", "o_orderkey")
    val cfg = ExtractConfig(
      plan, timeField = Some(("o_orderdate", DurationUnit.Month)),
      idField = "o_orderkey", batchSize = 200,
      start = Instant.parse("1992-01-01T00:00:00Z"),
      destination = tmp.resolve("out").toString,
      lastFile = tmp.resolve("last.json"))
    // run 1 cuts MID-month (mid-duration-bucket): run 2's first rows land
    // in the SAME bucket run 1 already wrote to — the batch counter must
    // resume past run 1's recorded batch or dynamic overwrite would
    // replace run 1's objects in that bucket
    val half: String => org.apache.spark.sql.DataFrame = name => {
      val df = full(name)
      if (name == "orders") df.filter(col("o_orderdate") < "1998-06-15") else df
    }
    val r1 = Extract.run(spark, cfg, half)
    val r2 = Extract.run(spark, cfg, full)
    assert(r1.rows > 0 && r2.rows > 0)
    // dynamic partition overwrite + resumed batch indices: the total on
    // disk is both increments, nothing deleted, no key collisions
    val onDisk = spark.read.json(cfg.destination).count()
    assert(onDisk === r1.rows + r2.rows)
  }

  test("extract: null time axis raises; time-less watermark with a time axis refuses to resume") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_etl_nulltime")
    val full = SparkEntry.loader(spark, "/root/testdata/sf0.001")
    val plan = SnowflakePlan("orders", "o_orderkey")
    val cfg = ExtractConfig(
      plan, timeField = Some(("o_orderdate", DurationUnit.Month)),
      idField = "o_orderkey", batchSize = 1000,
      start = Instant.parse("1992-01-01T00:00:00Z"),
      destination = tmp.resolve("out").toString,
      lastFile = tmp.resolve("last.json"))
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " " + msgs(t.getCause)
    // a NULL on the configured time axis has no duration bucket and no
    // resume semantics — the extract must raise, not silently drop the
    // row or park it in a null partition the keyset can't re-find
    // (review r9)
    val withNull: String => org.apache.spark.sql.DataFrame = name => {
      val df = full(name)
      if (name == "orders")
        df.withColumn("o_orderdate",
          when(col("o_orderkey") % 97 === 0, lit(null)).otherwise(col("o_orderdate")))
      else df
    }
    val ex = intercept[Exception] { Extract.run(spark, cfg, withNull) }
    assert(msgs(ex).contains("null time axis"))
    // a watermark without lastTime + a configured time axis: resuming on
    // id alone would let old rows re-batch EARLIER buckets from base 0,
    // and dynamic overwrite would delete prior increments' objects —
    // the run must refuse (review r9)
    Extract.writeWatermark(cfg.lastFile, Watermark(Seq(3L, 2L), None, 42L))
    val ex2 = intercept[IllegalStateException] { Extract.run(spark, cfg, full) }
    assert(ex2.getMessage.contains("no lastTime"))
  }

  test("time-less extract: a resumed schedule equals the one-shot; an empty increment writes nothing") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_etl_timeless")
    val full = SparkEntry.loader(spark, "/root/testdata/sf0.001")
    val plan = SnowflakePlan("orders", "o_orderkey",
      children = Seq(Child("l_orderkey", "lineitems", SnowflakePlan("lineitem", "l_orderkey"))))
    def cfg(name: String, sent: scala.collection.mutable.Buffer[String]) = ExtractConfig(
      plan, timeField = None, idField = "o_orderkey", batchSize = 100,
      start = Instant.parse("1992-01-01T00:00:00Z"),
      destination = tmp.resolve(name).toString, lastFile = tmp.resolve(name + ".last.json"),
      notifier = m => sent.synchronized { sent += m("key").toString })
    // every row is in bucket 0, whose batch base resumes from the
    // watermark coordinates. Cuts on batch boundaries (300 and 800 ids)
    // keep the keys of both schedules equal; a mid-batch cut starts a
    // new batch (ExtractFuzzSpec covers those)
    val ids = full("orders").select(col("o_orderkey")).orderBy("o_orderkey")
      .collect().map(_.getLong(0))
    assert(ids.length > 800)
    def upTo(last: Long): String => org.apache.spark.sql.DataFrame = name =>
      if (name == "orders") full(name).filter(col("o_orderkey") <= last) else full(name)

    val oneSent = scala.collection.mutable.ArrayBuffer[String]()
    val one = Extract.run(spark, cfg("one", oneSent), full)
    val incSent = scala.collection.mutable.ArrayBuffer[String]()
    val incCfg = cfg("inc", incSent)
    val steps = Seq(upTo(ids(299)), upTo(ids(799)), full).map { load =>
      val (r, _, execs) = counted(Extract.run(spark, incCfg, load))
      assert(execs.size === 2, s"expected aggregate + write, saw $execs")
      r
    }
    assert(steps.map(_.rows) === Seq(300L, 500L, ids.length - 800L))
    assert(steps.map(_.batches).sum === one.batches)
    assert(steps.last.watermark === one.watermark)
    assert(one.watermark.coords === Seq(0L, one.batches - 1) && one.watermark.lastTime.isEmpty &&
      one.watermark.lastId === ids.last)
    assert(incSent === oneSent, "notified keys or their order differ")
    def written(name: String): Seq[String] =
      spark.read.json(tmp.resolve(name).toString)
        .select(concat_ws("|", col("batch_t"), col("batch_i"), to_json(col("orders"))))
        .collect().map(_.getString(0)).sorted.toSeq
    val docs = written("one")
    assert(docs.size === ids.length && written("inc") === docs)

    // an empty increment: one aggregate, no write, nothing notified, and
    // neither the destination nor the watermark file is touched
    def files(root: java.nio.file.Path): Seq[(String, Long, Long)] = {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => (f.toString, java.nio.file.Files.size(f),
          java.nio.file.Files.getLastModifiedTime(f).toMillis)).toSeq.sorted
      finally walk.close()
    }
    val before = files(tmp)
    val (empty, _, execs) = counted(Extract.run(spark, incCfg, full))
    assert(empty.rows === 0L && empty.batches === 0L && empty.watermark === steps.last.watermark)
    assert(execs.size === 1, s"expected the aggregate alone, saw $execs")
    assert(incSent === oneSent)
    assert(files(tmp) === before)
  }

  test("watermark writes are atomic: a concurrent reader always parses") {
    val p = java.nio.file.Files.createTempDirectory("graft_etl_wm").resolve("last.json")
    def wm(i: Int) = Watermark(Seq(i.toLong, i * 7919L),
      if (i % 2 == 0) Some(new java.sql.Timestamp(i * 86400000L)) else None, i * 1000003L)
    Extract.writeWatermark(p, wm(0))
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() =>
      while (!done.get()) {
        try Extract.readWatermark(p).getOrElse(failures.add("missing"))
        catch { case e: Exception => failures.add(e.toString) }
        reads.incrementAndGet()
      })
    reader.start()
    try for (i <- 1 to 2000) Extract.writeWatermark(p, wm(i))
    finally { done.set(true); reader.join() }
    val failed = failures.size
    assert(reads.get() > 0)
    assert(failed === 0, s"of ${reads.get()} reads, e.g. ${failures.peek()}")
    assert(Extract.readWatermark(p) === Some(wm(2000)))
    // no temp file is left beside the watermark
    val left = java.nio.file.Files.list(p.getParent)
    try assert(left.count() === 1L) finally left.close()
  }

  test("scaled batch indexing: byte-identical keys + doc→batch mapping vs the window path") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_etl_scaled")
    val load = SparkEntry.loader(spark, "/root/testdata/sf0.001")
    val plan = SnowflakePlan("orders", "o_orderkey")
    def cfg(dest: String, threshold: Long) = ExtractConfig(
      plan, timeField = Some(("o_orderdate", DurationUnit.Year)),
      idField = "o_orderkey", batchSize = 100,
      start = Instant.parse("1992-01-01T00:00:00Z"),
      destination = tmp.resolve(dest).toString,
      lastFile = tmp.resolve(dest + ".last.json"),
      scaledIndexThreshold = threshold)
    // Year buckets → each bucket holds ~200 rows spread across >1 range
    // partition on the scaled path; threshold 0 forces the distributed
    // rank, MaxValue forces the per-bucket window
    val rw = Extract.run(spark, cfg("win", Long.MaxValue), load)
    val rs = Extract.run(spark, cfg("scaled", 0L), load)
    assert(rw.rows > 0 && rw.rows === rs.rows && rw.batches === rs.batches)
    assert(rw.watermark === rs.watermark)
    def inventory(dest: String): Seq[(Long, Long, Long, Long)] =
      spark.read.json(tmp.resolve(dest).toString)
        .select(col("batch_t").cast("long"), col("batch_i").cast("long"),
          col("etl.id").cast("long"), col("orders.o_orderkey").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
    // every doc lands in the SAME (batch_t, batch_i) with the SAME in-batch
    // sequence number under both indexing paths
    assert(inventory("win") === inventory("scaled"))
  }

  test("restrictChildren: incremental assembly equals full assembly filtered to the subset") {
    val load = SparkEntry.loader(spark, "/root/testdata/sf0.001")
    val plan = SnowflakePlan("orders", "o_orderkey",
      children = Seq(Child("l_orderkey", "lineitems", SnowflakePlan("lineitem", "l_orderkey"))))
    val subLoad: String => org.apache.spark.sql.DataFrame = n =>
      if (n == "orders") load(n).filter(col("o_orderkey") <= 300) else load(n)
    val restricted = DocAssembler.assemble(plan, subLoad, restrictChildren = true)
    val full = DocAssembler.assemble(plan, load).filter(col("o_orderkey") <= 300)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("o_orderkey"), col("lineitems.l_linenumber").as("ln"))
    assert(canon(restricted).exceptAll(canon(full)).count() === 0 &&
      canon(full).exceptAll(canon(restricted)).count() === 0)
  }

  test("whole-arm references disable pruning below that arm") {
    import graft.jx.JxQuery
    val q = JxQuery.parse(
      """{"from": "customer_orders", "select": ["c_custkey", "orders"], "limit": 5}""")
    val ref = JxQuery.referenced(q).get
    assert(ref.whole.contains("orders"))

    val load = SparkEntry.loader(spark, "/root/testdata/sf0.001")
    val plan = SnowflakePlan("customer", "c_custkey",
      children = Seq(Child("o_custkey", "orders",
        SnowflakePlan("orders", "o_orderkey"))))
    val pruned = DocAssembler.assemble(plan, load,
      Some(ref.names), ref.whole)
    val elem = pruned.schema("orders").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // the arm is consumed whole → all 9 orders columns survive
    assert(elem.fieldNames.length === load("orders").columns.length,
      s"whole arm was gutted to ${elem.fieldNames.mkString(",")}")
  }

  test("doc assembly: `needed` prunes columns and unreferenced arms") {
    val load = SparkEntry.loader(spark, "/root/testdata/sf0.001")
    val plan = SnowflakePlan("customer", "c_custkey",
      lookups = Seq(Lookup("c_nationkey", "nation",
        SnowflakePlan("nation", "n_nationkey", referenceOnly = Some("n_name"), showForeignKeys = false))),
      children = Seq(Child("o_custkey", "orders",
        SnowflakePlan("orders", "o_orderkey",
          children = Seq(Child("l_orderkey", "lineitems",
            SnowflakePlan("lineitem", "l_orderkey")))))))
    val pruned = DocAssembler.assemble(plan, load,
      Some(Set("c_custkey", "orders", "o_totalprice")))
    // root: key + referenced arm only; "nation" lookup and all other
    // customer scalars are gone
    assert(pruned.columns.toSet === Set("c_custkey", "orders"))
    val ordersElem = pruned.schema("orders").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // child struct: its key + fk + the referenced column; lineitems arm gone
    assert(ordersElem.fieldNames.toSet === Set("o_orderkey", "o_custkey", "o_totalprice"))
    // pruned assembly agrees with the full one on the surviving surface
    val full = DocAssembler.assemble(plan, load)
    val a = pruned.select(col("c_custkey"),
      aggregate(col("orders.o_totalprice"), lit(0.0), _ + _).as("t"))
    val b = full.select(col("c_custkey"),
      aggregate(col("orders.o_totalprice"), lit(0.0), _ + _).as("t"))
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }

  test("referencedNames collects query surface; wildcards disable pruning") {
    import graft.jx.JxQuery
    val q = JxQuery.parse("""{
      "from": "docs.orders",
      "select": [{"name": "x", "value": {"mul": ["o_totalprice", 2]}}],
      "where": {"gt": {"c_acctbal": 0}},
      "sort": ["o_orderkey"]
    }""")
    assert(JxQuery.referencedNames(q) ===
      Some(Set("docs", "orders", "o_totalprice", "c_acctbal", "o_orderkey")))
    val star = JxQuery.parse("""{"from": "docs.orders", "limit": 10}""")
    assert(JxQuery.referencedNames(star) === None)
  }

  test("datesToUnix serializes timestamps as unix seconds (Date → NUMBER)") {
    import spark.implicits._
    val df = Seq(java.sql.Timestamp.valueOf("1970-01-01 00:01:00")).toDF("ts")
    val out = DocAssembler.datesToUnix(df).select(col("ts")).as[Double].head()
    assert(out === 60.0)
  }

  test("doc assembly: sentinel scrub maps configured strings to null") {
    import spark.implicits._
    val df = Seq(("a", "-"), ("b", "real")).toDF("k", "v")
    val out = DocAssembler.scrub(df, Seq("-", "unknown", ""))
    assert(out.where(col("v").isNull).count() === 1)
  }
}
