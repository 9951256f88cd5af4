package graft.perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl._

/** etl_incremental: the paper's snowflake (orders with their lineitems,
  * customer -> nation lookups) extracted to gzip NDJSON on a month time
  * axis with a FileNotifier. Op 0 backfills up to a seeded cutoff early in
  * 1998; every later op is a daily increment resuming from the watermark.
  * The backfill is throughput-bound (assembly, shuffle, gzip write); an
  * increment of a day's orders is almost all per-increment fixed cost. */
final class EtlIncremental(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import EtlIncremental._

  private val ops = opSequence(seed)
  private var data: Snowflake = _
  private var dataDir: Path = _
  private var runDir: Path = _
  private var base: String => DataFrame = _
  private val results = scala.collection.mutable.Map[Int, ExtractResult]()

  private def dest = runDir.resolve("out")
  private def lastFile = runDir.resolve("last.json")
  private def messages = runDir.resolve("messages.ndjson")

  def setup(dir: Path): Unit = {
    data = Gen.snowflake(seed, Start, End, 8, 16, 1500)
    dataDir = dir.resolve("data")
    Tables.write(spark, dataDir, data)
    base = graft.SparkEntry.loader(spark, dataDir.toString)
    runDir = dir.resolve("run")
  }

  private def config(root: Path, notifier: Notifier): ExtractConfig = ExtractConfig(
    Plan, timeField = Some(("o_orderdate", DurationUnit.Month)), idField = "o_orderkey",
    batchSize = BatchSize, start = Start.atStartOfDay(java.time.ZoneOffset.UTC).toInstant,
    destination = root.resolve("out").toString, lastFile = root.resolve("last.json"),
    notifier = notifier)

  private def bounded(until: LocalDate): String => DataFrame = name => tr.span("etl.load") {
    if (name == "orders") base(name).where(col("o_orderdate") < lit(Gen.day(until))) else base(name)
  }

  /** A two-month backfill, then daily increments, into a scratch
    * destination that is then removed: the timed run starts fresh. */
  def warmup(seconds: Double): Unit = {
    val w = runDir.getParent.resolve("warmup")
    val cfg = config(w, Notifier.noop)
    Runner.repeatFor(seconds)(k => Extract.run(spark, cfg, bounded(Start.plusMonths(2).plusDays(k.toLong))))
    graft.util.Fs.deleteRecursively(w)
  }

  def kind(i: Int): String = if (i == 0) "backfill" else "increment"

  private val notifier: Notifier = {
    lazy val file = new Notifier.FileNotifier(messages)
    m => tr.span("etl.notify")(file.add(m))
  }

  def run(i: Int): Unit = {
    val cfg = config(runDir, notifier)
    results(i) = tr.span("etl.Extract.run")(Extract.run(spark, cfg, bounded(ops.cutoff(i))))
  }

  private def ordersIn(from: LocalDate, until: LocalDate): Seq[Order] = {
    val (a, b) = (Gen.day(from), Gen.day(until))
    data.orders.filter(o => !o.o_orderdate.before(a) && o.o_orderdate.before(b))
  }

  private def month(o: Order): Int = {
    val d = o.o_orderdate.toInstant.atZone(java.time.ZoneOffset.UTC)
    (d.getYear * 12 + d.getMonthValue) - (Start.getYear * 12 + Start.getMonthValue)
  }

  def verify(i: Int): Boolean = {
    val rows = ordersIn(if (i == 0) Start else ops.cutoff(i - 1), ops.cutoff(i))
    val batches = rows.groupBy(month).values.map(g => (g.size + BatchSize - 1) / BatchSize).sum
    val r = results(i)
    r.rows == rows.size && r.batches == batches
  }

  /** The written inventory (batch key, docs, largest id per key) against
    * the keyset arithmetic restated in Spark SQL over the flat orders; one
    * notification per written key; watermark at the last (time, id) key. */
  def finalCheck(records: Seq[OpRecord]): Seq[String] = {
    val done = records.count(_.ok)
    if (done == 0) return Seq("no extract completed")
    val lastCut = ops.cutoff(records.map(_.index).max)
    val readBack = new org.apache.spark.sql.types.StructType()
      .add("orders", new org.apache.spark.sql.types.StructType()
        .add("o_orderkey", org.apache.spark.sql.types.LongType))
    val got = spark.read.schema(readBack).json(dest.toString)
      .groupBy(col("batch_t").cast("long"), col("batch_i").cast("long"))
      .agg(count(lit(1)), max(col("orders.o_orderkey")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    base("orders").createOrReplaceTempView("etl_orders")
    val want = spark.sql(s"""
      WITH f AS (
        SELECT o_orderkey, o_orderdate,
               (year(o_orderdate) * 12 + month(o_orderdate)) - ${Start.getYear * 12 + Start.getMonthValue} AS bt,
               CASE WHEN o_orderdate < TIMESTAMP '${ops.cutoff(0)}' THEN 0
                    ELSE datediff(to_date(o_orderdate), DATE '${ops.cutoff(0)}') + 1 END AS inc
        FROM etl_orders WHERE o_orderdate < TIMESTAMP '$lastCut'),
      r AS (SELECT *, row_number() OVER (PARTITION BY bt, inc ORDER BY o_orderdate, o_orderkey) - 1 AS seq FROM f),
      g AS (SELECT bt, inc, seq DIV $BatchSize AS lb, count(*) AS n, max(o_orderkey) AS last_id
            FROM r GROUP BY bt, inc, seq DIV $BatchSize),
      nb AS (SELECT bt, inc, max(lb) + 1 AS nb FROM g GROUP BY bt, inc),
      off AS (SELECT bt, inc, coalesce(sum(nb) OVER (PARTITION BY bt ORDER BY inc
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off FROM nb)
      SELECT CAST(g.bt AS BIGINT), CAST(off.off + g.lb AS BIGINT), g.n, CAST(g.last_id AS BIGINT)
      FROM g JOIN off ON g.bt = off.bt AND g.inc = off.inc""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val failures = Seq.newBuilder[String]
    if (got != want) failures += s"etl inventory: ${got.size} keys written, ${want.size} expected, ${(got diff want).size} differ"
    val keys = notifiedKeys
    val wantKeys = want.toSeq.map(w => s"${w._1}.${w._2}")
    if (keys.sorted != wantKeys.sorted) failures += s"etl notifications: ${keys.size} for ${wantKeys.size} keys"
    val last = ordersIn(Start, lastCut).maxBy(o => (o.o_orderdate.getTime, o.o_orderkey))
    val lastKey = want.map(w => (w._1, w._2)).max
    val wm = Extract.readWatermark(lastFile).get
    if (wm.lastId != last.o_orderkey || wm.lastTime.map(_.getTime) != Some(last.o_orderdate.getTime) ||
        wm.coords != Seq(lastKey._1, lastKey._2))
      failures += s"etl watermark $wm, expected last key $lastKey at ${last.o_orderdate}/${last.o_orderkey}"
    failures.result()
  }

  def primary(r: OpRecord): Boolean = r.index > 0

  /** The written keys ("batch_t.batch_i") in notification order. */
  private def notifiedKeys: Seq[String] =
    Files.readAllLines(messages).asScala.toSeq.map(l => "\"key\":\"([^\"]+)\"".r.findFirstMatchIn(l).get.group(1))

  /** Gzip bytes per doc of the backfill, which unlike the whole output
    * does not depend on how many increments the window held. */
  private def backfillBytesPerDoc: Double = results.get(0).filter(_.rows > 0).fold(0.0) { r =>
    val bytes = notifiedKeys.take(r.batches.toInt).map { k =>
      val Array(t, b) = k.split('.')
      Layer.dirBytes(dest.resolve(s"batch_t=$t").resolve(s"batch_i=$b"), _.getFileName.toString.startsWith("part-"))
    }.sum
    bytes.toDouble / r.rows
  }

  /** The backfill runs before the window, which then holds increments only. */
  override def leadOps: Int = 1
  override def minOps: Int = 4

  private def partFiles: Seq[Path] = {
    val s = Files.walk(dest)
    try s.iterator().asScala.filter(p => p.getFileName.toString.startsWith("part-")).toVector
    finally s.close()
  }

  def workloadMetrics(records: Seq[OpRecord]): Seq[Metric] = {
    val good = records.filter(_.ok)
    val incs = good.filter(primary).map(_.seconds)
    val tail = Stats.tail(incs)
    Seq(
      Metric("etl_backfill_docs_per_s",
        good.find(_.index == 0).map(r => results(0).rows / r.seconds).getOrElse(0.0), "docs/s"),
      Metric("etl_increment_p50_s", Layer.medianOr0(incs), "s"),
      Metric("etl_increment_tail_s", tail.map(_.value).getOrElse(0.0), "s"),
      Metric("etl_bytes_per_doc", backfillBytesPerDoc, "B"))
  }

  def layerMetrics(records: Seq[OpRecord], tr: Tracer): Seq[Metric] = {
    val incs = records.filter(r => r.ok && primary(r) && r.traced)
    val work = Layer.perOp(tr, incs)
    def perInc(f: SpanWork => Long) = Layer.meanOr0(work.map(ws => ws.map(f).sum.toDouble))
    val spans = tr.recorded
    def perIncSpans(name: String, f: Seq[Span] => Double) = Layer.meanOr0(
      incs.map(r => f(spans.filter(s => s.op == r.index && s.name == name))))
    val backfill = records.find(r => r.index == 0 && r.traced).toSeq
    val bw = Layer.perOp(tr, backfill).flatten
    val actions = Seq("head", "collect", "json")
    val perKey = partFiles.groupBy(_.getParent).values.map(_.size.toDouble).toSeq
    Seq(
      Metric("etl.extract_run_s", Layer.medianOr0(incs.flatMap(r =>
        spans.filter(s => s.op == r.index && s.name == "etl.Extract.run").map(_.seconds))), "s"),
      Metric("etl.jobs_per_increment", perInc(_.jobs), "count"),
      Metric("etl.stages_per_increment", perInc(_.stages), "count"),
      Metric("etl.tasks_per_increment", perInc(_.tasks), "count")) ++
      (actions :+ "other").map(a => Metric(s"etl.jobs_by_callsite.$a", perInc(w =>
        w.jobsByAction.asScala.collect {
          case (k, v) if k == a || (a == "other" && !actions.contains(k)) => v.longValue
        }.sum), "count")) ++ Seq(
      Metric("etl.table_loads_per_increment", perIncSpans("etl.load", _.size.toDouble), "count"),
      Metric("etl.notify_s", perIncSpans("etl.notify", _.map(_.seconds).sum), "s"),
      Metric("etl.notifications_per_increment", perIncSpans("etl.notify", _.size.toDouble), "count"),
      Metric("etl.shuffle_write_bytes", bw.map(_.shuffleWriteBytes).sum.toDouble, "B"),
      Metric("etl.spill_bytes", bw.map(_.spillBytes).sum.toDouble, "B"),
      Metric("etl.output_bytes", Layer.dirBytes(dest, _.getFileName.toString.startsWith("part-")).toDouble, "B"),
      Metric("etl.objects_per_batch_key", if (perKey.isEmpty) 0.0 else perKey.max, "count"))
  }
}

object EtlIncremental {
  val Start: LocalDate = LocalDate.of(1997, 1, 1)
  val End: LocalDate = LocalDate.of(1999, 1, 1)
  val BatchSize = 100

  val Plan: SnowflakePlan = SnowflakePlan("orders", "o_orderkey",
    lookups = Seq(Lookup("o_custkey", "customer", SnowflakePlan("customer", "c_custkey",
      lookups = Seq(Lookup("c_nationkey", "nation", SnowflakePlan("nation", "n_nationkey",
        referenceOnly = Some("n_name"), showForeignKeys = false)))))),
    children = Seq(Child("l_orderkey", "lineitems", SnowflakePlan("lineitem", "l_orderkey"))))

  /** Op i extracts everything dated before cutoff(i): a seeded backfill
    * cutoff in January 1998, then one more day per increment. */
  final case class Ops(first: LocalDate) {
    def cutoff(i: Int): LocalDate = first.plusDays(i.toLong)
    def describe(n: Int): Seq[String] =
      (0 until n).map(i => (if (i == 0) "backfill<" else "increment<") + cutoff(i))
  }

  def opSequence(seed: Long): Ops = Ops(LocalDate.of(1998, 1, 2).plusDays(Gen.rng(seed, 11).nextInt(28).toLong))
}
