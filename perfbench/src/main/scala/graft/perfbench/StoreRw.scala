package graft.perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.container.FactStore

/** store_rw: a FactStore seeded in set-up with the orders of 1995-1996,
  * then seeded closed-loop rounds of one write and three reads.
  * Writes insert the next month, update or delete rows matched by a JX
  * `where`, upsert a small batch, and vacuum every fifth round; reads
  * aggregate a time-travelled snapshot (dataFrameAt) and run formatted
  * JX queries on the current one. Writes and reads go through the same
  * JX compiler and snapshot writer, so a change that speeds one at the
  * other's cost, or at the cost of disk space, shows here. The timed ops
  * only call the store; the expected results come from a relational
  * replay of the executed ops after the window. */
final class StoreRw(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import StoreRw._
  import spark.implicits._

  private val ops = opSequence(seed, 100000)
  private var seedRows: Vector[Order] = _
  private var months: Vector[Vector[Order]] = _
  private var dir: Path = _
  private var store: FactStore = _
  private var executed = 0
  private var version = 1
  private var onDisk = Vector(1)
  private var nextMonth = 0
  private val outputs = scala.collection.mutable.Map[Int, Canon.Rows]()

  def setup(d: Path): Unit = {
    val data = Gen.snowflake(seed, LocalDate.of(1995, 1, 1), LocalDate.of(1999, 1, 1), 6, 10, 1500,
      withLineitems = false)
    val (first, later) = data.orders.partition(_.o_orderdate.before(Gen.day(LocalDate.of(1997, 1, 1))))
    seedRows = first
    months = later.groupBy(o => o.o_orderdate.toString.take(7)).toVector.sortBy(_._1).map(_._2)
    dir = d.resolve("store")
    store = new FactStore(spark, "orders", dir)
    store.insert(seedRows.toDS().toDF())
  }

  /** Scratch stores through one of each op, then removed. */
  def warmup(seconds: Double): Unit = Runner.repeatFor(seconds) { _ =>
    val w = new FactStore(spark, "orders", dir.resolveSibling("warmup"))
    val rows = seedRows.take(200)
    w.insert(rows.toDS().toDF())
    w.update("""{"lte": {"o_custkey": 50}}""", Map("o_totalprice" -> """{"add": ["o_totalprice", 1]}"""))
    w.delete("""{"eq": {"o_orderstatus": "P"}}""")
    w.upsert(rows.take(5).toDS().toDF(), "o_orderkey")
    w.dataFrameAt(1).agg(count(lit(1)), sum(col("o_totalprice"))).collect()
    w.queryFormatted(queryJson(100000))
    w.vacuum(1)
    graft.util.Fs.deleteRecursively(dir.resolveSibling("warmup"))
  }

  def kind(i: Int): String = ops(i).kind

  /** Half the batch replaces seed rows (doubled price, status P), half
    * adds keys no other op uses. */
  private def upsertBatch(i: Int, a: Int): Seq[Order] = {
    val old = (0 until 10).map(j => seedRows((a + j * 7919) % seedRows.size))
      .map(o => o.copy(o_totalprice = o.o_totalprice * 2, o_orderstatus = "P"))
    old ++ old.indices.map(j => old(j).copy(o_orderkey = NewKeys + i * 10L + j))
  }

  private def updateWhere(a: Int, b: Int) =
    s"""{"and": [{"eq": {"o_orderpriority": "${Gen.Priorities(a % Gen.Priorities.size)}"}}, {"lte": {"o_custkey": $b}}]}"""
  private def deleteWhere(a: Int, b: Int) =
    s"""{"and": [{"eq": {"o_orderstatus": "${Gen.Statuses(a % 3)}"}}, {"lte": {"o_custkey": $b}}]}"""

  def run(i: Int): Unit = {
    executed = i + 1
    def wrote(): Unit = { version += 1; onDisk :+= version }
    ops(i) match {
      case Op("insert", _, _) if nextMonth < months.size =>
        tr.span("container.insert")(store.insert(months(nextMonth).toDS().toDF()))
        nextMonth += 1; wrote()
      case Op("update", a, b) =>
        tr.span("container.update")(store.update(updateWhere(a, b), Map("o_totalprice" -> """{"add": ["o_totalprice", 1]}""")))
        wrote()
      case Op("delete", a, b) =>
        tr.span("container.delete")(store.delete(deleteWhere(a, b)))
        wrote()
      case Op("vacuum", _, _) =>
        tr.span("container.vacuum")(store.vacuum(KeepLast))
        onDisk = onDisk.takeRight(KeepLast)
      case Op("read_at", a, _) =>
        val r = tr.span("container.read_at")(store.dataFrameAt(onDisk(a % onDisk.size))
          .agg(count(lit(1)), sum(col("o_totalprice")), sum(col("o_custkey"))).collect()(0))
        outputs(i) = Canon.of(Seq(r.toSeq))
      case Op("query", a, _) =>
        outputs(i) = Canon.of(Canon.jxRows(tr.span("container.query")(store.queryFormatted(queryJson(a)))))
      case Op(_, a, _) => // upsert, or an insert once the months run out
        tr.span("container.upsert")(store.upsert(upsertBatch(i, a).toDS().toDF(), "o_orderkey"))
        wrote()
    }
  }

  /** The relational replay of the executed ops: the rows of every
    * version, the versions the vacuum rule keeps, and each read's
    * expected result. */
  private final case class Replay(states: Map[Int, Map[Long, Order]], onDisk: Vector[Int],
                                  reads: Map[Int, Canon.Rows])

  private lazy val replay: Replay = {
    var state = seedRows.map(o => o.o_orderkey -> o).toMap
    var states = Map(1 -> state)
    var disk = Vector(1)
    var month = 0
    val reads = Map.newBuilder[Int, Canon.Rows]
    def wrote(next: Map[Long, Order]): Unit = {
      state = next
      val v = disk.last + 1
      states += v -> next
      disk :+= v
    }
    for (i <- 0 until executed) ops(i) match {
      case Op("insert", _, _) if month < months.size =>
        wrote(state ++ months(month).map(o => o.o_orderkey -> o)); month += 1
      case Op("update", a, b) =>
        val prio = Gen.Priorities(a % Gen.Priorities.size)
        wrote(state.map { case (k, o) =>
          k -> (if (o.o_orderpriority == prio && o.o_custkey <= b) o.copy(o_totalprice = o.o_totalprice + 1) else o)
        })
      case Op("delete", a, b) =>
        val status = Gen.Statuses(a % 3)
        wrote(state.filterNot { case (_, o) => o.o_orderstatus == status && o.o_custkey <= b })
      case Op("vacuum", _, _) => disk = disk.takeRight(KeepLast)
      case Op("read_at", a, _) => reads += i -> expectRead(states(disk(a % disk.size)))
      case Op("query", a, _) => reads += i -> expectQuery(state, a)
      case Op(_, a, _) => wrote(state ++ upsertBatch(i, a).map(o => o.o_orderkey -> o))
    }
    Replay(states, disk, reads.result())
  }

  private def expectRead(s: Map[Long, Order]): Canon.Rows =
    Canon.of(Seq(Seq(s.size.toLong,
      if (s.isEmpty) null else s.values.map(o => BigDecimal(o.o_totalprice)).sum.toDouble,
      if (s.isEmpty) null else s.values.map(_.o_custkey).sum)))

  private def expectQuery(s: Map[Long, Order], min: Int): Canon.Rows =
    Canon.of(s.values.filter(_.o_totalprice >= min).groupBy(_.o_orderstatus).toSeq.map {
      case (st, os) => Seq(st, os.size.toLong, os.map(o => BigDecimal(o.o_totalprice)).sum.toDouble)
    })

  def verify(i: Int): Boolean = outputs.get(i).forall(got => Canon.same(got, replay.reads(i)))

  /** The current snapshot and the oldest one still on disk against the
    * replay, row by row, and the versions on disk against the vacuum rule. */
  def finalCheck(records: Seq[OpRecord]): Seq[String] = {
    def rows(v: Int) = Canon.of(store.dataFrameAt(v).collect().toSeq.map(_.toSeq))
    def want(v: Int) = Canon.of(replay.states(v).values.toSeq.map(_.productIterator.toSeq))
    val f = Seq.newBuilder[String]
    if (store.versions != replay.onDisk) f += s"store versions ${store.versions} on disk, expected ${replay.onDisk}"
    else for (v <- Seq(onDisk.head, version).distinct if !Canon.same(rows(v), want(v)))
      f += s"store snapshot v$v differs from the replay"
    f.result()
  }

  def primary(r: OpRecord): Boolean = true

  /** One sample: a median cycle, the sum over a cycle's twenty ops of
    * each op kind's median latency in the window (each write kind once,
    * five time-travel reads, ten queries). A single op's median would
    * sit between the read and write clusters, and a median of rounds
    * would move with the write kinds the window's rounds drew; this sum
    * does neither, and it uses every op. Failed ops are left out; with
    * a kind missing there is no sample. */
  override def samples(records: Seq[OpRecord]): Seq[Double] = {
    val median = records.filter(_.ok).groupBy(_.kind).map { case (k, rs) => k -> Stats.median(rs.map(_.seconds)) }
    if (!PerCycle.keySet.subsetOf(median.keySet)) Nil
    else Seq(PerCycle.map { case (k, n) => n * median(k) }.sum)
  }

  override def minOps: Int = CycleRounds * RoundOps

  override def traceBlock: Int = CycleRounds * RoundOps

  private def isWrite(r: OpRecord) = isWriteKind(r.kind)

  def workloadMetrics(records: Seq[OpRecord]): Seq[Metric] = {
    val good = records.filter(_.ok)
    val w = good.filter(isWrite).map(_.seconds)
    val cur = Layer.dirBytes(dir.resolve(s"v$version")).toDouble
    Seq(
      Metric("store_write_p50_s", Layer.medianOr0(w), "s"),
      Metric("store_write_tail_s", Stats.tail(w).map(_.value).getOrElse(0.0), "s"),
      Metric("store_read_p50_s", Layer.medianOr0(good.filterNot(isWrite).map(_.seconds)), "s"),
      Metric("store_space_amp", Layer.dirBytes(dir) / cur, "ratio"))
  }

  def layerMetrics(records: Seq[OpRecord], tr: Tracer): Seq[Metric] = {
    val writes = records.filter(r => r.ok && r.traced && isWrite(r))
    val files = Files.list(dir.resolve(s"v$version"))
    val parts = try files.filter(_.getFileName.toString.startsWith("part-")).count() finally files.close()
    // snapshots the loop wrote that vacuum kept: v1 is the set-up's
    val written = onDisk.filter(_ > 1).map(v => Layer.dirBytes(dir.resolve(s"v$v")).toDouble)
    Seq("insert", "update", "delete", "upsert", "vacuum", "read_at", "query").map(k =>
      Metric(s"container.${k}_s", Layer.spanSeconds(tr, s"container.$k"), "s")) ++ Seq(
      Metric("container.jobs_per_write", Layer.meanOr0(Layer.perOp(tr, writes).map(_.map(_.jobs).sum.toDouble)), "count"),
      Metric("container.files_per_snapshot", parts.toDouble, "count"),
      Metric("container.bytes_written_per_write", Layer.meanOr0(written), "B"),
      Metric("container.versions_on_disk", onDisk.size.toDouble, "count"))
  }
}

object StoreRw {
  val KeepLast = 4
  val NewKeys = 10000000L

  /** `a` and `b` are the op's seeded parameters. */
  final case class Op(kind: String, a: Int, b: Int)

  def queryJson(min: Int): String =
    s"""{"from": "orders", "groupby": ["o_orderstatus"],
       "select": [{"name": "n", "value": ".", "aggregate": "count"},
                  {"name": "revenue", "value": "o_totalprice", "aggregate": "sum"}],
       "where": {"gte": {"o_totalprice": $min}}, "format": "table"}"""

  val RoundOps = 4

  def isWriteKind(kind: String): Boolean = !Set("read_at", "query").contains(kind)

  /** Rounds per cycle: the four write kinds in a seeded order, then a vacuum. */
  val CycleRounds = 5

  /** How often each op kind runs in a cycle. */
  val PerCycle: Map[String, Int] = Map("insert" -> 1, "update" -> 1, "delete" -> 1, "upsert" -> 1, "vacuum" -> 1,
    "read_at" -> CycleRounds, "query" -> 2 * CycleRounds)

  /** Rounds of four ops, the same shape in every round so the round
    * median does not move with a seed's mix: a write, a time-travel read
    * of a seeded version, two seeded queries. The writes run in cycles of
    * five rounds: insert, update, delete and upsert in a seeded order,
    * then a vacuum, so every stretch of five rounds holds each kind once. */
  def opSequence(seed: Long, n: Int): IndexedSeq[Op] = {
    val r = Gen.rng(seed, 31)
    Iterator.continually {
      val kinds = scala.collection.mutable.ArrayBuffer("insert", "update", "delete", "upsert")
      val order = Seq.fill(kinds.size)(kinds.remove(r.nextInt(kinds.size)))
      order.map(k => Op(k, r.nextInt(1 << 20), 1 + r.nextInt(40))) :+ Op("vacuum", 0, 0)
    }.flatten.flatMap { write =>
      Seq(write, Op("read_at", r.nextInt(1 << 20), 0),
        Op("query", 50000 * (1 + r.nextInt(8)), 0), Op("query", 50000 * (1 + r.nextInt(8)), 0))
    }.take(n).toIndexedSeq
  }
}
