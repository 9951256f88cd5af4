package graft.perfbench

import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}

final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int, c_acctbal: Double,
                          c_mktsegment: String)
final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String, o_totalprice: Double,
                       o_orderdate: Timestamp, o_orderpriority: String)
final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
                          l_quantity: Double, l_extendedprice: Double, l_discount: Double, l_tax: Double,
                          l_returnflag: String, l_linestatus: String, l_shipdate: Timestamp)
final case class Document(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

/** TPC-H-shaped snowflake: nation <- customer <- orders <- lineitem. */
final case class Snowflake(nations: Vector[Nation], customers: Vector[Customer],
                           orders: Vector[Order], lineitems: Vector[LineItem])

/** Seeded input generation. Every generator draws only from its own
  * SplittableRandom, so one seed gives the same rows on every run. */
object Gen {

  val Priorities: Vector[String] = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses: Vector[String] = Vector("F", "O", "P")
  val Segments: Vector[String] = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** An independent stream per (seed, salt). The seed is hashed first:
    * SplittableRandom's own seed step is a fixed increment, so nearby
    * raw seeds would give streams shifted by a few draws. */
  def rng(seed: Long, salt: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(new java.util.SplittableRandom(seed).nextLong() ^ (salt * 0xD1B54A32D192ED03L))

  def day(d: LocalDate): Timestamp = Timestamp.from(d.atStartOfDay(ZoneOffset.UTC).toInstant)

  private def cents(x: Double): Double = Math.round(x * 100) / 100.0

  /** Orders dated `from` (inclusive) to `until` (exclusive), between
    * `minPerDay` and `maxPerDay` a day. Order keys are a seeded
    * permutation, so keys do not rise with time, as in TPC-H. */
  def snowflake(seed: Long, from: LocalDate, until: LocalDate, minPerDay: Int, maxPerDay: Int,
                customers: Int, withLineitems: Boolean = true): Snowflake = {
    val r = rng(seed, 1)
    val nations = Vector.tabulate(25)(i => Nation(i, f"NATION_$i%02d", i % 5))
    val custs = Vector.tabulate(customers)(i => Customer(i.toLong, f"Customer#$i%09d",
      r.nextInt(25), cents(r.nextDouble(-999, 9999)), Segments(r.nextInt(Segments.size))))
    val dated = Iterator.iterate(from)(_.plusDays(1)).takeWhile(_.isBefore(until))
      .flatMap(d => Iterator.fill(minPerDay + r.nextInt(maxPerDay - minPerDay + 1))(d)).toVector
    val keys = {
      val a = Array.range(0, dated.size).map(_.toLong)
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    val orders = dated.indices.map(i => Order(keys(i), r.nextInt(customers).toLong,
      Statuses(r.nextInt(3)), cents(r.nextDouble(900, 450000)), day(dated(i)),
      Priorities(r.nextInt(Priorities.size)))).toVector
    val items =
      if (!withLineitems) Vector.empty
      else orders.flatMap { o =>
        Vector.tabulate(1 + r.nextInt(7)) { ln =>
          val qty = (1 + r.nextInt(50)).toDouble
          LineItem(o.o_orderkey, r.nextInt(20000).toLong, r.nextInt(1000).toLong, ln + 1, qty,
            cents(qty * r.nextDouble(900, 2100)), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
            Vector("A", "N", "R")(r.nextInt(3)), if (r.nextBoolean()) "F" else "O",
            new Timestamp(o.o_orderdate.getTime + (1 + r.nextInt(120)) * 86400000L))
        }
      }
    Snowflake(nations, custs, orders, items)
  }

  private val Vocabulary: Vector[String] = {
    val r = rng(0, 7)
    Vector.fill(400)(Iterator.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString).distinct
  }
  private val Langs = Vector("en", "de", "fr", "zh")

  /** `n` documents: about 10% exact copies of an earlier document and
    * 15% near copies (a few words replaced), the rest fresh text. */
  def documents(seed: Long, n: Int): Vector[Document] = {
    val r = rng(seed, 2)
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    for (i <- 0 until n) {
      val u = r.nextDouble()
      val text =
        if (i > 10 && u < 0.10) texts(r.nextInt(i))
        else if (i > 10 && u < 0.25) {
          val w = texts(r.nextInt(i)).split(' ')
          for (_ <- 0 until 1 + r.nextInt(3)) w(r.nextInt(w.length)) = Vocabulary(r.nextInt(Vocabulary.size))
          w.mkString(" ")
        } else Vector.fill(20 + r.nextInt(60))(Vocabulary(r.nextInt(Vocabulary.size))).mkString(" ")
      texts += text
    }
    texts.indices.map(i => Document(i.toLong, texts(i), Langs(r.nextInt(Langs.size)), s"src${i % 5}",
      texts(i).length.toLong)).toVector
  }

  /** `n` 64-d unit vectors with a label in 0..9, shaped like the
    * program's own 2,000-vector test set: isotropic Gaussian directions,
    * labels drawn independently of the vector (in that set the nearest
    * ten neighbours share a label 1 time in 10, and its covariance is
    * flat across dimensions). With no cluster structure, IVF with a few
    * probes misses many true neighbours. */
  def embeddings(seed: Long, n: Int): Vector[Embedding] = {
    val r = rng(seed, 3)
    Vector.tabulate(n) { i =>
      val v = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Embedding(i.toLong, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }
  }
}

/** Parquet tables under one directory, named as the program's loader
  * expects (`<dir>/<table>.parquet`). */
object Tables {
  def write(spark: org.apache.spark.sql.SparkSession, dir: java.nio.file.Path, s: Snowflake): Unit = {
    import spark.implicits._
    def out(name: String) = dir.resolve(s"$name.parquet").toString
    s.nations.toDS().coalesce(1).write.parquet(out("nation"))
    s.customers.toDS().coalesce(1).write.parquet(out("customer"))
    s.orders.toDS().coalesce(1).write.parquet(out("orders"))
    if (s.lineitems.nonEmpty) s.lineitems.toDS().coalesce(1).write.parquet(out("lineitem"))
  }
}
