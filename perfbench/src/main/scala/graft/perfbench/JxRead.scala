package graft.perfbench

import java.nio.file.Path
import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.jx.{Formats, JxQuery, QueryRunner}

/** jx_read: a seeded stream of JX queries drawn from twelve templates
  * with seeded literals: flat aggregates, filter/sort/limit, edges over
  * set, range and time domains in cube format, percentiles, a window, and
  * nested perspectives served through NestedCatalog.load. The nested
  * column sets are fixed per template, so after warm-up they hit the
  * assembly cache. Most queries take well under a second, so parse,
  * compile, plan and job launch are a real share of each one. */
final class JxRead(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import JxRead._

  private val ops = opSequence(seed, 100000)
  private var dataDir: String = _
  private val outputs = scala.collection.mutable.Map[Int, String]()
  private var cacheLive = 0

  def setup(dir: Path): Unit = {
    val d = dir.resolve("data")
    Tables.write(spark, d, Gen.snowflake(seed, LocalDate.of(1997, 1, 1), LocalDate.of(1999, 1, 1), 8, 16, 1500))
    dataDir = d.toString
  }

  /** Every template at least once, so the nested assemblies (whose
    * columns do not depend on the literal) are cached and the query path
    * is compiled before timing; then every template and literal in turn. */
  def warmup(seconds: Double): Unit = {
    val (_, first) = Runner.seconds(Templates.indices.foreach(t => execute(Call(t, 0))))
    val calls = Templates.indices.flatMap(t => Templates(t).literals.indices.map(Call(t, _)))
    if (first < seconds) Runner.repeatFor(seconds - first)(k => execute(calls(k % calls.size)))
  }

  def kind(i: Int): String = Templates(ops(i).template).name

  /** Untraced, the parsed query goes through the program's entry point,
    * `Formats.run`. Traced, the two calls `Formats.run` makes are made
    * one at a time so each is a span; optimisation and physical planning
    * run inside the format call, and the tracer reads their time from
    * the executed query's planning tracker. */
  private def execute(c: Call): String = {
    val t = Templates(c.template)
    val q = tr.span("jx.parse")(JxQuery.parse(t.query(t.literals(c.literal))))
    val ref = JxQuery.referenced(q)
    val load = graft.NestedCatalog.load(spark, dataDir, ref.map(_.names), ref.map(_.whole).getOrElse(Set.empty))
    val out =
      if (!tr.recording) Formats.run(spark, q, load)
      else if (t.cube) {
        val (df, domains) = tr.span("jx.build")(QueryRunner.runEdgesWithDomains(spark, q, load))
        tr.span("jx.exec_format")(Formats.cube(df, q.edges.map(_.name), domains))
      } else {
        val df = tr.span("jx.build")(QueryRunner.run(spark, q, load))
        tr.span("jx.exec_format")(Formats.table(df))
      }
    if (t.nested) cacheLive = graft.NestedCatalog.cachedAssemblies(spark)
    out
  }

  def run(i: Int): Unit = outputs(i) = execute(ops(i))

  private val expected = scala.collection.mutable.Map[Call, Canon.Rows]()

  /** The formatted result against the template's Spark SQL restatement
    * over the flat tables, as multisets of rows. */
  def verify(i: Int): Boolean = {
    val c = ops(i)
    if (expected.isEmpty) Seq("orders", "lineitem", "customer", "nation").foreach(n =>
      spark.read.parquet(s"$dataDir/$n.parquet").createOrReplaceTempView(n))
    val want = expected.getOrElseUpdate(c, {
      val t = Templates(c.template)
      Canon.of(spark.sql(t.sql(t.literals(c.literal))).collect().toSeq.map(_.toSeq))
    })
    Canon.same(Canon.of(Canon.jxRows(outputs(i))), want)
  }

  def finalCheck(records: Seq[OpRecord]): Seq[String] = Nil

  def primary(r: OpRecord): Boolean = true

  override def traceBlock: Int = Templates.size

  override def minOps: Int = Templates.size

  /** One sample: a median round, the sum over the twelve templates of
    * each one's median latency in the window. A single query's median
    * falls between two templates' costs and jumps with the literals and
    * data a seed draws; this sum does not, and unlike a median of whole
    * rounds it uses every query. Failed queries are left out; with a
    * template missing there is no sample. */
  override def samples(records: Seq[OpRecord]): Seq[Double] = {
    val byTemplate = records.filter(_.ok).groupBy(_.kind)
    if (byTemplate.size < Templates.size) Nil
    else Seq(byTemplate.values.map(rs => Stats.median(rs.map(_.seconds))).sum)
  }

  def workloadMetrics(records: Seq[OpRecord]): Seq[Metric] = {
    val s = records.filter(_.ok).map(_.seconds)
    Seq(Metric("jx_query_p50_s", Layer.medianOr0(s), "s"),
      Metric("jx_query_tail_s", Stats.tail(s).map(_.value).getOrElse(0.0), "s"))
  }

  def layerMetrics(records: Seq[OpRecord], tr: Tracer): Seq[Metric] = {
    val q = records.filter(r => r.ok && r.traced)
    val work = Layer.perOp(tr, q)
    val formats = tr.recorded.filter(_.name == "jx.exec_format")
    Seq(
      Metric("jx.parse_s", Layer.spanSeconds(tr, "jx.parse"), "s"),
      Metric("jx.build_s", Layer.spanSeconds(tr, "jx.build"), "s"),
      Metric("jx.plan_s", Layer.medianOr0(formats.map(s => tr.planSeconds(s.id))), "s"),
      Metric("jx.exec_format_s", Layer.medianOr0(formats.map(s => s.seconds - tr.planSeconds(s.id))), "s"),
      Metric("jx.jobs_per_query", Layer.meanOr0(work.map(_.map(_.jobs).sum.toDouble)), "count"),
      Metric("jx.tasks_per_query", Layer.meanOr0(work.map(_.map(_.tasks).sum.toDouble)), "count"),
      Metric("jx.result_bytes", Layer.medianOr0(q.map(r => outputs(r.index).length.toDouble)), "B"),
      Metric("jx.assembly_cache_live", cacheLive.toDouble, "count"))
  }
}

object JxRead {
  final case class Call(template: Int, literal: Int)

  /** A JX query shape, its literal choices, and its Spark SQL restatement
    * over the flat tables (same columns, same order). */
  final case class Template(name: String, literals: Seq[String], jx: String => String, sql: String => String,
                            cube: Boolean = false, nested: Boolean = false) {
    /** The query text with its result format: `cube` for edges, else `table`. */
    def query(literal: String): String =
      jx(literal).trim.patch(1, s""""format": "${if (cube) "cube" else "table"}", """, 0)
  }

  private def count(n: String) = s"""{"name": "$n", "value": ".", "aggregate": "count"}"""
  private def agg(n: String, v: String, a: String) = s"""{"name": "$n", "value": "$v", "aggregate": "$a"}"""

  val Templates: Vector[Template] = Vector(
    Template("flat_groupby", Seq("20", "40"),
      x => s"""{"from": "lineitem", "groupby": ["l_returnflag", "l_linestatus"],
        "select": [${count("n")}, ${agg("qty", "l_quantity", "sum")}, ${agg("disc", "l_discount", "average")}],
        "where": {"lte": {"l_quantity": $x}}}""",
      x => s"""SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity), avg(l_discount)
        FROM lineitem WHERE l_quantity <= $x GROUP BY 1, 2"""),
    Template("flat_scalar", Seq("50000", "250000"),
      x => s"""{"from": "orders", "select": [${count("n")}, ${agg("custs", "o_custkey", "cardinality")},
        ${agg("total", "o_totalprice", "sum")}, ${agg("top", "o_totalprice", "maximum")}],
        "where": {"gte": {"o_totalprice": $x}}}""",
      x => s"""SELECT count(*), count(DISTINCT o_custkey), sum(o_totalprice), max(o_totalprice)
        FROM orders WHERE o_totalprice >= $x"""),
    Template("filter_sort_limit", Seq("100000 F", "300000 O"),
      x => { val Array(p, s) = x.split(' ')
        s"""{"from": "orders", "select": ["o_orderkey", "o_custkey", "o_totalprice"],
        "where": {"and": [{"gt": {"o_totalprice": $p}}, {"eq": {"o_orderstatus": "$s"}}]},
        "sort": [{"value": "o_totalprice", "sort": -1}, "o_orderkey"], "limit": 50}""" },
      x => { val Array(p, s) = x.split(' ')
        s"""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_totalprice > $p AND o_orderstatus = '$s' ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""" }),
    Template("edges_set", Seq("400", "1100"),
      x => s"""{"from": "orders", "edges": [{"name": "priority", "value": "o_orderpriority", "allowNulls": false,
        "domain": {"type": "set", "partitions": [${Gen.Priorities.map("\"" + _ + "\"").mkString(", ")}]}}],
        "select": [${count("n")}, ${agg("revenue", "o_totalprice", "sum")}],
        "where": {"lte": {"o_custkey": $x}}}""",
      x => s"""SELECT d.p, coalesce(a.n, 0), a.rev
        FROM VALUES ${Gen.Priorities.map("('" + _ + "')").mkString(", ")} AS d(p)
        LEFT JOIN (SELECT o_orderpriority p, count(*) n, sum(o_totalprice) rev FROM orders
                   WHERE o_custkey <= $x GROUP BY 1) a ON d.p = a.p""", cube = true),
    Template("edges_range", Seq("0.03", "0.07"),
      x => s"""{"from": "lineitem", "edges": [{"name": "qty", "value": "l_quantity", "allowNulls": false,
        "domain": {"type": "range", "min": 1, "max": 51, "interval": 10}}],
        "select": [${count("n")}, ${agg("avg_price", "l_extendedprice", "average")}],
        "where": {"lte": {"l_discount": $x}}}""",
      x => s"""SELECT 1 + 10 * floor((l_quantity - 1) / 10), count(*), avg(l_extendedprice)
        FROM lineitem WHERE l_discount <= $x GROUP BY 1""", cube = true),
    Template("edges_time", Seq("1997", "1998"),
      x => s"""{"from": "orders", "edges": [{"name": "month", "value": "o_orderdate", "allowNulls": false,
        "domain": {"type": "time", "min": "$x-01-01", "max": "${x.toInt + 1}-01-01", "interval": "month"}}],
        "select": [${count("n")}, ${agg("revenue", "o_totalprice", "sum")}]}""",
      x => s"""SELECT date_trunc('MONTH', o_orderdate), count(*), sum(o_totalprice) FROM orders
        WHERE o_orderdate >= TIMESTAMP '$x-01-01' AND o_orderdate < TIMESTAMP '${x.toInt + 1}-01-01' GROUP BY 1""",
      cube = true),
    Template("percentile", Seq("6000", "14000"),
      x => s"""{"from": "lineitem", "groupby": ["l_returnflag"],
        "select": [${agg("med_qty", "l_quantity", "median")},
          {"name": "p90_price", "value": "l_extendedprice", "aggregate": "percentile", "percentile": 0.9}],
        "where": {"lt": {"l_partkey": $x}}}""",
      x => s"""SELECT l_returnflag, percentile(l_quantity, 0.5), percentile(l_extendedprice, 0.9)
        FROM lineitem WHERE l_partkey < $x GROUP BY 1"""),
    Template("window_rank", Seq("400", "900"),
      x => s"""{"from": "orders", "window": [{"name": "rn", "value": "rownum", "edges": ["o_orderstatus"],
        "sort": [{"value": "o_totalprice", "sort": -1}, "o_orderkey"]}],
        "select": ["o_orderkey", "o_orderstatus", "o_totalprice", "rn"],
        "where": {"lte": {"o_orderkey": $x}}, "sort": ["o_orderkey"], "limit": 10000}""",
      x => s"""SELECT o_orderkey, o_orderstatus, o_totalprice,
        row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) - 1
        FROM orders WHERE o_orderkey <= $x"""),
    Template("customer_groupby", Seq("0", "5000"),
      x => s"""{"from": "customer", "groupby": ["c_mktsegment"],
        "select": [${count("n")}, ${agg("bal", "c_acctbal", "sum")}], "where": {"gte": {"c_acctbal": $x}}}""",
      x => s"""SELECT c_mktsegment, count(*), sum(c_acctbal) FROM customer WHERE c_acctbal >= $x GROUP BY 1"""),
    Template("nested_child", Seq("400000", "430000"),
      x => s"""{"from": "customer_orders.orders", "select": ["c_custkey", "nation", "o_orderkey", "o_totalprice"],
        "where": {"gt": {"o_totalprice": $x}}, "sort": ["o_orderkey"], "limit": 10000}""",
      x => s"""SELECT c_custkey, n_name, o_orderkey, o_totalprice FROM customer
        JOIN nation ON n_nationkey = c_nationkey JOIN orders ON o_custkey = c_custkey
        WHERE o_totalprice > $x""", nested = true),
    Template("nested_deep", Seq("40", "48"),
      x => s"""{"from": "customer_docs.orders.lineitems", "groupby": ["nation"],
        "select": [${count("n_items")}, ${agg("total_qty", "l_quantity", "sum")}],
        "where": {"gte": {"l_quantity": $x}}}""",
      x => s"""SELECT n_name, count(*), sum(l_quantity) FROM customer
        JOIN nation ON n_nationkey = c_nationkey JOIN orders ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey WHERE l_quantity >= $x GROUP BY 1""", nested = true),
    Template("nested_edges", Seq("2000", "7000"),
      x => s"""{"from": "customer_orders.orders", "edges": [{"name": "status", "value": "o_orderstatus",
        "allowNulls": false, "domain": {"type": "set", "partitions": ["F", "O", "P"]}}],
        "select": [${count("n")}, ${agg("revenue", "o_totalprice", "sum")}],
        "where": {"lte": {"c_acctbal": $x}}}""",
      x => s"""SELECT d.s, coalesce(a.n, 0), a.rev FROM VALUES ('F'), ('O'), ('P') AS d(s)
        LEFT JOIN (SELECT o_orderstatus s, count(*) n, sum(o_totalprice) rev FROM orders
                   JOIN customer ON o_custkey = c_custkey WHERE c_acctbal <= $x GROUP BY 1) a ON d.s = a.s""",
      cube = true, nested = true))

  /** A seed's query stream in rounds of twelve queries: each round is a
    * seeded permutation of the templates, each with a seeded literal. */
  def opSequence(seed: Long, n: Int): IndexedSeq[Call] = {
    val r = Gen.rng(seed, 21)
    Iterator.continually {
      val order = Templates.indices.toArray
      for (i <- order.indices.reverse) { val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t }
      order.toSeq.map(t => Call(t, r.nextInt(Templates(t).literals.size)))
    }.flatten.take(n).toIndexedSeq
  }
}

/** Result rows in a comparable form: cells become null, String, Boolean
  * or Double (timestamps as epoch seconds, as the JX envelope encodes
  * them), and rows are compared as multisets. */
object Canon {
  type Rows = Vector[Vector[Any]]

  def cell(v: Any): Any = v match {
    case null | JNull | JNothing => null
    case JString(s) => s
    case JBool(b) => b
    case JInt(i) => i.toDouble
    case JLong(l) => l.toDouble
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case s: String => s
    case b: Boolean => b
    case t: java.sql.Timestamp => t.getTime / 1000.0
    case n: java.math.BigDecimal => n.doubleValue
    case n: BigDecimal => n.toDouble
    case n: Number => n.doubleValue
    case other => throw new IllegalArgumentException(s"no canonical form for $other")
  }

  /** Sort key: numbers to 6 significant digits, so sums that differ
    * only in addition order sort alike. */
  private def key(r: Vector[Any]): String = r.map {
    case d: Double => f"$d%.5e"
    case x => String.valueOf(x)
  }.mkString("\u0001")

  def of(rows: Seq[Seq[Any]]): Rows = rows.map(_.map(cell).toVector).toVector.sortBy(key)

  private def cellsEqual(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x == y || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case _ => a == b
  }

  /** Same multiset of rows, numbers equal to a relative 1e-9. Rows whose
    * sort keys tie are matched greedily within the tie. */
  def same(a: Rows, b: Rows): Boolean =
    a.size == b.size && {
      val ga = a.groupBy(key); val gb = b.groupBy(key)
      ga.keySet == gb.keySet && ga.forall { case (k, ra) =>
        val rb = scala.collection.mutable.ArrayBuffer(gb(k): _*)
        ra.size == rb.size && ra.forall { x =>
          val j = rb.indexWhere(y => x.size == y.size && x.indices.forall(c => cellsEqual(x(c), y(c))))
          j >= 0 && { rb.remove(j); true }
        }
      }
    }

  /** Rows of a `table` or one-edge `cube` envelope. */
  def jxRows(json: String): Seq[Seq[Any]] = JsonMethods.parse(json) match {
    case o: JObject if (o \ "header") != JNothing =>
      (o \ "data").asInstanceOf[JArray].arr.map(_.asInstanceOf[JArray].arr)
    case o: JObject =>
      val parts = ((o \ "edges").asInstanceOf[JArray].arr.head \ "domain" \ "partitions").asInstanceOf[JArray].arr
      val cols = (o \ "data").asInstanceOf[JObject].obj.map(_._2.asInstanceOf[JArray].arr)
      parts.indices.map(i => parts(i) +: cols.map(c => c(i)))
    case other => throw new IllegalStateException(s"unexpected envelope $other")
  }
}
