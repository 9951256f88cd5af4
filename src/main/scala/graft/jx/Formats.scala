package graft.jx

import org.apache.spark.sql.{DataFrame, Row}
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Result-format envelopes (reference vendor/jx_python/jx.py:108-120 and
 * the Cube container, vendor/jx_python/containers/cube.py:27-95):
 *
 *  - "list":  {"data": [ {doc}, ... ]}
 *  - "table": {"header": [names], "data": [[row values], ...]}
 *  - "cube":  {"edges": [{name, domain.partitions}], "data": {measure:
 *             N-dim nested arrays}} — dense, null bucket last.
 *
 * Formatting collects to the driver by design: cubes/tables are result
 * envelopes for clients, bounded by the query limit (default 10, max
 * 10,000 — reference jx_base/query.py:35-36), never a data-scale path.
 * AGGREGATE queries parse with no implicit limit (the reference returns
 * whole cubes), so list/table ENFORCE the 10,000-row envelope max with a
 * clear error instead of collecting an unbounded groupby to the driver
 * (review r9); cube sizes are bounded by the resolved edge domains
 * (each clamped to 10,000 partitions at resolution).
 */
object Formats {

  def jValue(v: Any): JValue = v match {
    case null => JNull
    case b: Boolean => JBool(b)
    case i: Int => JLong(i.toLong)
    case l: Long => JLong(l)
    case s: Short => JLong(s.toLong) // smallint/tinyint are NUMBERS in the
    case b: Byte => JLong(b.toLong)  // envelope, not strings (review r9)
    case f: Float => JDouble(f.toDouble)
    case d: Double => JDouble(d)
    case d: java.math.BigDecimal => JDecimal(BigDecimal(d))
    case s: String => JString(s)
    case b: Array[Byte] => // binary → base64, never toString garbage
      JString(java.util.Base64.getEncoder.encodeToString(b))
    case t: java.sql.Timestamp => JDouble(t.getTime / 1000.0) // Date → unix (jx_base/__init__.py:41-56)
    case d: java.sql.Date => JDouble(d.getTime / 1000.0)
    case r: Row => JObject(r.schema.fieldNames.toList.zip(r.toSeq.map(jValue)).map { case (n, j) => n -> j })
    case m: Map[_, _] => JObject(m.toList.map { case (k, x) => k.toString -> jValue(x) })
    case it: Iterable[_] => JArray(it.toList.map(jValue))
    case it: scala.collection.Seq[_] => JArray(it.toList.map(jValue))
    case other => JString(other.toString)
  }

  private val MaxEnvelopeRows = 10000
  private def bounded(df: DataFrame): List[Row] = {
    val rows = df.limit(MaxEnvelopeRows + 1).collect().toList
    require(rows.lengthCompare(MaxEnvelopeRows) <= 0,
      s"format envelope exceeds $MaxEnvelopeRows rows (an aggregate query " +
        "has no implicit limit) — add a limit or aggregate further")
    rows
  }

  def list(df: DataFrame): String =
    JsonMethods.compact(JObject("data" -> JArray(bounded(df).map(jValue))))

  def table(df: DataFrame): String = {
    val names = df.columns.toList
    val rows = bounded(df).map(r => JArray(r.toSeq.toList.map(jValue)))
    JsonMethods.compact(JObject(
      "header" -> JArray(names.map(JString(_))),
      "data" -> JArray(rows)))
  }

  /** Cube envelope over an edges result (rows dense and in edge-index
    * order, null partition last: the grid [[QueryRunner]] densifies on
    * the driver). `domains` are the RESOLVED edge partition values from
    * [[QueryRunner.runEdgesWithDomains]] — never reconstructed from result
    * rows, where duplicate partition values or a truncating limit would
    * silently mis-shape the nested data arrays. */
  def cube(df: DataFrame, edgeNames: Seq[String], domains: Seq[Seq[Any]]): String = {
    requireCubeBound(domains)
    val dims = domains.map(_.size)
    val rows = df.collect().toSeq
    val measureNames = df.columns.filterNot(edgeNames.contains).toSeq
    require(rows.size == dims.product,
      s"cube is not dense: ${rows.size} rows vs dims ${dims.mkString("x")} — " +
        "was the result truncated by a limit?")

    def shape(values: Seq[JValue], ds: Seq[Int]): JValue = ds match {
      case Seq() => values.headOption.getOrElse(JNull)
      case d +: rest =>
        val stride = rest.product
        JArray((0 until d).toList.map(i => shape(values.slice(i * stride, (i + 1) * stride), rest)))
    }

    val data = JObject(measureNames.toList.map { m =>
      val i = df.columns.indexOf(m)
      m -> shape(rows.map(r => jValue(r.get(i))), dims)
    })
    val edges = JArray(edgeNames.toList.zip(domains).map { case (e, dom) =>
      JObject(
        "name" -> JString(e),
        "domain" -> JObject(
          "type" -> JString("set"),
          "partitions" -> JArray(dom.toList.map(jValue))))
    })
    JsonMethods.compact(JObject("edges" -> edges, "data" -> data))
  }

  /** Same driver-residency bound as list/table (VERDICT r9 #6): the dense
    * cube's size is knowable from the RESOLVED domains alone. */
  private def requireCubeBound(domains: Seq[Seq[Any]]): Unit = {
    val dims = domains.map(_.size)
    // Long product: two 100k-partition domains overflow Int to negative
    // and would PASS an Int check
    require(dims.map(_.toLong).product <= MaxEnvelopeRows,
      s"cube envelope is ${dims.mkString("x")} = ${dims.map(_.toLong).product} cells, " +
        s"over the $MaxEnvelopeRows-row format bound — coarsen a domain " +
        "(edges partitions/top-k) or use format:container")
  }

  /** Run a query and wrap per its `format` (default "list";
    * "cube" requires edges). */
  def run(spark: org.apache.spark.sql.SparkSession, q: JxQuery,
          load: String => DataFrame): String = {
    q.format match {
      case "cube" =>
        require(q.edges.nonEmpty, "cube format requires edges")
        require(q.having.isEmpty,
          "cube format cannot carry `having`: dropping cells breaks the dense N-d shape — use format:\"list\"")
        // bound the cube on its domains before the aggregate runs
        val (domains, densified) = QueryRunner.resolveEdges(spark, q, load)
        requireCubeBound(domains)
        cube(densified(), q.edges.map(_.name), domains)
      case "table" => table(QueryRunner.run(spark, q, load))
      case _       => list(QueryRunner.run(spark, q, load))
    }
  }
}
