package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite
import graft.jx.{Formats, JxQuery}

/** Result envelopes: list/table/cube (reference jx.py:108-120). */
class FormatsSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("4")
  val dir = "/root/testdata/sf0.001"
  private def load = SparkEntry.loader(spark, dir)

  test("table format: header + row arrays") {
    val out = Formats.run(spark, JxQuery.parse("""{
      "from": "region", "select": ["r_regionkey", "r_name"],
      "sort": ["r_regionkey"], "format": "table"}"""), load)
    val j = JsonMethods.parse(out)
    assert((j \ "header") === JArray(List(JString("r_regionkey"), JString("r_name"))))
    val data = (j \ "data").asInstanceOf[JArray].arr
    assert(data.length === 5)
    assert(data.head.asInstanceOf[JArray].arr.head === JInt(0))
  }

  test("list format: array of docs") {
    val out = Formats.run(spark, JxQuery.parse("""{
      "from": "nation", "select": ["n_nationkey", "n_name"],
      "where": {"lt": {"n_nationkey": 3}}, "sort": ["n_nationkey"]}"""), load)
    val j = JsonMethods.parse(out)
    val docs = (j \ "data").asInstanceOf[JArray].arr
    assert(docs.length === 3)
    assert((docs.head \ "n_nationkey") === JInt(0))
  }

  test("list/table enforce the 10k envelope max instead of collecting unbounded groups") {
    // aggregate queries parse with NO implicit limit, so a
    // high-cardinality groupby must fail loudly, not OOM the driver
    // (review r9)
    import org.apache.spark.sql.functions._
    val big = spark.range(10001).toDF("id")
    val ex = intercept[IllegalArgumentException] { Formats.list(big) }
    assert(ex.getMessage.contains("10000"))
    // at the bound it still works
    assert(Formats.list(spark.range(3).toDF("id")).contains("\"data\""))
  }

  test("jValue: smallint/tinyint are numbers, binary is base64") {
    assert(Formats.jValue(5.toShort) === JLong(5L))
    assert(Formats.jValue(7.toByte) === JLong(7L))
    assert(Formats.jValue(Array[Byte](1, 2)) === JString(
      java.util.Base64.getEncoder.encodeToString(Array[Byte](1, 2))))
  }

  test("cube format: dense N-d measure arrays + edge domains") {
    val out = Formats.run(spark, JxQuery.parse("""{
      "from": "orders",
      "edges": [{"name": "status", "value": "o_orderstatus", "allowNulls": false,
                 "domain": {"type": "set", "partitions": ["F", "O", "P"]}}],
      "select": [{"name": "n", "value": ".", "aggregate": "count"}],
      "format": "cube"}"""), load)
    val j = JsonMethods.parse(out)
    val parts = (j \ "edges")(0) \ "domain" \ "partitions"
    assert(parts === JArray(List(JString("F"), JString("O"), JString("P"))))
    val n = (j \ "data" \ "n").asInstanceOf[JArray].arr
    assert(n.length === 3) // one cell per partition, dense
    assert(n.forall((v => v.isInstanceOf[JInt] || v.isInstanceOf[JLong])))
  }

  test("2-edge cube shapes data as nested arrays") {
    val out = Formats.run(spark, JxQuery.parse("""{
      "from": "lineitem",
      "edges": [
        {"name": "flag", "value": "l_returnflag", "allowNulls": false,
         "domain": {"type": "set", "partitions": ["A", "N", "R"]}},
        {"name": "status", "value": "l_linestatus", "allowNulls": false,
         "domain": {"type": "set", "partitions": ["F", "O"]}}
      ],
      "select": [{"name": "n", "value": ".", "aggregate": "count"}],
      "format": "cube"}"""), load)
    val j = JsonMethods.parse(out)
    val n = (j \ "data" \ "n").asInstanceOf[JArray].arr
    assert(n.length === 3)
    assert(n.forall(_.asInstanceOf[JArray].arr.length === 2))
  }

  test("cube domains come from the resolved query, not the result rows") {
    // duplicate partition VALUES (same value, two named parts): row-derived
    // domain reconstruction would collapse them to one and mis-shape
    val out = Formats.run(spark, JxQuery.parse("""{
      "from": "orders",
      "edges": [{"name": "status", "allowNulls": false,
                 "domain": {"type": "set", "partitions": [
                   {"name": "open",   "where": {"eq": {"o_orderstatus": "O"}}},
                   {"name": "other",  "where": {"ne": {"o_orderstatus": "O"}}},
                   {"name": "never",  "where": {"eq": {"o_orderstatus": "ZZZ"}}}
                 ]}}],
      "select": [{"name": "n", "value": ".", "aggregate": "count"}],
      "format": "cube"}"""), load)
    val j = JsonMethods.parse(out)
    val parts = ((j \ "edges")(0) \ "domain" \ "partitions").asInstanceOf[JArray].arr
    assert(parts === List(JString("open"), JString("other"), JString("never")))
    val n = (j \ "data" \ "n").asInstanceOf[JArray].arr
    assert(n.length === 3) // dense incl. the empty "never" cell
  }

  test("cube + having is rejected up-front with a having-specific message") {
    val ex = intercept[IllegalArgumentException] {
      Formats.run(spark, JxQuery.parse("""{
        "from": "orders",
        "edges": [{"name": "status", "value": "o_orderstatus", "allowNulls": false,
                   "domain": {"type": "set", "partitions": ["F", "O", "P"]}}],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}],
        "having": {"gt": {"n": 0}},
        "format": "cube"}"""), load)
    }
    assert(ex.getMessage.contains("having"))
  }

  test("cube with a truncating limit fails loudly instead of mis-shaping") {
    val ex = intercept[IllegalArgumentException] {
      Formats.run(spark, JxQuery.parse("""{
        "from": "orders",
        "edges": [{"name": "status", "value": "o_orderstatus", "allowNulls": false,
                   "domain": {"type": "set", "partitions": ["F", "O", "P"]}}],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}],
        "limit": 2,
        "format": "cube"}"""), load)
    }
    assert(ex.getMessage.contains("not dense"))
  }

  test("cube over the envelope row bound is rejected BEFORE the collect") {
    // VERDICT r9 #6: list/table pre-check the 10k-row bound; cube's
    // size is knowable from the resolved domains, so an oversized dense
    // cube must fail on the dims product, not after materializing
    val big = (0 until 200).map(_.toString)
    val ex = intercept[IllegalArgumentException] {
      Formats.cube(spark.range(1).toDF("n"), Seq("a", "b"),
        Seq(big, big)) // 200 x 200 = 40,000 cells > 10,000
    }
    assert(ex.getMessage.contains("format bound"), ex.getMessage)
  }

  test("an oversized cube fails on its domains, before any Spark job") {
    // set domains are driver values: Formats.run bounds the 200 x 200
    // grid before the aggregate runs and before any grid is built
    val parts = (0 until 200).map(i => s"\"p$i\"").mkString(", ")
    val (ex, jobs, _) = SparkCounts(spark)(intercept[IllegalArgumentException] {
      Formats.run(spark, JxQuery.parse(s"""{
        "from": "orders",
        "edges": [
          {"name": "a", "value": "o_orderstatus", "allowNulls": false, "domain": {"type": "set", "partitions": [$parts]}},
          {"name": "b", "value": "o_orderpriority", "allowNulls": false, "domain": {"type": "set", "partitions": [$parts]}}],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}],
        "format": "cube"}"""), load)
    })
    assert(ex.getMessage.contains("format bound"), ex.getMessage)
    assert(jobs === 0)
  }
}
