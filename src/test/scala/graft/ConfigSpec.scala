package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.Config

/** Reference-config compatibility: the ACTUAL production config from the
  * reference repo must parse, including trailing commas, $ref includes
  * (gracefully skipped when the private file is absent), add_relations
  * arrow strings, and the reference_only table-vs-column split. */
class ConfigSpec extends AnyFunSuite {

  test("reference treeherder.json parses into a faithful WalkConfig") {
    // the reference checkout sits beside this repository and is not part
    // of it: cancel, like the MySQL-gated cases, where it is absent
    val ref = Paths.get("../reference/resources/config/treeherder.json").toAbsolutePath.normalize
    assume(Files.exists(ref), s"reference config $ref not present")
    val c = Config.loadFile(ref)
    assert(c.snowflake.factTable === "job")
    assert(!c.snowflake.showForeignKeys)
    assert(c.snowflake.nullValues === Seq("-", "unknown", ""))
    assert(c.snowflake.exclude.contains("auth_user"))
    // "failure_classification.name" → inline column; "job_group" → full
    // object, no nested docs below
    assert(c.snowflake.referenceOnly("failure_classification") === "name")
    assert(c.snowflake.referenceAll.contains("job_group"))
    // arrow relations: schema prefix dropped, both endpoints parsed
    val r = c.snowflake.addRelations.find(_.fkTable == "performance_datum").get
    assert(r.fkColumn === "ds_job_id" && r.pkTable === "job" && r.pkColumn === "project_specific_id")

    val e = c.extract.get
    assert(e.threads === 2)
    assert(e.fields === Seq("last_modified", "id"))
    assert(e.types === Seq("time", "number"))
    assert(e.batch === Seq("day", 1000L))

    val w = Config.walkConfig(c)
    assert(w.factTable === "job" && !w.showForeignKeys)
    assert(c.destination.contains("s3://active-data-treeherder-jobs"))
  }

  test("$ref includes merge when the file exists") {
    val dir = Files.createTempDirectory("graft_cfg")
    Files.writeString(dir.resolve("private.json"),
      """{"db": {"username": "u1", "password": "p1"}}""")
    Files.writeString(dir.resolve("main.json"),
      """{"snowflake": {"fact_table": "f",
           "database": {"schema": "s", "$ref": "file://private.json#db"}}}""")
    val c = Config.loadFile(dir.resolve("main.json"))
    assert(c.snowflake.database("schema") === "s")
    assert(c.snowflake.database("username") === "u1")
  }

  test("$ref fills gaps only: explicit sibling fields WIN over the include") {
    // the reference's set_default semantics (mo_json_config:117) — the
    // include provides defaults, the enclosing object's own fields
    // override them (review r9: the merge ran the other way)
    val dir = Files.createTempDirectory("graft_cfg_prio")
    Files.writeString(dir.resolve("defaults.json"),
      """{"db": {"host": "localhost", "port": "3306"}}""")
    Files.writeString(dir.resolve("main.json"),
      """{"snowflake": {"fact_table": "f",
           "database": {"host": "prod-db", "$ref": "file://defaults.json#db"}}}""")
    val c = Config.loadFile(dir.resolve("main.json"))
    assert(c.snowflake.database("host") === "prod-db") // explicit wins
    assert(c.snowflake.database("port") === "3306")    // default fills the gap
  }

  test("lenient parse strips trailing commas OUTSIDE strings only") {
    val j = Config.parse(
      """{"snowflake": {"fact_table": "f", "null_values": ["a,]", "b,}",],}}""")
    assert(j.snowflake.nullValues === Seq("a,]", "b,}")) // values intact
  }

  test("reference_only accepts schema-qualified names like add_relations") {
    val c = Config.parse(
      """{"snowflake": {"fact_table": "f",
           "reference_only": ["treeherder.user.email", "plain.col"]}}""")
    assert(c.snowflake.referenceOnly === Map("user" -> "email", "plain" -> "col"))
  }

  test("reference_only / add_relations reject malformed qualified names loudly") {
    // ADVICE r10: "col." and "." pass the contains(".") filter but
    // split('.') drops empty trailing segments — must raise a clear
    // config error, not ArrayIndexOutOfBoundsException
    for (bad <- Seq("col.", ".", ".col.")) {
      val e = intercept[IllegalArgumentException] {
        Config.parse(
          s"""{"snowflake": {"fact_table": "f", "reference_only": ["$bad"]}}""")
      }
      assert(e.getMessage.contains("malformed qualified name"), s"for '$bad': $e")
    }
    val e2 = intercept[IllegalArgumentException] {
      Config.parse(
        """{"snowflake": {"fact_table": "f", "add_relations": ["a. -> b.c"]}}""")
    }
    assert(e2.getMessage.contains("malformed qualified name"))
  }

  test("extractConfig derives counters from the reference batch spec") {
    val c = Config.parse("""{
      "extract": {"last": "x.json", "field": ["last_modified", "id"],
                  "type": ["time", "number"], "start": ["1jan2015", 0],
                  "batch": ["day", 1000]},
      "snowflake": {"fact_table": "job"}}""")
    val plan = graft.etl.SnowflakePlan("job", "id")
    val ec = Config.extractConfig(c, plan, "/tmp/out",
      Files.createTempDirectory("graft_cfg2").resolve("last.json"))
    assert(ec.timeField.get._1 === "last_modified")
    assert(ec.batchSize === 1000L)
    assert(ec.idField === "id")
    assert(ec.start === java.time.Instant.parse("2015-01-01T00:00:00Z"))
  }
}
