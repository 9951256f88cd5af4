package graft

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end smoke over the sf0.001 testdata: every catalog query runs and
  * returns sane shapes. Full value-level checking is the DuckDB oracle's job
  * (scripts/selfcheck.py); these tests catch runtime regressions fast. */
class QueryRunnerSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("4")
  val dir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("catalog merge shadows no entry and every oracle names a query") {
    // SparkEntry merges five catalogs with ++ — a reused entry name
    // would silently DROP one implementation and weaken the gate
    val sizes = QueryCatalog.queries.size + TrainingCatalog.queries.size +
      NestedCatalog.queries.size + StreamCatalog.queries.size +
      FuzzCatalog.queries.size
    assert(SparkEntry.queries.size === sizes,
      "duplicate entry name across catalogs (one shadowed)")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
    // r12: a phantom benchExcluded row makes a subset run naming it
    // silently time nothing
    val phantom = SparkEntry.benchExcluded -- SparkEntry.queries.keySet
    assert(phantom.isEmpty, s"benchExcluded names no existing entry: $phantom")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs and returns rows") {
      val df = fn(spark, dir)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("every registry artifact is owned by an entry family or the hold prefix") {
    // Bench drains an artifact when its pass leaves the family its key
    // names: an owner that matches no entry family never drains (the
    // r11 residency regression's failure mode). Runs after the loop
    // above, so every entry's artifacts are live.
    val fams = SparkEntry.queries.keySet.map(SparkEntry.entryFamily)
    val orphans = graft.util.Artifacts.keys("").map(_.name)
      .filterNot(n => n.startsWith(graft.ops.Pinned.HoldPrefix) || fams(n.takeWhile(_ != '.')))
    assert(orphans.isEmpty, s"artifacts owned by no entry family: ${orphans.distinct}")
  }

  test("edges densify: set-domain cube has exactly parts+null rows") {
    val df = SparkEntry.queries("q_edges_set")(spark, dir)
    assert(df.count() === 7) // 6 partitions + null bucket
  }

  test("interval edge: zero-width/inverted spans land in the null bucket, not wrong cells") {
    import graft.jx._
    import org.apache.spark.sql.functions._
    // span [v, v): zero width exactly on bucket boundaries — the naive
    // sequence(loIdx, hiIdx) DESCENDS (hiIdx < loIdx) and counts buckets
    val q = JxQuery.parse("""{
      "from": "lineitem",
      "edges": [{"name": "span", "allowNulls": true,
        "range": {"min": "l_quantity", "max": "l_quantity"},
        "domain": {"type": "range", "min": 1, "max": 51, "interval": 10}}],
      "select": [{"name": "n", "value": ".", "aggregate": "count"}]
    }""")
    val df = QueryRunner.run(spark, q, SparkEntry.loader(spark, dir))
    val rows = df.collect()
    val li = SparkEntry.loader(spark, dir)("lineitem")
    val total = li.count()
    // reference overlap predicate (part.min < hi && part.max > lo): an
    // interior zero-width span overlaps its ONE containing bucket; a span
    // exactly on a bucket boundary (or outside the axis) overlaps NOTHING
    // → null bucket. Pre-fix, boundary rows produced a DESCENDING sequence
    // and were counted in TWO buckets.
    val expectNull = li.filter(
      col("l_quantity").isin(1, 11, 21, 31, 41) || col("l_quantity") >= 51).count()
    val nullBucket = rows.find(_.isNullAt(0)).get.getLong(1)
    assert(nullBucket === expectNull)
    // no double counting: cells sum to the row count exactly
    assert(rows.map(_.getLong(1)).sum === total)
  }

  test("having applies to edges and scalar aggregates; setop+having throws") {
    import graft.jx._
    val edgesQ = JxQuery.parse("""{
      "from": "orders",
      "edges": [{"name": "status", "value": "o_orderstatus", "allowNulls": false,
                 "domain": {"type": "set", "partitions": ["F", "O", "P"]}}],
      "select": [{"name": "n", "value": ".", "aggregate": "count"}],
      "having": {"gt": {"n": 500}}
    }""")
    val dense = QueryRunner.run(spark,
      JxQuery.parse("""{
        "from": "orders",
        "edges": [{"name": "status", "value": "o_orderstatus", "allowNulls": false,
                   "domain": {"type": "set", "partitions": ["F", "O", "P"]}}],
        "select": [{"name": "n", "value": ".", "aggregate": "count"}]
      }"""), SparkEntry.loader(spark, dir)).count()
    val had = QueryRunner.run(spark, edgesQ, SparkEntry.loader(spark, dir)).count()
    assert(had === 1, s"having n>500 keeps only the O cell, got $had of $dense")

    val scalarQ = JxQuery.parse("""{
      "from": "orders",
      "select": [{"name": "n", "value": ".", "aggregate": "count"}],
      "having": {"gt": {"n": 1000000000}}
    }""")
    assert(QueryRunner.run(spark, scalarQ, SparkEntry.loader(spark, dir)).count() === 0)

    val setopQ = JxQuery.parse(
      """{"from": "orders", "select": ["o_orderkey"], "having": {"gt": {"o_orderkey": 0}}}""")
    intercept[IllegalArgumentException] {
      QueryRunner.run(spark, setopQ, SparkEntry.loader(spark, dir))
    }
  }

  test("edges: having filters cells BEFORE limit (qualifying cell outside limit survives)") {
    import graft.jx._
    // F is cell 0 with n<=500; O is cell 1 with n>500. A post-limit having
    // would limit to [F] first and then drop it → 0 rows; the correct
    // having→sort→limit order keeps exactly the O cell.
    val q = JxQuery.parse("""{
      "from": "orders",
      "edges": [{"name": "status", "value": "o_orderstatus", "allowNulls": false,
                 "domain": {"type": "set", "partitions": ["F", "O", "P"]}}],
      "select": [{"name": "n", "value": ".", "aggregate": "count"}],
      "having": {"gt": {"n": 500}},
      "limit": 1
    }""")
    val rows = QueryRunner.run(spark, q, SparkEntry.loader(spark, dir)).collect()
    assert(rows.length === 1)
    assert(rows(0).getString(0) === "O")
  }

  test("NestedCatalog assembly cache is LRU-bounded per session and unpersists evictions") {
    graft.util.Artifacts.drain(NestedCatalog.AssemblyKey)
    val extras = Seq("c_name", "c_address", "c_phone", "c_acctbal", "c_mktsegment", "c_comment")
    // 18 distinct (needed) keys — enough to overflow the per-session bound
    val neededSets = (extras.combinations(1) ++ extras.combinations(2))
      .map(c => Set("c_custkey") ++ c).take(18).toSeq
    val first = NestedCatalog.load(spark, dir, Some(neededSets.head))("customer_orders")
    assert(first.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    neededSets.tail.foreach(n => NestedCatalog.load(spark, dir, Some(n))("customer_orders"))
    assert(NestedCatalog.cachedAssemblies(spark) <= 16)
    assert(first.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "evicted assembly must be unpersisted")
    graft.util.Artifacts.drain(NestedCatalog.AssemblyKey)
    assert(NestedCatalog.cachedAssemblies(spark) === 0)
  }

  test("cross-type sort: false < true < numbers < strings < missing (typed slots)") {
    import graft.jx.TypedSlots
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "s", "banana"), (2L, "n", "3.5"), (3L, "miss", ""), (4L, "b", "true"),
      (5L, "b", "false"), (6L, "n", "-1"), (7L, "s", "apple")
    ).toDF("id", "kind", "raw")
    val slots = when(col("kind") === "b", TypedSlots.ofBoolean(col("raw") === "true"))
      .when(col("kind") === "n", TypedSlots.ofNumber(col("raw").cast("double")))
      .when(col("kind") === "s", TypedSlots.ofString(col("raw")))
      .otherwise(TypedSlots.missing)
    val out = df.select(col("id"), slots.as("v"))
      .orderBy(TypedSlots.sortKey(col("v")), col("id"))
      .select("id").as[Long].collect().toSeq
    // jx.py:614-627 order: booleans (false<true), numbers, strings, missing
    assert(out === Seq(5L, 4L, 6L, 2L, 7L, 1L, 3L))
  }

  test("TypedSlots.encode dispatches on schema type; timestamps follow Date → NUMBER") {
    import graft.jx.TypedSlots
    val s = spark
    import s.implicits._
    val df = Seq((true, 7L, "x", java.sql.Timestamp.valueOf("1970-01-01 00:01:00")))
      .toDF("b", "n", "s", "t")
    val row = df.select(
      TypedSlots.encode(df, "b").as("eb"),
      TypedSlots.encode(df, "n").as("en"),
      TypedSlots.encode(df, "s").as("es"),
      TypedSlots.encode(df, "t").as("et")).head()
    assert(row.getStruct(0).getBoolean(0) && row.getStruct(0).isNullAt(1))
    assert(row.getStruct(1).getDouble(1) === 7.0)
    assert(row.getStruct(2).getString(2) === "x")
    assert(row.getStruct(3).getDouble(1) === 60.0) // Date → NUMBER (unix seconds)
    intercept[IllegalArgumentException] {
      TypedSlots.encode(Seq(Seq(1)).toDF("arr"), "arr")
    }
  }

  test("`one` aggregate raises on conflicting values, passes through a constant") {
    import graft.jx._
    val s = spark
    import s.implicits._
    val good = Seq((1L, "x"), (1L, "x"), (2L, "y")).toDF("k", "v")
    val q = JxQuery.parse("""{
      "from": "t", "groupby": ["k"],
      "select": [{"name": "v1", "value": "v", "aggregate": "one"}]}""")
    val ok = QueryRunner.run(spark, q, _ => good).orderBy("k")
      .collect().map(_.getString(1))
    assert(ok.toSeq === Seq("x", "y"))
    val bad = Seq((1L, "x"), (1L, "z")).toDF("k", "v")
    val ex = intercept[Exception] {
      QueryRunner.run(spark, q, _ => bad).collect()
    }
    assert(ex.getMessage.contains("conflicting") ||
      Option(ex.getCause).exists(_.getMessage.contains("conflicting")))
  }

  test("select crossing two nested branches throws (one-arm rule)") {
    import graft.jx._
    import org.apache.spark.sql.functions._
    // craft docs with two sibling array arms
    val s = spark
    import s.implicits._
    val df = Seq((1L, Seq((1L, "a")), Seq((10L, 2.0))))
      .toDF("id", "arm_a", "arm_b")
      .withColumn("arm_a", col("arm_a").cast("array<struct<x:bigint,s:string>>"))
      .withColumn("arm_b", col("arm_b").cast("array<struct<y:bigint,v:double>>"))
    val q = JxQuery.parse(
      """{"from": "t", "select": ["arm_a.s", "arm_b.v"], "limit": 10}""")
    val ex = intercept[IllegalArgumentException] {
      QueryRunner.run(spark, q, _ => df)
    }
    assert(ex.getMessage.contains("two nested branches"))
    // one branch descends fine: one row per child
    val ok = JxQuery.parse("""{"from": "t", "select": ["id", "arm_a.s"], "limit": 10}""")
    assert(QueryRunner.run(spark, ok, _ => df).count() === 1)
  }

  test("default limit is 10, clamp at 10000") {
    import graft.jx._
    val q = JxQuery.parse("""{"from": "lineitem"}""")
    assert(q.limit === Some(10L))
    val df = QueryRunner.run(spark, q, SparkEntry.loader(spark, dir))
    assert(df.count() === 10)
  }

  test("tuple-offset sort: bare integer indexes the select tuple (query.py:775)") {
    import graft.jx._
    val s = spark
    import s.implicits._
    val df = Seq(("b", 2L), ("a", 3L), ("c", 1L)).toDF("name", "rank")
    // sort [1] = second select column (rank); object form is the same op
    val q = JxQuery.parse(
      """{"from": "t", "select": [{"name": "n", "value": "name"},
           {"name": "r", "value": "rank"}], "sort": [1], "limit": 10}""")
    assert(q.sort.head.value === JxExpr.OffsetOp(1))
    val got = QueryRunner.run(spark, q, _ => df).collect().map(_.getString(0)).toSeq
    assert(got === Seq("c", "b", "a"))
    // out of range: clear error, not a mis-sort
    val bad = JxQuery.parse(
      """{"from": "t", "select": [{"name": "n", "value": "name"}], "sort": [5], "limit": 10}""")
    val ex = intercept[IllegalArgumentException] {
      QueryRunner.run(spark, bad, _ => df)
    }
    assert(ex.getMessage.contains("offset 5 out of range"))
  }

  test("DateMath: ISO bases compose with +/- unit ops") {
    import graft.jx.DateMath
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    // an ISO base contains '-': the op split must not shatter it
    // (review r9: "2020-06-15-7day" misparsed the base as epoch 2020)
    assert(DateMath.parse("2020-06-15-7day") === ts("2020-06-08T00:00:00Z"))
    assert(DateMath.parse("2020-01-01+1week") === ts("2020-01-08T00:00:00Z"))
    assert(DateMath.parse("2020-06-15T10:00:00-2hour") === ts("2020-06-15T08:00:00Z"))
    assert(DateMath.parse("1jan2015+1month") === ts("2015-02-01T00:00:00Z"))
    assert(DateMath.parse("2020-01-31+1month-1day") === ts("2020-02-28T00:00:00Z"))
    // plain bases and keyword chains unchanged
    assert(DateMath.parse("2020-06-15") === ts("2020-06-15T00:00:00Z"))
    val now = java.time.Instant.parse("2020-06-15T12:00:00Z")
    assert(DateMath.parseAt("now-7day", now) === ts("2020-06-08T12:00:00Z"))
    assert(DateMath.parseAt("today+1day", now) === ts("2020-06-16T00:00:00Z"))
    // malformed chains are still rejected, including trailing junk
    intercept[IllegalArgumentException](DateMath.parse("2020-06-15~3day"))
    intercept[IllegalArgumentException](DateMath.parse("2020-06-15-7day junk"))
  }

  test("implicit descent: a name resolving plain on the deep arm ignores a same-named root array") {
    import graft.jx._
    val s = spark
    import s.implicits._
    // root has BOTH child: array<struct<x: struct<y>>> and a decoy
    // x: array<struct<y>>; select "x.y" from "t.child" resolves plain
    // through the exploded child and must NOT explode the root array
    // (review r9: the spurious explode multiplied every child row)
    val df = Seq(
      (1L, Seq((10L, 0L)), Seq(100L, 200L, 300L)),
      (2L, Seq((20L, 0L)), Seq(400L, 500L))
    ).toDF("id", "child0", "x0")
      .selectExpr("id",
        "transform(child0, c -> named_struct('x', named_struct('y', c._1))) AS child",
        "transform(x0, v -> named_struct('y', v)) AS x")
    val q = JxQuery.parse(
      """{"from": "t.child", "select": [{"name": "y", "value": "x.y"}],
           "sort": ["x.y"], "limit": 10}""")
    val got = QueryRunner.run(spark, q, _ => df).collect().map(_.getLong(0)).toSeq
    assert(got === Seq(10L, 20L)) // one row per child, not per child×root-array
  }

  test("normalizeTs: ns→µs division is integral (exact above 2^53)") {
    import graft.jx._
    val s = spark
    import s.implicits._
    // (2^53 + 1) µs expressed in ns: double division rounds the low bit
    // away (Column `/` promotes Long/Long to Double — review r9);
    // integral `div` must preserve it exactly like DuckDB's truncation
    val ns = ((1L << 53) + 1L) * 1000L + 999L // the +999 must truncate
    import org.apache.spark.sql.functions.{col, unix_micros}
    val out = SparkEntry.normalizeTs(Seq(ns).toDF("ts"))
      .select(unix_micros(col("ts")))
      .as[Long].head()
    assert(out === (1L << 53) + 1L)
  }

  test("time month edge: a non-UTC session keeps boundary rows (domain zone = row zone)") {
    import graft.jx._
    // graft pins UTC, but month classification must stay internally
    // consistent in ANY session zone: the row-side year()/month() and
    // the driver-side domain ordinals/labels must share the session
    // timezone, or a row just after a UTC month boundary computes a
    // bucket index OUTSIDE the domain and silently vanishes from the
    // cube (review r9)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "America/New_York")
    import s2.implicits._
    val df = Seq(
      "2020-01-01T02:00:00Z", // New York: Dec 31 2019 — the boundary row
      "2020-02-10T12:00:00Z",
      "2020-03-05T12:00:00Z"
    ).toDF("iso").selectExpr("CAST(iso AS TIMESTAMP) AS ts")
    val q = JxQuery.parse(
      """{"from": "t", "edges": [{"name": "m", "value": "ts", "allowNulls": true,
           "domain": {"type": "time", "min": "2020-01-01", "max": "2020-07-01",
                      "interval": "month"}}],
         "select": [{"name": "n", "value": ".", "aggregate": "count"}]}""")
    val out = QueryRunner.run(s2, q, _ => df).collect()
    assert(out.map(_.getAs[Long]("n")).sum === 3L) // every row lands in SOME bucket
  }
}
