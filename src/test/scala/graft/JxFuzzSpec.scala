package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.jx.{JxCompiler, JxExpr, JxFuzz, JxSql}

/** Differential expression fuzzing (VERDICT r9 #3): the 500 seeded
  * JxExpr trees the q_fuzz_expr_b* catalog entries run against DuckDB
  * are here evaluated BOTH ways inside Spark — JxCompiler's Column
  * path vs `spark.sql` over [[JxSql]]'s Spark rendering of the same
  * trees — and compared row by row. Together with the DuckDB gate this
  * closes the triangle compiler ≡ translation ≡ second engine. The
  * suite is fully deterministic: fixed seeds, spec-fixed LCG, no
  * wall-clock. */
class JxFuzzSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("4")
  val dir = "/root/testdata/sf0.001"

  /** selfcheck.py's value normalization (10 significant digits for
    * fractional doubles), so a pass here predicts the gate's verdict. */
  private def norm(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "true" else "false"
    case d: Double =>
      if (d.isNaN) "NaN"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else f"$d%.10g"
    case other => other.toString
  }

  private def linesOf(names: Seq[String], rows: Array[org.apache.spark.sql.Row]): Seq[String] = {
    val order = names.indices.sortBy(names(_))
    rows.map(r => order.map(i => norm(r.get(i))).mkString("|")).toSeq.sorted
  }

  private def lines(df: org.apache.spark.sql.DataFrame): Seq[String] =
    linesOf(df.columns.toSeq, df.collect())

  /** The 2-edge engine output, collected ONCE per block (review r11):
    * the shape law and the Spark-SQL twin both consume it. Each of the
    * 10 cases runs its own aggregate job while the block is built; the
    * block is then a union of 10 driver-densified local grids. */
  private lazy val edge2Results: Map[String, (Seq[String], Array[org.apache.spark.sql.Row])] =
    FuzzCatalog.edge2Blocks.map { case (name, _, _) =>
      val df = FuzzCatalog.queries(name)(spark, dir)
      name -> ((df.columns.toSeq, df.collect()))
    }.toMap

  test("500 generated trees: compiled Column equals the JxSql Spark rendering") {
    val dom = FuzzCatalog.domainDf(spark, dir)
    assert(dom.count() > 0)
    dom.createOrReplaceTempView("fuzz_t")
    for ((name, seed, n) <- FuzzCatalog.blocks) {
      val cs = JxFuzz.cases(seed, n)
      val compiled = dom.select(
        col("k") +: cs.map(c => FuzzCatalog.normCol(JxCompiler.compile(c.expr), c.ty).as(c.name)): _*)
      val rendered = spark.sql(FuzzCatalog.sparkSql(seed, n, "fuzz_t"))
      val (a, b) = (lines(compiled), lines(rendered))
      val diffs = a.zip(b).filter { case (x, y) => x != y }
      assert(a.size == b.size && diffs.isEmpty,
        s"$name: ${diffs.size} differing rows; first: ${diffs.headOption}")
    }
  }

  test("500 generated trees JSON-round-trip: parse(toJson(e)) == e") {
    // serializer/parser drift coverage: every fuzzed tree renders to
    // the reference's JSON expression format and re-parses to the
    // IDENTICAL tree (canonical literal forms, option-field rules,
    // case-default disambiguation)
    for ((_, seed, n) <- FuzzCatalog.blocks; c <- JxFuzz.cases(seed, n)) {
      val json = jx.JxExpr.jsonString(c.expr)
      val back = jx.JxExpr.parseJson(json)
      assert(back == c.expr, s"round-trip drift via $json")
    }
  }

  test("80 aggregate cases through the full JX path round-trip and stay in-subset") {
    // the agg entries serialize value trees to JSON, re-parse through
    // JxQuery, and compile via aggColumn — pin the serialization leg
    // here (the value leg runs against DuckDB at the gate)
    for ((_, seed, n) <- FuzzCatalog.aggBlocks; c <- JxFuzz.aggCases(seed, n)) {
      val json = jx.JxExpr.jsonString(c.value)
      assert(jx.JxExpr.parseJson(json) == c.value, s"agg value drift via $json")
    }
    // and the entries themselves produce grouped rows at the tiny SF
    for ((name, _, _) <- FuzzCatalog.aggBlocks) {
      val out = FuzzCatalog.queries(name)(spark, dir)
      assert(out.count() > 0 && out.columns.contains("g"))
    }
  }

  test("filterPred preserves truthy semantics on 300 generated predicate trees") {
    // the FILTER-position compile (JxCompiler.filterPred) strips the
    // missing→FALSE coalesce on positively-scoped comparisons so bare
    // predicates reach PushedFilters — the optimization is only sound
    // because a WHERE drops null-valued predicates exactly like false
    // ones. Law: for every predicate tree, row-by-row,
    // COALESCE(filterPred(t), FALSE) == truthy(t). A drift here would
    // mean the pushdown path silently changes which rows survive.
    val dom = FuzzCatalog.domainDf(spark, dir)
    val rnd = new scala.util.Random(7007L)
    val trees = Seq.fill(300)(JxFuzz.genBool(rnd, 2 + rnd.nextInt(3)))
    for (batch <- trees.grouped(50)) {
      val diffs = batch.zipWithIndex.map { case (t, i) =>
        val fp = coalesce(JxCompiler.filterPred(t, JxCompiler.defaultCtx), lit(false))
        val tr = JxCompiler.truthy(t, JxCompiler.defaultCtx)
        when(fp =!= tr, lit(i)).as(s"d$i")
      }
      val bad = dom.select(diffs: _*)
        .select(explode(array(diffs.indices.map(i => col(s"d$i")): _*)).as("i"))
        .where(col("i").isNotNull)
        .select("i").distinct().as[Int](org.apache.spark.sql.Encoders.scalaInt)
        .collect().toSeq.sorted
      assert(bad.isEmpty,
        s"filterPred drifts from truthy for trees ${bad.map(batch(_))}")
    }
  }

  test("1000 additional in-suite trees: compiled Column equals the Spark rendering") {
    // extra seeds beyond the 500 gate-checked blocks — in-suite only
    // (no DuckDB oracle), so coverage grows without growing the catalog
    val dom = FuzzCatalog.domainDf(spark, dir)
    dom.createOrReplaceTempView("fuzz_t2")
    for (seed <- Seq(7070L, 8080L, 9090L, 10100L)) {
      val cs = JxFuzz.cases(seed, 250)
      for (group <- cs.grouped(125)) {
        val compiled = dom.select(
          col("k") +: group.map(c =>
            FuzzCatalog.normCol(JxCompiler.compile(c.expr), c.ty).as(c.name)): _*)
        val rendered = spark.sql(FuzzCatalog.sparkSql(group, "fuzz_t2"))
        val (a, b) = (lines(compiled), lines(rendered))
        val diffs = a.zip(b).filter { case (x, y) => x != y }
        assert(a.size == b.size && diffs.isEmpty,
          s"seed $seed: ${diffs.size} differing rows; first: ${diffs.headOption}")
      }
    }
  }

  test("30 window cases: the JX window path equals the Spark-SQL OVER rendering") {
    // the in-suite leg of the window fuzz (review r10): the SAME
    // rendering that oracles the gate against DuckDB runs here through
    // spark.sql, so a regression in applyWindow (frame max-1
    // conversion, where-nulling, sort-null placement) fails the suite,
    // not just the driver gate
    SparkEntry.loader(spark, dir)("events").createOrReplaceTempView("events")
    for ((name, seed, n) <- FuzzCatalog.windowBlocks) {
      val viaJx = FuzzCatalog.queries(name)(spark, dir)
      val viaSql = spark.sql(FuzzCatalog.windowOracle(seed, n, JxSql.SparkSql))
      val (a, b) = (lines(viaJx), lines(viaSql))
      val diffs = a.zip(b).filter { case (x, y) => x != y }
      assert(a.size == b.size && diffs.isEmpty,
        s"$name: ${diffs.size} differing rows; first: ${diffs.headOption}")
    }
  }

  test("30 window cases round-trip their trees and run at the tiny SF") {
    for ((_, seed, n) <- FuzzCatalog.windowBlocks; c <- JxFuzz.windowCases(seed, n)) {
      for (t <- Seq(c.value, c.edge) ++ c.where) {
        val json = jx.JxExpr.jsonString(t)
        assert(jx.JxExpr.parseJson(json) == t, s"window tree drift via $json")
      }
      // frame sanity: a bounded JX [min, max) always has min <= max-1
      c.range.foreach { case (mn, mx) =>
        for (a <- mn; b <- mx) assert(a <= b - 1, s"${c.name}: empty frame [$a, $b)")
      }
    }
    for ((name, _, _) <- FuzzCatalog.windowBlocks) {
      val out = FuzzCatalog.queries(name)(spark, dir)
      assert(out.count() > 0 && out.columns.contains("event_id"))
    }
  }

  test("14 edges cases round-trip their trees; dense cube shape holds at the tiny SF") {
    for ((_, seed, n) <- FuzzCatalog.edgeBlocks; c <- JxFuzz.edgeCases(seed, n)) {
      for (t <- Seq(JxFuzz.edgeKey(c), c.value)) {
        val json = jx.JxExpr.jsonString(t)
        assert(jx.JxExpr.parseJson(json) == t, s"edge tree drift via $json")
      }
      assert(c.parts.nonEmpty && c.parts.distinct == c.parts)
    }
    for ((name, seed, n) <- FuzzCatalog.edgeBlocks) {
      val out = FuzzCatalog.queries(name)(spark, dir).collect()
      val cs = JxFuzz.edgeCases(seed, n)
      // the dense-cube row-count law: per case, one row per partition
      // plus exactly one null-bucket row when allowNulls
      val byCase = out.groupBy(_.getInt(0))
      for ((i, rows) <- byCase) {
        val c = cs(i)
        val want = c.parts.size + (if (c.allowNulls) 1 else 0)
        assert(rows.length === want, s"case $i: ${rows.length} rows, want $want")
        assert(rows.count(_.isNullAt(1)) === (if (c.allowNulls) 1 else 0))
      }
      assert(byCase.size === n)
    }
  }

  test("2-edge cube cases round-trip their trees; the cross-product grid shape holds") {
    // the 2-d analog of the 1-edge shape law: per case the cell count
    // must be exactly (|domA| + nullA?) × (|domB| + nullB?) — the full
    // cross-product grid including zero-filled phantom cells and the
    // null-bucket rows on each axis (the semantics the DuckDB oracle
    // checks value-by-value at the gate)
    for ((_, seed, n) <- FuzzCatalog.edge2Blocks; (a, b) <- JxFuzz.edge2Cases(seed, n);
         t <- Seq(JxFuzz.edgeKey(a), JxFuzz.edgeKey2(b), a.value, b.value)) {
      val json = jx.JxExpr.jsonString(t)
      assert(jx.JxExpr.parseJson(json) == t, s"2-edge tree drift via $json")
    }
    for ((name, seed, n) <- FuzzCatalog.edge2Blocks) {
      val out = edge2Results(name)._2
      val cs = JxFuzz.edge2Cases(seed, n)
      val byCase = out.groupBy(_.getInt(0))
      for ((i, rows) <- byCase) {
        val (a, b) = cs(i)
        val wantA = a.parts.size + (if (a.allowNulls) 1 else 0)
        val wantB = b.parts.size + (if (b.allowNulls) 1 else 0)
        assert(rows.length === wantA * wantB,
          s"case $i: ${rows.length} cells, want $wantA×$wantB")
        assert(rows.count(_.isNullAt(1)) === (if (a.allowNulls) wantB else 0))
        assert(rows.count(_.isNullAt(2)) === (if (b.allowNulls) wantA else 0))
      }
      assert(byCase.size === n)
    }
  }

  test("edges cases (1- and 2-edge): the dense-cube engine equals the Spark-SQL rendering") {
    // r11: the edges layers were the last fuzz blocks whose semantics
    // were checked ONLY at the DuckDB gate — the dialect-parameterized
    // oracles now run in-suite through spark.sql too, closing the
    // compiler ≡ rendering ≡ second-engine triangle for every layer
    SparkEntry.loader(spark, dir)("lineitem").createOrReplaceTempView("lineitem")
    for ((name, seed, n) <- FuzzCatalog.edgeBlocks) {
      val viaEngine = FuzzCatalog.queries(name)(spark, dir)
      val viaSql = spark.sql(FuzzCatalog.edgeOracle(seed, n, JxSql.SparkSql))
      val (a, b) = (lines(viaEngine), lines(viaSql))
      val diffs = a.zip(b).filter { case (x, y) => x != y }
      assert(a.size == b.size && diffs.isEmpty,
        s"$name: sizes ${a.size}/${b.size}, ${diffs.size} differing rows; first: ${diffs.headOption}")
    }
    for ((name, seed, n) <- FuzzCatalog.edge2Blocks) {
      val (engCols, engRows) = edge2Results(name)
      val viaSql = spark.sql(FuzzCatalog.edge2Oracle(seed, n, JxSql.SparkSql))
      val (a, b) = (linesOf(engCols, engRows), lines(viaSql))
      val diffs = a.zip(b).filter { case (x, y) => x != y }
      assert(a.size == b.size && diffs.isEmpty,
        s"$name: sizes ${a.size}/${b.size}, ${diffs.size} differing rows; first: ${diffs.headOption}")
    }
  }

  test("setop cases: the JX pipeline path equals the Spark-SQL rendering") {
    // the in-suite leg of the setop fuzz (VERDICT r10 #4): the SAME
    // rendering that oracles the gate against DuckDB runs here through
    // spark.sql, so a regression in runSetop (sort-key offset
    // resolution, nulls-least placement, limit clamps, set-op
    // semantics) fails the suite, not just the driver gate
    SparkEntry.loader(spark, dir)("lineitem").createOrReplaceTempView("lineitem")
    for ((name, seed, n) <- FuzzCatalog.setopBlocks) {
      val viaJx = FuzzCatalog.queries(name)(spark, dir)
      val viaSql = spark.sql(FuzzCatalog.setopOracle(seed, n, JxSql.SparkSql))
      val (a, b) = (lines(viaJx), lines(viaSql))
      val diffs = a.zip(b).filter { case (x, y) => x != y }
      assert(a.size == b.size && diffs.isEmpty,
        s"$name: sizes ${a.size}/${b.size}, ${diffs.size} differing rows; first: ${diffs.headOption}")
    }
    for ((name, seed, n) <- FuzzCatalog.setopPairBlocks) {
      val viaJx = FuzzCatalog.queries(name)(spark, dir)
      val viaSql = spark.sql(FuzzCatalog.setopPairOracle(seed, n, JxSql.SparkSql))
      val (a, b) = (lines(viaJx), lines(viaSql))
      val diffs = a.zip(b).filter { case (x, y) => x != y }
      assert(a.size == b.size && diffs.isEmpty,
        s"$name: sizes ${a.size}/${b.size}, ${diffs.size} differing rows; first: ${diffs.headOption}")
    }
  }

  test("setop cases round-trip their trees; limit clamps appear in generation") {
    for ((_, seed, n) <- FuzzCatalog.setopBlocks) {
      val cs = JxFuzz.setopCases(seed, n)
      for (c <- cs; t <- Seq(c.where, c.i0, c.i1, c.s0)) {
        val json = jx.JxExpr.jsonString(t)
        assert(jx.JxExpr.parseJson(json) == t, s"setop tree drift via $json")
      }
      // the generator must exercise BOTH clamp edges across a block:
      // a default-limit case (None -> 10) and an above-max case
      assert(cs.exists(_.limit.isEmpty), "no default-limit case generated")
      assert(cs.exists(_.limit.exists(_ > 10000)), "no MAX_LIMIT-clamp case generated")
      // both sort-key resolution families appear across a block:
      // tuple offsets (spelling 0/1) and source-column names (2/3)
      val spellings = cs.flatMap(_.sortKeys.map(_._3 % 4)).toSet
      assert(spellings.exists(_ < 2) && spellings.exists(_ >= 2),
        s"sort spellings not diverse: $spellings")
    }
    for ((_, seed, n) <- FuzzCatalog.setopPairBlocks) {
      val cs = JxFuzz.setopPairCases(seed, n)
      assert(cs.map(_.kind).toSet === Set("union", "intersect", "except"))
      for (c <- cs; t <- Seq(c.whereA, c.whereB, c.i0, c.s0)) {
        val json = jx.JxExpr.jsonString(t)
        assert(jx.JxExpr.parseJson(json) == t, s"setop pair tree drift via $json")
      }
    }
  }

  test("nested cases: the document machinery equals the flat-table Spark-SQL rendering") {
    // the in-suite leg of the nested fuzz (VERDICT r10 #5): the entry
    // reads ASSEMBLED orders⊃lineitems documents through struct-array
    // HOFs (existsIn / drillFilter / sumOver) and the implicit descent;
    // the rendering replays each case against the FLAT tables with
    // EXISTS / conditional aggregates / LEFT JOIN — two genuinely
    // different dataflows that must agree row-for-row
    SparkEntry.loader(spark, dir)("orders").createOrReplaceTempView("orders")
    SparkEntry.loader(spark, dir)("lineitem").createOrReplaceTempView("lineitem")
    for ((name, seed, n) <- FuzzCatalog.nestedBlocks) {
      val viaDocs = FuzzCatalog.queries(name)(spark, dir)
      val viaSql = spark.sql(FuzzCatalog.nestedOracle(seed, n, JxSql.SparkSql))
      val (a, b) = (lines(viaDocs), lines(viaSql))
      val diffs = a.zip(b).filter { case (x, y) => x != y }
      assert(a.size == b.size && diffs.isEmpty,
        s"$name: sizes ${a.size}/${b.size}, ${diffs.size} differing rows; first: ${diffs.headOption}")
    }
  }

  test("nested cases round-trip their trees; all four kinds appear") {
    for ((_, seed, n) <- FuzzCatalog.nestedBlocks) {
      val cs = JxFuzz.nestedCases(seed, n)
      assert(cs.map(_.kind).toSet === Set(0, 1, 2, 3))
      for (c <- cs; t <- Seq(c.pred, c.value, c.parentPred)) {
        val json = jx.JxExpr.jsonString(t)
        assert(jx.JxExpr.parseJson(json) == t, s"nested tree drift via $json")
      }
    }
  }

  test("deep-nested cases: the two-level document path equals the flat three-table rendering") {
    // r11 deepening: generated predicates at ALL THREE document levels
    // through the deep-arm JX path (customer ⊃ orders ⊃ lineitems
    // explode chain) vs a flat three-table join replay — the two-level
    // analog of the nested test above
    SparkEntry.loader(spark, dir)("customer").createOrReplaceTempView("customer")
    SparkEntry.loader(spark, dir)("orders").createOrReplaceTempView("orders")
    SparkEntry.loader(spark, dir)("lineitem").createOrReplaceTempView("lineitem")
    for ((name, seed, n) <- FuzzCatalog.deepBlocks) {
      val viaDocs = FuzzCatalog.queries(name)(spark, dir)
      val viaSql = spark.sql(FuzzCatalog.deepOracle(seed, n, JxSql.SparkSql))
      val (a, b) = (lines(viaDocs), lines(viaSql))
      val diffs = a.zip(b).filter { case (x, y) => x != y }
      assert(a.size == b.size && diffs.isEmpty,
        s"$name: sizes ${a.size}/${b.size}, ${diffs.size} differing rows; first: ${diffs.headOption}")
    }
  }

  test("deep-nested and 2-edge extra-seed sweeps: more seeds, in-suite only") {
    // the scalar layer's extra-seed pattern applied to the two newest
    // layers (review r11): coverage grows without growing the catalog —
    // fresh seeds run the full document/densify machinery against the
    // Spark-SQL rendering of the same cases (no DuckDB leg; the
    // committed seeds carry that at the gate)
    SparkEntry.loader(spark, dir)("customer").createOrReplaceTempView("customer")
    SparkEntry.loader(spark, dir)("orders").createOrReplaceTempView("orders")
    SparkEntry.loader(spark, dir)("lineitem").createOrReplaceTempView("lineitem")
    for (seed <- Seq(23023L, 29029L)) {
      val viaDocs = FuzzCatalog.deepEntry(seed, 16)(spark, dir)
      val viaSql = spark.sql(FuzzCatalog.deepOracle(seed, 16, JxSql.SparkSql))
      val (a, b) = (lines(viaDocs), lines(viaSql))
      val diffs = a.zip(b).filter { case (x, y) => x != y }
      assert(a.size == b.size && diffs.isEmpty,
        s"deep seed $seed: sizes ${a.size}/${b.size}, ${diffs.size} differing; first: ${diffs.headOption}")
    }
    for (seed <- Seq(31031L)) {
      val viaEngine = FuzzCatalog.edge2Entry(seed, 10)(spark, dir)
      val viaSql = spark.sql(FuzzCatalog.edge2Oracle(seed, 10, JxSql.SparkSql))
      val (a, b) = (lines(viaEngine), lines(viaSql))
      val diffs = a.zip(b).filter { case (x, y) => x != y }
      assert(a.size == b.size && diffs.isEmpty,
        s"edge2 seed $seed: sizes ${a.size}/${b.size}, ${diffs.size} differing; first: ${diffs.headOption}")
    }
  }

  test("deep-nested cases round-trip their trees; all four kinds appear") {
    for ((_, seed, n) <- FuzzCatalog.deepBlocks) {
      val cs = JxFuzz.deepCases(seed, n)
      assert(cs.map(_.kind).toSet === Set(0, 1, 2, 3))
      for (c <- cs; t <- Seq(c.custPred, c.ordPred, c.linePred, c.value)) {
        val json = jx.JxExpr.jsonString(t)
        assert(jx.JxExpr.parseJson(json) == t, s"deep tree drift via $json")
      }
    }
  }

  /** Op-name collector over the FULL fuzzed subset — one walker shared
    * by every presence test (review r11: two divergent copies meant a
    * split nested under e.g. a prefix/suffix operand was invisible to
    * one of them, and every widening had to patch both). */
  private def opNames(e: JxExpr): Set[String] = {
    val kids = e match {
      case JxExpr.BetweenOp(v, p, s, st, d) => Seq(v, p, s, st, d)
      case JxExpr.UnixOp(t) => Seq(t)
      case JxExpr.FromUnixOp(t) => Seq(t)
      case JxExpr.AndOp(ts) => ts; case JxExpr.OrOp(ts) => ts
      case JxExpr.NotOp(t) => Seq(t)
      case JxExpr.EqOp(l, r) => Seq(l, r); case JxExpr.NeOp(l, r) => Seq(l, r)
      case JxExpr.InequalityOp(_, l, r) => Seq(l, r)
      case JxExpr.InOp(v, l) => Seq(v, l)
      case JxExpr.MissingOp(t) => Seq(t); case JxExpr.ExistsOp(t) => Seq(t)
      case JxExpr.MultiOp(_, ts, _, d) => ts :+ d
      case JxExpr.BinaryOp(_, l, r, d) => Seq(l, r, d)
      case JxExpr.DivOp(l, r, d) => Seq(l, r, d)
      case JxExpr.FloorOp(l, r) => Seq(l, r)
      case JxExpr.MaxOp(ts) => ts; case JxExpr.MinOp(ts) => ts
      case JxExpr.CountOp(ts) => ts; case JxExpr.CoalesceOp(ts) => ts
      case JxExpr.CastOp(_, t) => Seq(t)
      case JxExpr.LengthOp(t) => Seq(t)
      case JxExpr.SubstrOp(_, v, n) => Seq(v, n)
      case JxExpr.FindOp(v, f, st, d) => Seq(v, f, st, d)
      case JxExpr.PrefixOp(v, p) => Seq(v, p); case JxExpr.SuffixOp(v, p) => Seq(v, p)
      case JxExpr.ConcatOp(ts, sep, d) => ts ++ Seq(sep, d)
      case JxExpr.RegExpOp(v, p) => Seq(v, p)
      case JxExpr.WhenOp(c, t, e2) => Seq(c, t, e2)
      case JxExpr.CaseOp(ws, d) => ws.flatMap(w => Seq(w.cond, w.thenE, w.elseE)) :+ d
      case JxExpr.SplitOp(v, p) => Seq(v, p)
      case JxExpr.GetOp(v, i) => Seq(v, i)
      case JxExpr.FirstOp(t) => Seq(t)
      case JxExpr.LastOp(t) => Seq(t)
      case _ => Nil
    }
    kids.flatMap(opNames).toSet + e.getClass.getSimpleName
  }

  test("r11 widened ops (between, unix/from_unix) appear in generated trees and render") {
    // VERDICT r10 #6: every op added to JxSql multiplies composition
    // coverage only if the generator actually emits it — pin presence
    // across the four committed scalar seeds, and pin the rendering
    // contract on hand cases whose value is known
    val all = (for ((_, seed, n) <- FuzzCatalog.blocks; c <- JxFuzz.cases(seed, n))
      yield opNames(c.expr)).flatten.toSet
    assert(all.contains("BetweenOp"), "no between generated across the scalar blocks")
    assert(all.contains("UnixOp"), "no unix generated across the scalar blocks")
    assert(all.contains("FromUnixOp"), "no from_unix generated across the scalar blocks")
    // rendering contract, hand-checked: between('RAIL_7', 'R', '_') =
    // 'AIL' (after first R, before first _ at-or-after); absent needle
    // → default
    import spark.implicits._
    val row = Seq(("RAIL_7", java.sql.Timestamp.valueOf("1992-01-01 00:00:00")))
      .toDF("s", "t")
    row.createOrReplaceTempView("fuzz_wide_t")
    def btw(p: String, sfx: String, dflt: JxExpr = JxExpr.NullOp) =
      JxExpr.BetweenOp(JxExpr.Variable("s"), JxExpr.Lit(p), JxExpr.Lit(sfx),
        JxExpr.Lit(0L), dflt)
    for (e <- Seq(btw("R", "_"), btw("X", "_", JxExpr.Lit("dflt")),
                  btw("R", "X", JxExpr.Lit("dflt")),
                  JxExpr.UnixOp(JxExpr.Variable("t")),
                  JxExpr.UnixOp(JxExpr.FromUnixOp(JxExpr.Lit(25L))))) {
      val compiled = row.select(JxCompiler.compile(e).as("v")).head.get(0)
      val rendered = spark.sql(
        s"SELECT ${JxSql.sql(e, JxSql.SparkSql)} AS v FROM fuzz_wide_t").head.get(0)
      assert(compiled == rendered, s"compiler/rendering drift on $e: $compiled vs $rendered")
    }
    val got = row.select(JxCompiler.compile(btw("R", "_")).as("v")).head.getString(0)
    assert(got === "AIL")
    assert(row.select(JxCompiler.compile(JxExpr.UnixOp(JxExpr.Variable("t"))))
      .head.getDouble(0) === 694224000.0)
  }

  test("r11 widened ops (split + get/first/last) appear in generated trees and render") {
    // same discipline as the between/unix widening test above: presence
    // across the committed scalar seeds (via the shared opNames
    // walker), then the rendering contract on hand cases with known
    // values — compiled Column vs the Spark-SQL rendering, and the JX
    // semantics themselves (0-based get, regex split keeping trailing
    // empties, OOB index → missing)
    val all = (for ((_, seed, n) <- FuzzCatalog.blocks; c <- JxFuzz.cases(seed, n))
      yield opNames(c.expr)).flatten.toSet
    assert(all.contains("SplitOp"), "no split generated across the scalar blocks")
    assert(all.contains("GetOp"), "no get generated across the scalar blocks")
    assert(all.contains("FirstOp") || all.contains("LastOp"),
      "neither first nor last generated across the scalar blocks")
    import spark.implicits._
    val row = Seq(Tuple1("AF_1")).toDF("s")
    row.createOrReplaceTempView("fuzz_split_t")
    val arr = JxExpr.SplitOp(JxExpr.Variable("s"), JxExpr.Lit("_"))
    val cases: Seq[(JxExpr, Any)] = Seq(
      (JxExpr.GetOp(arr, JxExpr.Lit(0L)), "AF"),   // 0-based
      (JxExpr.GetOp(arr, JxExpr.Lit(1L)), "1"),
      (JxExpr.GetOp(arr, JxExpr.Lit(3L)), null),   // OOB → missing
      (JxExpr.FirstOp(arr), "AF"),
      (JxExpr.LastOp(arr), "1"),
      // trailing empty kept: split('AF_1', '1') = ['AF_', '']
      (JxExpr.LastOp(JxExpr.SplitOp(JxExpr.Variable("s"), JxExpr.Lit("1"))), ""),
      (JxExpr.FirstOp(JxExpr.SplitOp(JxExpr.NullOp, JxExpr.Lit("_"))), null))
    for ((e, want) <- cases) {
      val compiled = row.select(JxCompiler.compile(e).as("v")).head.get(0)
      val rendered = spark.sql(
        s"SELECT ${JxSql.sql(e, JxSql.SparkSql)} AS v FROM fuzz_split_t").head.get(0)
      assert(compiled == rendered, s"compiler/rendering drift on $e: $compiled vs $rendered")
      assert(compiled == want, s"semantics drift on $e: got $compiled, want $want")
    }
  }

  test("r12 contract fixes: literal split, listwrap get, scalar first/last (ADVICE r11)") {
    // the jx_python semantics (vendor/jx_python/expressions.py:96-106,
    // 329-331; jx_base expressions.py:1318): split is a LITERAL
    // substring split, get is listwrap indexing through
    // FlatList.__getitem__ (mo_dots lists.py:69-71 — ANY negative
    // index is Null, no count-from-the-end; scalars are one-element
    // lists), first/last pass scalars through. Each case checked
    // compiled-vs-Spark-rendering AND against the hand-computed
    // reference value.
    import spark.implicits._
    val row = Seq(Tuple1("AF_1")).toDF("s")
    row.createOrReplaceTempView("fuzz_contract_t")
    val arr = JxExpr.SplitOp(JxExpr.Variable("s"), JxExpr.Lit("_"))
    // 'A.F' with pattern '.': literal → 2 parts; a regex reading would
    // explode every string into empties
    val dotArr = JxExpr.SplitOp(JxExpr.Lit("A.F"), JxExpr.Lit("."))
    val cases: Seq[(JxExpr, Any)] = Seq(
      (JxExpr.FirstOp(dotArr), "A"),                     // 'A.F'.split('.') = ['A','F']
      (JxExpr.LastOp(dotArr), "F"),
      (JxExpr.FirstOp(JxExpr.SplitOp(JxExpr.Variable("s"), JxExpr.Lit("."))), "AF_1"),
      // ANY negative index is missing — FlatList.__getitem__ has no
      // count-from-the-end arm (mo_dots lists.py:69-71; r13 ADVICE fix:
      // r12 wrongly gave these Python-list semantics)
      (JxExpr.GetOp(arr, JxExpr.Lit(-1L)), null),
      (JxExpr.GetOp(arr, JxExpr.Lit(-2L)), null),
      (JxExpr.GetOp(arr, JxExpr.Lit(-3L)), null),
      (JxExpr.GetOp(JxExpr.Variable("s"), JxExpr.Lit(0L)), "AF_1"),  // listwrap scalar
      (JxExpr.GetOp(JxExpr.Variable("s"), JxExpr.Lit(-1L)), null),
      (JxExpr.GetOp(JxExpr.Variable("s"), JxExpr.Lit(1L)), null),
      (JxExpr.FirstOp(JxExpr.Variable("s")), "AF_1"),    // scalar pass-through
      (JxExpr.LastOp(JxExpr.Variable("s")), "AF_1"),
      // conditional arms propagate array-typedness through the dispatch
      (JxExpr.LastOp(JxExpr.WhenOp(JxExpr.TrueOp, arr, JxExpr.NullOp)), "1"))
    for ((e, want) <- cases) {
      val compiled = row.select(JxCompiler.compile(e).as("v")).head.get(0)
      val rendered = spark.sql(
        s"SELECT ${JxSql.sql(e, JxSql.SparkSql)} AS v FROM fuzz_contract_t").head.get(0)
      assert(compiled == rendered, s"compiler/rendering drift on $e: $compiled vs $rendered")
      assert(compiled == want, s"semantics drift on $e: got $compiled, want $want")
    }
    // JX `in` is Python membership: a NULL list member matches a
    // missing value (r12, jx_python expressions.py:175-177) — pinned
    // on both the literal and dynamic-list arms, null-free lists
    // unchanged
    val inCases: Seq[(JxExpr, Any)] = Seq(
      (JxExpr.InOp(JxExpr.NullOp, JxExpr.Lit(Seq("A", null))), true),
      (JxExpr.InOp(JxExpr.NullOp, JxExpr.Lit(Seq[Any]("A", "B"))), false),
      (JxExpr.InOp(JxExpr.Lit("A"), JxExpr.Lit(Seq("A", null))), true),
      (JxExpr.InOp(JxExpr.Lit("B"), JxExpr.Lit(Seq("A", null))), false),
      (JxExpr.InOp(JxExpr.NullOp, JxExpr.Lit(Seq[Any](null))), true))
    for ((e, want) <- inCases) {
      val compiled = row.select(JxCompiler.compile(e).as("v")).head.get(0)
      val rendered = spark.sql(
        s"SELECT ${JxSql.sql(e, JxSql.SparkSql)} AS v FROM fuzz_contract_t").head.get(0)
      assert(compiled == rendered && compiled == want,
        s"in-with-null drift on $e: compiled=$compiled rendered=$rendered want=$want")
    }

    // the gate's sub-blocks (b1/b2/b4 since r13) slice the SAME tree
    // sequence each whole block generates — sub-entry columns must be
    // exactly the block's columns, windowed (localizability without
    // re-drawing)
    for ((base, seed) <- FuzzCatalog.subBlockSeeds) {
      val whole = JxFuzz.cases(seed, 125).map(_.name)
      val sliced = FuzzCatalog.gateSubBlocks
        .filter(_._1.startsWith(base))
        .flatMap { case (_, s, from, until) =>
          JxFuzz.cases(s, 125).slice(from, until).map(_.name) }
      assert(sliced == whole, s"$base sub-blocks do not tile the seed-$seed sequence")
    }
  }

  test("regexQuote is code-point safe: non-BMP patterns survive quoting — ADVICE r12") {
    // escaping per UTF-16 char would split a surrogate pair into two
    // backslash-escaped lone surrogates — a Java regex that no longer
    // matches the original code point. The r13 quoting iterates code
    // points and leaves supplementary characters bare (they are never
    // regex metacharacters), so splitting on an emoji works.
    val q = JxExpr.regexQuote("a.😀|b")
    assert(q == "a\\.😀\\|b", s"got $q")
    import spark.implicits._
    val got = Seq(Tuple1("x😀y")).toDF("s")
      .select(JxCompiler.compile(
        JxExpr.FirstOp(JxExpr.SplitOp(JxExpr.Variable("s"), JxExpr.Lit("😀")))).as("v"))
      .head.getString(0)
    assert(got == "x", s"non-BMP literal split broke: got $got")
  }

  test("r13: JxExpr.children walks every non-leaf operator (completeness law)") {
    // the shared walk backs the fuzz censuses and treeExists-based
    // laws; a constructor arm missing from it silently blinds every
    // consumer to that operator's subtree (exactly what happened to
    // the four diagnostic mains' local copies before r13 unified them
    // — their walks lacked Substr/Div/Floor/Max/Min/Count and the
    // first b1/b2 census under-counted). One sample per non-leaf op,
    // expected child count from the constructor.
    import JxExpr._
    val v = Variable("x"); val w = Variable("y"); val z = Variable("z")
    val samples: Seq[(JxExpr, Int)] = Seq(
      (AndOp(Seq(v, w)), 2), (OrOp(Seq(v, w)), 2), (NotOp(v), 1),
      (EqOp(v, w), 2), (NeOp(v, w), 2), (InequalityOp("gt", v, w), 2),
      (BinaryOp("sub", v, w, z), 3), (MultiOp("add", Seq(v, w), true, z), 3),
      (DivOp(v, w, z), 3), (FloorOp(v, w), 2),
      (MaxOp(Seq(v, w)), 2), (MinOp(Seq(v, w)), 2), (CountOp(Seq(v, w)), 2),
      (CoalesceOp(Seq(v, w)), 2), (MissingOp(v), 1), (ExistsOp(v), 1),
      (InOp(v, w), 2), (IsTypeOp("number", v), 1),
      (CastOp("string", v), 1), (UnixOp(v), 1), (FromUnixOp(v), 1),
      (LengthOp(v), 1), (SubstrOp("left", v, w), 2),
      (FindOp(v, w, z, NullOp), 4), (BetweenOp(v, w, z, NullOp, NullOp), 5),
      (PrefixOp(v, w), 2), (SuffixOp(v, w), 2),
      (ConcatOp(Seq(v, w), z, NullOp), 4), (RegExpOp(v, w), 2),
      (SplitOp(v, w), 2), (GetOp(v, w), 2), (FirstOp(v), 1), (LastOp(v), 1),
      (TupleOp(Seq(v, w)), 2), (SelectOp(Seq("a" -> v)), 1),
      (WhenOp(v, w, z), 3),
      // CaseOp walks each arm's (cond, then) + the default; arm elses
      // are structurally NullOp and semantically ignored
      (CaseOp(Seq(WhenOp(v, w, NullOp)), z), 3),
      (RowsOp(v, 1), 1))
    for ((e, n) <- samples) {
      val kids = JxExpr.children(e)
      assert(kids.size == n,
        s"children(${e.getClass.getSimpleName}) returned ${kids.size}, expected $n — the shared walk is blind to it")
    }
    // leaves stay leaves
    for (leaf <- Seq[JxExpr](v, Lit(1L), NullOp, TrueOp, FalseOp,
        OffsetOp(0), DateOp("now"), LeavesOp("a"), ScriptOp("1")))
      assert(JxExpr.children(leaf).isEmpty, s"leaf $leaf grew children")
  }

  test("r13 fragility law: pow-bearing numeric gate columns on a comparator rendering boundary stay the documented set") {
    // The driver comparator renders floats via python %.10g with an
    // integral fast-path (str(int(v)) when v == int(v) and |v| < 1e15).
    // pow is the scalar registry's only op WITHOUT an IEEE
    // exact-rounding guarantee, so a pow-derived cell within ulps of a
    // rendering boundary (or on the integral-print cliff, |v| ≥ 1e10)
    // is the one class that can be bit-exact green against local DuckDB
    // yet red on a driver whose DuckDB build carries a different libm.
    // The r13 audit found exactly {b2.e103, b2.e117} (COVERAGE.md §2.7
    // decision key); this law pins that census at the GATE's sf so a
    // future generator redraw that grows the set is a conscious
    // decision, not a silent side-effect. (Scope: TNum outputs — the
    // double-rendered class; int-cast truncation of a pow would need
    // per-node perturbation to observe and is not generated today.)
    val gateDir = "/root/testdata/sf0.01"
    // the comparator's rendering as a NUMERIC key: the integral
    // fast-path prints every digit (so it keys exact), %.10g keys as
    // the 10-significant-digit rounding; two values render the same
    // string iff these keys compare numerically equal (the int branch
    // "8" and the g branch's "8" meet at compareTo == 0)
    def hasPow(e: JxExpr): Boolean =
      JxExpr.treeExists(e) { case JxExpr.BinaryOp("exp", _, _, _) => true; case _ => false }
    def renderKey(v: Double): java.math.BigDecimal =
      if (v == v.toLong.toDouble && math.abs(v) < 1e15)
        java.math.BigDecimal.valueOf(v.toLong)
      else new java.math.BigDecimal(v).round(new java.math.MathContext(10))
    def fragile(v: Double): Boolean = {
      if (v.isNaN || v == 0.0) return false
      val k = renderKey(v)
      Seq(1, 4, 16, 64).exists { n =>
        var up = v; var dn = v
        (1 to n).foreach { _ =>
          up = Math.nextAfter(up, Double.PositiveInfinity)
          dn = Math.nextAfter(dn, Double.NegativeInfinity)
        }
        renderKey(up).compareTo(k) != 0 || renderKey(dn).compareTo(k) != 0
      }
    }
    val dom = FuzzCatalog.domainDf(spark, gateDir)
    val found = collection.mutable.Set[String]()
    for ((block, seed) <- Seq(("b1", 1001L), ("b2", 2002L), ("b3", 3003L), ("b4", 4004L))) {
      val cs = JxFuzz.cases(seed, 125)
        .filter(c => c.ty == JxFuzz.TNum && hasPow(c.expr))
      if (cs.nonEmpty) {
        val out = dom.select(cs.map(c =>
          JxCompiler.compile(c.expr).cast("double").as(c.name)): _*).collect()
        for (c <- cs; r <- out) {
          val i = out.head.fieldIndex(c.name)
          if (!r.isNullAt(i) && fragile(r.getDouble(i))) found += s"$block.${c.name}"
        }
      }
    }
    assert(found.toSet == Set("b2.e103", "b2.e117"),
      s"pow-fragile census changed: $found — update COVERAGE.md's decision key and adjudicate")
  }

  test("generation is deterministic across invocations (seeded LCG)") {
    val a = JxFuzz.cases(1001L, 125)
    val b = JxFuzz.cases(1001L, 125)
    assert(a == b)
    // distinct seeds explore distinct trees
    assert(JxFuzz.cases(2002L, 125) != a)
  }

  test("fuzzer finding pinned: underscore numeric strings diverge across engines") {
    // DuckDB and Python accept underscore digit separators when parsing
    // numeric strings ('492_1' -> 4921.0); Spark SQL's cast yields NULL.
    // The generator therefore keeps '_'-bearing strings out of number
    // casts (JxFuzz.genCastableStr) instead of hiding the divergence in
    // the translation; this test documents the Spark half of the fact.
    import spark.implicits._
    val got = Seq("492_1").toDF("s").select(col("s").cast("double")).head()
    assert(got.isNullAt(0), "Spark began accepting underscore numerics — revisit genCastableStr")
  }

  test("litSql rejects backslash literals (dialect-divergent escaping) — ADVICE r11") {
    // Spark's default SQL dialect treats backslash as an escape inside
    // string literals; DuckDB does not. A backslash-bearing literal (or
    // regex pattern, which routes through litSql) would mean DIFFERENT
    // strings to the two engines and silently corrupt the differential
    // oracle. The generator's pools contain none — this makes that an
    // enforced invariant rather than a convention.
    intercept[IllegalArgumentException](JxSql.litSql("a\\d"))
    intercept[IllegalArgumentException] {
      JxSql.sql(JxExpr.RegExpOp(JxExpr.Variable("s"), JxExpr.Lit("\\d+")), JxSql.DuckDb)
    }
    // quotes stay legal via doubling in both dialects
    assert(JxSql.litSql("o'k") === "'o''k'")
  }

  test("r14 pow pin: literal exponents 2/3 render libm-free on BOTH sides; general exponents keep pow") {
    // pow is the registry's only op without an IEEE exact-rounding
    // guarantee — the one place the two engines (and any two libms, and
    // any two CPUs' Math.pow intrinsics) hold a value license. The r14
    // pin renders BinaryOp("exp", x, Lit(2|3)) as repeated
    // multiplication in doubles on the compiler path AND in both SQL
    // dialects, removing that license from the differential gate
    // surface entirely (COVERAGE.md §2.7 r14; the pin was measured
    // value-preserving at the driver comparator on every cell of all
    // 500 fuzz trees vs both libm pow and DuckDB 1.0.0).
    import JxExpr._
    val sq = BinaryOp("exp", Variable("num1"), Lit(2L), NullOp)
    val cb = BinaryOp("exp", Variable("num1"), Lit(3L), NullOp)
    val gen = BinaryOp("exp", Variable("num1"), Lit(0.5), NullOp)
    for (d <- Seq(JxSql.DuckDb, JxSql.SparkSql)) {
      assert(!JxSql.sql(sq, d).contains("POW"), s"square must not call POW: ${JxSql.sql(sq, d)}")
      assert(!JxSql.sql(cb, d).contains("POW"), s"cube must not call POW: ${JxSql.sql(cb, d)}")
      assert(JxSql.sql(gen, d).contains("POW"), "general exponent keeps POW")
    }
    val compiled = JxCompiler.compile(sq).toString
    assert(!compiled.toLowerCase.contains("pow"), s"compiled square must multiply: $compiled")
    assert(JxCompiler.compile(gen).toString.toLowerCase.contains("pow"),
      "compiled general exponent keeps pow")
    // value law: the pin IS the square/cube (bit-exact, not just close),
    // and x*x*x associates left in both renderings
    import spark.implicits._
    val vals = Seq(2.5, -1.5, 0.0, 997.0, 1.0 / 3.0).toDF("num1")
    val rows = vals.select(
      JxCompiler.compile(sq).as("sq"), JxCompiler.compile(cb).as("cb"), col("num1"))
      .collect()
    for (r <- rows) {
      val x = r.getDouble(2)
      assert(r.getDouble(0) == x * x, s"square($x)")
      assert(r.getDouble(1) == x * x * x, s"cube($x)")
    }
  }
}
