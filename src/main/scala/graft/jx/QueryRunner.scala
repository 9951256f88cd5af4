package graft.jx

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * JxQuery × DataFrame → DataFrame: the execution layer.
 *
 * Routing mirrors the reference (vendor/jx_sqlite/query_table.py:102-116):
 * edges → dense cube; groupby → sparse GROUP BY; else the setop pipeline
 * (filter → window → sort → select → limit).
 *
 * Scale notes (designed for a 1000-executor cluster, tested on local[32]):
 *  - edges do NOT use non-equi domain joins: partition membership for
 *    time/duration/range domains is computed arithmetically per row
 *    (`floor((v-min)/interval)`), so the cube is ONE aggregate with one
 *    shuffle on small integer keys. Its result (at most Π(parts + null)
 *    rows) is collected and densified on the driver against the domains,
 *    which are driver values, into a local relation — as the reference
 *    builds its dense Matrix client-side (vendor/jx_python/containers/
 *    cube.py:27-95). So an edges query runs its aggregate when the
 *    DataFrame is built, and the dense grid is held on the driver.
 *  - set/default domains classify via a CASE chain (codegen'd), never a join.
 *  - a DefaultDomain runs one extra top-k job to discover partitions
 *    (reference: edges_table.py:257-264).
 */
object QueryRunner {
  import JxExpr._

  /** Resolve `from` "table.child.grandchild" → DataFrame + nested perspective:
    * each child segment is an ArrayType(Struct) column that gets exploded;
    * names resolve deepest-arm-first with parent fields reachable
    * (reference: vendor/jx_sqlite/snowflake.py:247-341). */
  def resolveFrom(from: String, load: String => DataFrame): (DataFrame, Seq[String]) = {
    val segs = from.split('.').toSeq
    var df = load(segs.head)
    val chain = scala.collection.mutable.ArrayBuffer[String]()
    for (seg <- segs.tail) {
      val parent = if (chain.isEmpty) seg else chain.last + "." + seg
      // INNER explode: `from: "fact.nested"` is the nested table's rows
      // (reference jx_sqlite reads the child table directly;
      // snowflake.py:247-341) — a parent with no children contributes no
      // rows to the child perspective. explode_outer's null padding would
      // surface phantom null-key groups in groupby/one over the arm.
      df = df.withColumn(seg, explode(col(parent)))
      chain += seg // each exploded child struct becomes a top-level column
    }
    (df, chain.toSeq)
  }

  private def hasField(schema: StructType, path: Seq[String]): Boolean = path match {
    case Seq() => true
    case head +: rest => schema.fields.find(_.name == head) match {
      case Some(StructField(_, st: StructType, _, _)) => hasField(st, rest)
      case Some(_) => rest.isEmpty
      case None => false
    }
  }

  def mkCtx(df: DataFrame, path: Seq[String]): JxCompiler.Ctx = {
    // deepest-arm-first: each exploded ancestor is its own top-level struct,
    // so a name resolves against [deepest, ..., shallowest, root]
    val prefixes: Seq[Seq[String]] =
      (path.reverse.map(Seq(_)) :+ Seq.empty[String])
    JxCompiler.Ctx(resolveVar = name => {
      if (name == ".") {
        if (path.nonEmpty) col(path.last)
        else struct(df.columns.map(col).toIndexedSeq: _*)
      } else {
        val segs = name.split('.').toSeq
        prefixes.find(p => hasField(df.schema, p ++ segs)) match {
          case Some(p) => col((p ++ segs).mkString("."))
          case None    => col(name)
        }
      }
    })
  }

  /** Shared entry prologue: resolve `from`, build the compile context,
    * apply the where-filter — one definition so [[run]] and
    * [[runEdgesWithDomains]] cannot drift. */
  private def prologue(q: JxQuery, load: String => DataFrame)
      : (DataFrame, Seq[String], JxCompiler.Ctx) = {
    val (base, path) = resolveFrom(q.from, load)
    val ctx = mkCtx(base, path)
    val filtered = q.where match {
      case TrueOp => base
      case w      => base.filter(JxCompiler.filterPred(w, ctx))
    }
    (filtered, path, ctx)
  }

  def run(spark: SparkSession, q: JxQuery, load: String => DataFrame): DataFrame =
    if (q.edges.nonEmpty) runEdgesWithDomains(spark, q, load)._1
    else {
      val (filtered, path, ctx) = prologue(q, load)
      if (q.groupby.nonEmpty) runGroupby(q, filtered, ctx)
      else if (q.isAggregate) applyHaving(q, runScalarAgg(q, filtered, ctx))
      else {
        if (q.having.isDefined)
          throw new IllegalArgumentException("`having` requires an aggregation (edges/groupby/aggregate select)")
        val (df2, path2) = implicitDescent(q, filtered, path)
        runSetop(q, df2, path2, mkCtx(df2, path2))
      }
    }

  /** Reference list-select descends ONE nested-array branch implicitly:
    * a select path that crosses an array-of-struct column explodes that
    * arm (one row per child, childless parents padded null); paths that
    * cross TWO different branches are an error (jx.py:277-443, the
    * "select into two nested arrays" rejection). Applied only on the
    * setop path — aggregates name their arm in `from`. */
  private def implicitDescent(q: JxQuery, df0: DataFrame, path0: Seq[String]): (DataFrame, Seq[String]) = {
    var df = df0
    var path = path0
    val done = scala.collection.mutable.Set[Seq[String]]()
    var changed = true
    while (changed) {
      changed = false
      // generic walk (same shape as JxQuery.referenced): every variable
      // name inside the select values, wherever it nests
      def vars(x: Any): Seq[String] = x match {
        case Variable(n) if n != "." && n != "*" && !n.endsWith(".*") => Seq(n)
        case p: Product => p.productIterator.toSeq.flatMap(vars)
        case xs: Iterable[_] => xs.toSeq.flatMap(vars)
        case _ => Nil
      }
      // first array-of-struct crossing of each select path. Descent is
      // supported only at a resolution boundary (the array is the FIRST
      // segment after an already-exploded prefix) — arm-RELATIVE names,
      // like the reference's. A deeper fully-qualified crossing would
      // silently resolve to the parent's array after the explode, so it
      // is rejected instead.
      val crossings = q.select.flatMap(s => vars(s.value)).distinct.flatMap { n =>
        val segs = n.split('.').toSeq
        val prefixes = (path.reverse.map(Seq(_)) :+ Seq.empty[String])
        // deepest-arm-first, and the first prefix with an OUTCOME decides
        // for this name: a name that resolves through plain struct fields
        // on a deeper arm is directly selectable (that is how mkCtx will
        // compile it), so a same-named ARRAY on a shallower prefix must
        // NOT trigger a spurious explode that would multiply the output
        // rows (review r9)
        val decided: Option[Option[(String, Seq[String], Boolean)]] =
          prefixes.view.map { p =>
            if (resolvesPlain(df.schema, p ++ segs)) Some(None)
            else firstArraySeg(df.schema, p ++ segs, p.size) match {
              case Some((arm, atBoundary)) => Some(Some((n, arm, atBoundary)))
              case None => None
            }
          }.collectFirst { case Some(d) => d }
        decided.flatten.toSeq
      }
      val arms = crossings.collect { case (_, arm, true) => arm }.distinct.filterNot(done)
      if (arms.size > 1)
        throw new IllegalArgumentException(
          s"select descends two nested branches: ${arms.mkString(", ")} — query one arm via `from`")
      arms.headOption match {
        case Some(arm) =>
          val seg = arm.last
          df = df.withColumn(seg, explode_outer(col(arm.mkString("."))))
          path = path :+ seg
          done += arm
          changed = true
        case None =>
          val deep = crossings.collect { case (n, arm, false) if !done(arm) => n }
          if (deep.nonEmpty)
            throw new IllegalArgumentException(
              s"select crosses a nested array mid-path (${deep.mkString(", ")}): " +
                "use the arm-relative name or query the arm via `from`")
      }
    }
    (df, path)
  }

  /** The path (up to and including) the first array-of-struct segment a
    * dotted reference crosses WITH fields remaining after it, or None;
    * the Boolean is true when the crossing sits directly at the
    * resolution boundary (`skip` = number of prefix segments). */
  /** The path resolves through plain struct fields from the root (no
    * array-of-struct crossing before the final segment) — directly
    * selectable, so implicit descent must not fire for it. */
  private def resolvesPlain(schema: StructType, segs: Seq[String]): Boolean = {
    var st: DataType = schema
    var i = 0
    while (i < segs.size) {
      st match {
        case s: StructType => s.fields.find(_.name == segs(i)) match {
          case Some(f) => st = f.dataType
          case None => return false
        }
        case _ => return false
      }
      i += 1
    }
    true
  }

  private def firstArraySeg(schema: StructType, segs: Seq[String], skip: Int): Option[(Seq[String], Boolean)] = {
    var st: DataType = schema
    var i = 0
    while (i < segs.size) {
      st match {
        case s: StructType => s.fields.find(_.name == segs(i)) match {
          case Some(f) => f.dataType match {
            case ArrayType(_: StructType, _) if i < segs.size - 1 && i >= skip =>
              return Some((segs.take(i + 1), i == skip))
            case other => st = other
          }
          case None => return None
        }
        case _ => return None
      }
      i += 1
    }
    None
  }

  /** `having` on the scalar-aggregate path; groupby and edges apply the
    * same filter inline, before their sort/limit. */
  private def applyHaving(q: JxQuery, out: DataFrame): DataFrame =
    q.having.fold(out)(h => out.filter(JxCompiler.filterPred(h, outputCtx)))

  // ---- setop: filter → window → sort → select → limit -------------------

  private def runSetop(q: JxQuery, df0: DataFrame, path: Seq[String], ctx: JxCompiler.Ctx): DataFrame = {
    var df = df0
    for (w <- q.windows) df = applyWindow(df, w, ctx)
    // tuple-offset sorts (bare integers / {"offset": i}) index the select
    // clause list; the sort runs pre-projection so substitute the i-th
    // select VALUE expression (reference OffsetOp, expressions.py:284-299)
    val sortClauses = q.sort.map { sc =>
      sc.value match {
        case OffsetOp(i) =>
          if (i < 0 || i >= q.select.size)
            throw new IllegalArgumentException(
              s"sort offset $i out of range of the ${q.select.size}-column select tuple")
          sc.copy(value = q.select(i).value)
        case _ => sc
      }
    }
    val sorted =
      if (sortClauses.isEmpty) df
      else df.orderBy(sortClauses.map(sortCol(_, ctx)): _*)
    val selected =
      if (!q.selectGiven && q.select.isEmpty) {
        if (path.nonEmpty) sorted.select(col(path.last + ".*"))
        else sorted
      } else {
        val cols = q.select.flatMap(selectCols(_, sorted, path, ctx))
        sorted.select(cols: _*)
      }
    q.limit.fold(selected)(n => selected.limit(n.toInt))
  }

  /** Expand one select clause; `leaves`/`.*` may yield several columns. */
  private def selectCols(s: SelectClause, df: DataFrame, path: Seq[String], ctx: JxCompiler.Ctx): Seq[Column] =
    s.value match {
      case Variable("*") | LeavesOp("") | LeavesOp(".") =>
        leafColumns(df, path).map { case (name, c) => c.as(name) }
      case Variable(n) if n.endsWith(".*") =>
        val prefix = n.dropRight(2)
        val parent = ctx.resolveVar(prefix)
        structLeaves(dataTypeOf(df, ctx, prefix), parent).map { case (nm, c) => c.as(s.name match {
          case x if x == n => nm
          case other       => s"$other.$nm"
        })}
      case v => Seq(JxCompiler.compile(v, ctx).as(s.name))
    }

  private def dataTypeOf(df: DataFrame, ctx: JxCompiler.Ctx, name: String): DataType =
    df.select(ctx.resolveVar(name)).schema.fields.head.dataType

  private def structLeaves(dt: DataType, parent: Column): Seq[(String, Column)] = dt match {
    case st: StructType => st.fields.toIndexedSeq.flatMap { f =>
      structLeaves(f.dataType, parent.getField(f.name)).map {
        case ("", c)   => f.name -> c
        case (suff, c) => s"${f.name}.$suff" -> c
      }
    }
    case _ => Seq("" -> parent)
  }

  private def leafColumns(df: DataFrame, path: Seq[String]): Seq[(String, Column)] = {
    val root: Seq[(String, Column, DataType)] =
      if (path.nonEmpty) {
        val p = path.last
        val dt = df.select(col(p)).schema.fields.head.dataType
        Seq((p, col(p), dt))
      } else df.schema.fields.toIndexedSeq.map(f => (f.name, col(f.name), f.dataType))
    root.flatMap {
      case (_, c, st: StructType) => structLeaves(st, c)
      case (n, c, _)              => Seq(n -> c)
    }
  }

  private def sortCol(s: SortClause, ctx: JxCompiler.Ctx): Column = {
    val c = JxCompiler.compile(s.value, ctx)
    // nulls sort least in either direction (reference jx.py:562-627)
    if (s.dir >= 0) c.asc_nulls_first else c.desc_nulls_last
  }

  // ---- aggregate helpers -------------------------------------------------

  def aggColumn(s: SelectClause, ctx: JxCompiler.Ctx): Column = {
    lazy val v = JxCompiler.compile(s.value, ctx)
    val agg = s.aggregate.getOrElse("none") match {
      // count(".") counts rows of the CURRENT arm: at the root "." is a
      // never-null struct (= COUNT(*)); on a nested arm it is the exploded
      // child struct, null for padded parents with no children — those
      // must not count (reference drill semantics, jx.py:672-941)
      case "count"       => count(v)
      case "sum"         => sum(v)
      case "average"     => avg(v)
      case "minimum"     => min(v)
      case "maximum"     => max(v)
      case "median"      => median(v)
      case "percentile"  => percentile(v, lit(s.percentile.getOrElse(0.5))) // exact, interpolated (matches DuckDB quantile_cont)
      case "cardinality" => count_distinct(v)
      case "union"       => array_sort(collect_set(v))
      case "list"        => array_sort(collect_list(v))
      case "one"         =>
        // error on conflicting values (reference windows.py:76-101).
        // min != max detects conflicts with plain partial aggregates —
        // count_distinct would force an expand/two-phase plan
        when(min(v) =!= max(v),
          raise_error(concat(lit(s"`one` aggregate saw conflicting values for ${s.name}"))))
          .otherwise(max(v))
      case "first"       => first(v, ignoreNulls = true)
      case "last"        => last(v, ignoreNulls = true)
      // population variance/stddev, matching the reference STATS templates
      // (vendor/jx_sqlite/__init__.py:157-167: (1-1/n)*VARIANCE = var_pop)
      case "var"         => var_pop(v)
      case "std"         => stddev_pop(v)
      case "sos"         => sum(v * v)
      case "stats"       =>
        // struct per reference STATS template (vendor/jx_sqlite/__init__.py:157-167)
        struct(
          count(v).as("count"), sum(v).as("sum"), min(v).as("min"), max(v).as("max"),
          avg(v).as("avg"), var_pop(v).as("var"), stddev_pop(v).as("std"),
          sum(v * v).as("sos"))
      case "exists"      => (count(v) > 0).as(s.name)
      case other => throw new IllegalArgumentException(s"unknown aggregate: $other")
    }
    val withDflt = s.default match {
      case Some(d) => coalesce(agg, JxCompiler.compile(d, ctx))
      case None    => agg
    }
    withDflt.as(s.name)
  }

  private def runScalarAgg(q: JxQuery, df: DataFrame, ctx: JxCompiler.Ctx): DataFrame = {
    val aggs = q.select.map(aggColumn(_, ctx))
    df.agg(aggs.head, aggs.tail: _*)
  }

  private def runGroupby(q: JxQuery, df: DataFrame, ctx: JxCompiler.Ctx): DataFrame = {
    val keys = q.groupby.map(e => JxCompiler.compile(e.value.get, ctx).as(e.name))
    val aggs = q.select.map(aggColumn(_, ctx))
    val grouped = df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    val had = q.having.fold(grouped)(h =>
      grouped.filter(JxCompiler.filterPred(h, outputCtx)))
    val ordered = had.orderBy(q.groupby.map(e => col(e.name).asc_nulls_first): _*)
    q.limit.fold(ordered)(n => ordered.limit(n.toInt))
  }

  /** names resolve against the aggregated output columns */
  private def outputCtx: JxCompiler.Ctx = JxCompiler.Ctx(resolveVar = col)

  // ---- edges: dense cube ---------------------------------------------------

  /** One resolved edge: how to classify a fact row into a partition index,
    * plus the partition values (index order) as driver values. */
  private case class ResolvedEdge(
      name: String,
      idxCol: Column,          // nullable partition index for a fact row (null → null bucket)
      values: Seq[Any],        // partition values, index order
      dataType: DataType,      // Spark type of the values: the edge's output column
      allowNulls: Boolean,
      explodes: Boolean = false) { // true when idxCol is an array (interval edges)
    def domain: Seq[Any] = values ++ (if (allowNulls) Seq(null) else Nil)
  }

  /** A DataFrame over driver rows: a LocalRelation, so the optimizer folds
    * projections, filters and limits over it without a Spark job. */
  private def localDF(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def sparkTypeOf(v: Any): DataType = v match {
    case _: Long => LongType
    case _: Int => IntegerType
    case _: Double => DoubleType
    case _: Boolean => BooleanType
    case _ => StringType
  }

  private def resolveEdge(spark: SparkSession, e: EdgeClause, df: DataFrame, ctx: JxCompiler.Ctx): ResolvedEdge = {
    e.domain match {
      case Domain.SetDomain(parts) =>
        val idx =
          if (parts.forall(_.where.isEmpty)) {
            val v = JxCompiler.compile(e.value.get, ctx)
            parts.zipWithIndex.foldRight(lit(null).cast(IntegerType)) { case ((p, pi), acc) =>
              when(v <=> JxCompiler.litAny(p.value.getOrElse(p.name)), lit(pi)).otherwise(acc)
            }
          } else {
            // predicate partitions → CASE WHEN chain (reference edges_table.py:79-86)
            parts.zipWithIndex.foldRight(lit(null).cast(IntegerType)) { case ((p, pi), acc) =>
              val cond = p.where.map(JxCompiler.truthy(_, ctx))
                .getOrElse(JxCompiler.compile(e.value.get, ctx) <=> JxCompiler.litAny(p.value.getOrElse(p.name)))
              when(cond, lit(pi)).otherwise(acc)
            }
          }
        val partValues: Seq[Any] = parts.map(p => p.value.getOrElse(p.name))
        val dt = partValues.collectFirst { case v if v != null => sparkTypeOf(v) }.getOrElse(StringType)
        ResolvedEdge(e.name, idx, partValues, dt, e.allowNulls)

      case Domain.DefaultDomain(limit) =>
        // discover top-k values by frequency (reference edges_table.py:257-264)
        val v = JxCompiler.compile(e.value.get, ctx)
        val vdt = df.select(v.as("__v")).schema.head.dataType
        val topk = df.groupBy(v.as("__v")).agg(count(lit(1)).as("__n"))
          .filter(col("__v").isNotNull)
          .orderBy(col("__n").desc, col("__v").asc_nulls_first)
          .limit(math.max(limit, 1))
          .select(col("__v")).collect().map(_.get(0)).toSeq
        val idx = topk.zipWithIndex.foldRight(lit(null).cast(IntegerType)) { case ((value, pi), acc) =>
          when(v <=> JxCompiler.litAny(value), lit(pi)).otherwise(acc)
        }
        ResolvedEdge(e.name, idx, topk, vdt, e.allowNulls)

      case Domain.RangeDomain(mn, mx, step) =>
        val n = math.ceil((mx - mn) / step).toInt
        mkIntervalEdge(spark, e, mn, mx, step, n, ctx,
          idx => lit(mn) + idx * lit(step))

      case Domain.DurationDomain(mn, mx, step) =>
        val n = math.ceil((mx - mn) / step).toInt
        mkIntervalEdge(spark, e, mn, mx, step, n, ctx,
          idx => lit(mn) + idx * lit(step))

      case Domain.TimeDomain(tmin, tmax, stepSec, stepMonths) =>
        if (stepMonths == 0) {
          val mn = tmin.getTime / 1000.0
          val mx = tmax.getTime / 1000.0
          val n = math.ceil((mx - mn) / stepSec).toInt
          mkIntervalEdge(spark, e, mn, mx, stepSec, n, ctx,
            idx => timestamp_seconds(lit(mn) + idx * lit(stepSec)))
        } else {
          // calendar-month intervals: idx = month-ordinal difference.
          // The row-side year()/month() evaluate in the SESSION timezone,
          // so the driver-side domain ordinals and labels must use that
          // same zone (graft pins UTC, but a non-UTC session must not
          // silently misbucket boundary rows — review r9). Labels go
          // through a TIMESTAMP literal (micros-exact), never
          // java.sql.Date (whose Spark conversion reads the JVM default
          // zone, not the session's).
          val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
          val zmin = tmin.toInstant.atZone(zone)
          val zmax = tmax.toInstant.atZone(zone)
          val ordMin = zmin.getYear * 12 + zmin.getMonthValue - 1
          val n = math.ceil(((zmax.getYear * 12 + zmax.getMonthValue - 1) - ordMin).toDouble / stepMonths).toInt
          val v = JxCompiler.compile(e.value.get, ctx)
          val ord = (year(v) * lit(12) + month(v) - lit(1) - lit(ordMin)) / lit(stepMonths)
          val idx = when(v.isNull || v < lit(tmin) || v >= lit(tmax), lit(null).cast(IntegerType))
            .otherwise(floor(ord).cast(IntegerType))
          val (values, dt) = intervalValues(spark, n,
            id => to_timestamp(add_months(lit(tmin).cast(DateType), id.cast(IntegerType) * stepMonths)))
          ResolvedEdge(e.name, idx, values, dt, e.allowNulls)
        }
    }
  }

  /** An interval domain's partition values: `valueOf` over the ids
    * 0 until n, evaluated by Spark's own arithmetic (and session zone) on
    * a local relation, which the optimizer folds on the driver. */
  private def intervalValues(spark: SparkSession, n: Int, valueOf: Column => Column): (Seq[Any], DataType) = {
    val ids = localDF(spark, (0 until n).map(i => Row(i.toLong)), StructType(Seq(StructField("id", LongType))))
    val vals = ids.select(valueOf(col("id")))
    (vals.collect().map(_.get(0)).toSeq, vals.schema.head.dataType)
  }

  /** Interval edge via arithmetic bucketing: idx = floor((v-min)/step).
    * When the edge has `range:{min,max}` the row lands in EVERY overlapping
    * part (reference lists/aggs.py:123-147) → idx becomes an exploded sequence. */
  private def mkIntervalEdge(
      spark: SparkSession, e: EdgeClause,
      mn: Double, mx: Double, step: Double, n: Int,
      ctx: JxCompiler.Ctx, valueOf: Column => Column): ResolvedEdge = {
    def numeric(expr: JxExpr): Column = {
      // one cast serves both shapes: cast(TIMESTAMP AS DOUBLE) is epoch
      // SECONDS by Spark's contract (what the TimeDomain seconds path
      // relies on); on numerics it is a plain widening cast
      JxCompiler.compile(expr, ctx).cast(DoubleType)
    }
    val (values, dt) = intervalValues(spark, n, valueOf)
    e.range match {
      case Some((minE, maxE)) =>
        val lo = numeric(minE); val hi = numeric(maxE)
        val loIdx = greatest(floor((lo - lit(mn)) / lit(step)).cast(IntegerType), lit(0))
        val hiIdx = least(floor(((hi - lit(mn)) / lit(step)) - lit(1e-9)).cast(IntegerType), lit(n - 1))
        // hiIdx < loIdx (zero-width interval on a bucket boundary, or dirty
        // max < min) would make sequence() DESCEND and count wrong buckets;
        // such rows overlap nothing → null bucket (reference overlap
        // predicate part.min < hi && part.max > lo, lists/aggs.py:123-147)
        val arr = when(
            lo.isNull || hi.isNull || hi <= lit(mn) || lo >= lit(mx) || hiIdx < loIdx,
            array(lit(null).cast(IntegerType)))
          .otherwise(sequence(loIdx, hiIdx))
        ResolvedEdge(e.name, arr, values, dt, e.allowNulls, explodes = true)
      case None =>
        val v = numeric(e.value.get)
        val idx = when(v.isNull || v < lit(mn) || v >= lit(mx), lit(null).cast(IntegerType))
          .otherwise(floor((v - lit(mn)) / lit(step)).cast(IntegerType))
        ResolvedEdge(e.name, idx, values, dt, e.allowNulls)
    }
  }

  /** Edges result + each edge's resolved partition values in domain order
    * (null bucket appended when allowNulls) — the authoritative domains
    * for cube shaping; reconstruction from result rows is ambiguous when
    * partitions share values or a limit truncates the cube. The domains
    * are driver values: the Spark work is the aggregate (and a
    * DefaultDomain's top-k). */
  def runEdgesWithDomains(spark: SparkSession, q: JxQuery, load: String => DataFrame): (DataFrame, Seq[Seq[Any]]) = {
    val (domains, densified) = resolveEdges(spark, q, load)
    (densified(), domains)
  }

  /** The edges' domains, and the aggregate-and-densify step still to run,
    * so a caller can bound the cube on the domains before any aggregate. */
  private[jx] def resolveEdges(spark: SparkSession, q: JxQuery, load: String => DataFrame)
      : (Seq[Seq[Any]], () => DataFrame) = {
    val (filtered, _, ctx) = prologue(q, load)
    val edges = q.edges.map(resolveEdge(spark, _, filtered, ctx))
    (edges.map(_.domain), () => densify(spark, q, filtered, ctx, edges))
  }

  /** ONE grouped aggregate on the partition indices, collected (at most
    * Π(parts + null) rows) and densified on the driver: every cell in
    * index order, null bucket last (reference edges_table.py:499-504), an
    * empty cell's measures null before `default`. The grid is a local
    * relation, so default/having/limit over it run on the driver. */
  private def densify(spark: SparkSession, q: JxQuery, df0: DataFrame,
                      ctx: JxCompiler.Ctx, edges: Seq[ResolvedEdge]): DataFrame = {
    val idxNames = edges.indices.map(i => s"__e${i}_idx")

    // classify each fact row; interval (range) edges explode to every matching cell
    var df = df0
    edges.zip(idxNames).foreach { case (e, nm) =>
      df = if (e.explodes) df.withColumn(nm, explode(e.idxCol)) else df.withColumn(nm, e.idxCol)
    }
    val aggs = q.select.map(aggColumn(_, ctx))
    val grouped = df.groupBy(idxNames.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val cells = grouped.collect().map(r => r.toSeq.take(edges.size) -> r.toSeq.drop(edges.size)).toMap

    // row-major over the edges' (index, value) axes; an index outside the
    // domain (or a null without allowNulls) names no cell and drops
    val axes = edges.map(e => e.values.indices.map(i => (i: Any, e.values(i))) ++
      (if (e.allowNulls) Seq((null, null)) else Nil))
    val grid = axes.foldLeft(Seq(Seq.empty[(Any, Any)]))((acc, axis) => for (c <- acc; x <- axis) yield c :+ x)
    val empty = Seq.fill(q.select.size)(null)
    val rows = grid.map(c => Row.fromSeq(c.map(_._2) ++ cells.getOrElse(c.map(_._1), empty)))
    // positional names: edge and measure names may hold dots
    val schema = StructType(
      edges.zipWithIndex.map { case (e, i) => StructField(s"__e${i}_v", e.dataType) } ++
        grouped.schema.fields.drop(edges.size).zipWithIndex.map { case (f, j) => StructField(s"__m$j", f.dataType) })
    var out = localDF(spark, rows, schema).select(
      edges.zipWithIndex.map { case (e, i) => col(s"__e${i}_v").as(e.name) } ++
        q.select.zipWithIndex.map { case (s, j) => s.default match {
          case Some(d) => coalesce(col(s"__m$j"), JxCompiler.compile(d, JxCompiler.defaultCtx)).as(s.name)
          case None    => col(s"__m$j").as(s.name)
        }}: _*)
    // having filters cells BEFORE limit (same order as the groupby path)
    // — applying it after an explicit limit could drop qualifying cells
    // that fell outside the pre-filter limit
    out = q.having.fold(out)(h => out.filter(JxCompiler.filterPred(h, outputCtx)))
    q.limit.fold(out)(nLim => out.limit(nLim.toInt))
  }

  // ---- window clauses -------------------------------------------------------

  private def applyWindow(df: DataFrame, w: WindowClause, ctx: JxCompiler.Ctx): DataFrame = {
    val partCols = w.edges.map(JxCompiler.compile(_, ctx))
    val sortCols = w.sort.map(sortCol(_, ctx))
    var spec: WindowSpec =
      if (partCols.nonEmpty) Window.partitionBy(partCols: _*)
      else Window.partitionBy(lit(1))
    if (sortCols.nonEmpty) spec = spec.orderBy(sortCols: _*)

    val winCtx = ctx.copy(
      resolveVar = name =>
        if (name == "rownum") row_number().over(spec) - lit(1)
        else ctx.resolveVar(name),
      resolveRows = (v, off) => {
        val c = JxCompiler.compile(v, ctx)
        if (off >= 0) lead(c, off).over(spec) else lag(c, -off).over(spec)
      })

    // window `where` (reference jx.py:979-985 "DO NOT CONSIDER THESE
    // VALUES"): non-matching rows contribute nothing and receive no
    // value. Nulling their contribution matches the reference exactly for
    // accumulative aggregates (nulls are ignored); for ROW-OFFSET frames
    // the reference renumbers over the filtered subsequence while this
    // keeps the original row positions — a documented deviation (the
    // filtered-renumber needs a join-back on a unique key).
    w.aggregate match {
      case None | Some("none") =>
        val v = JxCompiler.compile(w.value, winCtx)
        val out = w.where match {
          case Some(cond) => when(JxCompiler.truthy(cond, ctx), v)
          case None       => v
        }
        df.withColumn(w.name, out)
      case Some(agg) =>
        val value = w.where match {
          case Some(cond) => when(JxCompiler.truthy(cond, ctx), JxCompiler.compile(w.value, ctx))
          case None       => JxCompiler.compile(w.value, ctx)
        }
        val aggC = agg match {
          case "count"   => count(value)
          case "sum"     => sum(value)
          case "average" => avg(value)
          case "minimum" => min(value)
          case "maximum" => max(value)
          case "first"   => first(value, ignoreNulls = true)
          case "last"    => last(value, ignoreNulls = true)
          case "list"    => collect_list(value)
          case "cardinality" => approx_count_distinct(value)
          // exact sliding percentile (reference windows.py:281-306)
          case "median"      => percentile(value, lit(0.5))
          case "percentile"  => percentile(value, lit(w.percentile.getOrElse(0.5)))
          case other => throw new IllegalArgumentException(s"window aggregate: $other")
        }
        val framed = w.range match {
          case Some((mn, mx)) =>
            // JX window range is half-open [rownum+min, rownum+max);
            // Spark bounds are inclusive ⇒ rowsBetween(min, max-1)
            val lo = if (mn == Long.MinValue) Window.unboundedPreceding else mn
            val hi = if (mx == Long.MaxValue) Window.unboundedFollowing else mx - 1
            spec.rowsBetween(lo, hi)
          case None =>
            if (sortCols.nonEmpty) spec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            else spec.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        }
        df.withColumn(w.name, aggC.over(framed))
    }
  }
}
