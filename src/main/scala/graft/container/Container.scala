package graft.container

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.jx.{Formats, JxCompiler, JxExpr, JxQuery, QueryRunner}

/**
 * The reference's Container interface (vendor/jx_base/container.py:
 * 48-147): anything queryable via `query/filter/sort/select/window/
 * groupby/format`. Implementations: [[ListContainer]] (local rows) and
 * [[FactStore]] (mutable parquet-snapshot store).
 */
trait Container {
  def name: String
  def dataFrame: DataFrame
  def spark: SparkSession

  /** Run a JX JSON query against this container ("from" is implied). */
  def query(json: String): DataFrame = {
    val q = JxQuery.parse(json)
    QueryRunner.run(spark, q.copy(from = rewriteFrom(q.from)), load)
  }

  /** Query returning the reference's format envelope (list/table/cube).
    * `format:"container"` has a non-String result — use [[queryContainer]]. */
  def queryFormatted(json: String): String = {
    val q = JxQuery.parse(json)
    if (q.format == "container")
      throw new IllegalArgumentException("format:\"container\" returns a store — use queryContainer")
    Formats.run(spark, q.copy(from = rewriteFrom(q.from)), load)
  }

  /** `format:"container"`: materialize the query result as a NEW queryable
    * [[FactStore]] and return it (reference jx_sqlite/query_table.py:
    * 97-100 — a query result becomes a first-class table). */
  def queryContainer(json: String, dir: Path, newName: String): FactStore = {
    val q = JxQuery.parse(json)
    val result = QueryRunner.run(spark, q.copy(from = rewriteFrom(q.from)), load)
    new FactStore(spark, newName, dir).insert(result)
  }

  private def rewriteFrom(from: String): String =
    if (from == "." || from.isEmpty) name
    // exact name or name-DOT-path counts as already qualified; a bare
    // startsWith would swallow any from merely SHARING the name as a
    // string prefix (container "order", from "order_items" — a relative
    // child column, not a path under this container; review r9)
    else if (from == name || from.startsWith(name + ".")) from
    else s"$name.$from" // "orders.lineitems" relative to this container

  protected def load: String => DataFrame =
    n => if (n == name) dataFrame else spark.read.parquet(n)
}

/** In-memory rows as a container (reference ListContainer,
  * vendor/jx_python/containers/list_usingPythonList.py:34-45). */
class ListContainer(val spark: SparkSession, val name: String, df: DataFrame) extends Container {
  def dataFrame: DataFrame = df
}

/**
 * Mutable document store over versioned parquet snapshots — the
 * reference's QueryTable insert/update/upsert/delete surface
 * (vendor/jx_sqlite/insert_table.py:40-370, query_table.py:45-47)
 * without an external table format: each mutation writes snapshot
 * `v{n}` and atomically advances a `_CURRENT` marker (readers pin the
 * snapshot they started from — the same copy-on-write contract Delta/
 * Iceberg formalize; swap in Delta MERGE on a real deployment for
 * row-level conflict handling).
 *
 * Schema evolution on insert = unionByName(allowMissingColumns): new
 * fields widen the schema, missing fields null-pad (the reference's
 * ALTER TABLE ADD COLUMN, insert_table.py:255-299), and a column seen
 * as scalar on one side and array-of-the-same-type on the other is
 * migrated by promoting the scalar side to 1-element arrays — the
 * reference's nest migration (snowflake.py:117-202).
 */
class FactStore(val spark: SparkSession, val name: String, dir: Path) extends Container {

  private def marker = dir.resolve("_CURRENT")

  private def currentVersion: Int =
    if (Files.exists(marker)) Files.readString(marker).trim.toInt else 0

  // Schemas of snapshot versions this INSTANCE has written or already
  // inferred (guide §1.2 fixed cost): snapshots are write-once
  // (copy-on-write — only vacuum deletes, never rewrites), so a
  // version's schema is immutable and passing it back explicitly skips
  // the footer-inference job every read-back otherwise runs — and the
  // store re-reads itself on EVERY mutation. Instance-local on purpose:
  // nothing survives the invocation, and an instance opened over a
  // pre-existing store pays one inference per version, then memoizes.
  private val snapshotSchemas =
    scala.collection.mutable.Map[Int, org.apache.spark.sql.types.StructType]()

  /** Parquet rewrites every column to OPTIONAL on write (Spark's
    * documented nullability normalization), so the read-back schema is
    * the written frame's schema with nullable forced true at every
    * nesting level and field metadata dropped — reproduce that exactly
    * or the memoized read would differ from an inferred one. */
  private def asReadBack(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name, asReadBack(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(asReadBack(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(asReadBack(m.keyType), asReadBack(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  private def readSnapshot(v: Int): DataFrame = {
    val path = dir.resolve(s"v$v").toString
    snapshotSchemas.get(v) match {
      case Some(sc) => spark.read.schema(sc).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        snapshotSchemas(v) = df.schema
        df
    }
  }

  def dataFrame: DataFrame = {
    val v = currentVersion
    require(v > 0, s"FactStore $name is empty — insert first")
    readSnapshot(v)
  }

  def isEmpty: Boolean = currentVersion == 0

  /** Snapshot versions on disk, ascending — mutations never delete
    * prior snapshots (only [[vacuum]] does), so the surviving history
    * is addressable. */
  def versions: Seq[Int] =
    if (!Files.exists(dir)) Seq.empty
    else {
      val it = Files.list(dir)
      try it.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.matches("v\\d+") => s.drop(1).toInt }
        .toSeq.sorted
      finally it.close()
    }

  /** Retention: delete all but the last `keepLast` snapshots (the
    * current version always survives). Old readers pinned to a
    * vacuumed snapshot fail on their next read — the same contract
    * Delta's VACUUM documents. Returns the removed versions. */
  def vacuum(keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, s"keepLast: $keepLast")
    val vs = versions
    val drop = vs.dropRight(keepLast).filterNot(_ == currentVersion)
    drop.foreach(v => graft.util.Fs.deleteRecursively(dir.resolve(s"v$v")))
    drop
  }

  /** SNAPSHOT DIFF between two versions, keyed by `key`: one row per
    * entity that changed — 'added' (in `vB` only), 'removed' (in `vA`
    * only), 'changed' (in both, any non-key field differs) — the CDC
    * view of the copy-on-write history. Schemas may differ across
    * versions (evolution): missing columns null-pad before comparison,
    * and the row fingerprint is to_json of the non-key struct (null
    * fields are omitted, so a column added later changes only rows
    * where it is non-null). One key-hash shuffle per side. */
  def diff(vA: Int, vB: Int, key: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = dataFrameAt(vA); val b = dataFrameAt(vB)
    val cols = (a.columns ++ b.columns).distinct.sorted
    val dtypes = (b.schema.fields ++ a.schema.fields).map(f => f.name -> f.dataType).toMap
    def aligned(df: DataFrame) = cols.foldLeft(df)((d, c) =>
        if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast(dtypes(c))))
      .select(cols.map(col): _*)
    val nonKey = cols.filterNot(_ == key)
    def keyed(df: DataFrame) = aligned(df)
      .select(col(key), to_json(struct(nonKey.map(col): _*)).as("__fp"))
    val ka = keyed(a); val kb = keyed(b)
    val added = kb.join(ka.select(key), Seq(key), "left_anti")
      .select(lit("added").as("change"), col(key))
    val removed = ka.join(kb.select(key), Seq(key), "left_anti")
      .select(lit("removed").as("change"), col(key))
    val changed = ka.as("a").join(kb.as("b"), key)
      .where(col("a.__fp") =!= col("b.__fp"))
      .select(lit("changed").as("change"), col(key))
    added.unionByName(removed).unionByName(changed)
  }

  /** Content FINGERPRINT of a snapshot — the integrity check of
    * replication/backup tooling: a 64-bit digest of the full content
    * that is PARTITIONING-INVARIANT (SUM of per-row hashes mod 2⁶⁴ —
    * addition is commutative/associative, so file layout, shuffle
    * width, and row order cannot change it; [[optimize]] provably
    * preserves it while any row mutation flips it). Sum, not xor: xor
    * cancels even-multiplicity rows ({A,A,B} would digest equal to
    * {B}), and inserts carry no key constraint, so duplicate rows are
    * legal content that must count — the standard multiset digest.
    * (Non-ANSI long overflow wraps two's-complement = the mod 2⁶⁴
    * intended here.) Row hash = xxhash64 of the to_json rendering
    * under the SORTED column list, so two snapshots with the same rows
    * in different column orders fingerprint equal; an empty snapshot
    * digests 0. One scan, one 8-byte aggregate. */
  def contentFingerprint(v: Int): Long = {
    import org.apache.spark.sql.functions._
    val df = dataFrameAt(v)
    val cols = df.columns.sorted.toSeq
    df.select(xxhash64(to_json(struct(cols.map(col): _*))).as("__h"))
      .agg(coalesce(sum("__h"), lit(0L))).head().getLong(0)
  }

  /** SCHEMA DIFF between two snapshots — the evolution audit beside
    * [[diff]]'s row-level CDC: which columns were added, removed, or
    * retyped between versions (a consumer pinning `VERSION AS OF`
    * wants to know why its reads changed shape). Pure metadata — two
    * footer reads, no data scan. Returns (change, column_name,
    * type_a, type_b) rows, 'added'/'removed'/'retyped'. */
  def schemaDiff(vA: Int, vB: Int): Seq[(String, String, String, String)] = {
    val a = dataFrameAt(vA).schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val b = dataFrameAt(vB).schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val added = (b.keySet -- a.keySet).toSeq.sorted.map(c => ("added", c, null: String, b(c)))
    val removed = (a.keySet -- b.keySet).toSeq.sorted.map(c => ("removed", c, a(c), null: String))
    val retyped = (a.keySet & b.keySet).toSeq.sorted.collect {
      case c if a(c) != b(c) => ("retyped", c, a(c), b(c))
    }
    added ++ removed ++ retyped
  }

  /** TIME TRAVEL: read snapshot `v` exactly as written. Every mutation
    * is copy-on-write (a new `v{n}` dir + marker advance), so historical
    * versions stay intact and readable — the `VERSION AS OF` contract
    * Delta/Iceberg formalize, available here because the store never
    * mutates in place. */
  def dataFrameAt(v: Int): DataFrame = {
    require(v >= 1 && v <= currentVersion && Files.exists(dir.resolve(s"v$v")),
      s"version $v not on disk (have ${versions.mkString(",")})")
    readSnapshot(v)
  }

  /** OPTIMIZE: rewrite the CURRENT snapshot's file layout as a new
    * version — content byte-identical, files coalesced to
    * ⌈bytes / targetFileBytes⌉ and optionally range-sorted on `order`
    * (the compaction moment is the natural time to establish a
    * clustering; [[graft.ops.Layout.compact]] is the directory-level
    * sibling, this is its snapshot-versioned form: history keeps the
    * fragmented version addressable, readers pinned to it are
    * untouched, and [[vacuum]] reclaims it later — exactly Delta's
    * OPTIMIZE semantics). Incremental stores need this: every
    * [[insert]]/[[update]] pays a full snapshot write, but a store fed
    * by many small increments would otherwise accumulate the
    * micro-batch file layout of its LAST write forever. Returns
    * (filesBefore, filesAfter). */
  def optimize(targetFileBytes: Long, order: Seq[String] = Nil): (Long, Long) = {
    val v = currentVersion
    require(v > 0, s"FactStore $name is empty — nothing to optimize")
    val stats = graft.ops.Layout.compact(spark,
      dir.resolve(s"v$v").toString, dir.resolve(s"v${v + 1}").toString,
      targetFileBytes, order)
    graft.util.Fs.writeAtomically(marker, (v + 1).toString)
    (stats.filesBefore, stats.filesAfter)
  }

  private def writeSnapshot(df: DataFrame): Unit = {
    val next = currentVersion + 1
    // size-adaptive snapshot layout (r14, guide §6): every insert/
    // update/upsert rewrites the snapshot, and with the cluster's
    // default parallelism a KB-scale store left dozens of task-sized
    // files per VERSION — file-open cost every later read-back (and
    // this store re-reads itself on each increment) then pays.
    // ⌈est/target⌉ keeps small snapshots at one file while a 100-TB
    // store still fans out; `optimize()` remains the explicit
    // re-layout for stores grown incrementally.
    val target = spark.conf.get("spark.graft.snapshotTargetFileBytes",
      (128L << 20).toString).toLong
    // target <= 0 disables sizing and keeps the frame's own layout —
    // for callers that fragment DELIBERATELY (the optimize() fixture)
    val sized = if (target <= 0) df
      else {
        val n = graft.ops.Layout.sizedWritePartitions(df, target)
        // repartition vs coalesce (r15, ADVICE r14): coalesce adds no
        // shuffle barrier, so shrinking a snapshot computed from a
        // heavy upstream plan (a wide merge/aggregation feeding
        // insert/upsert) would collapse the WHOLE upstream computation
        // into n tasks, not just the write. When the sized count is
        // below the cluster's parallelism the output is small by
        // construction (≤ parallelism × target bytes) — shuffle it and
        // keep upstream parallel; at scale the sized count exceeds
        // parallelism and coalesce avoids re-shuffling a huge snapshot.
        if (n < spark.sparkContext.defaultParallelism) df.repartition(n)
        else df.coalesce(n)
      }
    sized.write.mode("overwrite").parquet(dir.resolve(s"v$next").toString)
    // memoize what a read-back would infer (see asReadBack) — the next
    // mutation re-reads this snapshot and skips the footer job
    snapshotSchemas(next) =
      asReadBack(sized.schema).asInstanceOf[org.apache.spark.sql.types.StructType]
    graft.util.Fs.writeAtomically(marker, next.toString)
  }

  def insert(docs: DataFrame): this.type = {
    val merged =
      if (isEmpty) docs
      else {
        val (cur, inc) = migrateNesting(dataFrame, docs)
        cur.unionByName(inc, allowMissingColumns = true)
      }
    writeSnapshot(merged)
    this
  }

  /** Named TAGS over the version history — the reproducibility pin of
    * lakeFS/Delta-style data versioning: a training run records
    * `tag("run-2024-06", v)` and re-reads that exact snapshot forever
    * (subject to [[vacuum]] retention — a tag is a pointer, not a
    * keep-alive; reading a vacuumed tag fails like any pinned read).
    * One file per tag under `tags/`, written atomically (tmp + move),
    * re-tagging moves the pointer. */
  def tag(name: String, v: Int): this.type = {
    require(name.matches("[A-Za-z0-9._-]+"), s"tag name: $name")
    require(versions.contains(v), s"no snapshot v$v to tag (have: $versions)")
    graft.util.Fs.writeAtomically(dir.resolve("tags").resolve(name), v.toString)
    this
  }

  def tags: Map[String, Int] = {
    val td = dir.resolve("tags")
    if (!Files.isDirectory(td)) Map.empty
    else {
      val it = Files.list(td)
      try it.iterator().asScala
        .filterNot(_.getFileName.toString.startsWith("."))
        .map(p => p.getFileName.toString -> Files.readString(p).trim.toInt)
        .toMap
      finally it.close()
    }
  }

  def dataFrameAtTag(name: String): DataFrame =
    dataFrameAt(tags.getOrElse(name,
      throw new NoSuchElementException(s"no tag '$name' (have: ${tags.keys.toSeq.sorted})")))

  /** Write-time DATA-QUALITY GATES (the Delta-expectations / CHECK-
    * constraint analog): each expectation is (name, JX predicate) over
    * the incoming rows — the same expression language as [[update]]'s
    * where. `mode`:
    *   - `"fail"`: any violation aborts, nothing is written (CHECK
    *     constraint semantics);
    *   - `"drop"`: rows violating ANY expectation (false or null) are
    *     excluded, clean rows insert;
    *   - `"track"`: everything inserts, violations only reported.
    * All per-rule violation counts, the any-rule count, and rows_in
    * come from ONE aggregate pass over the increment (no per-rule
    * scan); `"drop"` evaluates the predicates a second time inside the
    * insert's write — still one write pass. Returns the audit report:
    * (expectation, violations, rows_in, rows_written). */
  def insertWithExpectations(docs: DataFrame, expectations: Seq[(String, String)],
                             mode: String = "fail"): DataFrame = {
    require(Set("fail", "drop", "track")(mode), s"unknown mode: $mode")
    require(expectations.nonEmpty, "no expectations given")
    val c = ctx(docs)
    val preds = expectations.map { case (n, json) =>
      n -> JxCompiler.truthy(JxExpr.parseJson(json), c) }
    val allPass = preds.map(_._2).reduce(_ && _)
    // coalesce each sum: over an EMPTY increment (routine in incremental
    // pipelines) sum() is null and getLong would NPE — the right answer
    // is a zero-violation report and an empty insert
    val aggs = preds.map { case (n, p) =>
      coalesce(sum(when(!coalesce(p, lit(false)), 1L).otherwise(0L)), lit(0L))
        .as(s"__v_$n") } ++
      Seq(coalesce(sum(when(!coalesce(allPass, lit(false)), 1L).otherwise(0L)), lit(0L))
            .as("__any"),
          count(lit(1)).as("__rows_in"))
    val row = docs.agg(aggs.head, aggs.tail: _*).head()
    val viol = preds.indices.map(i => expectations(i)._1 -> row.getLong(i))
    val anyViol = row.getLong(preds.size)
    val rowsIn = row.getLong(preds.size + 1)
    if (mode == "fail" && anyViol > 0)
      throw new IllegalStateException("expectations violated, nothing written: " +
        viol.filter(_._2 > 0).map { case (n, v) => s"$n=$v" }.mkString(", "))
    insert(if (mode == "drop") docs.where(allPass) else docs)
    val rowsWritten = if (mode == "drop") rowsIn - anyViol else rowsIn
    import spark.implicits._
    viol.map { case (n, v) => (n, v, rowsIn, rowsWritten) }
      .toDF("expectation", "violations", "rows_in", "rows_written")
  }

  /** Scalar→array nest migration (reference snowflake.py:117-202): when a
    * column is T on one side and ARRAY&lt;T&gt; on the other, the scalar
    * side is promoted to a 1-element array (null stays null, matching the
    * reference's "missing value never becomes [null]"). Numeric columns
    * seen at different widths widen to the larger type (int → long →
    * double) — the Spark-typed stand-in for the reference's multi-typed
    * columns when the types are order-compatible (SURVEY §1.2). */
  private def migrateNesting(a: DataFrame, b: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types._
    def rank(dt: DataType): Int = dt match {
      case ByteType => 0; case ShortType => 1; case IntegerType => 2
      case LongType => 3; case FloatType => 4; case DoubleType => 5
      case _ => -1
    }
    var (x, y) = (a, b)
    val bTypes = b.schema.fields.map(f => f.name -> f.dataType).toMap
    for (fa <- a.schema.fields; bt <- bTypes.get(fa.name)) (fa.dataType, bt) match {
      case (at, bt2) if at == bt2 => ()
      case (at, ArrayType(et, _)) if at == et =>
        x = x.withColumn(fa.name, when(col(fa.name).isNotNull, array(col(fa.name))))
      case (ArrayType(et, _), vt) if vt == et =>
        y = y.withColumn(fa.name, when(col(fa.name).isNotNull, array(col(fa.name))))
      case (at, bt2) if rank(at) >= 0 && rank(bt2) >= 0 =>
        // an integral type meeting a fractional one widens to DOUBLE:
        // float cannot hold every int/long (24-bit mantissa), so
        // integral->float would silently round large values
        val fractional = Set[DataType](FloatType, DoubleType)
        val wide =
          if (fractional(at) != fractional(bt2)) DoubleType
          else if (rank(at) >= rank(bt2)) at else bt2
        if (at != wide) x = x.withColumn(fa.name, col(fa.name).cast(wide))
        if (bt2 != wide) y = y.withColumn(fa.name, col(fa.name).cast(wide))
      case _ => ()
    }
    (x, y)
  }

  /** Rows matching the JX where are rewritten with `set` columns.
    *
    * Three set shapes, mirroring the reference's update command
    * (insert_table.py:40-196):
    *   - scalar column → JX expression evaluated against the old row
    *     (a column absent from the schema is ADDED, null elsewhere —
    *     insert_table.py:62-73's column creation);
    *   - nested ARRAY column → JSON LITERAL (array of docs, one doc, or
    *     null): the matching parents' children are replaced WHOLESALE —
    *     the columnar equivalent of the reference's child-table DELETE
    *     joined on parent PK + INSERT of the new docs
    *     (insert_table.py:83-149). Fields the new docs introduce EXPAND
    *     the child schema, null on every other row — the reference's
    *     child-column add-back (insert_table.py:151-170);
    *   - dot path `arr.field` → per-child FIELD rewrite on matching
    *     parents, the JX value expression seeing the child's fields
    *     (and parent columns as fallback); `struct.field` rewrites a
    *     struct in place. A missing field is added to every element
    *     (null where not set).
    *
    * Evaluation order: the where-predicate and every SCALAR set
    * expression see the ORIGINAL row (SQL UPDATE semantics — `{a: b,
    * b: a}` swaps). Nested rewrites (array literals, dot paths) apply
    * after the scalars, in sorted-key order.
    */
  def update(whereJson: String, set: Map[String, String]): this.type = {
    val df = dataFrame
    // The where-predicate is MATERIALIZED as a column up front so every
    // branch filters on the OLD row even when a set entry rewrites a
    // column the predicate reads (SQL UPDATE semantics). Scalar set
    // expressions all land in ONE projection over the original frame —
    // a sequential withColumn fold would resolve cross-references by
    // NAME against the partially-updated row, in unordered Map
    // iteration order (review r9: {a -> b, b -> a} must swap, not
    // chain). Nested rewrites apply after scalars in sorted-key order:
    // array replacements are row-independent JSON literals and dot-path
    // values read child fields, so the ordering is just determinism.
    // pick a marker name guaranteed absent from the stored schema —
    // withColumn silently REPLACES a same-named user column and the
    // final drop would then delete it from the snapshot (review r10)
    val predCol = Iterator.from(0).map {
      case 0 => "__graft_upd"
      case i => s"__graft_upd_$i"
    }.find(n => !df.columns.contains(n)).get
    val base = df.withColumn(predCol,
      JxCompiler.truthy(JxExpr.parseJson(whereJson), ctx(df)))
    val pred = col(predCol)
    val (dotted, flat) = set.partition(_._1.contains("."))
    val (arrays, scalars) = flat.partition { case (n, _) =>
      df.schema.fields.find(_.name == n).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.ArrayType(_: org.apache.spark.sql.types.StructType, _)) => true
        case _ => false
      }
    }
    val c = ctx(base)
    val newVal = scalars.map { case (colName, exprJson) =>
      val old = if (df.schema.fieldNames.contains(colName)) col(colName) else lit(null)
      colName -> when(pred, JxCompiler.compile(JxExpr.parseJson(exprJson), c)).otherwise(old)
    }
    val kept = base.columns.map(n => newVal.getOrElse(n, col(n)).as(n))
    val added = newVal.toSeq.sortBy(_._1)
      .collect { case (n, e) if !base.columns.contains(n) => e.as(n) }
    val afterScalars = base.select((kept ++ added).toIndexedSeq: _*)
    val updated = (arrays.toSeq.sortBy(_._1) ++ dotted.toSeq.sortBy(_._1))
      .foldLeft(afterScalars) { case (d, (colName, exprJson)) =>
        if (colName.contains(".")) deepFieldUpdate(d, pred, colName, exprJson)
        else replaceChildren(d, pred, colName, exprJson)
      }
    writeSnapshot(updated.drop(predCol))
    this
  }

  /** Wholesale replacement of a nested array-of-docs column for rows
    * matching `pred` — see [[update]]. The literal's schema is inferred
    * with the JSON reader; new fields merge into the stored child
    * schema (existing field types win on conflict) and the CURRENT
    * children are re-parsed under the merged schema so both branches
    * agree — old rows null-pad the new fields. */
  private def replaceChildren(d: DataFrame, pred: org.apache.spark.sql.Column,
                              colName: String, docsJson: String): DataFrame = {
    import org.apache.spark.sql.types._
    val existing = d.schema(colName).dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    val trimmed = docsJson.trim
    if (trimmed == "null")
      return d.withColumn(colName,
        when(pred, lit(null).cast(ArrayType(existing))).otherwise(col(colName)))
    // single doc → 1-element child set, like the reference's listwrap
    val asArray = if (trimmed.startsWith("[")) trimmed else s"[$trimmed]"
    import spark.implicits._
    val inferred = spark.read.json(Seq(asArray).toDS()).schema
    if (inferred.fieldNames.contains("_corrupt_record"))
      throw new IllegalArgumentException(
        s"deep update of '$colName' expects a JSON doc-list literal, got: $docsJson")
    val merged = mergeStructs(existing, inferred)
    val newArr = from_json(lit(asArray), ArrayType(merged))
    val oldArr =
      if (merged == existing) col(colName)
      else from_json(to_json(col(colName)), ArrayType(merged))
    d.withColumn(colName, when(pred, newArr).otherwise(oldArr))
  }

  /** Recursive field-union of two struct schemas: existing fields keep
    * their position AND their type on conflict (the literal is parsed
    * under the stored type; unparseable values null out in PERMISSIVE
    * mode rather than corrupting the column), new fields append. */
  private def mergeStructs(a: org.apache.spark.sql.types.StructType,
                           b: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val aNames = a.fieldNames.toSet
    val kept = a.fields.map { f =>
      b.fields.find(_.name == f.name) match {
        case Some(g) => (f.dataType, g.dataType) match {
          case (x: StructType, y: StructType) =>
            StructField(f.name, mergeStructs(x, y), nullable = true)
          case (ArrayType(x: StructType, _), ArrayType(y: StructType, _)) =>
            StructField(f.name, ArrayType(mergeStructs(x, y)), nullable = true)
          case _ => f.copy(nullable = true)
        }
        case None => f.copy(nullable = true)
      }
    }
    StructType(kept ++ b.fields.filterNot(f => aNames(f.name)).map(_.copy(nullable = true)))
  }

  /** Dot-path update `arr.field` / `struct.path...` — see [[update]].
    * Inside an array the value expression is compiled per ELEMENT: its
    * variables resolve to the child's fields first, parent columns as
    * fallback, `.` to the whole child. */
  private def deepFieldUpdate(d: DataFrame, pred: org.apache.spark.sql.Column,
                              path: String, exprJson: String): DataFrame = {
    import org.apache.spark.sql.types._
    val Array(head, rest) = path.split("\\.", 2)
    val top = d.schema.fields.find(_.name == head).getOrElse(
      throw new IllegalArgumentException(s"deep update: no column '$head' in path '$path'"))
    val jx = JxExpr.parseJson(exprJson)
    top.dataType match {
      case ArrayType(elem: StructType, _) =>
        if (rest.contains("."))
          throw new IllegalArgumentException(
            s"deep update descends one field level inside a nested array (got '$path'); " +
            "replace the whole array with a doc-list literal for deeper rewrites")
        val names = elem.fieldNames
        val updated = transform(col(head), c => {
          val cctx = JxCompiler.Ctx(resolveVar = n =>
            if (n == ".") c
            else if (names.contains(n)) c.getField(n)
            else col(n))
          val old = if (names.contains(rest)) c.getField(rest) else lit(null)
          val v = when(pred, JxCompiler.compile(jx, cctx)).otherwise(old)
          val fields = names.map(fn => (if (fn == rest) v else c.getField(fn)).as(fn))
          val all = if (names.contains(rest)) fields else fields :+ v.as(rest)
          struct(all.toIndexedSeq: _*)
        })
        d.withColumn(head, updated)
      case _: StructType =>
        def walk(s: StructType, segs: List[String]): Boolean = segs match {
          case last :: Nil => s.fieldNames.contains(last)
          case h :: t => s.fields.find(_.name == h).map(_.dataType) match {
            case Some(inner: StructType) => walk(inner, t)
            case _ => false
          }
          case Nil => false
        }
        val exists = walk(top.dataType.asInstanceOf[StructType], rest.split("\\.").toList)
        val old =
          if (exists) rest.split("\\.").foldLeft(col(head))(_.getField(_)) else lit(null)
        val v = when(pred, JxCompiler.compile(jx, ctx(d))).otherwise(old)
        d.withColumn(head, col(head).withField(rest, v))
      case other =>
        throw new IllegalArgumentException(
          s"deep update path '$path': column '$head' is $other, expected array<struct> or struct")
    }
  }

  def delete(whereJson: String): this.type = {
    val df = dataFrame
    val pred = JxCompiler.truthy(JxExpr.parseJson(whereJson), ctx(df))
    writeSnapshot(df.filter(!pred))
    this
  }

  /** upsert = delete-matching-keys + insert (reference
    * query_table.py:45-47). */
  def upsert(docs: DataFrame, key: String): this.type = {
    if (isEmpty) insert(docs)
    else {
      val (cur, inc) = migrateNesting(dataFrame, docs)
      val keep = cur.join(inc.select(col(key)), Seq(key), "left_anti")
      writeSnapshot(keep.unionByName(inc, allowMissingColumns = true))
      this
    }
  }

  /** UPSERT-LATEST: merge an incoming batch of row VERSIONS, keeping
    * per key the most recent version by (tsCol, tieCol) across store ∪
    * batch — event-time conflict resolution instead of [[upsert]]'s
    * batch-wins rule. Because max is associative and commutative, the
    * final state is independent of HOW the feed was batched — the
    * property a streaming CDC apply needs (micro-batch boundaries are
    * an accident of arrival, and a late-arriving old version must
    * never clobber a newer row). One keyed aggregate per merge
    * ([[graft.ops.Dedup.latestByKey]]); schema evolution as in
    * [[insert]]. */
  def upsertLatest(docs: DataFrame, key: String, tsCol: String,
                   tieCol: String): this.type = {
    val inc = graft.ops.Dedup.latestByKey(docs, key, tsCol, tieCol)
    if (isEmpty) { writeSnapshot(inc); this }
    else {
      val (cur, inc2) = migrateNesting(dataFrame, inc)
      writeSnapshot(graft.ops.Dedup.latestByKey(
        cur.unionByName(inc2, allowMissingColumns = true), key, tsCol, tieCol))
      this
    }
  }

  private def ctx(df: DataFrame): JxCompiler.Ctx =
    JxCompiler.Ctx(resolveVar = n =>
      if (n == ".") struct(df.columns.map(col).toIndexedSeq: _*) else col(n))
}
