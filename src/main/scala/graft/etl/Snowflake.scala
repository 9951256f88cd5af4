package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Snowflake denormalization plan: a fact table, its many-to-one lookups
 * (→ inner-object columns) and one-to-many children (→ nested arrays),
 * recursively (reference: mysql_to_s3/snowflake_schema.py:288-513 discovers
 * this graph from information_schema; here the plan is explicit and a JDBC
 * metadata walk can synthesize it — see [[SchemaWalk]]).
 *
 * Scale design: lookups are broadcast joins (dimension tables are small);
 * each nesting level costs one groupBy(parent key) + one left join — the
 * canonical Spark nesting pattern, shuffling on the keys the data is
 * usually already clustered by.
 */
case class SnowflakePlan(
    table: String,
    key: String,
    lookups: Seq[Lookup] = Nil,
    children: Seq[Child] = Nil,
    /** like the reference `reference_only`: emit just this column's value
      * instead of the whole lookup object (snowflake_schema.py:382-392) */
    referenceOnly: Option[String] = None,
    /** drop FK columns from output ("lean" docs, README.md show_foreign_keys) */
    showForeignKeys: Boolean = true,
    /** sentinel strings scrubbed to null (extract.py:266,280-282) */
    nullValues: Seq[String] = Nil)

/** many-to-one: fact.fk → lookup table's key; becomes struct column `as`. */
case class Lookup(fk: String, as: String, plan: SnowflakePlan)

/** one-to-many: child.fk → this table's key; becomes array column `as`. */
case class Child(fk: String, as: String, plan: SnowflakePlan)

object DocAssembler {

  /** Assemble one row per `plan.table` row with lookups embedded as structs
    * and children as (key-ordered) arrays of structs.
    *
    * `needed` (when given) prunes assembly to the referenced surface:
    * unreferenced scalar columns are dropped before the child-side
    * `collect_list(struct(...))`, and whole lookup/child arms whose alias
    * is never referenced are skipped. At scale this is the difference
    * between shuffling 2 fields and shuffling the full document width —
    * Catalyst cannot prune struct fields through a collect_list aggregate,
    * so the projection must happen here, upstream of the shuffle.
    *
    * `restrictChildren = true` is the INCREMENTAL-extract shape: each
    * child table is semi-joined down to the current level's key set
    * before its own assembly and `collect_list` — an increment touching
    * 0.01% of parents must not re-aggregate 100% of children (at 100 TB
    * the child tables are the bulk of the data). The semi-join is NOT
    * broadcast-hinted on purpose: a watermark-bounded increment's key
    * set is small and AQE converts it to a broadcast join at runtime,
    * but a FIRST run's key set is the whole parent table — a forced
    * hint would try to ship it to the driver (review r9). Child rows
    * whose fk has no surviving parent contribute nothing to a left join
    * either way, so the output is identical (EtlSpec equivalence). */
  def assemble(plan: SnowflakePlan, load: String => DataFrame,
               needed: Option[Set[String]] = None,
               /** aliases a query consumes as WHOLE values — pruning does
                 * not descend below these arms (JxQuery.ReferencedCols) */
               whole: Set[String] = Set.empty,
               /** semi-join filter on this level's table: (column, keys) */
               keyFilter: Option[(String, DataFrame)] = None,
               restrictChildren: Boolean = false): DataFrame = {
    val keptLookups = plan.lookups.filter(lk => needed.forall(_.contains(lk.as)))
    val keptChildren = plan.children.filter(ch => needed.forall(_.contains(ch.as)))
    var df = scrub(load(plan.table), plan.nullValues)
    for (ns <- needed) {
      // the join/sort machinery always needs this level's key + kept fks
      val always = Set(plan.key) ++ keptLookups.map(_.fk)
      val cols = df.columns.filter(c => ns.contains(c) || always.contains(c))
      df = df.select(cols.map(col).toIndexedSeq: _*)
    }
    for ((c, keys) <- keyFilter) df = df.join(keys, Seq(c), "left_semi")
    // child restriction keys, taken BEFORE lookup joins widen the plan;
    // no distinct: they only feed a left-semi join, which duplicate build
    // keys do not change
    val ownKeys = if (restrictChildren && keptChildren.nonEmpty)
      Some(df.select(col(plan.key))) else None
    val dropFks = scala.collection.mutable.ArrayBuffer[String]()

    for (lk <- keptLookups) {
      val subNeeded =
        if (whole.contains(lk.as)) None
        else needed.map(_ ++ lk.plan.referenceOnly + lk.plan.key)
      val sub = assemble(lk.plan, load, subNeeded, whole)
      val docCols = sub.columns.filter(c => plan.showForeignKeys || c != lk.plan.key)
      // reference_only semantics track show_foreign_keys (reference
      // snowflake_schema.py:383-391, golden "inline" vs "lean_inline"):
      // with FKs shown the designated field sits BESIDE the id
      // ({id, value}); lean, the field REPLACES the whole object. The
      // reference's setting is global; here the LOOKUP plan's flag
      // decides, so a hand-built plan can inline a label table while
      // keeping fks elsewhere (walk() propagates one flag everywhere).
      val payload: Column = lk.plan.referenceOnly match {
        case Some(refCol) if lk.plan.showForeignKeys =>
          struct(col(lk.plan.key), col(refCol))
        case Some(refCol) => col(refCol)
        case None         => struct(docCols.map(col).toIndexedSeq: _*)
      }
      val keyed = sub.select(col(lk.plan.key).as(s"__${lk.as}_key"), payload.as(lk.as))
      val fkCol = df(lk.fk)
      df = df.join(broadcast(keyed), fkCol === keyed(s"__${lk.as}_key"), "left")
        .drop(s"__${lk.as}_key")
      // when the object alias IS the fk column name, the object replaces
      // the scalar (reference: fact.about becomes the inner1 object)
      if (lk.as == lk.fk) df = df.drop(fkCol)
      else if (!plan.showForeignKeys) dropFks += lk.fk
    }

    for (ch <- keptChildren) {
      val subNeeded =
        if (whole.contains(ch.as)) None
        else needed.map(_ + ch.fk + ch.plan.key)
      val childFilter = ownKeys.map(k => ch.fk -> k.select(col(plan.key).as(ch.fk)))
      val sub = assemble(ch.plan, load, subNeeded, whole, childFilter, restrictChildren)
      // key first in the struct so array_sort orders children by key
      val ordered = ch.plan.key +: sub.columns.filter(_ != ch.plan.key).toSeq
      val visible = ordered.filter(c => plan.showForeignKeys || c != ch.fk)
      val sorted = array_sort(collect_list(struct(visible.map(col): _*)))
      // "lean" docs (reference show_foreign_keys=False) also omit the
      // child's own id column — golden lean nested1 has no id/ref
      // (tests/test_extract.py "lean"); sort by key first, then strip it
      val lean = visible.filterNot(c => !plan.showForeignKeys && c == ch.plan.key)
      val payload =
        if (lean == visible) sorted
        else transform(sorted, x => struct(lean.map(c => x.getField(c).as(c)): _*))
      val arr = sub.groupBy(col(ch.fk).as(s"__${ch.as}_key"))
        .agg(payload.as(ch.as))
      df = df.join(arr, df(plan.key) === arr(s"__${ch.as}_key"), "left")
        .drop(s"__${ch.as}_key")
    }
    if (!plan.showForeignKeys && dropFks.nonEmpty) df = df.drop(dropFks.toSeq: _*)
    df
  }

  /** Replace configured sentinel strings with null in every string column. */
  def scrub(df: DataFrame, nullValues: Seq[String]): DataFrame =
    if (nullValues.isEmpty) df
    else df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case StringType =>
          d.withColumn(f.name, when(col(f.name).isin(nullValues: _*), lit(null)).otherwise(col(f.name)))
        case _ => d
      }
    }

  /** Serialize date/timestamp columns as unix seconds (double) — the
    * reference's JSON type mapping Date → NUMBER
    * (vendor/jx_base/__init__.py:41-56); apply before assembly so nested
    * docs inherit the numeric form. */
  def datesToUnix(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case TimestampType | DateType =>
          d.withColumn(f.name, col(f.name).cast(TimestampType).cast(DoubleType))
        case _ => d
      }
    }

  /** Wrap assembled rows as the reference's document envelope:
    * {<fact_table>: {...}, etl: {id, source, revision, timestamp}}
    * (reference: mysql_to_s3/extract.py:208-229). */
  def withLineage(docs: DataFrame, factName: String, revision: String, batchIdCols: Seq[Column]): DataFrame = {
    val docCols = docs.columns
    docs.select(
      struct(docCols.map(col).toIndexedSeq: _*).as(factName),
      struct(
        (batchIdCols :+
          struct(lit(factName).as("table")).as("source") :+
          lit(revision).as("revision") :+
          (unix_timestamp() * 1.0).as("timestamp")): _*).as("etl"))
  }
}
