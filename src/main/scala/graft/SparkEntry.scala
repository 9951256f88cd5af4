package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.jx.{JxQuery, QueryRunner}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry runs a JX JSON query (or a graft ops API call)
  * through the engine; `oracleSql` holds the equivalent DuckDB SQL over the
  * same parquet tables for the driver's hash compare. The inventory itself
  * lives in [[QueryCatalog]].
  */
object SparkEntry {

  /** Static per-(dir, table) schema cache (r14): parquet schema
    * INFERENCE costs ~85 ms per read (footer job) vs ~7 ms with an
    * explicit schema, and the catalog's entries pay it one-to-three
    * times per invocation — tens of seconds across a bench pass for
    * metadata that never changes within a run. Data is still read
    * fresh on every invocation; this caches only the StructType, the
    * same thing a production job's catalog/metastore provides.
    *
    * NO INVALIDATION (ADVICE r14, deliberate): the cache assumes the
    * tables under a (dir, table) key are schema-STATIC for the JVM's
    * life — true for the bench/verify corpora, and the loader is never
    * pointed at paths the engine itself rewrites (those read-backs pass
    * their fixed schemas explicitly). A writer that rewrites a
    * loader-visible table with a CHANGED schema in one JVM must call
    * [[invalidateSchema]] or new columns are silently dropped/nulled. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), org.apache.spark.sql.types.StructType]()

  /** Drop the cached schema for one table (or a whole dir when
    * `table` is null) — the escape hatch for in-JVM schema rewrites. */
  def invalidateSchema(dir: String, table: String = null): Unit =
    if (table != null) { schemaCache.remove((dir, table)); () }
    else schemaCache.keySet.removeIf(_._1 == dir)

  /** The cached schema of `dir/table.parquet`, shared by the batch
    * loader and the stream reads. */
  def schemaOf(spark: SparkSession, dir: String, table: String): org.apache.spark.sql.types.StructType =
    schemaCache.computeIfAbsent((dir, table), _ => spark.read.parquet(s"$dir/$table.parquet").schema)

  def loader(spark: SparkSession, dir: String): String => DataFrame = name =>
    normalizeTs(spark.read.schema(schemaOf(spark, dir, name)).parquet(s"$dir/$name.parquet"))

  /** Parquet TIMESTAMP(NANOS) is read as Long (spark.sql.legacy.parquet.
    * nanosAsLong=true — Spark has no native nanos type); convert to a
    * microsecond timestamp exactly like DuckDB's ns→µs truncation.
    * Shared by the batch loader and the streaming reads. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType)
        // INTEGRAL division: Column `/` promotes Long/Long to Double,
        // whose 2^53 mantissa drops low bits of large epoch-ns values —
        // ±1 µs off DuckDB's exact ns/1000 truncation (review r9;
        // latent on the µs-precision testdata)
        d.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      else d
    }

  /** Run a JX JSON query against the parquet tables in `dir`. */
  def jx(json: String): (SparkSession, String) => DataFrame = QueryCatalog.jx(json)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_groupby_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2, plus the
    * training-data pipeline operators (dedup/similarity/text/multimodal). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryCatalog.queries ++ TrainingCatalog.queries ++ NestedCatalog.queries ++
      StreamCatalog.queries ++ FuzzCatalog.queries

  /** Entries that stay in `queries` (so the driver's DuckDB oracle gate
    * covers them at every SF) but are EXCLUDED from the timing artifact:
    * documented-quadratic cross-check tiers whose scale-sane
    * replacements are benched under the same oracle instead. Timing a
    * tier's documented worst case grades the engine on a plan it
    * doesn't ship (VERDICT r7 "What's wrong" #3). */
  val benchExcluded: Set[String] = Set("q_dedup_jaccard_naive") ++
    // fuzz blocks are CORRECTNESS fixtures (687 differential cases
    // across 13 blocks, gated as 27 entries since r13 extended the
    // sub-block split to b1/b2 — 500 scalar, 80 aggregate, 30 window,
    // 14 one-edge + 10 two-edge cubes, 12 setop pipelines + 9 set-op
    // pairs, 16 nested + 16 deep-nested — under
    // the DuckDB gate): their timed cost is wide-projection codegen
    // compile mass, not engine work, and timing them would drift the
    // headline total against every prior baseline row for reasons
    // unrelated to performance (review r10)
    // gateExprBlocks + gateSubBlocks, NOT `blocks`: the artifact's
    // bench_excluded field must list only names that exist in
    // `queries` (review r12 — a phantom q_fuzz_expr_b4 row would also
    // make a subset run naming it silently time nothing)
    FuzzCatalog.gateExprBlocks.map(_._1) ++ FuzzCatalog.gateSubBlocks.map(_._1) ++
    FuzzCatalog.aggBlocks.map(_._1) ++
    FuzzCatalog.windowBlocks.map(_._1) ++ FuzzCatalog.edgeBlocks.map(_._1) ++
    FuzzCatalog.edge2Blocks.map(_._1) ++
    FuzzCatalog.setopBlocks.map(_._1) ++ FuzzCatalog.setopPairBlocks.map(_._1) ++
    FuzzCatalog.nestedBlocks.map(_._1) ++ FuzzCatalog.deepBlocks.map(_._1)

  /** THE family-key convention: entry-name prefix up to the second
    * '_'. Load-bearing in two places — the bench's warmup grouping and
    * its family-boundary drains of the [[graft.util.Artifacts]] keys the
    * family owns — so it lives here once (two inline copies plus prose
    * is how a prefix-depth change silently stops drains from firing). */
  def entryFamily(name: String): String = name.split("_").take(2).mkString("_")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    QueryCatalog.oracles ++ TrainingCatalog.oracles ++ NestedCatalog.oracles ++
      StreamCatalog.oracles ++ FuzzCatalog.oracles
}
