package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.util.Artifacts
import graft.util.Artifacts.Key


/**
 * Shared fixtures of the training-data catalog files (Training*Entries,
 * split from the former monolithic TrainingCatalog): the entry type,
 * table loaders, saved-index builders, and the Jaccard oracle CTEs.
 */
private[graft] object TrainingShared {

  type Q = (SparkSession, String) => DataFrame

  def q(f: Q): Q = f

  // ---- build-once artifacts ---------------------------------------------
  // Warm bench timings measure the operator under test, not its
  // scaffolding: a fitted index, a discovered pair list or a static graph
  // structure is built once per (session, dir, fit parameters) in
  // [[Artifacts]], paid by the cold run and reused warm. Each key names
  // the entry family that is its last consumer; Bench drains that
  // family's prefix when its alphabetical pass leaves the family (r11:
  // an undrained ~500 MB edge list slowed every later family).

  private val Disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** A frame persisted once per key, unpersisted on release. */
  def persisted(key: Key)(build: => DataFrame): DataFrame =
    Artifacts.getOrBuild(key)(build.persist(Disk))(_.unpersist(blocking = false))

  /** A frame checkpointed once per key ([[graft.ops.Pinned.checkpoint]]:
    * a copy no operator's held result can invalidate), its pin released
    * on release. */
  private def checkpointed(key: Key)(build: => DataFrame): DataFrame =
    Artifacts.getOrBuild(key)(graft.ops.Pinned.checkpoint(build))(
      p => graft.ops.Pinned.release(p._2))._1

  /** A driver-side fit computed once per key; nothing to release. */
  private def fitted[T](key: Key)(fit: => T): T = Artifacts.getOrBuild(key)(fit)(_ => ())

  /** IVF coarse cells fitted by every IVF entry. */
  private val IvfNlist = 16
  private val PqM = 8
  private val PqK = 16

  /** The IVF coarse quantizer, fitted once per (session, dir, nlist) and
    * shared by the q_sim IVF entries and q_dedup_semantic. The key omits
    * the corpus on purpose: the entries fit it on the embeddings with or
    * without their planted copies, and whichever runs first serves all
    * (see q_dedup_semantic). */
  def ivfCentroidsFor(s: SparkSession, dir: String, corpus: DataFrame): Array[Array[Double]] =
    fitted(Key("q_sim.ivf_centroids", s, dir, IvfNlist))(
      Similarity.ivfFitCentroids(corpus, IvfNlist))

  def pqCodebooksFor(s: SparkSession, dir: String,
                     corpus: DataFrame): Array[Array[Array[Double]]] =
    fitted(Key("q_sim.pq_codebooks", s, dir, PqM, PqK))(
      Similarity.pqFitCodebooks(corpus, m = PqM, k = PqK))

  /** Residual PQ codebooks over the [[ivfCentroidsFor]] cells. */
  def pqResidualCodebooksFor(s: SparkSession, dir: String,
                             corpus: DataFrame): Array[Array[Array[Double]]] =
    fitted(Key("q_sim.pq_residual_codebooks", s, dir, IvfNlist, PqM, PqK))(
      Similarity.pqFitResidualCodebooks(corpus, ivfCentroidsFor(s, dir, corpus), m = PqM, k = PqK))

  /** The co-purchase graph: its structure is static while ranks are
    * recomputed per run. */
  def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    persisted(Key("q_graph.edges", s, dir))(graft.ops.Graph.coOccurrenceEdges(
      SparkEntry.loader(s, dir)("lineitem"), "l_orderkey", "l_partkey"))

  /** Recent-slice co-purchase graph (ships ≥ 1999) for the DENSITY
    * analytics (triangles, Adamic–Adar): the full 6-year graph's avg
    * degree ~120 puts Σdeg² near 300M — a density census runs on a
    * cohort slice, and the shipdate predicate pushes down to the scan.
    * Built once (r11): the four-tier Adamic–Adar entries each drive
    * several consumers, and the self-join cost ~2-4 s per consumer at
    * sf0.1. */
  def recentCoPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    persisted(Key("q_graph.recent_edges", s, dir))(graft.ops.Graph.coOccurrenceEdges(
      SparkEntry.loader(s, dir)("lineitem").where(col("l_shipdate") >= lit("1999-01-01").cast("date")),
      "l_orderkey", "l_partkey"))

  /** The capped Adamic–Adar result (recent slice, cap 15), shared by the
    * three entries that derive from the capped tier. One run per entry
    * re-executed the wedge join and evicted the op's held result, which
    * made q_graph_adamic_adar_rescore's warm run slower than its cold
    * one (VERDICT r11 #3). */
  def cappedRecentAa(s: SparkSession, dir: String): DataFrame =
    checkpointed(Key("q_graph.capped_aa", s, dir, 15))(
      graft.ops.Graph.adamicAdarCapped(recentCoPurchaseEdges(s, dir), maxDeg = 15))

  /** The sketch entry's candidate list: the capped top-5000 slice under
    * the deg ≤ k exact-regime guard. All of it is static graph structure,
    * so building it per run only churned blocks (VERDICT r12 #2); the
    * entry's per-run cost is the sketch scorer alone. */
  def sketchCandidates(s: SparkSession, dir: String, k: Int = 24): DataFrame =
    checkpointed(Key("q_graph.sketch_candidates", s, dir, k)) {
      val cand0 = cappedRecentAa(s, dir)
        .orderBy(col("aa").desc, col("x"), col("y")).limit(5000)
        .select(col("x"), col("y"))
      val und = recentCoPurchaseEdges(s, dir)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .where(col("a") =!= col("b")).distinct()
      val deg = und.select(col("a").as("id")).union(und.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val sub = deg.where(col("deg") <= k).select(col("id"))
      cand0
        .join(broadcast(sub.select(col("id").as("x"))), Seq("x"), "left_semi")
        .join(broadcast(sub.select(col("id").as("y"))), Seq("y"), "left_semi")
        .select(col("x"), col("y"))
    }

  /** Synthetic-PNG payloads shared by the full-decode and real-resize
    * entries: ImageIO.write of a BufferedImage per doc with
    * doc_id-derived dims and deterministic pixels, so the entries time
    * decode/resize, not corpus synthesis. */
  def pngCorpus(s: SparkSession, dir: String): DataFrame =
    persisted(Key("q_multimodal.png_corpus", s, dir)) {
      val mkPng = udf((id: Long) =>
        Multimodal.syntheticPngPixels((id % 41 + 8).toInt, (id * 3 % 41 + 8).toInt, id))
      docs(s, dir).select(col("doc_id"), mkPng(col("doc_id")).as("png"))
    }

  /** MinHash-LSH pair discovery shared by the cluster-resolution entries
    * (q_dedup_clusters, q_dedup_keep_best), which time the resolution. */
  def lshPairsFor(s: SparkSession, dir: String): DataFrame =
    persisted(Key("q_dedup.lsh_pairs", s, dir, 3, 128, 32, 0.5))(
      Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text",
        n = 3, numHashes = 128, bands = 32, threshold = 0.5))

  /** The (band index, shingle sets) of the "existing corpus" (doc_id <
    * 300) shared by the incremental near-dup entries of q_dedup and
    * q_pipeline: an increment loads the saved index, so they time the
    * delta search. */
  def lshIndexFor(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    def existing = docs(s, dir).select(col("doc_id"), col("text")).where(col("doc_id") < 300)
    (persisted(Key("q_pipeline.lsh_band_index", s, dir, 300))(
      Dedup.lshBandIndex(existing, "doc_id", "text")),
     persisted(Key("q_pipeline.lsh_shingle_sets", s, dir, 300))(
      Dedup.shingleSets(existing, "doc_id", "text")))
  }

  def docs(spark: SparkSession, dir: String): DataFrame =
    SparkEntry.loader(spark, dir)("documents")
  def embs(spark: SparkSession, dir: String): DataFrame =
    SparkEntry.loader(spark, dir)("embeddings")

  /** BPE pattern with the leading apostrophe SQL-escaped. */
  val BpeSql = "''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def lexSql(lang: String): String =
    TextAnalysis.lexiconPattern(TextAnalysis.Lexicons.collectFirst { case (`lang`, ws) => ws }.get)



  /** CTE list computing `jp(id_a, id_b, jaccard)`: exact word-trigram
    * Jaccard pairs at threshold 0.5 over table/CTE `src` — shared by the
    * pair oracles, the cluster oracle's recursive closure, and the
    * curation pipeline (which pairs only the FILTERED corpus). */
  def jaccardPairsCtes(src: String = "documents"): String = s"""
      toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM $src),
      sh AS (
        SELECT doc_id, unnest(list_distinct(
          [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)])) AS s
        FROM toks WHERE len(t) >= 3),
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      cop AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      jp AS (
        SELECT id_a, id_b,
               CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) AS jaccard
        FROM cop
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) >= 0.5)"""

  /** Exact word-trigram Jaccard pairs at threshold 0.5 — the oracle for
    * both the exact operator and the (verified) MinHash-LSH operator. */
  lazy val JaccardOracleSql: String =
    s"WITH ${jaccardPairsCtes()} SELECT id_a, id_b, jaccard FROM jp ORDER BY 1, 2"

  /** Transitive closure of the Jaccard pairs via recursive CTE: per node,
    * the minimum reachable id = its component representative. Tractable
    * because the pair set is small; the Spark side computes the same
    * closure with the O(log n)-round star algorithm. */
  lazy val ClusterOracleSql: String = s"""
      WITH RECURSIVE ${jaccardPairsCtes()},
      edges AS (SELECT id_a AS a, id_b AS b FROM jp
                UNION SELECT id_b, id_a FROM jp),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
      SELECT a AS doc_id, least(a, min(b)) AS rep
      FROM reach GROUP BY a ORDER BY doc_id"""
}
