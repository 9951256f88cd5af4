package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity, TextAnalysis}

/** ops_curate: repeated curation passes over seeded `documents` and
  * `embeddings`. A pass runs exact dedup, MinHash-LSH near-duplicate
  * pairs, the per-language quality filter, an IVF quantizer fit and an
  * IVF top-10 search for a seeded set of query vectors. The exact tiers
  * (Jaccard pairs, brute-force top-10) run once before the timed passes
  * as the reference the approximate operators' recall is measured
  * against. */
final class OpsCurate(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import OpsCurate._
  import spark.implicits._

  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var queries: DataFrame = _
  private var distinctTexts = 0L
  private var exactPairs = Set[(Long, Long)]()
  private var exactTop = Map[Long, Set[Long]]()
  private var vectors = Map[Long, Array[Float]]()
  private var qualityKept = 0L
  private val passes = scala.collection.mutable.Map[Int, Pass]()
  private var persistentAfter = 0

  def setup(dir: Path): Unit = {
    val d = Gen.documents(seed, Docs)
    val e = Gen.embeddings(seed, Vectors)
    d.toDS().coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    e.toDS().coalesce(1).write.parquet(dir.resolve("embeddings.parquet").toString)
    docs = spark.read.parquet(dir.resolve("documents.parquet").toString)
    emb = spark.read.parquet(dir.resolve("embeddings.parquet").toString)
    queries = emb.where(col("vec_id").isin(queryIds(seed): _*))
    distinctTexts = d.map(_.text).distinct.size.toLong
    vectors = e.map(v => v.vec_id -> v.embedding).toMap
  }

  /** The exact reference tiers, then untimed passes. The reference is
    * the checker's work, so it stays out of setup_s. */
  def warmup(seconds: Double): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    exactPairs = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = Threshold)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    exactTop = Similarity.bruteForceTopK(emb, queries, K).select("q_id", "n_id").as[(Long, Long)]
      .collect().groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    // the quality filter has no cheaper exact tier: its survivors are
    // restated in SQL over the same per-document score
    docs.withColumn("quality", TextAnalysis.qualityScore(col("text"))).createOrReplaceTempView("ops_scored")
    qualityKept = spark.sql(s"""SELECT count(*) FROM ops_scored s JOIN
        (SELECT lang, percentile(quality, ${1.0 - KeepFrac}) AS thr FROM ops_scored GROUP BY lang) t
        ON s.lang = t.lang WHERE s.quality >= t.thr""").head().getLong(0)
    Runner.repeatFor((end - System.nanoTime()) / 1e9)(_ => pass())
  }

  def kind(i: Int): String = "pass"

  private def pass(): Pass = {
    val survivors = tr.span("ops.exact_dedup")(Dedup.dropExactDuplicates(docs, "doc_id", "text").count())
    val pairs = tr.span("ops.lsh_pairs")(Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = Threshold)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSeq)
    val kept = tr.span("ops.quality_filter")(
      TextAnalysis.qualityFilterByLang(docs, "doc_id", "text", "lang", KeepFrac).count())
    val centroids = tr.span("ops.ivf_fit")(Similarity.ivfFitCentroids(emb, nlist = 16))
    val hits = tr.span("ops.ivf_search")(Similarity.ivfSearch(emb, queries, centroids, K, nprobe = 4)
      .select("q_id", "n_id", "sim").as[(Long, Long, Double)].collect().toSeq)
    persistentAfter = spark.sparkContext.getPersistentRDDs.size
    Pass(survivors, pairs, kept, hits)
  }

  def run(i: Int): Unit = passes(i) = pass()

  private def cosine(a: Long, b: Long): Double = {
    val (x, y) = (vectors(a), vectors(b))
    var (d, nx, ny) = (0.0, 0.0, 0.0)
    for (j <- x.indices) { d += x(j).toDouble * y(j); nx += x(j).toDouble * x(j); ny += y(j).toDouble * y(j) }
    d / math.sqrt(nx * ny)
  }

  /** Survivor counts equal the exact tiers; every LSH pair is an exact
    * pair; every IVF hit carries its true cosine, at most K per query. */
  def verify(i: Int): Boolean = {
    val p = passes(i)
    p.survivors == distinctTexts && p.kept == qualityKept &&
      p.pairs.forall(x => exactPairs.contains((x._1, x._2))) &&
      p.hits.groupBy(_._1).values.forall(_.size <= K) &&
      p.hits.forall { case (q, n, s) => q != n && math.abs(cosine(q, n) - s) < 1e-6 }
  }

  def finalCheck(records: Seq[OpRecord]): Seq[String] = Nil

  def primary(r: OpRecord): Boolean = true

  override def minOps: Int = 2

  private def recalls(records: Seq[OpRecord]): (Double, Double) = {
    val ps = records.filter(_.ok).map(r => passes(r.index))
    if (ps.isEmpty) (0.0, 0.0)
    else {
      val p = ps.last
      val ivf = exactTop.toSeq.map { case (q, want) =>
        p.hits.filter(_._1 == q).map(_._2).toSet.intersect(want).size.toDouble / want.size }
      (ivf.sum / ivf.size, if (exactPairs.isEmpty) 1.0 else p.pairs.size.toDouble / exactPairs.size)
    }
  }

  override def accuracy(records: Seq[OpRecord]): Double = { val (a, b) = recalls(records); math.min(a, b) }

  def workloadMetrics(records: Seq[OpRecord]): Seq[Metric] = {
    val (ivf, lsh) = recalls(records)
    Seq(Metric("ops_pass_s", Layer.medianOr0(records.filter(_.ok).map(_.seconds)), "s"),
      Metric("ops_ivf_recall_at_10", ivf, "ratio"), Metric("ops_lsh_recall", lsh, "ratio"))
  }

  def layerMetrics(records: Seq[OpRecord], tr: Tracer): Seq[Metric] = {
    val calls = tr.recorded.filter(_.name.startsWith("ops."))
    val work = calls.map(s => tr.workUnder(s))
    Seq("exact_dedup", "lsh_pairs", "quality_filter", "ivf_fit", "ivf_search").map(k =>
      Metric(s"ops.${k}_s", Layer.spanSeconds(tr, s"ops.$k"), "s")) ++ Seq(
      Metric("ops.jobs_per_call", Layer.meanOr0(work.map(_.map(_.jobs).sum.toDouble)), "count"),
      Metric("ops.shuffle_bytes_per_call", Layer.meanOr0(work.map(_.map(_.shuffleWriteBytes).sum.toDouble)), "B"),
      Metric("ops.persistent_rdds_after_pass", persistentAfter.toDouble, "count"))
  }
}

object OpsCurate {
  val Docs = 3000
  val Vectors = 2000
  val Queries = 200
  val K = 10
  val Threshold = 0.5
  val KeepFrac = 0.8

  final case class Pass(survivors: Long, pairs: Seq[(Long, Long, Double)], kept: Long,
                        hits: Seq[(Long, Long, Double)])

  /** The seeded query vectors: `Queries` distinct ids of the corpus. */
  def queryIds(seed: Long): Seq[Long] = {
    val r = Gen.rng(seed, 41)
    Iterator.continually(r.nextInt(Vectors).toLong).distinct.take(Queries).toVector.sorted
  }
}
