package graft

import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.funsuite.AnyFunSuite
import graft.jx.{Formats, JxQuery}

/** Physical-plan regression tests for the properties that matter at
  * 100 TB: filters reach the parquet scan (PushedFilters), projection
  * reaches the scan (ReadSchema), nested assembly reads only referenced
  * columns, and expression pipelines stay inside whole-stage codegen.
  * Catching a regression here costs milliseconds; catching it in a
  * cluster bill does not. */
class PlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = GraftSession.get("4")
  val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def scanLines(p: String): Seq[String] =
    p.split('\n').map(_.trim).filter(_.contains("FileScan parquet")).toSeq

  test("filter pushdown: where-compiled predicates reach PushedFilters") {
    val p = plan("q_setop_in_range")
    val scans = scanLines(p)
    assert(scans.nonEmpty)
    // bare predicates (no UDF wrappers) push into the parquet reader
    assert(p.contains("PushedFilters: [") && !p.matches("(?s).*PushedFilters: \\[\\].*"),
      s"no pushed filters in:\n${scans.mkString("\n")}")
  }

  test("column pruning: a 2-column aggregate reads 2 columns, not 16") {
    val p = plan("q_groupby_agg")
    val li = scanLines(p).find(_.contains("lineitem.parquet")).get
    // ReadSchema lists only the referenced lineitem columns
    val read = li.substring(li.indexOf("FileScan parquet [") + "FileScan parquet [".length)
    val nCols = read.takeWhile(_ != ']').split(',').length
    assert(nCols <= 7, s"lineitem scan reads $nCols columns: $li")
  }

  test("pruned nested assembly: lineitem scan width tracks the query") {
    val p = plan("q_nested_agg") // references nation + l_quantity only
    val li = scanLines(p).find(_.contains("lineitem.parquet")).get
    val read = li.substring(li.indexOf("FileScan parquet [") + "FileScan parquet [".length)
    val cols = read.takeWhile(_ != ']').split(',').map(_.trim.takeWhile(_ != '#')).toSeq
    assert(cols.toSet === Set("l_orderkey", "l_quantity"),
      s"expected join key + referenced column only, got $cols")
  }

  test("expression pipeline stays inside whole-stage codegen") {
    // executedPlan.toString marks codegen stages with "*(n)" prefixes
    val p = plan("q_expr_math")
    assert(p.contains("*("), "no whole-stage-codegen spans in q_expr_math plan")
  }

  test("edges run as one aggregate: one execution, one shuffle, no join") {
    // the domains are driver values and the grouped cells are densified on
    // the driver, so the only execution over the facts is the aggregate;
    // reading the dense grid back is a job-free local scan
    def aggregateOnly(what: String, execs: Seq[(String, QueryExecution)]): Unit = {
      val plans = execs.map(_._2.executedPlan).filterNot(_.isInstanceOf[LocalTableScanExec])
      assert(plans.size === 1, s"$what: ${plans.size} executions beyond local scans:\n${plans.mkString("\n")}")
      val shuffles = collect(plans.head) { case e: ShuffleExchangeExec => e }
      val joins = collect(plans.head) { case j: BaseJoinExec => j }
      assert(shuffles.size === 1 && joins.isEmpty, s"$what:\n${plans.head}")
    }
    val (_, _, execs) = SparkCounts(spark)(SparkEntry.queries("q_edges_set")(spark, dir).collect())
    aggregateOnly("q_edges_set", execs)
    val (_, _, cubeExecs) = SparkCounts(spark)(Formats.run(spark, JxQuery.parse("""{
      "from": "lineitem",
      "edges": [
        {"name": "flag", "value": "l_returnflag", "domain": {"type": "set", "partitions": ["A", "N", "R"]}},
        {"name": "qty", "value": "l_quantity", "domain": {"type": "range", "min": 1, "max": 51, "interval": 10}}],
      "select": [{"name": "n", "value": ".", "aggregate": "count"}],
      "format": "cube"}"""), SparkEntry.loader(spark, dir)))
    aggregateOnly("cube", cubeExecs)
  }

  test("ivfpq: cell join broadcasts the probe side; corpus side has no pre-join Exchange") {
    val p = plan("q_sim_ivfpq_topk")
    // candidates come from a broadcast equi-join on the cell id — the
    // corpus must NOT shuffle to meet the (tiny, exploded) probe set
    assert(p.contains("BroadcastHashJoin"), "cell join is not a broadcast hash join")
    val joinIdx = p.indexOf("BroadcastHashJoin")
    val corpusSide = p.substring(joinIdx)
    val embScan = corpusSide.indexOf("embeddings.parquet")
    assert(embScan >= 0, "no embeddings scan under the join")
    // between the join and the corpus scan: projections only, no Exchange
    // (the only shuffles in the whole plan are the per-query windows)
    val segment = p.substring(joinIdx, joinIdx + corpusSide.indexOf("embeddings.parquet"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(segment).length
    assert(exchanges <= 1, // the probe side's own tiny broadcast prep may repartition
      s"corpus path to the cell join shuffles:\n$segment")
  }

  test("split assignment is a shuffle-free codegen'd projection") {
    val p = plan("q_split_assign")
    assert(!p.contains("Exchange"), s"split assignment should not shuffle:\n$p")
    assert(p.contains("*("), "split assignment fell out of whole-stage codegen")
  }

  test("sessionization shuffles exactly once, on the user key") {
    val p = plan("q_sessionize")
    val exchanges = p.split('\n').count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges === 1, s"expected 1 exchange (user key), got $exchanges:\n$p")
    assert(p.contains("hashpartitioning(user_id"), "shuffle is not on the user key")
  }

  test("bucketed tables co-locate the join: zero Exchange") {
    // the claim made throughout the scale notes — "pre-bucket by the key
    // and the join shuffle becomes a no-op" — proven on the physical
    // plan: both sides bucketed on user_id, sort-merge join, no Exchange
    val ev = SparkEntry.loader(spark, dir)("events")
    // a fresh in-memory catalog doesn't know about last run's managed-
    // table locations — clear them or CTAS refuses the name
    for (t <- Seq("ev_bucketed", "usr_bucketed")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(loc.toPath)
        try walk.iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      }
    }
    ev.write.mode("overwrite").bucketBy(8, "user_id")
      .sortBy("user_id").saveAsTable("ev_bucketed")
    ev.groupBy("user_id").count()
      .write.mode("overwrite").bucketBy(8, "user_id")
      .sortBy("user_id").saveAsTable("usr_bucketed")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val p = spark.table("ev_bucketed").join(spark.table("usr_bucketed"), "user_id")
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(!p.contains("Exchange"), s"bucketed join still shuffled:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_bucketed_join: no Exchange on the join keys; SMJ over co-located scans") {
    val p = plan("q_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
    // the only allowed exchange is the final groupBy(o_orderpriority)
    // aggregation; the join keys must never shuffle
    assert(!p.contains("Exchange hashpartitioning(o_orderkey")
        && !p.contains("Exchange hashpartitioning(l_orderkey"),
      s"bucketed join shuffled a join key:\n$p")
    val exchanges = p.split('\n').count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 2, s"expected only the aggregation exchange(s):\n$p")
  }

  test("line dedup: census + removal joins are keyed, never a product join") {
    val p = plan("q_text_dedup_lines")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"line dedup fell back to a product join:\n$p")
  }

  test("length-bucketed batching: distributed rank, no single-partition Window") {
    val p = plan("q_pack_length_buckets")
    // the per-bucket rank takes the prefix-sum RDD path (few huge
    // buckets is exactly its regime) — a Window operator here would be
    // the single-task-per-bucket shape the op exists to avoid
    assert(!p.contains("Window"), s"expected the distributed rank path:\n$p")
  }

  test("incremental near-dup: band candidates via equi-join, never a product join") {
    val p = plan("q_pipeline_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"incremental near-dup fell back to a product join:\n$p")
  }

  test("interval join is an equi-join on (key, bucket), never a nested loop") {
    val p = plan("q_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join fell back to a product join:\n$p")
    assert(p.contains("Join") && p.contains("__bucket"),
      s"expected the (key, bucket) equi-join:\n$p")
  }

  test("time-range window shuffles once, on the user key") {
    val p = plan("q_window_time_range")
    // one hash exchange for the window; the trailing rangepartitioning is
    // the entry's presentation orderBy, not operator cost
    val hashEx = p.split('\n').count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx === 1, s"expected 1 hash exchange (user key), got $hashEx:\n$p")
    assert(p.contains("hashpartitioning(user_id"), "range window is not keyed on user_id")
  }

  test("quality filter: threshold table broadcasts, no per-lang window") {
    // r14: the op scores ONCE into a pin and holds its result, so the
    // ENTRY plan is checkpoint-truncated (the materialized-result
    // contract, same as k-core's final plan) — the broadcast/no-window
    // contract is asserted on the op-internal dataflow it executes.
    val p = plan("q_text_quality_filter")
    assert(p.contains("ExistingRDD"),
      s"score-once result should be a materialized checkpoint:\n$p")
    assert(!p.contains("Window"), s"quality gate must not use a lang window:\n$p")
    import org.apache.spark.sql.functions.{broadcast, col, expr}
    val docs = SparkEntry.loader(spark, dir)("documents")
    val (scored, h) = graft.ops.Pinned.checkpoint(
      docs.withColumn("quality", graft.ops.TextAnalysis.qualityScore(col("text"))))
    try {
      val thr = scored.groupBy(col("lang"))
        .agg(expr("percentile(quality, 0.5)").as("q_threshold"))
      val joined = scored.join(broadcast(thr), "lang")
        .where(col("quality") >= col("q_threshold"))
      val ip = joined.queryExecution.executedPlan.toString
      assert(ip.contains("BroadcastHashJoin"),
        s"per-lang thresholds should broadcast back onto the pin:\n$ip")
      assert(!ip.contains("Window"), s"quality gate must not use a lang window:\n$ip")
    } finally graft.ops.Pinned.release(h)
  }

  test("asof join: window shuffle on the key, no range/theta join") {
    val p = plan("q_asof_join")
    // the asof core is ONE exchange (the user-key window); the entry adds
    // one more for the right side's (user, ts) pre-aggregation
    val exchanges = p.split('\n').count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 3, s"asof join shuffled too much ($exchanges):\n$p")
    assert(p.contains("hashpartitioning(user_id"), "asof window is not keyed on user_id")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"asof join fell back to a product join:\n$p")
  }

  test("centroids partial-aggregate before the (group, position) shuffle") {
    val p = plan("q_embed_centroid")
    // map-side combine: the plan prints top-down, so the partial sum must
    // appear AFTER (= below) the last exchange — the exploded corpus is
    // combined to (group, pos) partials before anything shuffles raw
    val lines = p.split('\n').toSeq
    val lastExchange = lines.lastIndexWhere(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(lastExchange >= 0)
    assert(lines.drop(lastExchange).exists(_.contains("partial_sum")),
      s"no partial aggregation below the shuffle:\n$p")
  }

  test("extract read-back scans ONLY the explicit schema (no inference)") {
    // building the entry's frame RUNS the (sf0.001, one-month) extract —
    // cheap here, and the resulting plan proves the gzip NDJSON read-back
    // projects just the doc id instead of inferring the full doc schema
    val p = plan("q_etl_extract")
    val jsonScan = p.split('\n').find(l => l.contains("FileScan json")).getOrElse(
      fail(s"no json scan in plan:\n$p"))
    assert(jsonScan.contains("ReadSchema: struct<orders:struct<o_orderkey:bigint>>"),
      s"read-back schema is not the explicit 1-field projection: $jsonScan")
  }

  test("decontaminate: both the gram match and the flag join broadcast the small side") {
    val p = plan("q_text_decontaminate")
    val n = p.split('\n').count(_.contains("BroadcastHashJoin"))
    assert(n >= 2, s"expected 2 broadcast joins (bench grams, contaminated ids), got $n:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus must never shuffle for the benchmark match:\n$p")
  }

  test("chunking rides the scan: no Exchange in the q_text_chunk plan") {
    val p = plan("q_text_chunk")
    assert(!p.contains("Exchange"),
      s"chunkText must be a zero-shuffle projection + generate:\n$p")
  }

  test("real image resize + re-decode ride the scan: no Exchange") {
    // decode → scale → re-encode → re-decode is mapPartitions all the
    // way down; at 100 TB the resize must never shuffle payloads
    val p = plan("q_multimodal_resize")
    assert(!p.contains("Exchange"),
      s"resizePartitioned chain must be shuffle-free:\n$p")
  }

  test("image feature extraction rides the scan except its output sort") {
    val p = plan("q_multimodal_features")
    val shuffles = p.split('\n')
      .count(l => l.contains("Exchange") && !l.contains("Reused") && !l.contains("Broadcast"))
    // exactly the orderBy's range partition — decode + means are per-row
    assert(shuffles <= 1, s"feature extraction shuffled beyond its sort:\n$p")
  }

  test("corpus-frequent stripping: the CLEANING pass is a shuffle-free projection") {
    // the census (heavyHittersAuto) runs its own bounded actions during
    // plan construction; the returned frame — what actually scans the
    // corpus at 100 TB — must be scan + filter/transform + sort only
    val p = plan("q_text_strip_frequent")
    val shuffles = p.split('\n')
      .count(l => l.contains("Exchange") && !l.contains("Reused") && !l.contains("Broadcast"))
    assert(shuffles <= 1, s"cleaning pass should only shuffle for its output sort:\n$p")
  }

  test("dedup spans: gram occurrence count partially aggregates before its shuffle") {
    val p = plan("q_dedup_spans")
    val lines = p.split('\n').toSeq
    val exchange = lines.indexWhere(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchange >= 0)
    assert(lines.drop(exchange).exists(_.contains("partial_count")),
      s"no map-side partial count below the first shuffle:\n$p")
  }

  test("variant min aggregates partially (map-side) before the group shuffle") {
    val p = plan("q_variant_min")
    val lines = p.split('\n').toSeq
    val exchange = lines.indexWhere(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchange >= 0)
    assert(lines.drop(exchange).exists(_.contains("partial_min")),
      s"no map-side partial min below the shuffle:\n$p")
  }

  test("DSIR: models broadcast back; no product join; bounded non-reused exchanges") {
    val p = plan("q_sample_dsir")
    // the ≤B-row bucket model and the 1-row totals both come back as
    // broadcasts — the corpus side must never sort-merge against them
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"bucket model should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row totals frame must broadcast, not product-join:\n$p")
    // corpus-sized shuffles: the per-(doc,gram) combine + per-doc agg +
    // the id join back; everything else is model-sized. Reused exchanges
    // (the shared docGram subtree) are free.
    val exchanges = p.split('\n')
      .count(l => l.contains("Exchange") && !l.contains("Reused") && !l.contains("Broadcast"))
    assert(exchanges <= 6, s"DSIR shuffled too much ($exchanges):\n$p")
  }

  test("hard negatives: anchors broadcast; corpus side has no pre-join Exchange") {
    val p = plan("q_sim_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"anchor set should broadcast:\n$p")
    val lines = p.split('\n').toSeq
    // the only non-broadcast exchange is the per-anchor top-k window
    val shuffles = lines.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(shuffles <= 1, s"corpus shuffled before scoring ($shuffles):\n$p")
  }

  test("tokenizer counts ride the scan: only the final sort exchanges") {
    // the vocab-udf count is a per-row projection in the scan stage; the
    // single rangepartitioning exchange is the entry's presentation sort
    for (name <- Seq("q_tokenize_bpe", "q_tokenize_wordpiece")) {
      val p = plan(name)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name must not hash-shuffle — the count is scan-stage algebra:\n$p")
    }
  }

  test("edit-distance join: candidates via equi-join on variant keys, never a product join") {
    val p = plan("q_dedup_editdist")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "edit-distance candidates must come from the deletion-variant equi-join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "no equi-join in the edit-distance plan")
  }

  test("novelty: reference gram set joins keyed, never a product join") {
    val p = plan("q_text_novelty")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "novelty reference match must be a keyed join")
  }

  test("CDC chunking: one doc-keyed shuffle feeds the boundary window") {
    val p = plan("q_text_cdc_chunks")
    // the running boundary count partitions by doc id — never a global
    // single-partition window
    assert(!p.contains("SinglePartition"), s"global window in CDC plan")
    assert(!p.contains("CartesianProduct"))
  }

  test("preference pairs: struct argmax partially aggregates before its one shuffle") {
    val p = plan("q_pipeline_preference")
    assert(p.contains("partial_max") || p.contains("partial_min") ||
      p.split('\n').count(_.contains("HashAggregate")) >= 2,
      "preference argmax must map-side combine")
    assert(!p.contains("Window"), "no window function expected in the pair plan")
  }

  test("sorted+limited JX queries plan as TakeOrderedAndProject") {
    // the variance-proof form of the set-op/limit win: a JX query with
    // sort + limit must never global-sort then limit (two exchanges and
    // a full sort at 100 TB) — Spark's TakeOrderedAndProject keeps only
    // the top-k per partition and merges k rows on one reducer
    for (name <- Seq("q_limit_default", "q_setop_filter_sort", "q_null_semantics")) {
      val p = plan(name)
      assert(p.contains("TakeOrderedAndProject"),
        s"$name: sorted+limited query did not plan TakeOrderedAndProject:\n$p")
      assert(!p.split('\n').exists(l => l.contains("Exchange rangepartitioning")),
        s"$name: found a global-sort exchange alongside the limit:\n$p")
    }
  }

  test("intersect/except: no extra Exchange beyond the set-op's own join") {
    // INTERSECT/EXCEPT compile to (left-semi/anti) aggregated joins; the
    // two sorted+clamped inputs arrive pre-limited (TakeOrdered above),
    // so the only shuffles the set op may add are its join's two hash
    // exchanges + the final distinct — anything more means a plan
    // regression reintroduced a global sort or a re-partition
    for (name <- Seq("q_setop_intersect", "q_setop_except")) {
      val p = plan(name)
      val lines = p.split('\n').toSeq
      val hashEx = lines.count(l =>
        l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
      assert(hashEx <= 3,
        s"$name: expected ≤3 hash exchanges (join sides + distinct), got $hashEx:\n$p")
      assert(!lines.exists(l => l.contains("Exchange rangepartitioning") && !l.contains("Reused")),
        s"$name: set-op inputs re-sorted globally:\n$p")
      assert(lines.exists(_.contains("TakeOrderedAndProject")),
        s"$name: clamped inputs lost their top-k form:\n$p")
    }
  }

  test("heavy hitters: candidates broadcast back; the tail never shuffles wide") {
    val p = plan("q_text_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate recount must be a broadcast semi/inner join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must never shuffle to meet the candidate set:\n$p")
  }

  test("PPJoin exact Jaccard: candidates from a shingle equi-join, never a product join") {
    // the benched exact tier (q_dedup_jaccard → jaccardPairsPrefix):
    // prefix-filtered candidates must come from the sh==sh equi-join
    // (+ length-ratio post-filters), so the plan may not contain a
    // cartesian/nested-loop join at any size
    val p = plan("q_dedup_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "PPJoin candidate generation degenerated to a product join")
  }

  test("IVF contrastive mining: cell equi-join only, no product join") {
    val p = plan("q_sim_contrastive_ivf")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"IVF-mined candidates must come from the cell-id equi-join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"cell join should broadcast the anchors:\n$p")
  }

  test("reversedList: one group shuffle, sort inside the aggregate") {
    val p = plan("q_list_reverse")
    val lines = p.split('\n').toSeq
    val hashEx = lines.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hashEx == 1,
      s"expected exactly the user_id group shuffle, got $hashEx:\n$p")
    // no per-group window: the reversal happens via array_sort/reverse
    // INSIDE the aggregated array, not a second ordering pass
    assert(!p.contains("Window"), s"unexpected window operator:\n$p")
  }

  test("kNN join: candidates from the cell equi-join, never a product join") {
    val p = plan("q_sim_knn_join")
    assert(!p.contains("CartesianProduct"), s"product join in kNN-join plan:\n$p")
    // the corpus meets itself keyed on the cell id, not pairwise
    assert(p.contains("cell"), s"no cell-keyed join in plan:\n$p")
  }

  test("BM25: query-term list broadcasts onto the tf table") {
    val p = plan("q_text_bm25")
    assert(p.contains("BroadcastHashJoin"), s"query probe is not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"product join in BM25 plan:\n$p")
  }

  test("LOCF resample: arithmetic grid, no calendar-table product join") {
    val p = plan("q_events_locf")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"grid joined as a product:\n$p")
    assert(p.contains("Generate explode"), s"grid is not sequence-generated:\n$p")
  }

  test("association rules: item counts broadcast back; no product join") {
    val p = plan("q_graph_lift")
    assert(p.contains("BroadcastHashJoin"), s"item-count join is not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"product join in lift plan:\n$p")
  }

  test("rollup IVM: merge is a keyed join, never a window or product") {
    val p = plan("q_pipeline_rollup")
    assert(!p.contains("Window"), s"unexpected window in rollup plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"product join in rollup plan:\n$p")
  }

  test("AUC/AP: the cumulative window runs over the aggregated score groups") {
    for (name <- Seq("q_eval_auc", "q_eval_ap")) {
      val p = plan(name)
      // the corpus-side aggregate must come BEFORE the single-partition
      // window — the window's input is score-cardinality, not rows
      val aggIdx = p.indexOf("HashAggregate")
      val winIdx = p.indexOf("Window")
      assert(aggIdx >= 0 && winIdx >= 0 && winIdx < p.lastIndexOf("HashAggregate"),
        s"$name: window does not sit above an aggregate:\n$p")
    }
  }

  test("saved IVF lists: the index scan carries a cell partition filter") {
    val p = plan("q_sim_ivf_append")
    val idxScan = p.split('\n').map(_.trim)
      .find(l => l.contains("FileScan parquet") && l.contains("graft_ivf_lists"))
    assert(idxScan.isDefined, s"no saved-index scan in plan:\n$p")
    // probed cells prune partitions BEFORE the scan — the whole point
    // of materializing cell-partitioned inverted lists
    assert(idxScan.get.contains("PartitionFilters: [cell"),
      s"index scan reads every cell partition: ${idxScan.get}")
  }

  test("NB quality filter: weight table broadcasts onto tokens, no product join") {
    val p = plan("q_quality_nb")
    // the vocab-sized weight table must reach the exploded-token stream
    // as a broadcast hash join (a shuffle join there re-shuffles the
    // whole corpus on token); the 1-row totals/prior denominators ride
    // broadcast nested loops by design
    assert(p.contains("BroadcastHashJoin"), s"weight join is not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"product join in NB plan:\n$p")
  }

  test("triangles / adamic-adar: shipdate slice reaches the scan; no product join") {
    // the ops localCheckpoint the static edge list (the pageRank
    // materialization rationale), which hides the scan from their
    // executedPlan — so the pushdown contract is asserted on the
    // edge-build subtree the entries construct, and the no-product
    // contract on the full entry plans.
    import org.apache.spark.sql.functions.{col, lit}
    val li = SparkEntry.loader(spark, dir)("lineitem")
      .where(col("l_shipdate") >= lit("1999-01-01").cast("date"))
    val edges = graft.ops.Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
    val ep = edges.queryExecution.executedPlan.toString
    val scans = ep.split('\n').map(_.trim)
      .filter(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(scans.nonEmpty && scans.forall(_.contains("l_shipdate")),
      s"shipdate filter not pushed to the lineitem scan:\n${scans.mkString("\n")}")
    for (name <- Seq("q_graph_triangles", "q_graph_adamic_adar",
                     "q_graph_adamic_adar_capped")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name: product join:\n$p")
    }
  }

  test("adamic-adar capped: degree cap filters the BROADCAST side before the wedge join") {
    // the scale tier's whole point: the cap lands on the vertex-sized
    // degree table before its broadcast, so the wedge join fan-out is
    // bounded at 2·cap·|E| — a cap applied after the join (or on the
    // adjacency side) would leave the Σdeg² explosion in place
    import org.apache.spark.sql.functions.col
    val edges = graft.ops.Graph.coOccurrenceEdges(
      SparkEntry.loader(spark, dir)("lineitem")
        .where(col("l_shipdate") >= org.apache.spark.sql.functions.lit("1999-01-01").cast("date")),
      "l_orderkey", "l_partkey")
    // the un-held dataflow: the public op checkpoints its result
    // (Pinned.hold), which truncates the inspectable plan to a Scan
    val p = graft.ops.Graph.adamicAdarScores(
        graft.ops.Graph.undirectedEdges(edges), Some(15))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"weight join not broadcast:\n$p")
    val capLines = p.split('\n').map(_.trim).filter(_.contains("<= 15"))
    assert(capLines.exists(l => l.contains("Filter") && l.contains("deg")),
      s"degree cap is not a pre-broadcast Filter on deg:\n$p")
    assert(!p.contains("CartesianProduct"), s"product join:\n$p")
  }

  test("r12 capped-derived entries: no product joins; sketch guard semi-joins broadcast") {
    // the rewired entries (shared capped frame + guard/candidate
    // slices) must keep the family's plan contracts: no cartesian
    // anywhere, and the sketch entry's exact-regime endpoint guard
    // lands as BROADCAST left-semi joins on the vertex-sized sub-k
    // list (a shuffle semi-join there would re-key the 5000-pair
    // candidate list against a list that fits in one broadcast)
    for (name <- Seq("q_graph_adamic_adar_capped", "q_graph_adamic_adar_rescore",
                     "q_graph_adamic_adar_sketch")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name: product join:\n$p")
    }
    // inspect the un-held guard dataflow directly (the entry's plan is
    // checkpoint-truncated): candidate pairs semi-joined to a broadcast
    // sub-k vertex list on both endpoints
    import org.apache.spark.sql.functions.{broadcast, col, count, least, greatest, lit}
    val li = SparkEntry.loader(spark, dir)("lineitem")
      .where(col("l_shipdate") >= lit("1999-01-01").cast("date"))
    val edges = graft.ops.Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("id")).union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val sub = deg.where(col("deg") <= 24).select(col("id"))
    val cand = und.limit(100).select(col("a").as("x"), col("b").as("y"))
      .join(broadcast(sub.select(col("id").as("x"))), Seq("x"), "left_semi")
      .join(broadcast(sub.select(col("id").as("y"))), Seq("y"), "left_semi")
    val p = cand.queryExecution.executedPlan.toString
    val semis = p.split('\n').count(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi"))
    assert(semis >= 2, s"endpoint guard not two broadcast semi-joins:\n$p")
  }

  test("Kneser-Ney: context/continuation tables broadcast; one corpus shuffle class") {
    val p = plan("q_text_kn_ngram")
    // vocab-sized ctx/preceder tables join back broadcast — a shuffle
    // join there re-keys the bigram table twice for no reason
    assert(p.contains("BroadcastHashJoin"), s"KN side tables not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      s"unexpected product join in KN plan:\n$p")
  }

  test("weighted sample: global top-k plans as TakeOrderedAndProject, no corpus sort") {
    val p = plan("q_sample_weighted")
    assert(p.contains("TakeOrderedAndProject"),
      s"ES top-k did not plan as per-partition heaps:\n$p")
  }

  test("rankedTopK consumers: vocab/pair top-k plans as TakeOrderedAndProject") {
    // VERDICT r8 #4: these ops used to rank their FULL post-aggregation
    // table (vocab / bigram pairs / keyed dimension) through one
    // unpartitioned window to keep k rows; Batching.rankedTopK must
    // plan the cut as per-partition heaps + one k-row merge, leaving
    // the surviving window bounded by the parameter k
    for (name <- Seq("q_text_zipf", "q_text_pmi",
        "q_text_kn_ngram", "q_agg_topn_other")) {
      val p = plan(name)
      assert(p.contains("TakeOrderedAndProject"),
        s"$name: top-k did not plan as per-partition heaps:\n$p")
    }
    // q_text_lsi also rides rankedTopK but slot-checkpoints its result
    // (Pinned lifecycle), so the entry-level plan is a checkpoint scan;
    // pin the helper's plan directly instead
    import org.apache.spark.sql.functions._
    val d = spark.range(0, 1000).select(col("id"), (col("id") % 37).as("w"))
    val p = graft.ops.Batching.rankedTopK(d, Seq(col("w").desc, col("id")), 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"rankedTopK itself did not plan as per-partition heaps:\n$p")
  }

  test("markov transitions: the row-normalizing total joins broadcast") {
    val p = plan("q_events_markov")
    assert(p.contains("BroadcastHashJoin"), s"per-from total join is not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"product join in markov plan:\n$p")
  }

  test("hll: register aggregate partially aggregates before its bucket-bounded shuffle") {
    // the corpus folds into ≤ 2^p partial registers per task BEFORE the
    // exchange — at 100 TB the shuffle moves (tasks × 256) rows, never
    // the key stream
    val p = plan("q_sketch_hll")
    val lines = p.split('\n').toSeq
    val firstExch = lines.indexWhere(_.contains("Exchange"))
    assert(firstExch >= 0 &&
      lines.drop(firstExch + 1).exists(_.contains("HashAggregate")),
      s"no partial aggregate below the register exchange:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"register densify must not shuffle the corpus:\n$p")
  }

  test("count-min: cell table broadcasts to the probe side; no product join") {
    val p = plan("q_sketch_cm")
    assert(p.contains("BroadcastHashJoin"),
      s"the d·w cell table must broadcast under the probe join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"product join in the count-min plan:\n$p")
  }

  test("k-core: final plan reads the MATERIALIZED peeled edges, no shuffle join") {
    // each peel round localCheckpoints, so the executed plan for the
    // result is just the degree aggregate over the checkpointed RDD —
    // the per-round broadcast semi-joins already ran (their plan shape
    // is pinned by the op-level test below)
    val p = plan("q_graph_kcore")
    assert(p.contains("ExistingRDD"),
      s"peeled edges should be a materialized checkpoint, not a re-derived plan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the final degree pass must not join:\n$p")
  }

  test("k-core: one peel round broadcasts the vertex-sized keep set") {
    import org.apache.spark.sql.functions.{col, count, lit, broadcast}
    val e = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("src"), col("l_partkey").as("dst"))
    val keep = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("__d"))
      .where(col("__d") >= 2).select("id")
    val round = e
      .join(broadcast(keep.withColumnRenamed("id", "src")), Seq("src"), "left_semi")
      .join(broadcast(keep.withColumnRenamed("id", "dst")), Seq("dst"), "left_semi")
    val p = round.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"survivor filtering must broadcast the keep set:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the edge list must be filtered in place, not shuffled:\n$p")
  }

  test("dbscan: neighbor pairs from the (cell) equi-join, never a product join") {
    val p = plan("q_embed_dbscan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"grid candidate generation degenerated to a product join:\n$p")
  }

  test("hierarchy rollup: dimension joins broadcast; shares join broadcast") {
    val p = plan("q_agg_hierarchy")
    val bhj = p.split('\n').count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 3, s"nation/region dims + parent totals should broadcast (got $bhj):\n$p")
    assert(!p.contains("CartesianProduct"), s"product join in the hierarchy plan:\n$p")
  }

  test("ohlc: one aggregate, no per-day window, no join") {
    val p = plan("q_events_ohlc")
    assert(!p.contains("Window"), s"open/close must come from struct min/max, not a window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no join belongs in the candle plan:\n$p")
  }

  test("cross-source overlap: gram-keyed equi-join, never a class-pair product") {
    val p = plan("q_text_cross_source")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"overlap candidates must come from the gram equi-join:\n$p")
  }

  test("weighted median: cumulative window over distinct values, no join") {
    val p = plan("q_agg_weighted_median")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastHashJoin"),
      s"weighted median must be aggregate + window only:\n$p")
  }

  test("rolling WAU: bounded coverage explode; only the 1-row bounds clip joins") {
    val p = plan("q_events_wau")
    assert(p.contains("Generate explode"),
      s"coverage must come from the bounded explode:\n$p")
    // the [lo, hi] clip is a 1-ROW broadcast (IdentityBroadcastMode) —
    // the library's standard broadcast-denominator shape; what must NOT
    // appear is a data-sized shuffle or product join
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"corpus-sized join in the rolling-distinct plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") ||
      p.contains("IdentityBroadcastMode"),
      s"nested-loop join without the 1-row bounds broadcast:\n$p")
  }

  test("rendezvous routing: shuffle-free scan-stage projection up to its aggregate") {
    val p = plan("q_sample_rendezvous")
    assert(!p.contains("Join"), s"shard assignment must not join:\n$p")
  }

  test("grouped hll estimate: one aggregate over the register table, no join back") {
    // the post-drain/serving side of q_stream_hll: estimating from
    // (windows × 256) register rows must never join or rescan a corpus
    val regs = graft.ops.Sketches.hllRegisters(
      spark.read.parquet(s"$dir/events.parquet").select("user_id"), "user_id", 8)
    val est = graft.ops.Sketches.hllEstimateGrouped(
      regs.withColumn("g", org.apache.spark.sql.functions.lit(1)), Seq("g"), 8)
    val ep = est.queryExecution.executedPlan.toString
    assert(!ep.contains("SortMergeJoin") && !ep.contains("CartesianProduct"),
      s"grouped estimate must not join:\n$ep")
  }

  test("nested4 cross-type sort: memcomparable key stays native and range-partitions") {
    // the unbounded-depth tier (JsonMemKey): one static-call expression
    // per row — never a ScalaUDF — and the BINARY key range-partitions
    // like any scalar. The entry itself rides rankWithinScaled, whose
    // materialization hides the key stage behind a Scan ExistingRDD
    // (the q_text_lsi situation), so the contract pins the key stage
    // directly over the parquet source.
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$dir/events.parquet")
    val keyed = e.select(col("event_id"),
      graft.functions.JsonMemKey.jsonSortKey(
        concat(lit("[["), col("event_id").cast("string"), lit("]]"))).as("__k"))
    val p = keyed.orderBy(col("__k")).queryExecution.executedPlan.toString
    assert(p.contains("graft_json_sort_key"), s"encoder expression missing:\n$p")
    assert(!p.contains("ScalaUDF"), s"UDF crept into the key path:\n$p")
    assert(p.contains("rangepartitioning"), s"sort did not range-partition:\n$p")
  }
}
