package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work-dir <dir>
  *
  * Sets the workload up SetupRuns times (fresh directories each time; the
  * median is setup_s), warms it up untimed, then runs its closed loop for
  * the given seconds and checks every output. Prints one info line per
  * figure, then the result as one JSON line. Exits 1 if any check fails. */
object Main {
  val SetupRuns = 3
  /** Untimed warm-up before the window: a fresh JVM's JIT is still
    * speeding the loop up for several seconds. */
  val WarmupSeconds = 2.0

  val Workloads: Map[String, (SparkSession, Long, Tracer) => Workload] = Map(
    "etl_incremental" -> ((s, seed, tr) => new EtlIncremental(s, seed, tr)),
    "jx_read" -> ((s, seed, tr) => new JxRead(s, seed, tr)),
    "store_rw" -> ((s, seed, tr) => new StoreRw(s, seed, tr)),
    "ops_curate" -> ((s, seed, tr) => new OpsCurate(s, seed, tr)))

  /** Every per-layer metric, in print order. A run reports 0 for the
    * layers its workload does not call. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "etl.extract_run_s" -> "s", "etl.jobs_per_increment" -> "count", "etl.stages_per_increment" -> "count",
    "etl.tasks_per_increment" -> "count", "etl.jobs_by_callsite.head" -> "count",
    "etl.jobs_by_callsite.collect" -> "count", "etl.jobs_by_callsite.json" -> "count",
    "etl.jobs_by_callsite.other" -> "count", "etl.table_loads_per_increment" -> "count",
    "etl.notify_s" -> "s", "etl.notifications_per_increment" -> "count", "etl.shuffle_write_bytes" -> "B",
    "etl.spill_bytes" -> "B", "etl.output_bytes" -> "B", "etl.objects_per_batch_key" -> "count",
    "jx.parse_s" -> "s", "jx.build_s" -> "s", "jx.plan_s" -> "s", "jx.exec_format_s" -> "s",
    "jx.jobs_per_query" -> "count", "jx.tasks_per_query" -> "count", "jx.result_bytes" -> "B",
    "jx.assembly_cache_live" -> "count",
    "container.insert_s" -> "s", "container.update_s" -> "s", "container.delete_s" -> "s",
    "container.upsert_s" -> "s", "container.vacuum_s" -> "s", "container.read_at_s" -> "s",
    "container.query_s" -> "s", "container.jobs_per_write" -> "count",
    "container.files_per_snapshot" -> "count", "container.bytes_written_per_write" -> "B",
    "container.versions_on_disk" -> "count",
    "ops.exact_dedup_s" -> "s", "ops.lsh_pairs_s" -> "s", "ops.quality_filter_s" -> "s",
    "ops.ivf_fit_s" -> "s", "ops.ivf_search_s" -> "s", "ops.jobs_per_call" -> "count",
    "ops.shuffle_bytes_per_call" -> "B", "ops.persistent_rdds_after_pass" -> "count",
    "etl_backfill_docs_per_s" -> "docs/s", "etl_increment_p50_s" -> "s", "etl_increment_tail_s" -> "s",
    "etl_bytes_per_doc" -> "B", "jx_query_p50_s" -> "s", "jx_query_tail_s" -> "s",
    "store_write_p50_s" -> "s", "store_write_tail_s" -> "s", "store_read_p50_s" -> "s",
    "store_space_amp" -> "ratio", "ops_pass_s" -> "s", "ops_ivf_recall_at_10" -> "ratio",
    "ops_lsh_recall" -> "ratio",
    "spark.gc_s" -> "s", "spark.jit_ms" -> "ms", "spark.heap_mb_peak" -> "MB",
    "trace.overhead_p50_s" -> "s", "trace.overhead_tail_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, workDir: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match { case "0" => false; case "1" => true; case t => throw new IllegalArgumentException(s"--trace $t") },
      Paths.get(need("work-dir")).toAbsolutePath)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; have ${Workloads.keys.toSeq.sorted.mkString(", ")}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.workDir)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.builder(cores.toString)
      .config("spark.local.dir", a.workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ok = try run(spark, a) finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def run(spark: SparkSession, a: Args): Boolean = {
    val tr = new Tracer(spark.sparkContext, a.trace)
    val w = Workloads(a.workload)(spark, a.seed, tr)
    val setups = (0 until SetupRuns).map { k =>
      val dir = a.workDir.resolve(s"setup$k")
      val (_, s) = Runner.seconds(w.setup(dir))
      if (k > 0) graft.util.Fs.deleteRecursively(a.workDir.resolve(s"setup${k - 1}"))
      s
    }
    val (_, warm) = Runner.seconds(w.warmup(WarmupSeconds))

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    val jit = ManagementFactory.getCompilationMXBean
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val jit0 = jit.getTotalCompilationTime
    heapPools.foreach(_.resetPeakUsage())

    val traced = (i: Int) => a.trace && w.traced(i)
    // a traced run needs two blocks in each of its halves
    val minOps = if (a.trace) math.max(w.minOps, w.leadOps + 4 * w.traceBlock) else w.minOps
    val raw = Runner.loop(a.seconds, w.kind, traced, w.leadOps, minOps)(i => tr.op(i, traced(i))(w.run(i)))
    val gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1000.0
    val jitMs = (jit.getTotalCompilationTime - jit0).toDouble
    val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    tr.drain()

    val ((records, global), checkS) = Runner.seconds {
      val rs = Runner.verify(raw, w.verify)
      val g = try w.finalCheck(rs) catch {
        case scala.util.control.NonFatal(e) => Seq(s"final check threw: $e")
      }
      // a whole-run check cannot say which op went wrong, so it fails them all
      (if (g.isEmpty) rs else rs.map(_.copy(ok = false, error = Some("whole-run check failed"))), g)
    }
    val failed = records.count(!_.ok)
    val correct = failed == 0 && global.isEmpty

    val prim = w.samples(records)
    val tail = Stats.tail(prim)
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups), "s"),
      Metric("p50_s", Layer.medianOr0(prim), "s"),
      Metric("accuracy", w.accuracy(records), "ratio"))
    val own = w.workloadMetrics(records)

    println(s"info workload=${a.workload} seed=${a.seed} cores=${Runtime.getRuntime.availableProcessors()} " +
      s"trace=${if (a.trace) 1 else 0} attempted=${records.size} failed=$failed " +
      s"primary_samples=${prim.size} " +
      tail.map(t => f"tail=p${t.percentile}%.1f").getOrElse("tail=none(<20 samples)") +
      f" setup_runs=${setups.map(s => f"$s%.3f").mkString("/")} warmup_s=$warm%.3f check_s=$checkS%.3f" +
      f" jvm_uptime_s=${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f")
    println("info op_ms=" + records.map(r => f"${r.kind}:${r.seconds * 1000}%.0f").mkString(","))
    records.filter(!_.ok).take(5).foreach(r => println(s"info failed op ${r.index} (${r.kind}): ${r.error.getOrElse("")}"))
    global.foreach(g => println(s"info check failed: $g"))
    (e2e ++ own).foreach(m => println(s"metric ${m.name} ${fmt(m.value)} ${m.unit}"))

    val out =
      if (!a.trace) e2e
      else {
        // the same samples p50_s is made of, from the traced and the
        // untraced ops apart
        def overhead(f: Seq[Double] => Double) = {
          val (t, u) = records.partition(_.traced)
          val (ts, us) = (w.samples(t), w.samples(u))
          if (ts.isEmpty || us.isEmpty) 0.0 else f(ts) - f(us)
        }
        val tailOf = (xs: Seq[Double]) => Stats.tail(xs).map(_.value).getOrElse(xs.max)
        val layer = (w.layerMetrics(records, tr) ++ own ++ Seq(
          Metric("spark.gc_s", gcS, "s"), Metric("spark.jit_ms", jitMs, "ms"),
          Metric("spark.heap_mb_peak", heapMb, "MB"),
          Metric("trace.overhead_p50_s", overhead(Stats.median), "s"),
          Metric("trace.overhead_tail_s", overhead(tailOf), "s"))).map(m => m.name -> m).toMap
        val traceFile = a.workDir.getParent.resolve("traces").resolve(s"${a.workload}-seed${a.seed}.jsonl")
        tr.writeJsonl(traceFile)
        println(s"info ${tr.recorded.size} spans written to $traceFile")
        LayerMetrics.map { case (n, u) => layer.getOrElse(n, Metric(n, 0.0, u)) }
      }
    val metrics = out.map(m => s""""${m.name}": {"value": ${fmt(m.value)}, "unit": "${m.unit}"}""")
      .mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": ${records.size}, "failed": $failed, "metrics": $metrics}""")
    correct
  }
}
