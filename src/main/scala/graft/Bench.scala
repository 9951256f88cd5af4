package graft

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    // Timing discipline (bench_schema 3):
    //   1. an UNTIMED warmup pass over the whole catalog at the smallest
    //      sibling SF dir — every entry's plan is compiled (Janino) and
    //      executed once on tiny data, so the Janino + C2 compile mass
    //      of the catalog lands BEFORE any timed run (r7 driver: one
    //      entry's cold run queued ~23 s of C2 work that drained into
    //      its own warm run and into neighbors — 34 s warm vs 15 s cold
    //      on unchanged code);
    //   2. a JIT QUIESCE before every timed run — poll the cumulative
    //      JIT-compile-time counter until it stops moving, so background
    //      C2 threads are idle when the clock starts;
    //   3. per-entry cold + warm runs, warm being the headline: cold
    //      then measures I/O + planning at the target SF, warm the
    //      engine. Per-entry JIT deltas go into the artifact so a
    //      grader can separate environment from code without
    //      archaeology, and warm>1.5×cold inversions are flagged.
    // optional args(0): comma-separated entry names — builder-side
    // iteration on a subset (same convention as Verify's 3rd arg)
    val only = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // benchExcluded applies to FULL runs (the grading artifact); an
    // explicit subset naming an excluded entry still times it — that is
    // how its documented worst case gets measured on purpose
    val entries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .filterNot { case (n, _) => only.isEmpty && SparkEntry.benchExcluded(n) }
    // a failed run reports -1, NOT its time-to-failure: a broken entry
    // must be visible in the artifact, never mistaken for a fast one
    def timeOne(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] entry failed: ${e.getMessage}"); -1.0
      }
    }
    // Per-entry session-state telemetry (VERDICT r5 "Next round" #1):
    // counters that can only grow if something leaks — persisted RDDs,
    // JVM heap/GC, loaded classes (codegen churn), JIT time, code-cache
    // occupancy, spark.local.dir scratch bytes. Written per entry to
    // BENCH_TELEMETRY.jsonl so a monotone counter is identifiable
    // offline without inflating the byte-bounded stdout artifact.
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    val clBean = java.lang.management.ManagementFactory.getClassLoadingMXBean
    val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
    val codeCachePools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .stream().filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .toArray.toSeq.map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
    def jitNow(): Long =
      if (jitBean != null && jitBean.isCompilationTimeMonitoringSupported)
        jitBean.getTotalCompilationTime else -1L
    // Wait until the JVM's cumulative compile-time counter has been
    // still for `stableMs` (background C2 queue drained), capped — the
    // counter only moves while compiler threads burn CPU, so stillness
    // means the timed run that follows is not co-scheduled with compile
    // work from a PREVIOUS run. Stillness OBSERVED BEFORE the call
    // counts: the counter is monotone, so an unchanged value across the
    // previous timed run proves the compiler was idle that whole span —
    // without this, every quiesce pays the full stableMs window even on
    // a dead-idle JIT, and 2 calls × 298 entries × 250 ms was 168 s of
    // pure waiting (the r8 #6 overhead, second half). Returns seconds
    // waited (reported as quiesce overhead, never billed to an entry).
    var qLastJit = jitNow()
    var qLastChangeNs = System.nanoTime()
    def quiesce(stableMs: Long, capMs: Long): Double = {
      val t0 = System.nanoTime()
      if (jitNow() < 0) return 0.0
      def observe(): Unit = {
        val cur = jitNow()
        if (cur != qLastJit) { qLastJit = cur; qLastChangeNs = System.nanoTime() }
      }
      observe()
      while ((System.nanoTime() - t0) / 1e6 < capMs &&
             (System.nanoTime() - qLastChangeNs) / 1e6 < stableMs) {
        Thread.sleep(50)
        observe()
      }
      (System.nanoTime() - t0) / 1e9
    }
    val localDirs: Seq[java.io.File] =
      spark.sparkContext.getConf.get("spark.local.dir", System.getProperty("java.io.tmpdir"))
        .split(",").toSeq.map(new java.io.File(_))
    def scratch(): (Long, Long) = {
      var files = 0L; var bytes = 0L
      def walk(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach { k =>
          if (k.isDirectory) walk(k) else { files += 1; bytes += k.length() }
        }
      }
      localDirs.foreach { d =>
        val kids = d.listFiles()
        if (kids != null)
          kids.filter(k => k.isDirectory &&
              (k.getName.startsWith("blockmgr") || k.getName.startsWith("spark")))
            .foreach(walk)
      }
      (files, bytes)
    }
    // Subset runs must not clobber the committed full-run telemetry (same
    // rule as BENCH.json below): subset telemetry goes to a BENCH_OUT-
    // derived path or nowhere. Writer creation is guarded — an unwritable
    // cwd must not abort the bench — and falls back to a null sink.
    val telemetryPath: Option[String] =
      if (only.isEmpty) Some("BENCH_TELEMETRY.jsonl")
      else sys.env.get("SPARK_GRAFT_BENCH_OUT").map(_ + ".telemetry.jsonl")
    val telemetryOut: Option[java.io.PrintWriter] = telemetryPath.flatMap { p =>
      try Some(new java.io.PrintWriter(new java.io.FileWriter(p)))
      catch { case e: Throwable =>
        System.err.println(s"[bench] telemetry disabled: ${e.getMessage}"); None
      }
    }
    // entry names are code-defined identifiers; assert that before
    // interpolating them into hand-built JSON
    entries.foreach { case (n, _) =>
      require(n.matches("[A-Za-z0-9_]+"), s"non-identifier entry name: $n") }
    def telemetry(name: String, phase: String, sec: Double): Unit = try {
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory - rt.freeMemory) / (1 << 20)
      var gcMs = 0L; gcBeans.forEach(b => gcMs += b.getCollectionTime)
      val rdds = spark.sparkContext.getPersistentRDDs
      val storage = spark.sparkContext.getRDDStorageInfo
      val memUsed = storage.map(_.memSize).sum / (1 << 20)
      val dskUsed = storage.map(_.diskSize).sum / (1 << 20)
      val (sf2, sb) = scratch()
      val ccMb = codeCachePools.map(_.getUsage.getUsed).sum / (1 << 20)
      // synchronized: warmup rows are emitted from concurrent family
      // threads (see below); timed rows stay strictly sequential
      telemetryOut.foreach { o =>
        o.synchronized {
          o.println(
            s"""{"entry":"$name","phase":"$phase","sec":${math.rint(sec * 1000) / 1000},"heap_mb":$heapMb,"gc_ms_cum":$gcMs,"classes":${clBean.getLoadedClassCount},"jit_ms_cum":${jitNow()},"codecache_mb":$ccMb,"persistent_rdds":${rdds.size},"storage_mem_mb":$memUsed,"storage_disk_mb":$dskUsed,"scratch_files":$sf2,"scratch_mb":${sb / (1 << 20)}}""")
          o.flush()
        }
      }
    } catch { case _: Throwable => () }
    // -- warmup pass -------------------------------------------------------
    // Smallest sibling SF dir: codegen depends on schema + expressions,
    // not data volume, so executing each entry once on sf0.001 compiles
    // (nearly) the same generated classes the timed runs will use, at
    // negligible I/O cost. (AQE can still pick different physical joins
    // at the target SF — that residue is what the per-entry jit_ms
    // column makes visible.) Skippable for builder iteration.
    val warmupDir: Option[String] =
      if (sys.env.contains("SPARK_GRAFT_BENCH_SKIP_WARMUP")) None
      else {
        val p = java.nio.file.Paths.get(sfDir).toAbsolutePath.normalize
        Option(p.getParent).map(_.resolve("sf0.001"))
          // NORMALIZED compare: a trailing slash or relative sfDir must
          // not defeat the same-directory check and double the warmup
          // by re-running the catalog at the target SF (review r9)
          .filter(d => java.nio.file.Files.isDirectory(d) &&
            d.toAbsolutePath.normalize != p)
          .map(_.toString)
      }
    val tWarmup0 = System.nanoTime()
    warmupDir.foreach { wd =>
      // PARALLEL warmup (VERDICT r8 #6: warmup+quiesce wall time had
      // grown past the timed work). The warmup's job is to GENERATE the
      // catalog's compile mass before the clock starts — the mass is
      // per-entry fixed, so running entry families concurrently cuts
      // wall time without changing what gets compiled (the quiesce
      // after still drains it all). Families (name prefix up to the 2nd
      // '_') stay SEQUENTIAL within a thread: family members share
      // artifact paths (saved indexes, container warehouses) that must
      // not race. Each thread warms on its own `newSession()` — stream
      // entries temporarily lower spark.sql.shuffle.partitions and
      // restore it, which on one shared session would race across
      // threads and could leave the timed runs misconfigured; isolated
      // SQLConfs make that a per-thread affair. Failures stay ignored
      // (a cross-family slot-cache race can fail one warmup run; its
      // compile mass has largely landed by then and the timed runs are
      // strictly sequential).
      val families = entries
        .groupBy { case (n, _) => SparkEntry.entryFamily(n) }
        .toSeq.sortBy(_._1)
      // pool sized to the family count (r9 capped at 8; VERDICT r9 #2):
      // warmup wall is bounded below by the LONGEST family chain
      // (~20 s), so an 8-thread pool serializing ~38 families onto 8
      // lanes paid ~67 s of wall for no extra safety — the per-family
      // sequencing is what protects shared artifact paths, not the
      // lane count. 16 concurrent tiny sf0.001 jobs on a local[32]
      // scheduler leave the timed phase untouched (warmup is untimed
      // and fully drained by the post-warmup quiesce).
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(16, families.size)))
      val done = new java.util.concurrent.CountDownLatch(families.size)
      families.foreach { case (_, fam) =>
        pool.execute(() => {
          try {
            val sess = spark.newSession()
            fam.foreach { case (name, fn) =>
              try fn(sess, wd).count()
              catch { case e: Throwable =>
                System.err.println(s"[bench] warmup $name failed (ignored): ${e.getMessage}") }
              telemetry(name, "warmup", -1.0)
            }
          } finally done.countDown()
        })
      }
      done.await()
      pool.shutdown()
    }
    // warmup_sec ends BEFORE the drain: the post-warmup JIT quiesce is
    // accounted once, in quiesce_sec (it was previously inside both)
    val warmupSec = (System.nanoTime() - tWarmup0) / 1e9
    // long drain after the bulk compile mass; short settle per timed
    // run. Stillness windows (r9 → r10, VERDICT r9 #2): the counter
    // updates per COMPLETED compilation — while a C2 queue drains,
    // completions land every few ms, so 150 ms of observed stillness
    // already proves an empty queue with the same margin 250 ms did;
    // at ~200 jit-active timed runs the shave is ~20-30 s of pure
    // waiting. The inversion flags remain the methodology's own check
    // that the shorter settle never re-admits co-scheduling.
    val warmupQuiesce = if (warmupDir.isDefined) quiesce(300, 120000) else 0.0
    var quiesceSec = warmupQuiesce
    // family-boundary drains (r12, VERDICT r11 #2): when the
    // alphabetical pass LEAVES a family, the registry artifacts it owns
    // (keys named `<family>.`) are released before the next family's
    // clock starts — r11's recent-edge list (~500 MB, persisted at the
    // graph block with no release path) stayed resident for the rest
    // of the run and every >2× regression in the driver artifact sat
    // alphabetically downstream of it. ALL held operator results drain
    // at every boundary too (r13, VERDICT r12 #4): every op invocation
    // recomputes and re-holds, so that costs zero recompute and keeps
    // steady-state persistent_rdds near the build-once artifact count.
    // The drain is untimed (between entries, before the quiesce).
    var prevFamily: String = null
    val results = try entries.map { case (name, fn) =>
      if (prevFamily != null && SparkEntry.entryFamily(name) != prevFamily) {
        graft.util.Artifacts.drain(prevFamily + ".")
        graft.util.Artifacts.drain(graft.ops.Pinned.HoldPrefix)
      }
      prevFamily = SparkEntry.entryFamily(name)
      quiesceSec += quiesce(150, 5000)
      val jit0 = jitNow()
      val cold = timeOne(fn)
      val jitCold = if (jit0 < 0) -1L else jitNow() - jit0
      telemetry(name, "cold", cold)
      quiesceSec += quiesce(150, 5000)
      val jit1 = jitNow()
      val warm = timeOne(fn)
      val jitWarm = if (jit1 < 0) -1L else jitNow() - jit1
      telemetry(name, "warm", warm)
      // In-run adjudication (review r11, automating the r7 #7 protocol):
      // every round's inversion/regression suspicion has so far resolved
      // as scheduling noise under a MANUAL isolated rerun — do that rerun
      // HERE, while the flag is fresh, so the artifact ships with its own
      // adjudication evidence. The headline warm number stays the
      // original measurement (the rerun is evidence, never a substitute);
      // only entries whose RERUN also trips the signature remain flagged.
      val rerun =
        if (cold > 0 && warm > 1.5 * cold && warm - cold > 1.0) {
          quiesceSec += quiesce(150, 5000)
          val r = timeOne(fn)
          telemetry(name, "rerun", r)
          r
        } else -1.0
      (name, warm, cold, jitWarm, jitCold, rerun)
    } finally {
      // the end of the pass drains the whole registry (the loop only
      // drains on boundary crossings, and a later consumer may have
      // rebuilt an earlier family's artifact) — keeps the post-run
      // session clean for the ETL throughput measurement below.
      // Guarded: a drain failing on a wrecked session must not mask the
      // loop's own exception or skip closing the telemetry stream.
      try graft.util.Artifacts.drain("")
      catch { case e: Throwable =>
        System.err.println(s"[bench] family drain failed (ignored): ${e.getMessage}")
      }
      telemetryOut.foreach(_.close())
    }
    // millisecond precision keeps the one-line artifact small — the
    // driver stores a byte-bounded TAIL of the line, so every byte of
    // per-query noise pushes the headline keys closer to the clip point
    def r3(v: Double): Double = if (v < 0) v else math.rint(v * 1000) / 1000
    def jmapD(f: ((String, Double, Double, Long, Long, Double)) => (String, Double)): String =
      results.map(r => { val (k, v) = f(r); "\"" + k + "\":" + r3(v) })
        .mkString("{", ",", "}")
    val qs = jmapD { case (k, w, _, _, _, _) => (k, w) }
    val qsCold = jmapD { case (k, _, c, _, _, _) => (k, c) }
    val qsJit = results.map { case (k, _, _, jw, jc, _) => "\"" + k + "\":[" + jc + "," + jw + "]" }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, w, c, _, _, _) if w < 0 || c < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // warm > 1.5× cold with ≥1 s of absolute excess is the r7 backlog
    // signature (34 s warm vs 15 s cold) — with the warmup + quiesce
    // discipline this list is asserted EMPTY by eye in review; it is
    // the artifact's own methodology check, not a per-entry grade. The
    // absolute-excess term keeps sub-second scheduling blips (1.0 s vs
    // 0.65 s) from false-flagging: the signature being hunted costs
    // whole seconds, not tenths. As of r11 a tripped entry is re-run
    // once in-place (see `rerun` above): `inversion_reruns` records
    // every adjudication (name → rerun seconds), and `inversions` keeps
    // only entries whose rerun ALSO tripped — persistent flags, which
    // unlike the noise class demand investigation.
    val inversionReruns = results.collect {
      case (k, _, _, _, _, r) if r >= 0 => "\"" + k + "\":" + r3(r)
    }.mkString("{", ",", "}")
    val inversions = results.collect {
      case (k, w, c, _, _, r) if c > 0 && w > 1.5 * c && w - c > 1.0 &&
        (r < 0 || (r > 1.5 * c && r - c > 1.0)) => "\"" + k + "\""
    }.mkString("[", ",", "]")
    results.collect { case (k, _, c, _, _, r) if r >= 0 && c > 0 &&
        (r > 1.5 * c && r - c > 1.0) => k }
      .foreach(k => System.err.println(s"[bench] PERSISTENT inversion (survived rerun): $k"))
    val total = r3(results.map(_._2).filter(_ >= 0).sum)
    val totalCold = r3(results.map(_._3).filter(_ >= 0).sum)
    // ETL assembly throughput: full 3-level snowflake (customer ⊃ orders
    // ⊃ lineitems + nation lookup) docs per second at this SF — same
    // second-of-two-runs discipline. Skipped for subset runs (it is
    // seconds of work unrelated to the entries under iteration).
    val etlDps = if (only.isDefined) -1.0 else try {
      val load = SparkEntry.loader(spark, sfDir)
      val plan = graft.etl.SnowflakePlan("customer", "c_custkey",
        lookups = Seq(graft.etl.Lookup("c_nationkey", "nation",
          graft.etl.SnowflakePlan("nation", "n_nationkey", referenceOnly = Some("n_name"), showForeignKeys = false))),
        children = Seq(graft.etl.Child("o_custkey", "orders",
          graft.etl.SnowflakePlan("orders", "o_orderkey",
            children = Seq(graft.etl.Child("l_orderkey", "lineitems",
              graft.etl.SnowflakePlan("lineitem", "l_orderkey")))))))
      graft.etl.DocAssembler.assemble(plan, load).count()
      val t0 = System.nanoTime()
      val n = graft.etl.DocAssembler.assemble(plan, load).count()
      n / ((System.nanoTime() - t0) / 1e9)
    } catch { case _: Throwable => -1.0 }
    // Key ORDER is load-bearing: the driver stores a byte-bounded TAIL of
    // this line, so the bulky cold/JIT maps go FIRST and everything a
    // grader needs — warm per-query map, methodology fields, then the
    // headline totals — goes LAST. "metric"/"value"/"unit" keep their
    // meaning (value = warm total, the engine number); "bench_schema":4
    // marks the in-run inversion-rerun adjudication (3 = r8-r10
    // warmup+quiesce without reruns; 2 = r2-r7 warm-headline without
    // warmup; 1 = r01 cold-only). queries_jit_ms maps entry →
    // [cold_delta, warm_delta] of the JVM's cumulative JIT-compile-time
    // counter across that timed run — the environment-vs-code separator
    // VERDICT r7 #6 asked for.
    // paths come from the ENVIRONMENT — escape them like any other JSON
    // string (Verify.q's rule; review r9: a quote/backslash in
    // SPARK_GRAFT_SF_DIR produced an unparseable artifact)
    def jsonStr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val line = s"""{"queries_cold":$qsCold,"queries_jit_ms":$qsJit,"errors":$errors,"etl_assemble_docs_per_sec":${etlDps.toLong},"sf":${jsonStr(sfDir)},"queries":$qs,"bench_schema":4,"inversion_reruns":$inversionReruns,"bench_excluded":${SparkEntry.benchExcluded.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},"warmup_dir":${warmupDir.map(jsonStr).getOrElse("null")},"warmup_sec":${r3(warmupSec)},"warmup_quiesce_sec":${r3(warmupQuiesce)},"quiesce_sec":${r3(quiesceSec)},"inversions":$inversions,"total_cold":$totalCold,"total_warm":$total,"metric":"total","value":$total,"unit":"sec"}"""
    // belt-and-braces: the FULL artifact also lands in the repo as
    // BENCH.json (the driver commits leftover files at round end), so the
    // warm map survives even if the stdout tail is clipped. A SUBSET run
    // must never touch that path: a partial artifact is indistinguishable
    // from a full one once committed (it has the same headline keys), so
    // subset output goes only to an explicit SPARK_GRAFT_BENCH_OUT.
    val outPath = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (only.isEmpty) Some("BENCH.json") else None)
    outPath.foreach { pth =>
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(pth), line + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] $pth write failed: ${e.getMessage}") }
    }
    println(line)
    spark.stop()
  }
}
