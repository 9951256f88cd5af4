package graft

/** Builder-side diagnostic harness (not part of the shipped library or
  * the suite): run one catalog entry N consecutive times at a given SF
  * dir and print per-run wall time plus session counters — the r7
  * attribution protocol for warm>cold inversion flags, runnable
  * outside the full bench. Usage:
  *   Test/runMain graft.ProbeMain <entry[,entry...]> <sfDir> <n> [drain]
  * With the 4th arg `drain`, every run starts artifact-cold (the whole
  * [[graft.util.Artifacts]] registry drained first) — measures an
  * entry's STANDALONE cost on a JIT-warm JVM, the bound VERDICT r12 #2
  * asks for.
  */
object ProbeMain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val n = if (args.length > 2) args(2).toInt else 4
    val drainEach = args.length > 3 && args(3) == "drain"
    val spark = GraftSession.get()
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMs: Long = { var t = 0L; gcBeans.forEach(b => t += b.getCollectionTime); t }
    for (name <- names; i <- 1 to n) {
      val fn = SparkEntry.queries(name)
      if (drainEach && i > 1) graft.util.Artifacts.drain("")
      val g0 = gcMs
      val t0 = System.nanoTime()
      val rows = fn(spark, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val rt = Runtime.getRuntime
      println(f"[probe] $name run$i: $sec%.2f s rows=$rows gc=+${gcMs - g0}ms " +
        f"heap=${(rt.totalMemory - rt.freeMemory) / (1 << 20)}MB " +
        f"rdds=${spark.sparkContext.getPersistentRDDs.size} " +
        f"storage=${spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1 << 20)}MB")
    }
    spark.stop()
  }
}
