package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/**
 * Explicit lifecycle management for `localCheckpoint` pins — the
 * discipline [[Dedup.connectedComponents]] institutionalized, factored
 * out for every iterative / multi-consumer operator (Graph, Sampling,
 * Similarity, TextAnalysis).
 *
 * WHY: `df.localCheckpoint()` is eager and its blocks are freed only by
 * the GC-driven ContextCleaner — on a large-heap driver that rarely
 * collects, every per-iteration checkpoint lingers for the life of the
 * JVM. Driver telemetry across the r8 graph bench showed
 * `persistent_rdds` marching 17→34 and pinned storage 28→824 MB with
 * GC flat, and warm runs landing SLOWER than cold (q_graph_communities
 * 6.8 s cold → 16.9 s warm) because each run executed on top of the
 * previous run's unreleased blocks. `persist()+unpersist()` is NOT a
 * substitute: repeat invocations build identical plans, so CacheManager
 * dedupes the new pin onto the old cache entry and unpersisting either
 * drops both. A localCheckpoint has no plan identity — but it DOES have
 * a backing RDD, and unpersisting that RDD releases the blocks
 * deterministically. This object hands the caller that handle.
 *
 * CONTRACT: a released pin must never be computed again — local
 * checkpointing truncates lineage, so a post-release access fails
 * rather than recomputes. Callers therefore (a) release intermediates
 * only after the pin that supersedes them has materialized (the
 * eager checkpoint in [[checkpoint]] guarantees that ordering), and
 * (b) route anything they RETURN through [[hold]], which checkpoints
 * the result so it references no released intermediate and bounds
 * residency to one live result per key (benchmarks and notebook
 * re-runs replace, not accumulate). On a multi-node cluster prefer a
 * reliable checkpoint dir for fault tolerance — localCheckpoint does
 * not survive executor loss; the lifecycle discipline is identical.
 */
object Pinned {

  /** Eagerly localCheckpoint `df` and return the checkpointed frame
    * plus the handle that releases its blocks. The handle is the
    * checkpoint's backing RDD, recovered from the `LogicalRDD` leaf the
    * checkpoint plan consists of (null if the plan shape ever changes —
    * [[release]] tolerates null, degrading to the old GC-driven
    * behavior rather than failing). */
  def checkpoint(df: DataFrame): (DataFrame, RDD[_]) = {
    val c = df.localCheckpoint()
    val handle = c.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.headOption.orNull
    if (handle != null) {
      val fs = frames.get()
      if (!fs.isEmpty) fs.peek().add(handle)
    }
    (c, handle)
  }

  /** Release pins. Null handles are ignored; non-blocking (block
    * removal proceeds asynchronously — the point is that it happens at
    * all, not that the caller waits for it). */
  def release(handles: RDD[_]*): Unit =
    handles.foreach { h =>
      if (h != null) {
        frames.get().forEach(f => { f.remove(h); () })
        h.unpersist(blocking = false)
      }
    }

  /** EXCEPTION-SAFE pin scope: every [[checkpoint]] taken inside `body`
    * (on this thread) is tracked, and if `body` throws, the handles not
    * yet released are unpersisted before the exception propagates — a
    * mid-iteration failure must not leave round pins resident for the
    * JVM's lifetime (the blocks a large-heap ContextCleaner never
    * frees; review r9). Normal exit releases nothing extra: the body's
    * own release/hold calls define the end state. Guards nest per
    * thread (each guard releases only its own frame's leftovers). */
  def guard[T](body: => T): T = {
    val fs = frames.get()
    val frame = new java.util.HashSet[RDD[_]]()
    fs.push(frame)
    try body
    catch { case e: Throwable =>
      frame.forEach(h => h.unpersist(blocking = false)); throw e }
    finally fs.pop()
  }

  private val frames =
    new ThreadLocal[java.util.ArrayDeque[java.util.HashSet[RDD[_]]]] {
      override def initialValue() = new java.util.ArrayDeque[java.util.HashSet[RDD[_]]]()
    }

  /** Registry prefix of [[hold]] results; Bench drains it at every
    * family boundary. */
  val HoldPrefix = "hold."

  /** One live result per key: checkpoint `df` (so the returned frame
    * references no intermediate the caller is about to release), then
    * put it in [[graft.util.Artifacts]] under `HoldPrefix + key`,
    * releasing the previous occupant. Keys are per-operator (e.g.
    * "graph.pagerank") — steady-state residency is bounded by the number
    * of operator families, each holding one result-sized pin.
    *
    * CALLER-VISIBLE CONTRACT: re-invoking an operator that holds its
    * result INVALIDATES the frame the previous invocation returned —
    * its blocks are released and a checkpointed plan cannot recompute,
    * so later actions on the stale frame throw rather than silently
    * recompute. This is the deliberate trade for bounded residency
    * (the alternative — keeping every historical result pinned — is
    * exactly the r8 storage march this object exists to prevent).
    * A caller that needs two results of the SAME operator live at once
    * must copy the first out (write it, or `.persist()` + action on a
    * `.toDF()` re-plan) before invoking again; distinct operators never
    * contend (per-operator keys). A drain of the prefix releases held
    * results the same way. Ops routing results through here are also
    * EAGER — the checkpoint materializes at call time. */
  def hold(key: String, df: DataFrame): DataFrame = {
    val (c, handle) = checkpoint(df)
    if (handle != null) frames.get().forEach(f => { f.remove(handle); () })
    graft.util.Artifacts.put(graft.util.Artifacts.Key(HoldPrefix + key), handle)(release(_))
    c
  }
}
