package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchPlanning
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One recorded call into a layer: `parent` is the enclosing span's id
  * (-1 at an op's top level) and `op` the closed-loop operation it ran in. */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: counts come from a SparkListener
  * that maps each job to the span whose thread submitted it. */
final class SpanWork {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
  val jobsByAction = new ConcurrentHashMap[String, java.lang.Long]()
}

/** Span recorder for the traced run. Spans are kept in memory and written
  * once when the run ends. With `enabled = false` every call runs its body
  * directly and no listener is registered, so the untraced run pays
  * nothing. In a traced run only the ops passed `traced = true` record
  * spans; the others are the in-run untraced baseline for the tracing
  * overhead.
  *
  * Optimisation and physical planning run lazily inside whatever call
  * first executes a query, so they are read from each SQL execution's
  * planning tracker when the execution ends and attributed to the span
  * its jobs ran under; an execution that runs no Spark job is not
  * attributed. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val SpanProp = "perfbench.span"
  private val spans = ArrayBuffer[Span]()
  private val work = new ConcurrentHashMap[Int, SpanWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val executionSite = new ConcurrentHashMap[Long, String]()
  private val executionSpan = new ConcurrentHashMap[Long, Int]()
  private val executionPlanNs = new ConcurrentHashMap[Long, Long]()
  private var stack: List[Int] = Nil
  private var currentOp = -1
  private var nextId = 0

  private val listener = new SparkListener {
    // adaptive execution submits a query's jobs from its own threads, so
    // their stage names are generic; the SQL execution they belong to
    // carries the caller's call site as its description
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => executionSite.put(s.executionId, s.description)
      case x: SparkListenerSQLExecutionEnd =>
        PerfbenchPlanning.planMs(x).foreach(ms => executionPlanNs.put(x.executionId, ms * 1000000L))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(SpanProp)))
      p.foreach { id =>
        val w = work.computeIfAbsent(id.toInt, _ => new SpanWork)
        w.jobs += 1
        val execution = Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong)
        execution.foreach(x => executionSpan.putIfAbsent(x, id.toInt))
        val site = execution.flatMap(x => Option(executionSite.get(x)))
          .getOrElse(if (e.stageInfos.isEmpty) null else e.stageInfos.maxBy(_.stageId).name)
        w.jobsByAction.merge(Tracer.action(site), 1L, (a, b) => a + b)
        e.stageIds.foreach(s => stageSpan.put(s, id.toInt))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { id =>
        val w = work.computeIfAbsent(id, _ => new SpanWork)
        w.stages += 1
        w.tasks += e.stageInfo.numTasks
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run one closed-loop op; spans inside it are recorded when `traced`. */
  def op[T](opId: Int, traced: Boolean)(body: => T): T =
    if (!enabled || !traced) body
    else {
      currentOp = opId
      try body finally currentOp = -1
    }

  /** Is the current op recording spans? */
  def recording: Boolean = currentOp >= 0

  /** Record `body` as a span named `name` when the enclosing op is traced.
    * The span id rides the thread's Spark local properties, so every job
    * the body submits is attributed to the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (currentOp < 0) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
        spans += Span(id, name, parent, currentOp, t0, t1)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def recorded: Seq[Span] = spans.toSeq

  /** Optimisation plus physical planning of the SQL executions whose
    * jobs ran under span `id` (millisecond resolution per execution). */
  def planSeconds(id: Int): Double =
    executionSpan.asScala.collect { case (x, s) if s == id => executionPlanNs.getOrDefault(x, 0L) }.sum / 1e9

  def workOf(id: Int): SpanWork = Option(work.get(id)).getOrElse(new SpanWork)

  /** Spark work of `s` and every span nested inside it. */
  def workUnder(s: Span): Seq[SpanWork] = {
    val kids = spans.groupBy(_.parent)
    def walk(x: Span): Seq[SpanWork] = workOf(x.id) +: kids.getOrElse(x.id, Nil).toSeq.flatMap(walk)
    walk(s)
  }

  /** Spans as JSON lines, written once at the end of the run. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val w = workOf(s.id)
      val acts = w.jobsByAction.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${w.jobs},"stages":${w.stages},""" +
        s""""tasks":${w.tasks},"shuffle_write_bytes":${w.shuffleWriteBytes},""" +
        s""""spill_bytes":${w.spillBytes},"plan_s":${planSeconds(s.id)},"jobs_by_action":$acts}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** The action of a job call site: "head at Extract.scala:140" -> "head". */
  def action(callSite: String): String =
    Option(callSite).map(_.trim.takeWhile(c => c.isLetterOrDigit || c == '_'))
      .filter(_.nonEmpty).getOrElse("other")
}
