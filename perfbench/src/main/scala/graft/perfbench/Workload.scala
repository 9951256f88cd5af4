package graft.perfbench

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One closed-loop operation as the loop saw it. `ok` turns false when the
  * op threw or when its output later fails the check. */
final case class OpRecord(index: Int, kind: String, seconds: Double, traced: Boolean,
                          ok: Boolean, error: Option[String])

final case class Metric(name: String, value: Double, unit: String)

/** A seeded workload. The loop calls `run(i)` for i = 0, 1, 2, ... with
  * each call waiting for the previous one (one client, closed loop).
  * Outputs are kept by the workload and checked by `verify` after the
  * timed window, so checking never adds to an op's time. */
trait Workload {
  /** Build every input from the seed under the fresh directory `dir`.
    * Runs several times per run; the timed window uses the last one. */
  def setup(dir: Path): Unit
  /** Untimed: fill program caches and warm the JIT, for at least
    * `seconds`, on scratch state the timed window does not reuse. */
  def warmup(seconds: Double): Unit
  def kind(i: Int): String
  def run(i: Int): Unit
  /** Did op i produce the right output? Called once per op that returned. */
  def verify(i: Int): Boolean
  /** Whole-run output checks; returns the failures. */
  def finalCheck(records: Seq[OpRecord]): Seq[String]
  /** Ops whose latency forms the workload's p50_s and tail_s. */
  def primary(r: OpRecord): Boolean
  /** Ops that run before the window's clock starts, each still timed and
    * checked: a backfill the window's increments build on. */
  def leadOps: Int = 0
  /** The window runs at least this many ops (lead ops included) however
    * slow the host, so every sample the metrics need exists. */
  def minOps: Int = 1
  /** Ops per tracing block: a block holds every op kind. */
  def traceBlock: Int = 1
  /** In a traced run, which ops record spans; the rest are the in-run
    * untraced baseline. The lead ops are traced; after them the blocks
    * go traced, untraced, untraced, traced and again, so both halves hold
    * the same op mix and a drift in speed over the window (the JIT still
    * warming, say) falls on both alike. */
  final def traced(i: Int): Boolean =
    i < leadOps || { val b = ((i - leadOps) / traceBlock) % 4; b == 0 || b == 3 }
  /** The latency samples behind p50_s: by default one per good primary op. */
  def samples(records: Seq[OpRecord]): Seq[Double] = records.filter(r => r.ok && primary(r)).map(_.seconds)
  /** Share of the exact answer the outputs reproduce (1 for exact layers). */
  def accuracy(records: Seq[OpRecord]): Double = 1.0
  /** The workload's own end-to-end figures, printed as info lines and
    * reported with the per-layer metrics. */
  def workloadMetrics(records: Seq[OpRecord]): Seq[Metric]
  /** Per-layer metrics from the traced ops. */
  def layerMetrics(records: Seq[OpRecord], tr: Tracer): Seq[Metric]
}

object Runner {

  /** Run the `lead` ops, then ops until `seconds` of wall time have
    * passed and at least `minOps` ops ran in all. An op that throws is
    * recorded as failed and the loop goes on with the next one. */
  def loop(seconds: Double, kind: Int => String, traced: Int => Boolean, lead: Int = 0, minOps: Int = 1)
          (op: Int => Unit): Vector[OpRecord] = {
    var end = Long.MaxValue
    val out = ArrayBuffer[OpRecord]()
    var i = 0
    while (i < minOps || System.nanoTime() < end) {
      if (i == lead) end = System.nanoTime() + (seconds * 1e9).toLong
      val t0 = System.nanoTime()
      val err =
        try { op(i); None }
        catch { case NonFatal(e) => Some(e.toString.take(300)) }
      out += OpRecord(i, kind(i), (System.nanoTime() - t0) / 1e9, traced(i), err.isEmpty, err)
      i += 1
    }
    out.toVector
  }

  /** Mark every op whose output check fails (or throws) as failed. */
  def verify(records: Seq[OpRecord], check: Int => Boolean): Vector[OpRecord] =
    records.map { r =>
      if (!r.ok) r
      else {
        val good = try check(r.index) catch { case NonFatal(_) => false }
        if (good) r else r.copy(ok = false, error = Some("wrong output"))
      }
    }.toVector

  /** Run `step` at least once and until `seconds` have passed. */
  def repeatFor(seconds: Double)(step: Int => Unit): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    do { step(i); i += 1 } while (System.nanoTime() < end)
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }
}

/** Helpers the layer metrics share. */
object Layer {
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  def meanOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Median duration of the traced spans called `name`. */
  def spanSeconds(tr: Tracer, name: String): Double =
    medianOr0(tr.recorded.filter(_.name == name).map(_.seconds))

  /** Per traced op of the given ops: total Spark work of its top spans. */
  def perOp(tr: Tracer, ops: Seq[OpRecord]): Seq[Seq[SpanWork]] = {
    val byOp = tr.recorded.filter(_.parent < 0).groupBy(_.op)
    ops.filter(_.traced).map(r => byOp.getOrElse(r.index, Nil).flatMap(tr.workUnder))
  }

  def dirBytes(p: Path, keep: Path => Boolean = _ => true): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(f => java.nio.file.Files.isRegularFile(f) && keep(f))
          .map(f => java.nio.file.Files.size(f)).sum
      } finally s.close()
    }
}
