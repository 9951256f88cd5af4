package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block makes Spark do: the jobs it starts and the SQL executions
  * it runs (action name and query execution). */
object SparkCounts {
  private val Sentinel = "__spark_counts_sentinel"

  /** Runs `f` and returns its result with the number of Spark jobs and
    * the SQL executions it started. Both listeners sit on Spark's shared
    * listener queue, which delivers events in order: once a job-free
    * sentinel query's execution is seen, every event of `f` has been
    * delivered. */
  def apply[T](spark: SparkSession)(f: => T): (T, Int, Seq[(String, QueryExecution)]) = {
    val jobs = new AtomicInteger(0)
    val execs = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val drained = new CountDownLatch(1)
    val jobListener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val execListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == Sentinel)) drained.countDown()
        else execs.add(funcName -> qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        execs.add(funcName -> qe)
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(execListener)
    try {
      val r = f
      // a local relation collects on the driver: an execution, no job
      import spark.implicits._
      Seq(1).toDF(Sentinel).collect()
      assert(drained.await(60, TimeUnit.SECONDS), "listener events did not drain")
      (r, jobs.get(), execs.asScala.toSeq)
    } finally {
      spark.listenerManager.unregister(execListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }
}
