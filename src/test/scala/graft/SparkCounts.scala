package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What one block of driver code made Spark do: `actions` are completed
  * query executions (one per `count`, `collect`, write, ...), named by
  * the API that started them; `jobs` are scheduler jobs, which also
  * include work no action owns (e.g. a parquet footer read for schema
  * inference). */
case class SparkCounts(actionNames: Seq[String], jobs: Int) {
  def actions: Int = actionNames.size
}

object SparkCounts {
  def of[T](spark: SparkSession)(body: => T): (T, SparkCounts) = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val queries = new QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
        names.add(func)
      override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
        names.add(func)
    }
    val scheduler = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.TestListenerBus.drain(sc)
    spark.listenerManager.register(queries)
    sc.addSparkListener(scheduler)
    try {
      val r = body
      org.apache.spark.TestListenerBus.drain(sc)
      (r, SparkCounts(names.toArray(Array.empty[String]).toSeq, jobs.get))
    } finally {
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(scheduler)
    }
  }
}
