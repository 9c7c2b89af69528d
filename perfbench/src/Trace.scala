package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program, plus the three
  * listeners that count what Spark did underneath them. Everything is
  * kept in memory and summarised when the run ends.
  *
  * Spans are recorded only while tracing is on. The listeners are
  * registered for the traced iterations only and removed for the
  * untraced ones, so untraced timings carry no listener cost.
  *
  * Attribution: the driver thread is single, so a job belongs to the
  * innermost span open at its start. A stage belongs to a module by
  * the source file of its call site (`count at MergeByKey.scala:444`
  * belongs to `sinks`). A job a streaming query runs has the query's
  * `start` as its call site, so one with no program call site is
  * `streaming`; any other job with none is `unattributed`. */
final class Trace(spark: SparkSession, moduleOfFile: Map[String, String]) {

  final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long = -1L) {
    def module: String = name.takeWhile(_ != '.')
  }
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int], callSite: String,
      module: String)
  final case class Stage(id: Int, tasks: Int, var completed: Boolean = false,
      var run: Double = 0, var cpu: Double = 0, var gc: Double = 0, var shWrite: Long = 0,
      var shRead: Long = 0, var spill: Long = 0, var input: Long = 0, var output: Long = 0)
  final case class Query(func: String, analysisMs: Double, optimizationMs: Double,
      planningMs: Double, filesWritten: Long, rowsWritten: Long, at: Long)

  val spans = ArrayBuffer.empty[Span]
  val jobs = ArrayBuffer.empty[Job]
  val stages = scala.collection.mutable.LinkedHashMap.empty[Int, Stage]
  val queries = ArrayBuffer.empty[Query]
  val progress = ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  val samples = ArrayBuffer.empty[(Int, Long)] // (Caches.registered, storage bytes)
  private var open = List.empty[Int]
  @volatile var on = false

  def now: Long = System.nanoTime()
  // listener events carry epoch milliseconds; spans use nanoTime
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def wallNs(ms: Long): Long = ms * 1000000L + offsetNs

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, open.headOption.getOrElse(-1), now)
      spans += s
      open = s.id :: open
      try body
      finally {
        s.end = now
        open = open.tail
        sample()
      }
    }

  private def sample(): Unit = {
    val bytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    samples += ((graft.Caches.registered, bytes))
  }

  // SQL execution id -> call site of the action that started it. Jobs
  // that adaptive execution or a streaming query submit from their own
  // threads carry the id, not the caller's stack.
  private val executionSite = scala.collection.mutable.Map.empty[Long, String]

  /** "count at MergeByKey.scala:444" from a long call site: the Spark
    * API method called, at the innermost frame in a program file. */
  def siteOf(longForm: String, fallback: String): String = {
    val frames = longForm.split("\n").map(_.trim)
    val Frame = """(?:.*\.)?([^.(]+)\(([^:()]+):(\d+)\)""".r
    val api = frames.headOption.collect { case Frame(m, _, _) => m }
    frames.collectFirst { case Frame(_, f, l) if moduleOfFile.contains(f) => s"$f:$l" }
      .map(at => s"${api.getOrElse("job")} at $at").getOrElse(fallback)
  }

  private object sparkListener extends SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized(executionSite(s.executionId) = siteOf(s.details, s.description))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionSite.get(id.toLong))
        .getOrElse(e.stageInfos.sortBy(-_.stageId).headOption
          .map(si => siteOf(si.details, si.name)).getOrElse(""))
      val streamed = props.exists(_.getProperty("sql.streaming.queryId") != null)
      val m = module(site)
      jobs += Job(e.jobId, wallNs(e.time), -1L, e.stageIds, site,
        if (streamed && m == "unattributed") "streaming" else m)
      e.stageInfos.foreach(si => stages.getOrElseUpdate(si.stageId, Stage(si.stageId, si.numTasks)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = wallNs(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      stages.getOrElseUpdate(si.stageId, Stage(si.stageId, si.numTasks)).completed =
        si.completionTime.isDefined
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) stages.get(e.stageId).foreach { st =>
        st.run += m.executorRunTime / 1e3
        st.cpu += m.executorCpuTime / 1e9
        st.gc += m.jvmGCTime / 1e3
        st.shWrite += m.shuffleWriteMetrics.bytesWritten
        st.shRead += m.shuffleReadMetrics.totalBytesRead
        st.spill += m.diskBytesSpilled
        st.input += m.inputMetrics.bytesRead
        st.output += m.outputMetrics.bytesWritten
      }
    }
  }

  private object queryListener extends QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(t => (t.endTimeMs - t.startTimeMs).toDouble).getOrElse(0.0)
      def writesIn(plan: SparkPlan): Seq[Map[String, org.apache.spark.sql.execution.metric.SQLMetric]] =
        plan match {
          case w: DataWritingCommandExec => Seq(w.cmd.metrics)
          case c: CommandResultExec => writesIn(c.commandPhysicalPlan)
          case a: AdaptiveSparkPlanExec => writesIn(a.executedPlan)
          case q: QueryStageExec => writesIn(q.plan)
          case p => p.children.flatMap(writesIn)
        }
      val writes = writesIn(qe.executedPlan)
      def metric(k: String) = writes.flatMap(_.get(k)).map(_.value).sum
      synchronized {
        queries += Query(func, ms("analysis"), ms("optimization"), ms("planning"),
          metric("numFiles"), metric("numOutputRows"), now)
      }
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized(progress += e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Stops listening once the listener bus has delivered every event. */
  def stop(): Unit = {
    on = false
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  // ------------------------------------------------------------ summary

  def module(callSite: String): String = {
    val file = callSite.split(" at ").lastOption.getOrElse("").takeWhile(_ != ':')
    moduleOfFile.getOrElse(file, "unattributed")
  }

  /** Innermost span open at time `t`. */
  def spanAt(t: Long): Option[Span] =
    spans.filter(s => s.start <= t && t <= s.end).sortBy(s => -s.start).headOption

  /** Nanoseconds of [from, to] covered by the union of `intervals`. */
  def covered(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cursor = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val s = math.max(a, cursor)
        if (b > s) { total += b - s; cursor = b }
      }
    total
  }

  /** Self time of a span: its duration minus what its child spans cover. */
  def selfNs(s: Span): Long =
    (s.end - s.start) - covered(s.start, s.end,
      spans.filter(_.parent == s.id).map(c => (c.start, c.end)).toSeq)

  def jobsIn(pred: Span => Boolean): Seq[Job] =
    jobs.filter(j => spanAt(j.start).exists(s => pred(s) || ancestors(s).exists(pred))).toSeq

  def ancestors(s: Span): Seq[Span] =
    Iterator.iterate(s.parent)(p => spans(p).parent).takeWhile(_ >= 0).map(spans(_)).toSeq

  /** Time inside spans matching `pred` not covered by any Spark job. */
  def driverNs(pred: Span => Boolean): Long = spans.filter(pred).map { s =>
    (s.end - s.start) - covered(s.start, s.end, jobs.filter(_.end > 0).map(j => (j.start, j.end)).toSeq)
  }.sum

  def spanLines(): Seq[String] = spans.toSeq.map { s =>
    f"""{"span":${s.id},"name":"${s.name}","parent":${s.parent},"start_ms":${s.start / 1e6}%.3f,""" +
      f""""end_ms":${s.end / 1e6}%.3f,"self_ms":${selfNs(s) / 1e6}%.3f}"""
  }
}
