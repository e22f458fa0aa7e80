package graft.perfbench

import scala.collection.mutable

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work attributed to one closed span. Times are milliseconds, sizes
  * bytes; `jobMs` is the wall time covered by the span's jobs. */
final case class SpanStats(
    jobs: Int, stages: Int, tasks: Int, taskMs: Double, jobMs: Double,
    inputRows: Long, shuffleBytes: Long, spillBytes: Long, writtenBytes: Long,
    planMs: Double)

/** A span as kept for the trace file. */
final case class SpanRec(name: String, requestId: String, parent: Option[Int],
                         startNs: Long, endNs: Long)

/** Listener-based tracer. Each top-level span adds a Spark job tag, so
  * every job the span submits is attributed to it by tag (the program's
  * own `JobLabel` job descriptions are left alone); a span closes
  * only after the listener bus is drained and every job started under
  * its tag has ended, and its per-job state is then dropped. Catalyst
  * phase times come from the QueryExecutionListener; with one client
  * thread and a drain at every span boundary, each finished query
  * execution belongs to the span open when it ran. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private final class Job(val tags: Set[String], val submitMs: Long) {
    var endMs: Long = -1L
    var stages = 0; var tasks = 0; var taskMs = 0.0
    var inputRows = 0L; var shuffleBytes = 0L; var spillBytes = 0L; var writtenBytes = 0L
  }
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val planMs = mutable.ArrayBuffer.empty[Double]
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var open = List.empty[Int]
  private var nextTag = 0

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    jobs(e.jobId) = new Job(tags, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.inputRows += m.inputMetrics.recordsRead
      j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.writtenBytes += m.outputMetrics.bytesWritten
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      planMs += Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def drain(): Unit = BenchAccess.drainListenerBus(spark.sparkContext)

  /** Time `f` as a child span of the open span; no job attribution. */
  def child[T](name: String, requestId: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally spans += SpanRec(name, requestId, open.headOption, t0, System.nanoTime())
  }

  /** Run `f` as a top-level span and return what its jobs did. */
  def span[T](name: String, requestId: String)(f: => T): (T, SpanStats) = {
    // whatever ran between spans (harness checks) is not attributed
    drain()
    synchronized { jobs.clear(); stageJob.clear(); planMs.clear() }
    val tag = s"pb-$nextTag"
    nextTag += 1
    val idx = spans.size
    spans += null
    open = idx :: open
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    val t0 = System.nanoTime()
    val out = try f finally {
      sc.removeJobTag(tag)
      spans(idx) = SpanRec(name, requestId, open.tail.headOption, t0, System.nanoTime())
      open = open.tail
    }
    drain()
    val stats = synchronized {
      val mine = jobs.filter(_._2.tags.contains(tag))
      require(mine.values.forall(_.endMs >= 0), s"span $name closed with a running job")
      val js = mine.values.toSeq
      // job wall time is the union of the job intervals
      val intervals = js.map(j => (j.submitMs, j.endMs)).sortBy(_._1)
      var covered = 0L
      var curS = -1L; var curE = -1L
      intervals.foreach { case (s, e) =>
        if (s > curE) { if (curE >= 0) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE >= 0) covered += curE - curS
      val st = SpanStats(js.size, js.map(_.stages).sum, js.map(_.tasks).sum,
        js.map(_.taskMs).sum, covered.toDouble, js.map(_.inputRows).sum,
        js.map(_.shuffleBytes).sum, js.map(_.spillBytes).sum,
        js.map(_.writtenBytes).sum, planMs.sum)
      // per-span state is dropped once attributed
      val ids = mine.keySet
      jobs --= ids
      stageJob.filterInPlace((_, j) => !ids.contains(j))
      planMs.clear()
      st
    }
    (out, stats)
  }

  /** Stop listening; returns the spans kept for the trace file. */
  def close(): Seq[SpanRec] = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spans.toSeq
  }
}
