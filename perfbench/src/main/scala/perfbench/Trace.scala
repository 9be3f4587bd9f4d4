package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-level counters for one timed phase. */
final case class SparkStats(jobs: Long, tasks: Long, jobMs: Double,
    betweenJobsMs: Double, catalystMs: Double, cpuMs: Double,
    inputBytes: Long, shuffleBytes: Long) {
  def metrics(phase: String): Seq[(String, Double)] = Seq(
    s"$phase.spark.jobs" -> jobs.toDouble,
    s"$phase.spark.tasks" -> tasks.toDouble,
    s"$phase.spark.job_ms" -> jobMs,
    s"$phase.spark.between_jobs_ms" -> betweenJobsMs,
    s"$phase.spark.catalyst_ms" -> catalystMs,
    s"$phase.spark.cpu_ms" -> cpuMs,
    s"$phase.spark.input_bytes" -> inputBytes.toDouble,
    s"$phase.spark.shuffle_bytes" -> shuffleBytes.toDouble)
}

/** Listener pair attached only in traced runs: a SparkListener for jobs,
  * tasks, CPU and bytes, and a QueryExecutionListener for the Catalyst
  * phases (analysis + optimization + planning) of every action. All
  * counters are cumulative; [[Trace.phase]] diffs them around one phase.
  */
final class Trace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private var tasks = 0L
  private var cpuNs = 0L
  private var inputBytes = 0L
  private var shuffleBytes = 0L
  private var catalystNs = 0L

  spark.sparkContext.addSparkListener(this)
  register(spark)

  /** Sessions made by `newSession()` carry their own listener manager. */
  def register(s: SparkSession): Unit = s.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      inputBytes += m.inputMetrics.bytesRead
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    synchronized {
      catalystNs += qe.tracker.phases.values
        .map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum
    }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    ()

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit =
    org.apache.spark.perfbench.BusAccessImpl.drain(spark.sparkContext)

  def jobCount: Int = { drain(); synchronized(jobSpans.size) }
  def bytesRead: Long = { drain(); synchronized(inputBytes) }

  /** Run `body` as one phase; returns its wall seconds and Spark stats.
    * The bus is drained outside the timed region. */
  def phase[A](body: => A): (A, Double, SparkStats) = {
    drain()
    val (j0, t0, c0, i0, s0, q0) =
      synchronized((jobSpans.size, tasks, cpuNs, inputBytes, shuffleBytes,
        catalystNs))
    val startMs = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - n0) / 1e9
    val endMs = System.currentTimeMillis()
    drain()
    synchronized {
      val spans = jobSpans.drop(j0).toSeq.sortBy(_._1)
      // union of job intervals, clipped to the phase
      var covered = 0L
      var curS = -1L
      var curE = -1L
      for ((s0, e0) <- spans) {
        val s = math.max(s0, startMs)
        val e = math.min(e0, endMs)
        if (e > s) {
          if (curS < 0 || s > curE) {
            if (curS >= 0) covered += curE - curS
            curS = s; curE = e
          } else curE = math.max(curE, e)
        }
      }
      if (curS >= 0) covered += curE - curS
      val stats = SparkStats(
        jobs = spans.size, tasks = tasks - t0,
        jobMs = spans.map(p => p._2 - p._1).sum.toDouble,
        betweenJobsMs = math.max(0.0, wall * 1000 - covered),
        catalystMs = (catalystNs - q0) / 1e6,
        cpuMs = (cpuNs - c0) / 1e6,
        inputBytes = inputBytes - i0, shuffleBytes = shuffleBytes - s0)
      (out, wall, stats)
    }
  }
}
