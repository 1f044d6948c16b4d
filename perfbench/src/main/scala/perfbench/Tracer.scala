package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did inside one traced call: jobs (with the call site Spark
  * recorded for each), tasks and their metrics, and the planning phases
  * of every query execution that finished. */
final class Span(val name: String) {
  var wallS = 0.0
  var jobs = 0
  val jobSites = mutable.ArrayBuffer[String]()
  var tasks = 0L
  var taskRunS, taskCpuS, gcS = 0.0
  var shuffleBytes, spillBytes, inputBytes = 0L
  var writerTasks = 0
  val taskTimesS = mutable.ArrayBuffer[Double]()
  var planS = 0.0

  /** Jobs whose recorded call site lies in the given source file. */
  def jobsAt(file: String): Int = jobSites.count(_.contains(s" at $file:"))

  /** Longest over median task time: 1 when work is spread evenly. */
  def skew: Double =
    if (taskTimesS.isEmpty) 1.0
    else {
      val s = taskTimesS.sorted
      val med = s(s.size / 2)
      if (med > 0) s.last / med else 1.0
    }
}

/** The traced run's probe: a SparkListener and a QueryExecutionListener,
  * both registered by the benchmark. The benchmark drives the engine from
  * one thread, so after each call the listener bus is drained and
  * everything that arrived since the previous call belongs to it. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private var open = new Span("")
  private val stageToSpan = mutable.HashMap[Int, Span]()

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Run `body` as one span named `name`. */
  def span[T](name: String)(body: => T): (T, Span) = {
    PerfbenchBus.drain(sc)
    val s = new Span(name)
    synchronized { open = s }
    val t0 = System.nanoTime()
    val out = body
    s.wallS = (System.nanoTime() - t0) / 1e9
    PerfbenchBus.drain(sc)
    synchronized { open = new Span("") }
    (out, s)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    open.jobs += 1
    // the call site Spark names the job's result stage after, e.g.
    // "parquet at Tables.scala:38"
    open.jobSites += e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    e.stageIds.foreach(stageToSpan(_) = open)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stageToSpan.getOrElse(e.stageId, open)
    val m = e.taskMetrics
    s.tasks += 1
    if (m != null) {
      s.taskRunS += m.executorRunTime / 1e3
      s.taskCpuS += m.executorCpuTime / 1e9
      s.gcS += m.jvmGCTime / 1e3
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      if (m.outputMetrics.bytesWritten > 0) s.writerTasks += 1
      s.taskTimesS += m.executorRunTime / 1e3
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      open.planS += Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum / 1e3
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
