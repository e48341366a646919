package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-wide counters at one instant; `-` gives the work between two. */
case class Counters(jobs: Long, tasks: Long, runMs: Long, gcMs: Long,
    shuffleWrite: Long, spill: Long, bytesRead: Long, planningMs: Double,
    serialMs: Double) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    runMs - o.runMs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
    spill - o.spill, bytesRead - o.bytesRead, planningMs - o.planningMs,
    serialMs - o.serialMs)
}

/** The traced run's instruments, all public Spark listener surfaces:
  * a `SparkListener` for jobs, stages and task metrics, a
  * `QueryExecutionListener` for the planning time of every Dataset
  * action, and a `StreamingQueryListener` for each micro-batch's
  * `StreamingQueryProgress`.  Nothing is registered unless the run is
  * traced. */
class Probe(spark: SparkSession) {
  private val cores = spark.sparkContext.defaultParallelism
  private var c = Counters(0, 0, 0, 0, 0, 0, 0, 0.0, 0.0)
  private var maxSkew = 1.0
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
  val progress: mutable.ArrayBuffer[StreamingQueryProgress] = mutable.ArrayBuffer.empty

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      c = c.copy(jobs = c.jobs + 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        c = c.copy(tasks = c.tasks + 1, runMs = c.runMs + m.executorRunTime,
          gcMs = c.gcMs + m.jvmGCTime,
          shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
          spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
          bytesRead = c.bytesRead + m.inputMetrics.bytesRead)
      }
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Probe.this.synchronized {
      stageTasks.remove(e.stageInfo.stageId).foreach { ts =>
        val durs = ts.map { case (a, b) => b - a }.sorted
        if (durs.size >= 2) {
          val med = math.max(1L, durs(durs.size / 2))
          maxSkew = math.max(maxSkew, durs.last.toDouble / med)
        }
        if (cores > 1 && durs.nonEmpty && durs.last > 1000)
          c = c.copy(serialMs = c.serialMs + Probe.soloMs(ts.toSeq))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Probe.this.synchronized {
        c = c.copy(planningMs = c.planningMs + Probe.planningMs(qe))
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait for the listener bus, then read the counters. */
  def snap(): Counters = { drain(); synchronized(c) }
  def skewMax: Double = synchronized(maxSkew)
  def clearProgress(): Unit = synchronized(progress.clear())
  private def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
}

object Probe {
  /** Analysis + optimisation + physical planning time of one query. */
  def planningMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum

  /** Time within a stage during which exactly one task runs — cores
    * other than the one sit idle while that straggler finishes. */
  def soloMs(tasks: Seq[(Long, Long)]): Double = {
    val edges = tasks.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }
      .sortBy { case (t, d) => (t, d) }
    var running = 0
    var last = 0L
    var solo = 0L
    edges.foreach { case (t, d) =>
      if (running == 1) solo += t - last
      running += d
      last = t
    }
    solo.toDouble
  }
}
