package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval in epoch milliseconds. `parent` names the span that
  * caused it; spans of one query or batch share `key`.
  */
final case class Span(key: String, name: String, id: String, parent: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty) {
  def durS: Double = (endMs - startMs) / 1000.0
}

/** Scheduler counters of one job group (one query or one write/maintenance
  * step), summed over its successful tasks.
  */
final class GroupCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var bytesRead = 0L
  var spillBytes = 0L
  var shuffleBytes = 0L
  var sqlExecutions = 0
  val spans = ArrayBuffer[Span]()
}

/** Bench-owned Spark listeners. Jobs are attributed to the job group the
  * harness sets around each call (`SparkContext.setJobGroup`); stages and
  * tasks through their job. Read counters only after [[drain]].
  */
final class Probe(spark: SparkSession) {
  private val groups = new ConcurrentHashMap[String, GroupCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile private var currentGroup: String = _

  private def counters(g: String): GroupCounters = groups.computeIfAbsent(g, _ => new GroupCounters)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      if (g != null) {
        jobGroup.put(e.jobId, g)
        e.stageIds.foreach { s => stageGroup.put(s, g); stageJob.put(s, e.jobId) }
        val c = counters(g)
        c.synchronized {
          c.jobs += 1
          c.spans += Span(g, "spark.job", s"job-${e.jobId}", "exec", e.time.toDouble, e.time.toDouble)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobGroup.get(e.jobId)).foreach { g =>
        val c = counters(g)
        c.synchronized {
          val i = c.spans.indexWhere(_.id == s"job-${e.jobId}")
          if (i >= 0) c.spans(i) = c.spans(i).copy(endMs = e.time.toDouble)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageGroup.get(si.stageId)).foreach { g =>
        val c = counters(g)
        c.synchronized {
          c.stages += 1
          c.spans += Span(g, "spark.stage", s"stage-${si.stageId}.${si.attemptNumber()}",
            s"job-${stageJob.get(si.stageId)}",
            si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble,
            Map("tasks" -> si.numTasks))
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { g =>
        val m = e.taskMetrics
        val c = counters(g)
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.runMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.bytesRead += m.inputMetrics.bytesRead
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
          }
          c.spans += Span(g, "spark.task", s"task-${e.taskInfo.taskId}",
            s"stage-${e.stageId}.${e.stageAttemptId}",
            e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble)
        }
      }
  }

  private object QeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Option(currentGroup).foreach(g => { val c = counters(g); c.synchronized(c.sqlExecutions += 1) })
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(Listener)
    spark.listenerManager.register(QeListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(Listener)
    spark.listenerManager.unregister(QeListener)
  }

  /** Run `body` with its Spark jobs tagged as group `g`; counters of `g` are
    * complete when this returns.
    */
  def within[T](g: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(g, g, interruptOnCancel = false)
    currentGroup = g
    try body
    finally {
      sc.clearJobGroup()
      drain()
      currentGroup = null
    }
  }

  def group(g: String): GroupCounters = counters(g)

  /** Wait until the asynchronous listener bus has delivered every event
    * posted so far; without it the counters can undercount. The bus method
    * is private to Spark, so it is reached reflectively.
    */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    try bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    catch {
      case _: NoSuchMethodException =>
        bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(60000L))
    }
  }
}
