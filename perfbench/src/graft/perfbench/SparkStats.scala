package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's execution counts for one unit of work. Times are seconds. */
final case class UnitStats(
    wallS: Double,
    jobs: Int,
    stages: Int,
    tasks: Int,
    driverOnlyS: Double,
    executorRunS: Double,
    executorCpuS: Double,
    gcS: Double,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    taskS: Seq[Double],
    sqlExecutions: Int,
    exchanges: Int
)

/** Per-job-group accumulator, filled on Spark's listener thread. */
private final class GroupAcc {
  var jobs, stages, tasks = 0
  var runMs, gcMs, cpuNs, shuffleRead, shuffleWrite, spill = 0L
  var sqlExecutions, exchanges = 0
  val taskMs = ArrayBuffer.empty[Long]
  val stageSpans = ArrayBuffer.empty[(Long, Long)]
}

/** A `SparkListener` plus a `QueryExecutionListener`, installed by the
  * benchmark at most once per session. Stage and task events are
  * attributed to units through the job group [[measure]] sets; SQL
  * executions are attributed to the unit running when they arrive,
  * which is exact because [[measure]] drains the listener bus before
  * it returns.
  */
final class SparkStats private (spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val groups = new ConcurrentHashMap[String, GroupAcc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  @volatile private var sqlUnit: String = ""

  private def acc(g: String): GroupAcc = groups.computeIfAbsent(g, _ => new GroupAcc)

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(SparkStats.GroupKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).foreach(g => acc(g).synchronized { acc(g).jobs += 1 })

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    groupOf(e.properties).foreach { g =>
      stageGroup.put(e.stageInfo.stageId, g)
      acc(g).synchronized { acc(g).stages += 1 }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
        acc(g).synchronized { acc(g).stageSpans += ((s, c)) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val a = acc(g)
      a.synchronized {
        a.tasks += 1
        a.taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  private def onSql(qe: QueryExecution, succeeded: Boolean): Unit = {
    val unit = sqlUnit
    if (unit.nonEmpty) {
      val ex = if (succeeded) {
        SparkStats.PlanWalk.collect(qe.executedPlan) { case x: ShuffleExchangeLike => x }.length
      } else 0
      val a = acc(unit)
      a.synchronized { a.sqlExecutions += 1; a.exchanges += ex }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onSql(qe, succeeded = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSql(qe, succeeded = false)

  /** Run `body` as unit `id` and return its result with the unit's
    * Spark counts.
    */
  def measure[A](id: String)(body: => A): (A, UnitStats) = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sqlUnit = id
    sc.setJobGroup(id, id)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try body finally sc.clearJobGroup()
    val wallNs = System.nanoTime() - t0
    val endMs = System.currentTimeMillis()
    ListenerBusDrain(sc)
    sqlUnit = ""
    val a = Option(groups.remove(id)).getOrElse(new GroupAcc)
    val stageCover = Stats.unionLength(a.stageSpans.toSeq.map { case (s, c) =>
      (math.max(s, startMs), math.min(c, endMs))
    })
    val stats = UnitStats(
      wallS = wallNs / 1e9,
      jobs = a.jobs,
      stages = a.stages,
      tasks = a.tasks,
      driverOnlyS = math.max(0.0, wallNs / 1e9 - stageCover / 1e3),
      executorRunS = a.runMs / 1e3,
      executorCpuS = a.cpuNs / 1e9,
      gcS = a.gcMs / 1e3,
      shuffleReadBytes = a.shuffleRead,
      shuffleWriteBytes = a.shuffleWrite,
      spillBytes = a.spill,
      taskS = a.taskMs.toSeq.map(_ / 1e3),
      sqlExecutions = a.sqlExecutions,
      exchanges = a.exchanges)
    (out, stats)
  }
}

object SparkStats {
  private val GroupKey = "spark.jobGroup.id"
  private object PlanWalk extends AdaptiveSparkPlanHelper
  private val installed = new java.util.WeakHashMap[SparkSession, SparkStats]()

  /** The session's listeners, registering them on first use. */
  def install(spark: SparkSession): SparkStats = installed.synchronized {
    Option(installed.get(spark)).getOrElse {
      val s = new SparkStats(spark)
      spark.sparkContext.addSparkListener(s)
      spark.listenerManager.register(s)
      installed.put(spark, s)
      s
    }
  }
}
