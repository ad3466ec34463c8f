package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark jobs and stages a block starts, and the most tasks any of
  * those stages ran, counted by a listener on a job group of the
  * block's own.
  */
object JobCounter {
  final case class Counts(jobs: Int, stages: Int, maxTasks: Int)

  def during(spark: SparkSession, label: String)(body: => Unit): Counts = {
    val sc = spark.sparkContext
    val group = s"job-counter-$label"
    val sentinel = s"job-counter-drain-$label"
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val maxTasks = new AtomicInteger
    val sentinelJobs = ConcurrentHashMap.newKeySet[Integer]()
    val drained = new CountDownLatch(1)
    def groupOf(p: java.util.Properties): String = Option(p).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groupOf(e.properties) match {
        case `group` => jobs.incrementAndGet()
        case `sentinel` => sentinelJobs.add(e.jobId)
        case _ =>
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupOf(e.properties) == group) {
          stages.incrementAndGet()
          maxTasks.accumulateAndGet(e.stageInfo.numTasks, (a, b) => math.max(a, b))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (sentinelJobs.contains(e.jobId)) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, label)
      body
      // listener events arrive in order: once the sentinel job's end is
      // delivered, so is every event of the block before it
      sc.setJobGroup(sentinel, "listener drain")
      sc.parallelize(1 to 1, 1).count()
      if (!drained.await(60, TimeUnit.SECONDS)) throw new IllegalStateException("listener bus did not drain")
      Counts(jobs.get, stages.get, maxTasks.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
