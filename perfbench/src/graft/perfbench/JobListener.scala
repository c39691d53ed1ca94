package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Summed counts of the jobs of some job groups. */
final case class JobTotals(jobs: Long, tablesJobs: Long, stages: Long,
                           tasks: Long, taskRunMs: Long)

/** Counts Spark jobs, stages, tasks and task run time per job group. The
  * benchmark runs every measured call under its own `setJobGroup`, so
  * the group names which call launched the work. */
final class JobListener extends SparkListener {
  final class Counts {
    val jobs = new AtomicLong
    val tablesJobs = new AtomicLong
    val stages = new AtomicLong
    val tasks = new AtomicLong
    val taskRunMs = new AtomicLong
  }
  private val byGroup = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def counts(group: String): Counts =
    byGroup.computeIfAbsent(group, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, group))
    val c = counts(group)
    c.jobs.incrementAndGet()
    // a job's call site is the first frame outside Spark: schema
    // inference launched by Tables.load reads "... at Tables.scala:<n>"
    if (e.stageInfos.exists(_.name.contains("Tables.scala")))
      c.tablesJobs.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    counts(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
      .stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(stageGroup.getOrDefault(e.stageId, ""))
    c.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach(m => c.taskRunMs.addAndGet(m.executorRunTime))
  }

  /** Summed counts over the groups matching `p`. */
  def sum(p: String => Boolean): JobTotals = {
    val cs = byGroup.asScala.collect { case (g, c) if p(g) => c }
    JobTotals(cs.map(_.jobs.get).sum, cs.map(_.tablesJobs.get).sum,
      cs.map(_.stages.get).sum, cs.map(_.tasks.get).sum, cs.map(_.taskRunMs.get).sum)
  }
}
