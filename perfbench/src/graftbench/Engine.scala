package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Engine counters gathered from outside the program: a listener the
  * benchmark registers on the session's SparkContext. Totals only ever
  * grow; a section reads the difference of two [[snap]]s. Per job group
  * it also counts jobs and tasks, so one lookup's engine cost is visible
  * when each lookup runs under its own group. */
final class EngineListener extends SparkListener {
  val jobsStarted = new AtomicLong
  val jobsEnded = new AtomicLong
  val tasksStarted = new AtomicLong
  val tasksEnded = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val diskSpillBytes = new AtomicLong
  val runTimeMs = new AtomicLong
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val groupJobs = new ConcurrentHashMap[String, AtomicLong]()
  val groupTasks = new ConcurrentHashMap[String, AtomicLong]()

  private def count(m: ConcurrentHashMap[String, AtomicLong], k: String, n: Long): Unit =
    m.computeIfAbsent(k, _ => new AtomicLong).addAndGet(n)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { grp =>
      count(groupJobs, grp, 1)
      e.stageIds.foreach(s => stageGroup.put(s, grp))
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
  override def onTaskStart(e: SparkListenerTaskStart): Unit = tasksStarted.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasksEnded.incrementAndGet()
    Option(stageGroup.get(e.stageId)).foreach(count(groupTasks, _, 1))
    val m = e.taskMetrics
    if (m != null) {
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      diskSpillBytes.addAndGet(m.diskBytesSpilled)
      runTimeMs.addAndGet(m.executorRunTime)
    }
  }

  def group(g: String): (Long, Long) =
    (Option(groupJobs.get(g)).map(_.get).getOrElse(0L), Option(groupTasks.get(g)).map(_.get).getOrElse(0L))

  /** the listener bus is asynchronous: wait until every started job and
    * task has ended and the counts hold still */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    var stable = 0
    while (System.nanoTime() < deadline && stable < 2) {
      val s = jobsStarted.get + 31 * tasksEnded.get
      if (jobsStarted.get == jobsEnded.get && tasksStarted.get == tasksEnded.get && s == last) stable += 1
      else stable = 0
      last = s
      Thread.sleep(20)
    }
  }

  final case class Snap(jobs: Long, tasks: Long, shuffle: Long, spill: Long, runMs: Long, gcMs: Long, ns: Long)

  def snap(): Snap = {
    quiesce()
    Snap(jobsEnded.get, tasksEnded.get, shuffleWriteBytes.get, diskSpillBytes.get,
      runTimeMs.get, Engine.gcMs(), System.nanoTime())
  }
}

object Engine {
  /** collector time of this JVM: in local mode the JVM is the whole engine,
    * and per-task `jvmGCTime` would count one pause once per running task */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** peak resident set of this JVM (VmHWM), MB */
  def peakRssMb(): Double = {
    val status = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/self/status")))
    status.split("\n").find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  /** sum of a SQL metric over every node of an executed frame's plan —
    * the ZipNum source's `blocksRead` / `compressedBytesRead` */
  def planMetric(df: DataFrame, name: String): Long =
    nodes(df.queryExecution.executedPlan).flatMap(_.metrics.get(name)).map(_.value).sum
}
