package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The traced run's recorder, on public Spark APIs only: a
  * `SparkListener` for job, stage and task events, one job group per
  * span, and the status tracker to wait until a span's jobs have all
  * been seen to end. Spans and events stay in memory until the run
  * reports.
  *
  * A job group is `phase|module|name|seq`; phase is `setup` or `run`.
  */
final class Trace(sc: SparkContext) extends SparkListener {

  final class JobRec(val group: String, val start: Long, val module: String) {
    @volatile var end: Long = -1L
  }
  final class Totals {
    var tasks, stages = 0L
    var cpuNs, gcMs, shuffleRead, shuffleWrite, spill, input = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, Totals]()
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  sc.addSparkListener(this)

  private def phaseOf(group: String): String =
    Option(group).map(_.takeWhile(_ != '|')).getOrElse("none")
  private def tot(group: String): Totals =
    totals.computeIfAbsent(phaseOf(group), _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val spanModule = Option(group).map(_.split('|')).filter(_.length > 1).map(_(1))
    val site = e.stageInfos.headOption.map(_.details).getOrElse("")
    val module = Stats.moduleOf(site).orElse(spanModule).getOrElse("other")
    e.stageIds.foreach(s => if (group != null) stageGroup.put(s, group))
    jobs.put(e.jobId, new JobRec(group, e.time, module))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val t = tot(g); t.synchronized { t.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val t = tot(g)
      val m = e.taskMetrics
      t.synchronized {
        t.tasks += 1
        if (m != null) {
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.spill += m.diskBytesSpilled
          t.input += m.inputMetrics.bytesRead
        }
      }
    }

  /** Run `body` as one span and return once every job it launched has
    * ended in this listener's view. */
  def span[T](phase: String, module: String, name: String)(body: => T): T = {
    val group = s"$phase|$module|$name|${seq.incrementAndGet()}"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    try body
    finally {
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      def open = sc.statusTracker.getJobIdsForGroup(group).exists { id =>
        val j = jobs.get(id); j == null || j.end < 0
      }
      while (open && System.nanoTime() < deadline) Thread.sleep(1)
    }
  }

  private def runJobs: Seq[JobRec] =
    jobs.values.asScala.filter(j => phaseOf(j.group) == "run" && j.end >= 0).toSeq

  /** Per-module seconds of run-phase Spark job time. */
  def moduleJobSeconds: Map[String, Double] =
    runJobs.groupBy(_.module).map { case (m, js) => m -> js.map(j => j.end - j.start).sum / 1e3 }

  def runJobCount: Long = runJobs.size.toLong

  /** Seconds of the timed phase during which at least one job ran. */
  def runJobCovered: Double = Stats.covered(runJobs.map(j => (j.start, j.end))) / 1e3

  def runTotals: Totals = Option(totals.get("run")).getOrElse(new Totals)
}
