package perfbench

import graft.loop.StageMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/**
 * The traced run's SparkListener. It reads the job-local label `CrawlLoop`
 * sets on every action (`StageMetrics.LabelKey`, "gen:action") and records,
 * per labelled job, its submission and completion instants, and per label
 * the summed task run time and shuffle bytes written.
 */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageLabel = mutable.Map.empty[Int, Label]
  private val totals = mutable.Map.empty[Label, (Long, Long)]
  private val markerJobs = mutable.Map.empty[Int, String]
  private val markersSeen = mutable.Set.empty[String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(MarkerKey))).foreach(m => markerJobs(e.jobId) = m)
    val label = props.flatMap(p => Option(p.getProperty(StageMetrics.LabelKey))).flatMap { s =>
      val i = s.indexOf(':')
      if (i > 0) Some((s.substring(0, i).toInt, s.substring(i + 1))) else None
    }
    label.foreach { l =>
      jobs(e.jobId) = Job(l, e.time, -1L)
      e.stageInfos.foreach(si => stageLabel(si.stageId) = l)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    markerJobs.remove(e.jobId).foreach(markersSeen += _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageLabel.get(e.stageId).foreach { l =>
      val (run, shuffle) = totals.getOrElse(l, (0L, 0L))
      totals(l) = (run + m.executorRunTime, shuffle + m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Waits until every event posted before this call has been delivered. */
  def settle(): Unit = {
    val token = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(MarkerKey, token)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    val deadline = System.nanoTime() + 10000000000L
    while (!synchronized(markersSeen.contains(token)) && System.nanoTime() < deadline)
      Thread.sleep(2)
  }

  /** Completed labelled jobs. */
  def labelledJobs: Seq[Job] = synchronized(jobs.values.filter(_.end >= 0).toVector)

  /** (task run ms, shuffle bytes written) per label. */
  def labelTotals: Map[Label, (Long, Long)] = synchronized(totals.toMap)

  def detach(): Unit = sc.removeSparkListener(this)
}

object Tracer {
  type Label = (Int, String)
  /** One labelled job: (generation, action), epoch-ms submission and end. */
  final case class Job(label: Label, start: Long, end: Long)

  private val MarkerKey = "perfbench.trace.marker"

  def attach(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long = Long.MinValue,
      hi: Long = Long.MaxValue): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = 0L
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > Long.MinValue) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > Long.MinValue) total += curB - curA
    total
  }
}
