package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer attribution of Spark work, kept entirely outside the program.
  *
  * A job is charged to the label in its `spark.job.description`, which the
  * pipeline sets per phase (`pipeline:extract`, `pipeline:dedup`, ...) and
  * the benchmark sets around its own search calls (`bench:search`). Tasks
  * inherit their stage's first job's label. Jobs with no pipeline label
  * (none at all, or the description Spark gives its own file-listing jobs)
  * are charged to `unlabeled`, so the per-layer sum can be checked against
  * the total, which comes independently from the stage-completed
  * aggregates.
  *
  * Scan tallies (files read, postings rows) come from the executed plans
  * the QueryExecutionListener sees. Counters are cumulative; the benchmark
  * drains the listener bus before and after an operation and takes the
  * difference of two snapshots, so each operation gets its own numbers. */
final class Tracer extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  import Tracer._

  private val acc = mutable.Map.empty[String, Acc]
  private val stageLabel = mutable.Map.empty[Int, String]
  private val jobLabel = mutable.Map.empty[Int, String]
  private var stageCpuNs = 0L
  private var filesRead = 0L
  private var postingsRows = 0L

  private def of(label: String): Acc = acc.getOrElseUpdate(layerOf(label), new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobLabel(e.jobId) = label
    e.stageIds.foreach(s => stageLabel.getOrElseUpdate(s, label))
    val a = of(label)
    a.jobs += 1
    if (a.active == 0) a.openedAtMs = e.time
    a.active += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobLabel.remove(e.jobId).foreach { label =>
      val a = of(label)
      a.active -= 1
      // wall = union of the layer's job intervals (overlapping jobs count once)
      if (a.active == 0) a.wallMs += e.time - a.openedAtMs
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = of(stageLabel.getOrElse(e.stageId, ""))
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    Option(e.stageInfo.taskMetrics).foreach(m => stageCpuNs += m.executorCpuTime)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
    synchronized {
      scans.foreach { s =>
        def metric(name: String): Long = s.metrics.get(name).map(_.value).getOrElse(0L)
        filesRead += metric("numFiles")
        if (s.relation.location.rootPaths.exists(_.toString.contains("/postings/")))
          postingsRows += metric("numOutputRows")
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot(): Snapshot = synchronized {
    Snapshot(acc.map { case (k, a) => k -> a.copy() }.toMap, stageCpuNs, filesRead, postingsRows)
  }
}

object Tracer {
  /** Layer names (repo modules) and the job labels charged to each. */
  val Layers: Seq[String] = Seq("extract", "dedup", "index", "search", "unlabeled")

  def layerOf(label: String): String = label match {
    case "pipeline:extract" => "extract"
    case "pipeline:dedup" | "dedup:components" | "pipeline:dedup-dropped-write" => "dedup"
    case "pipeline:index-build" | "pipeline:index-sync" => "index"
    case "bench:search" => "search"
    // no pipeline label: none at all, or Spark's own file-listing jobs
    case "" => "unlabeled"
    case l if l.startsWith("Listing leaf files") => "unlabeled"
    case other => s"other:$other"
  }

  final class Acc(var jobs: Long = 0, var tasks: Long = 0, var cpuNs: Long = 0,
                  var gcMs: Long = 0, var shuffleBytes: Long = 0, var spillBytes: Long = 0,
                  var wallMs: Long = 0, var active: Int = 0, var openedAtMs: Long = 0) {
    def copy(): Acc = new Acc(jobs, tasks, cpuNs, gcMs, shuffleBytes, spillBytes, wallMs)
  }

  final case class Snapshot(layers: Map[String, Acc], stageCpuNs: Long, filesRead: Long,
                            postingsRows: Long)

  /** One operation's share of the counters, keyed by metric name. */
  def delta(before: Snapshot, after: Snapshot): Map[String, Double] = {
    val zero = new Acc
    val perLayer = (before.layers.keySet ++ after.layers.keySet).toSeq.flatMap { l =>
      val a = after.layers.getOrElse(l, zero)
      val b = before.layers.getOrElse(l, zero)
      Seq(
        s"$l.jobs" -> (a.jobs - b.jobs).toDouble,
        s"$l.tasks" -> (a.tasks - b.tasks).toDouble,
        s"$l.cpu_s" -> (a.cpuNs - b.cpuNs) / 1e9,
        s"$l.gc_s" -> (a.gcMs - b.gcMs) / 1e3,
        s"$l.shuffle_write_mb" -> (a.shuffleBytes - b.shuffleBytes) / 1e6,
        s"$l.spill_mb" -> (a.spillBytes - b.spillBytes) / 1e6,
        s"$l.wall_s" -> (a.wallMs - b.wallMs) / 1e3)
    }
    perLayer.toMap ++ Map(
      "total.cpu_s" -> (after.stageCpuNs - before.stageCpuNs) / 1e9,
      "scan.files" -> (after.filesRead - before.filesRead).toDouble,
      "scan.postings_rows" -> (after.postingsRows - before.postingsRows).toDouble)
  }

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}
