package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.lake.GraftTable

/** Spark-side layer counters for the traced run, gathered through
  * Spark's public listener interfaces only. Between `begin` and `end`
  * every job, task and query execution is booked to the operation in
  * flight (the benchmark runs one client, so operations never overlap). */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobs = new ConcurrentLinkedQueue[(Int, Double, Double)]()
  private val tasks = new AtomicLong
  private val execCpuNs = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val planMs = new AtomicLong

  /** The jobs of the last finished operation: (job id, start, end) in
    * epoch milliseconds. */
  var lastJobs: Seq[(Int, Double, Double)] = Nil

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val start = Option(jobStarts.remove(e.jobId)).map(_.longValue)
      .getOrElse(e.time)
    jobs.add((e.jobId, start.toDouble, e.time.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      execCpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  private def planned(qe: QueryExecution): Unit =
    planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = planned(qe)

  def begin(): Unit = {
    PerfbenchBus.flush(spark.sparkContext)
    jobs.clear(); tasks.set(0); execCpuNs.set(0); shuffleBytes.set(0)
    planMs.set(0)
  }

  /** Layer totals for the operation that ran in [t0, t1]. Job time is
    * the union of job intervals, so overlapping jobs count once. */
  def end(t0: Double, t1: Double): Map[String, Double] = {
    PerfbenchBus.flush(spark.sparkContext)
    lastJobs = jobs.asScala.toSeq.sortBy(_._2)
    var covered = 0.0
    var reach = Double.MinValue
    lastJobs.foreach { case (_, a, b) =>
      val s = math.max(a, reach)
      if (b > s) covered += b - s
      reach = math.max(reach, b)
    }
    val wall = (t1 - t0) / 1e3
    val plan = planMs.get / 1e3
    val job = covered / 1e3
    Map("spark.plan_s" -> plan, "spark.job_s" -> job,
      "spark.jobs" -> lastJobs.size.toDouble,
      "spark.tasks" -> tasks.get.toDouble,
      "spark.executor_cpu_s" -> execCpuNs.get / 1e9,
      "spark.shuffle_mb" -> shuffleBytes.get / 1048576.0,
      "driver.gap_s" -> math.max(0.0, wall - plan - job))
  }
}

/** Table-state counters read from outside GraftLake's operation path:
  * a fresh handle (so the workload handle's caches are untouched) and a
  * directory walk. */
object LakeStats {
  def of(spark: SparkSession, root: Path): Map[String, Double] = {
    val t = GraftTable.load(spark, root)
    val meta = t.meta
    val deleteFiles = t.currentSnapshot
      .map(s => t.manifestOf(s).count(_.content != 0)).getOrElse(0)
    val metaJson = root.resolve(s"metadata/v${t.version}.metadata.json")
    Map("lake.delete_files" -> deleteFiles.toDouble,
      "lake.snapshots" -> meta.snapshots.size.toDouble,
      "lake.metadata_json_kb" -> Files.size(metaJson) / 1024.0)
  }

  /** Every regular file under `root` with its size. */
  def files(root: Path): Map[String, Long] = {
    if (!Files.isDirectory(root)) return Map.empty
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }

  /** Files and MB that appeared between two `files` listings. */
  def written(before: Map[String, Long],
      after: Map[String, Long]): mutable.LinkedHashMap[String, Any] = {
    val added = after.filter { case (p, _) => !before.contains(p) }
    mutable.LinkedHashMap("lake.files_written" -> added.size.toDouble,
      "lake.mb_written" -> added.values.sum / 1048576.0)
  }
}
