package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.io.Source

import org.apache.spark.sql.SparkSession

/** Benchmark driver. Usage: `perfbench.Main <config file>`, where the
  * config holds `key=value` lines written by perfbench/run.py:
  * workload, script, warmup_script, inputs, work, out, rounds, trace,
  * cores, setup_repeats and delete_file_rows. It runs one untimed
  * warm-up round (the warm-up script) and then `rounds` timed rounds of
  * the script, each from a freshly built starting state, and finally
  * `setup_repeats` more set-ups alone.
  * Raw records go to `out` as JSON lines; run.py turns them into
  * metrics and checks them. */
object Main {
  def main(args: Array[String]): Unit = {
    val conf = {
      val src = Source.fromFile(args(0))
      try src.getLines().filter(_.contains("=")).map { l =>
        val k = l.takeWhile(_ != '='); k -> l.drop(k.length + 1)
      }.toMap finally src.close()
    }
    val mainSteal = Resources.stealS
    val work = Path.of(conf("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = conf("cores")
    val traced = conf("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.lake.sql.GraftSqlCatalog")
      .config("spark.sql.catalog.graft.warehouse",
        work.resolve("warehouse").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-wh").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.explainMode", "simple")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val session = Seq("session_s" -> sessionS, "session_cpu_s" -> Resources.cpuS,
      "session_steal_s" -> (Resources.stealS - mainSteal))

    val out = new JsonLines(conf("out"))
    val probe = if (traced) Some(new Probe(spark)) else None
    val rec = new Recorder(out, probe)
    val inputs = conf("inputs")
    val workload = conf("workload") match {
      case "query_catalog" => new QueryCatalog(spark, rec, out, traced,
        inputs, work.resolve("dump"))
      case "lake_churn" => new LakeChurn(spark, rec, out, traced, inputs,
        work, conf("delete_file_rows"))
      case "erase_sql" => new EraseSql(spark, rec, out, traced, inputs,
        work.resolve("warehouse"))
    }
    def script(key: String): Vector[Array[String]] = {
      val src = Source.fromFile(conf(key))
      try src.getLines().filter(_.nonEmpty).map(_.split("\t")).toVector
      finally src.close()
    }
    /** Build round r's starting state: wall, process CPU and steal. */
    def timedSetup(r: Int): Seq[(String, Any)] = {
      rec.round = r
      val (t0, cpu0, steal0) = (System.nanoTime(), Resources.cpuS,
        Resources.stealS)
      workload.setup(r)
      Seq("setup_s" -> (System.nanoTime() - t0) / 1e9,
        "setup_cpu_s" -> (Resources.cpuS - cpu0),
        "setup_steal_s" -> (Resources.stealS - steal0))
    }

    def round(r: Int, ops: Seq[Array[String]]): Unit = {
      val t0 = System.nanoTime()
      val setup = timedSetup(r)
      ops.zipWithIndex.foreach { case (op, i) => workload.run(op, i) }
      val facts = workload.finish(r)
      out.write(Seq[(String, Any)]("type" -> "round", "round" -> r,
        "wall_s" -> (System.nanoTime() - t0) / 1e9, "ops" -> ops.size) ++
        setup ++ facts: _*)
    }

    round(0, script("warmup_script"))
    val ops = script("script")
    val rounds = conf("rounds").toInt
    val (cpu0, gc0, jit0, steal0) =
      (Resources.cpuS, Resources.gcS, Resources.jitS, Resources.stealS)
    val t0 = System.nanoTime()
    (1 to rounds).foreach(round(_, ops))
    val r = rounds + 1
    val timedWall = (System.nanoTime() - t0) / 1e9
    val (cpu1, gc1, jit1, steal1) =
      (Resources.cpuS, Resources.gcS, Resources.jitS, Resources.stealS)
    // more set-ups (no operations) so that set-up time is a median
    (0 until conf("setup_repeats").toInt).foreach { k =>
      out.write(Seq[(String, Any)]("type" -> "setup", "round" -> (r + k)) ++
        timedSetup(r + k): _*)
    }
    val rt = Runtime.getRuntime
    out.write(Seq[(String, Any)]("type" -> "summary",
      "timed_wall_s" -> timedWall, "rounds" -> rounds,
      "proc.cpu_s" -> (cpu1 - cpu0), "jvm.gc_s" -> (gc1 - gc0),
      "jvm.jit_s" -> (jit1 - jit0), "host.steal_s" -> (steal1 - steal0),
      "nproc" -> rt.availableProcessors, "local_k" -> cores.toInt,
      "heap_mb" -> rt.maxMemory / 1048576.0) ++ session: _*)
    out.close()
    spark.stop()
  }
}
