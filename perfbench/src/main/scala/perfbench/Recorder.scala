package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Minimal JSON-lines writer: one object per line, values are numbers,
  * booleans, strings or nested maps/sequences of those. */
final class JsonLines(path: String) {
  private val w = new BufferedWriter(new FileWriter(path))

  def write(fields: (String, Any)*): Unit = {
    w.write(JsonLines.render(fields.toMap)); w.newLine()
  }

  def close(): Unit = w.close()
}

object JsonLines {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case m: collection.Map[_, _] => m.map { case (k, x) =>
      quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Process-wide resource counters read around the timed region. */
object Resources {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS: Double = os.getProcessCpuTime / 1e9

  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1e3

  def jitS: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Host CPU time stolen from this machine's virtual CPUs, from the
    * aggregate line of /proc/stat (read only; 0 where it is absent). */
  def stealS: Double = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100.0 else 0.0
    }.getOrElse(0.0)
    finally src.close()
  } catch { case NonFatal(_) => 0.0 }
}

/** One operation in flight: the benchmark wraps each call into a layer
  * (a GraftTable method, a spark.sql statement, a declared query
  * builder, planning, execution) in a named phase. */
final class OpCtx(clock: Clock) {
  val phases = mutable.LinkedHashMap.empty[String, Double]
  val spans = mutable.ArrayBuffer.empty[(String, Double, Double)]
  val extra = mutable.LinkedHashMap.empty[String, Any]

  def phase[A](name: String)(f: => A): A = {
    val t0 = clock.nowMs
    try f
    finally {
      val t1 = clock.nowMs
      phases(name) = phases.getOrElse(name, 0.0) + (t1 - t0) / 1e3
      spans += ((name, t0, t1))
    }
  }
}

/** Epoch-aligned millisecond clock with nanoTime resolution, so the
  * benchmark's own spans line up with Spark listener timestamps. */
final class Clock {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}

/** Times operations and writes one record per operation. A failed
  * operation is recorded with its exception class and is never
  * reported as a timing. */
final class Recorder(out: JsonLines, probe: Option[Probe]) {
  val clock = new Clock
  private var spanId = 0L
  var round = 0

  def op(kind: String, i: Int, attrs: (String, Any)*)(
      body: OpCtx => Unit): Boolean = {
    val ctx = new OpCtx(clock)
    probe.foreach(_.begin())
    val cpu0 = Resources.cpuS
    val steal0 = Resources.stealS
    val t0 = clock.nowMs
    val failure = try { body(ctx); None }
    catch { case NonFatal(e) => Some(e) }
    val t1 = clock.nowMs
    val cpu1 = Resources.cpuS
    val steal1 = Resources.stealS
    val layers = probe.map(_.end(t0, t1)).getOrElse(Map.empty)
    val wall = (t1 - t0) / 1e3
    failure.foreach { e =>
      System.err.println(s"[perfbench] $kind #$i failed: $e")
    }
    out.write(Seq[(String, Any)](
      "type" -> "op", "round" -> round, "i" -> i, "kind" -> kind,
      "ok" -> failure.isEmpty,
      "exc" -> failure.map(_.getClass.getName).getOrElse(""),
      "wall_s" -> wall, "cpu_s" -> (cpu1 - cpu0),
      "steal_s" -> (steal1 - steal0),
      "phases" -> ctx.phases, "extra" -> ctx.extra,
      "layers" -> layers) ++ attrs: _*)
    val label = attrs.collectFirst { case ("query", q: String) => q }
    if (probe.isDefined) writeSpans(label.getOrElse(kind), t0, t1, ctx)
    failure.isEmpty
  }

  private def writeSpans(kind: String, t0: Double, t1: Double,
      ctx: OpCtx): Unit = {
    spanId += 1
    val root = spanId
    out.write("type" -> "span", "id" -> root, "parent" -> 0L,
      "round" -> round, "name" -> kind, "layer" -> "op",
      "start_ms" -> t0, "end_ms" -> t1)
    ctx.spans.foreach { case (name, a, b) =>
      spanId += 1
      out.write("type" -> "span", "id" -> spanId, "parent" -> root,
        "round" -> round, "name" -> name, "layer" -> "phase",
        "start_ms" -> a, "end_ms" -> b)
    }
    probe.foreach(_.lastJobs.foreach { case (job, a, b) =>
      spanId += 1
      out.write("type" -> "span", "id" -> spanId, "parent" -> root,
        "round" -> round, "name" -> s"job-$job", "layer" -> "spark.job",
        "start_ms" -> a, "end_ms" -> b)
    })
  }
}
