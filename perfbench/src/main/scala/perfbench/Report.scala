package perfbench

import scala.collection.mutable

/** What one run measured and checked. `e2e` holds the metrics every
  * workload reports with tracing off; `named` the workload's own
  * end-to-end metrics; `layer` the per-layer metrics of a traced run. */
final class Report(val workload: String) {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Seconds each set-up took; `setup_s` is their median. */
  val setups = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L

  /** Runs one set-up and records its time. */
  def setup[A](body: => A): A = {
    val t0 = Probe.nowMs()
    val a = body
    setups += (Probe.nowMs() - t0) / 1000.0
    a
  }

  /** Counts one checked operation; a false check is a failure. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) failures += what
    ok
  }

  /** Runs a timed loop, recording under `name` how long it took, how
    * much of it the JVM spent in garbage collection and JIT compilation,
    * and the share of the machine's CPU time the hypervisor stole. */
  def timed[A](name: String)(body: => A): A = {
    val (gc0, jit0) = Report.jvmMs()
    val cpu0 = Report.cpuTicks()
    val t0 = Probe.nowMs()
    val a = body
    val (gc1, jit1) = Report.jvmMs()
    info(s"${name}_timed_ms") = Probe.nowMs() - t0
    info(s"${name}_gc_ms") = gc1 - gc0
    info(s"${name}_jit_ms") = jit1 - jit0
    for ((total0, steal0) <- cpu0; (total1, steal1) <- Report.cpuTicks() if total1 > total0)
      info(s"${name}_steal_frac") = (steal1 - steal0).toDouble / (total1 - total0)
    a
  }

  def failed: Long = failures.size.toLong
}

object Report {
  /** Milliseconds this JVM has spent in garbage collection and in JIT
    * compilation so far. */
  def jvmMs(): (Double, Double) = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
    (gc.toDouble, ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble)
  }

  /** All CPU ticks and stolen ticks so far, from Linux's /proc/stat. */
  def cpuTicks(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val ticks = try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong) finally src.close()
    (ticks.sum, ticks(7))
  }.toOption
}

/** Minimal JSON rendering for the report files and the result line. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case (value: Double, unit: String) => s"""{"value":${num(value)},"unit":${str(unit)}}"""
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
