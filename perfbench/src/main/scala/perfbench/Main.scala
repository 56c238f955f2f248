package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Where a run reads and writes, and how long it measures. */
final case class Env(root: File, workload: String, seed: Long, seconds: Int,
    trace: Boolean, out: File) {
  val benchDir = new File(root, "perfbench")
  val dataDir = new File(benchDir, "data/sf0.01")
  val expectedFile = new File(benchDir, "expected/suite.tsv")
  val workDir = new File(root, ".bench_build/work")

  /** A fresh, empty scratch directory for this run. */
  def work(name: String): File = {
    val d = new File(workDir, name)
    deleteTree(d)
    d.mkdirs()
    d
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }
}

object Stats {
  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val mid = s.size / 2
    if (s.size % 2 == 1) s(mid) else (s(mid - 1) + s(mid)) / 2
  }

  /** Sum of task run time over (wall time x cores). */
  def busy(runMs: Long, wallMs: Double, cores: Int): Double =
    if (wallMs <= 0) 0.0 else runMs / (wallMs * cores)
}

/** Entry point: `--workload <suite|store> --seed <n>
  * --seconds <s> --trace <0|1> --root <checkout> --out <report.json>`.
  * Writes the full report to `--out`; the caller prints the result line
  * from it. */
object Main {
  val Workloads: Seq[String] = Seq("suite", "store")
  /** Set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val env = parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${env.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", env.work("spark-local").getPath)
      .config("spark.sql.warehouse.dir", env.work("warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val r = new Report(env.workload)
    r.info("session_ready_s") = (Probe.nowMs() - jvmStartMs) / 1000.0
    val probe = new Probe(spark, env.trace)
    try {
      env.workload match {
        case "suite" => Suite.run(spark, probe, env, r)
        case "store" => Store.run(spark, probe, env, r)
      }
    } catch {
      case e: Throwable =>
        r.check(ok = false, s"workload aborted: $e")
        e.printStackTrace()
    }
    if (r.setups.nonEmpty) r.e2e("setup_s") = (Stats.median(r.setups.toSeq), "s")
    r.info("setup_samples_s") = r.setups
    if (env.trace) {
      val self = Probe.selfTimes(probe.spans.toSeq)
      Seq("store.build", "store.exec", "catalyst.analysis", "catalyst.optimization",
          "catalyst.planning", "embed.query", "spark.job").foreach { n =>
        r.layer(s"trace.self_ms.$n") = (self.getOrElse(n, 0.0), "ms")
      }
      r.info("self_ms") = self
      writeSpans(new File(env.out.getPath.stripSuffix(".json") + ".spans.jsonl"), probe)
    }
    r.info("seed") = env.seed
    r.info("holdout_seed") = HoldoutSeed
    r.info("nproc") = cores
    r.info("shuffle_partitions") = spark.conf.get("spark.sql.shuffle.partitions")
    r.info("driver_max_memory_mb") = Runtime.getRuntime.maxMemory() / (1L << 20)
    r.info("spark_version") = spark.version
    r.info("run_seconds") = env.seconds
    r.info("traced") = env.trace
    spark.stop()
    writeReport(env, r)
  }

  /** Seed that a later claim must also hold on, besides the seeds it
    * was tuned with. */
  val HoldoutSeed = 20261017L

  private def writeSpans(f: File, probe: Probe): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try probe.spans.foreach { s =>
      w.println(Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    } finally w.close()
  }

  private def writeReport(env: Env, r: Report): Unit = {
    val body = scala.collection.immutable.ListMap(
      "workload" -> r.workload,
      "correct" -> r.failures.isEmpty,
      "attempted" -> math.max(r.attempted, 1L),
      "failed" -> r.failed,
      "error_rate" -> r.failed.toDouble / math.max(r.attempted, 1L),
      "end_to_end" -> r.e2e,
      "named" -> r.named,
      "per_layer" -> r.layer,
      "info" -> r.info,
      "failures" -> r.failures.take(50))
    env.out.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(env.out, "UTF-8")
    try w.println(Json(body)) finally w.close()
  }

  private def parse(args: Array[String]): Env = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Env(new File(need("root")).getAbsoluteFile, workload, need("seed").toLong, seconds,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => sys.error(s"--trace must be 0 or 1, not $t")
      },
      new File(need("out")).getAbsoluteFile)
  }
}
