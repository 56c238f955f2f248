package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Work counters of one labelled operation, summed over its jobs and
  * the stages that actually ran (skipped stages count nothing). */
final case class Work(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, starvedStages: Long = 0,
    runMs: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0,
    rowsScanned: Long = 0, bytesWritten: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    starvedStages + o.starvedStages, runMs + o.runMs, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes, rowsScanned + o.rowsScanned, bytesWritten + o.bytesWritten)
}

/** One traced interval. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, name: String, op: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Attributes every job, and the stages it ran, to the operation label
  * the benchmark put in the submitting thread's local properties. A
  * stage with fewer tasks than cores is "starved". */
final class WorkListener(cores: Int) extends SparkListener {
  private val stageLabel = mutable.Map.empty[Int, String]
  private val work = mutable.Map.empty[String, Work]
  private val openJobs = mutable.Map.empty[Int, (String, Long)]
  private val doneJobs = mutable.Map.empty[String, Vector[(Int, Long, Long)]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.LabelKey)))
      .getOrElse(Probe.Unlabelled)
    e.stageIds.foreach(stageLabel(_) = label)
    add(label, Work(jobs = 1))
    openJobs(e.jobId) = (label, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (label, start) =>
      doneJobs(label) = doneJobs.getOrElse(label, Vector.empty) :+ ((e.jobId, start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val label = stageLabel.getOrElse(info.stageId, Probe.Unlabelled)
    val m = info.taskMetrics
    val w = if (m == null) Work(stages = 1, tasks = info.numTasks)
    else Work(
      stages = 1, tasks = info.numTasks,
      starvedStages = if (info.numTasks < cores) 1 else 0,
      runMs = m.executorRunTime,
      shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
      rowsScanned = m.inputMetrics.recordsRead,
      bytesWritten = m.outputMetrics.bytesWritten)
    add(label, w)
  }

  private def add(label: String, w: Work): Unit =
    work(label) = work.getOrElse(label, Work()) + w

  /** Removes and returns what was counted under `label`, and its jobs
    * as (job id, start, end). Call only after the bus is drained. */
  def take(label: String): (Work, Vector[(Int, Long, Long)]) = synchronized {
    (work.remove(label).getOrElse(Work()), doneJobs.remove(label).getOrElse(Vector.empty))
  }
}

/** Timing of one operation. `buildMs` covers the public call until it
  * returned its DataFrame (or, for calls that return no DataFrame, the
  * whole call); `execMs` the collect or count that consumed it. */
final case class OpTiming(wallMs: Double, buildMs: Double, execMs: Double,
    planMs: Double, embedMs: Double, work: Work)

/** The benchmark's own instrumentation. Untraced, an operation is only
  * timed. Traced, it is also labelled for the [[WorkListener]], the bus
  * is drained after it, and spans are kept in memory: one root span per
  * operation, with `store.build`, `store.exec`, `catalyst.*` phases from
  * the query's planning tracker, `embed.query` from [[TimedEmbedder]]
  * and one `spark.job` per job, each parented to the innermost span
  * that contains its start. */
final class Probe(spark: SparkSession, val traced: Boolean) {
  import Probe._

  val cores: Int = spark.sparkContext.defaultParallelism
  private val listener = if (traced) {
    val l = new WorkListener(cores)
    spark.sparkContext.addSparkListener(l)
    Some(l)
  } else None

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private def newId(): Long = { nextId += 1; nextId }
  private val embedSpans = mutable.ArrayBuffer.empty[(Double, Double)]

  /** Records a query embedding made inside the current operation. */
  private[perfbench] def embedded(startMs: Double, endMs: Double): Unit =
    if (traced) embedSpans.synchronized { embedSpans += ((startMs, endMs)) }

  /** Runs one operation. `build` is the public call; `exec` consumes
    * what it returned. Returns the consumed value and its timing. */
  def op[A, B](kind: String, id: String)(build: => A)(exec: A => B): (B, OpTiming) = {
    val label = s"$kind#$id"
    val sc = spark.sparkContext
    if (traced) {
      PerfbenchBus.drain(sc)
      sc.setLocalProperty(LabelKey, label)
      embedSpans.synchronized(embedSpans.clear())
    }
    val t0 = nowMs()
    val a = build
    val t1 = nowMs()
    val b = exec(a)
    val t2 = nowMs()
    if (!traced) return (b, OpTiming(t2 - t0, t1 - t0, t2 - t1, 0.0, 0.0, Work()))

    sc.setLocalProperty(LabelKey, null)
    PerfbenchBus.drain(sc)
    val (work, jobs) = listener.get.take(label)
    val phases: Seq[(String, Double, Double)] = a match {
      case df: org.apache.spark.sql.Dataset[_] =>
        df.queryExecution.tracker.phases.toSeq
          .filter { case (name, _) => CatalystPhases.contains(name) }
          .map { case (name, p) => (s"catalyst.$name", p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
      case _ => Nil
    }
    val embeds = embedSpans.synchronized(embedSpans.toVector)
    val rootId = newId()
    val buildId = newId()
    val execId = newId()
    val root = Span(rootId, 0L, kind, label, t0, t2)
    val buildSpan = Span(buildId, rootId, "store.build", label, t0, t1)
    val execSpan = Span(execId, rootId, "store.exec", label, t1, t2)
    def parentOf(start: Double): Long =
      if (start < t1) buildId else execId
    spans += root += buildSpan += execSpan
    phases.foreach { case (n, s, e) => spans += Span(newId(), parentOf(s), n, label, s, e) }
    embeds.foreach { case (s, e) => spans += Span(newId(), parentOf(s), "embed.query", label, s, e) }
    jobs.foreach { case (_, s, e) =>
      spans += Span(newId(), parentOf(s.toDouble), "spark.job", label, s.toDouble, e.toDouble)
    }
    val planMs = phases.map { case (_, s, e) => e - s }.sum
    val embedMs = embeds.map { case (s, e) => e - s }.sum
    (b, OpTiming(t2 - t0, t1 - t0, t2 - t1, planMs, embedMs, work))
  }

  /** Counters of jobs no operation label reached since the last call. */
  def unattributed(): Work =
    listener.map { l => PerfbenchBus.drain(spark.sparkContext); l.take(Unlabelled)._1 }
      .getOrElse(Work())

  /** In a traced run, fails a check if any job since the last call
    * escaped the operation labels: its work would be missing from the
    * per-layer counters. */
  def checkAttributed(r: Report): Unit = if (traced) {
    val stray = unattributed()
    r.info("unattributed_jobs") = stray.jobs
    r.check(stray.jobs == 0, s"${stray.jobs} jobs ran outside any operation label")
  }
}

object Probe {
  val LabelKey = "perfbench.op"
  val Unlabelled = "-"
  val CatalystPhases = Set("analysis", "optimization", "planning")

  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Monotonic clock on the epoch scale the listener and tracker use. */
  def nowMs(): Double = (System.nanoTime() + epochOffsetNs) / 1e6

  /** Self time per span name: each span's duration minus the part of
    * it covered by the union of its children. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a })
        s.durMs - covered
      }.sum
    }
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Delegating [[graft.embed.Embedder]] the benchmark hands to the store
  * in traced runs: times each driver-side query embedding. */
final class TimedEmbedder(inner: graft.embed.Embedder, @transient probe: Probe)
    extends graft.embed.Embedder {
  override def dim: Int = inner.dim
  override def embed(df: DataFrame, textCol: String, outCol: String): DataFrame =
    inner.embed(df, textCol, outCol)
  override def embedQuery(text: String): Array[Double] = {
    val s = Probe.nowMs()
    val v = inner.embedQuery(text)
    probe.embedded(s, Probe.nowMs())
    v
  }
  override def streamingSafe: Boolean = inner.streamingSafe
}
