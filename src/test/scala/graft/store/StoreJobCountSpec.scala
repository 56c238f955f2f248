package graft.store

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

import graft.{SparkSpec, StoreConfig}
import graft.embed.HashEmbedder

/** Pins the Spark jobs each DocumentStore call runs. At serving sizes
  * every job costs a fixed ~70–100 ms of scheduling, so the job count
  * IS the latency of a call; these bounds keep removed jobs (footer
  * schema inference, sort-based renumbering, enrichment joins) from
  * coming back unnoticed. The listener bus is drained before and after
  * each call, so a count holds exactly that call's jobs, and every
  * count is taken twice to show it repeats. */
class StoreJobCountSpec extends SparkSpec {

  private val emb = HashEmbedder(dim = 64)
  private def tmp(): String =
    Files.createTempDirectory("graft-jobs").toString + "/store"

  private def docs(prefix: String, n: Int): Seq[String] =
    (0 until n).map(i => s"$prefix document $i about topic ${i % 7} with words w${i * 13 % 101} w${i * 7 % 89}")
  private def metas(n: Int): Seq[Map[String, String]] =
    (0 until n).map(i => Map("source" -> s"s${i % 3}.txt", "category" -> s"c${i % 4}"))

  /** Jobs run by `body` (which must force its own result). */
  private def jobs(body: => Any): Int = {
    val sc = spark.sparkContext
    GraftTestBus.drain(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    sc.addSparkListener(l)
    try { body; GraftTestBus.drain(sc); n.get }
    finally sc.removeSparkListener(l)
  }

  /** The four serving reads, each counted twice (warm: centroids and
    * the tuned-nprobe memo are loaded by a first untimed pass). */
  private def readCounts(store: DocumentStore): Map[String, Seq[Int]] = {
    val calls: Seq[(String, () => Any)] = Seq(
      "search" -> (() => store.similaritySearch("topic 3 words", k = 5).collect()),
      "filtered" -> (() => store.similaritySearch("topic 3 words", k = 5,
        includeFullMetadata = true, filter = Some(col("category") === "c1")).collect()),
      "lookup" -> (() => store.getDocumentsByIds(Seq(1L, 5L, 9L), includeFullMetadata = true).collect()),
      "batch" -> (() => store.similaritySearchBatch(Seq("topic 1", "topic 2", "w13"), k = 3).collect()))
    calls.foreach(_._2())
    calls.map { case (name, call) => name -> Seq(jobs(call()), jobs(call())) }.toMap
  }

  private def assertReads(counts: Map[String, Seq[Int]]): Unit = {
    info(s"read jobs: $counts")
    counts.values.foreach(c => assert(c.distinct.size == 1, s"job counts do not repeat: $counts"))
    assert(counts("search").head == 1, counts)
    assert(counts("filtered").head <= 2, counts)
    assert(counts("lookup").head <= 2, counts)
    assert(counts("batch").head <= 3, counts)
  }

  test("reads: search is one job, filtered + full metadata and lookup two, batch three (flat and IVF)") {
    val flat = DocumentStore.fromTexts(spark, tmp(), docs("flat", 120), metas(120), StoreConfig(), emb)
    assertReads(readCounts(flat))
    val ivf = DocumentStore.fromTexts(spark, tmp(), docs("ivf", 120), metas(120),
      StoreConfig(nlist = 4, nprobe = 2), emb)
    assert(ivf.currentManifest.nlist == 4)
    assertReads(readCounts(ivf))
  }

  test("full-metadata results are local: collecting them runs no job") {
    val store = DocumentStore.fromTexts(spark, tmp(), docs("local", 40), metas(40), StoreConfig(), emb)
    val hits = store.similaritySearch("topic 3", k = 4, includeFullMetadata = true)
    assert(jobs(hits.collect()) == 0)
    val lookup = store.getDocumentsByIds(Seq(2L, 3L), includeFullMetadata = true)
    assert(jobs(lookup.collect()) == 0)
  }

  test("mutations on a flat store: add, delete and upsert stay within their job budgets, repeatably") {
    val n = 200
    val store = DocumentStore.fromTexts(spark, tmp(), docs("base", n), metas(n), StoreConfig(), emb)
    var live = docs("base", n)
    // Two size-neutral rounds (add 40 with 10 stored copies, delete 35,
    // upsert 10 of which 5 replace): the same work each round, so the
    // same jobs.
    val rounds = (0 until 2).map { r =>
      val fresh = docs(s"round$r", 30)
      val batch = fresh ++ live.take(10)
      val add = jobs(store.addTexts(batch, metas(batch.size)))
      live = live ++ fresh
      val gone = (0L until 35L).map(_ * 3)
      val delete = jobs(store.deleteByIds(gone))
      live = live.zipWithIndex.collect { case (t, i) if !gone.contains(i.toLong) => t }
      val ups = live.take(5) ++ docs(s"upsert$r", 5)
      val upsert = jobs(store.upsertTexts(ups, metas(ups.size)))
      live = live.drop(5) ++ ups
      assert(store.documentCount == n)
      Map("add" -> add, "delete" -> delete, "upsert" -> upsert)
    }
    assert(rounds(0) == rounds(1), s"mutation job counts do not repeat: $rounds")
    val c = rounds.head
    info(s"mutation jobs: $c")
    assert(c("add") <= 31, c)
    assert(c("delete") <= 12, c)
    assert(c("upsert") <= 26, c)
    // And the store holds exactly the expected texts, in id order.
    val got = store.essential.select("id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    assert(got.map(_._1).toSeq == (0L until n.toLong))
    assert(got.map(_._2).toSeq == live)
  }
}
