package perfbench

import org.apache.spark.sql.functions.col

import graft.embed.Embedder
import graft.store.DocumentStore

/** The read half of workload `store`: the RAG serving path. It runs on
  * an IVF store (cosine, [[Lists]] lists) of [[Docs]] seeded synthetic
  * documents. The engine's automatic list count, max(8, sqrt(n / 30)),
  * is 8 at this size, the same as the default `nprobe`, so every search
  * would probe every list and IVF would prune nothing; with 16 lists a
  * search reads about half the store. After untimed warm-up rounds, the
  * timed loop runs rounds of four reads for the run's seconds, each
  * with fresh seeded inputs: a top-10 search, a category-filtered
  * top-10 search with full metadata, a point lookup with full metadata,
  * and a batch search of 16 queries. Every round is the same work on
  * the same store. */
object StoreRead {
  val Docs = 1000
  val Lists = 16
  val K = 10
  val BatchSize = 16
  val WarmupRounds = 2
  /** Rounds whose per-layer counters and recall are reported: the first
    * ones, so they repeat exactly between runs with the same seed. */
  val CountedRounds = 2
  /** Lowest acceptable `recall_at_10`. Recall is exact for a given seed
    * and code; see the README for the values measured over seeds. */
  val RecallFloor = 0.7
  val Ops: Seq[String] = Seq("search", "filtered_search", "lookup", "batch")

  /** Runs the reads; returns the median round time in ms. `exact`
    * embeds queries for the recall check outside the timed reads. */
  def run(store: DocumentStore, corpus: Corpus, exact: Embedder, probe: Probe, env: Env,
      r: Report): Double = {
    // The first reads after a build run measurably slower than later ones.
    (1 to WarmupRounds).foreach(i => round(store, corpus, probe, r, -i))
    probe.unattributed()

    val t0 = Probe.nowMs()
    var rounds = Vector.empty[Seq[(String, OpTiming, Seq[(String, Seq[Long])])]]
    r.timed("read")(while (rounds.size < CountedRounds || Probe.nowMs() - t0 < env.seconds * 1000.0)
      rounds :+= round(store, corpus, probe, r, rounds.size))
    probe.checkAttributed(r)

    val all = rounds.flatten
    def times(op: String) = all.collect { case (`op`, t, _) => t.wallMs }
    r.named("search_p50_ms") = (Stats.median(times("search")), "ms")
    r.named("filtered_search_p50_ms") = (Stats.median(times("filtered_search")), "ms")
    r.named("lookup_p50_ms") = (Stats.median(times("lookup")), "ms")
    r.named("batch_queries_per_s") = (BatchSize * times("batch").size / (times("batch").sum / 1000.0), "1/s")
    r.info("read_samples") = Ops.map(op => op -> times(op).size).toMap + ("round" -> rounds.size)
    r.info("read_latencies_ms") = Ops.map(op => op -> times(op)).toMap
    r.info("read_corpus_docs") = Docs

    val counted = rounds.take(CountedRounds).flatten
    val searched = counted.flatMap(_._3)
    val recall = recallAt(store, exact, searched)
    r.check(recall >= RecallFloor, f"recall@10 is $recall%.3f, below the floor $RecallFloor")
    r.named("recall_at_10") = (recall, "ratio")
    r.info("recall_queries") = searched.size

    for (op <- Ops) {
      val ts = counted.collect { case (`op`, t, _) => t }
      val n = ts.size.toDouble
      def mean(f: OpTiming => Double) = ts.map(f).sum / n
      r.layer(s"read.$op.build_ms") = (mean(_.buildMs), "ms")
      r.layer(s"read.$op.plan_ms") = (mean(_.planMs), "ms")
      r.layer(s"read.$op.exec_ms") = (mean(_.execMs), "ms")
      r.layer(s"read.$op.jobs") = (mean(_.work.jobs.toDouble), "count")
      r.layer(s"read.$op.tasks") = (mean(_.work.tasks.toDouble), "count")
      r.layer(s"read.$op.rows_scanned") = (mean(_.work.rowsScanned.toDouble), "count")
      if (op != "lookup") r.layer(s"read.$op.embed_ms") = (mean(_.embedMs), "ms")
    }
    Stats.median(rounds.map(_.map(_._2.wallMs).sum))
  }

  /** One round of the four reads; returns per read its timing and the
    * unfiltered top-10 queries it answered, with the ids returned. */
  private def round(store: DocumentStore, corpus: Corpus, probe: Probe, r: Report,
      n: Int): Seq[(String, OpTiming, Seq[(String, Seq[Long])])] = {
    val q = corpus.text()
    val (hits, tSearch) = probe.op("search", s"$n")(store.similaritySearch(q, K))(_.collect())
    r.check(hits.length == K && hits.forall(h => h.getAs[String]("metadata_type") == "essential"),
      s"search $n returned ${hits.length} rows")

    val fq = corpus.text()
    val cat = Corpus.Categories(corpus.nextInt(Corpus.Categories.size))
    val (fhits, tFiltered) = probe.op("filtered_search", s"$n")(
      store.similaritySearch(fq, K, includeFullMetadata = true, filter = Some(col("category") === cat)))(_.collect())
    r.check(fhits.nonEmpty && fhits.length <= K &&
      fhits.forall(h => h.getAs[String]("category") == cat && h.getAs[String]("metadata_type") == "full"),
      s"filtered search $n returned ${fhits.length} rows or wrong categories")

    val id = corpus.nextInt(store.documentCount.toInt).toLong
    val (doc, tLookup) = probe.op("lookup", s"$n")(
      store.getDocumentsByIds(Seq(id), includeFullMetadata = true))(_.collect())
    r.check(doc.length == 1 && doc.head.getAs[Long]("doc_id") == id &&
      doc.head.getAs[scala.collection.Map[String, String]]("metadata") != null,
      s"lookup of id $id returned ${doc.length} rows")

    val qs = Seq.fill(BatchSize)(corpus.text())
    val (bhits, tBatch) = probe.op("batch", s"$n")(store.similaritySearchBatch(qs, K))(_.collect())
    r.check(bhits.length == BatchSize * K && bhits.map(_.getAs[String]("query")).toSet == qs.toSet,
      s"batch $n returned ${bhits.length} rows")

    val batchIds = bhits.groupBy(_.getAs[String]("query")).map { case (bq, rows) =>
      bq -> rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("doc_id")).toSeq }
    Seq(("search", tSearch, Seq(q -> hits.map(_.getAs[Long]("doc_id")).toSeq)),
      ("filtered_search", tFiltered, Nil), ("lookup", tLookup, Nil),
      ("batch", tBatch, qs.map(bq => bq -> batchIds.getOrElse(bq, Nil))))
  }

  /** Mean share of the exact top-k (brute force over the live snapshot,
    * ties by id) that the IVF searches returned. */
  private def recallAt(store: DocumentStore, embedder: Embedder,
      searched: Seq[(String, Seq[Long])]): Double = {
    val rows = store.essential.select("id", "vec").collect()
    val ids = rows.map(_.getLong(0))
    val vecs = rows.map(r => unit(r.getSeq[Double](1).toArray))
    val shares = searched.map { case (q, got) =>
      val qv = unit(embedder.embedQuery(q))
      val exact = ids.indices.map(i => (ids(i), dot(vecs(i), qv)))
        .sortBy { case (id, s) => (-s, id) }.take(K).map(_._1).toSet
      (got.toSet intersect exact).size.toDouble / K
    }
    if (shares.isEmpty) Double.NaN else shares.sum / shares.size
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(dot(v, v))
    if (n == 0) v else v.map(_ / n)
  }
}
