package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.embed.Embedder
import graft.store.DocumentStore

/** The write half of workload `store`: the mutation path. It runs on a
  * flat (IVF off) store of [[Docs]] seeded synthetic documents. The loop
  * runs rounds of `addTexts` (1,000 docs: 20% exact copies of stored
  * texts, 5% repeats within the batch, so 750 are new), `deleteByIds`
  * (800 live ids) and `upsertTexts` (100 docs: half replace stored
  * texts, half are new) for the run's seconds, at least [[MinRounds]]. A
  * round adds as many documents as it deletes, so every round works on
  * a store of the same size and is the same work. Every mutation
  * rewrites the corpus. The part ends by reopening the store with
  * `DocumentStore.load` and searching it.
  *
  * IVF is off here because with it on every mutation also refits
  * k-means (about 40 more jobs): one round took 25 s, more than the
  * benchmark's time budget allows. The IVF fit is still measured, in
  * the set-up of the read store.
  *
  * The benchmark keeps its own model of the store, the live texts in id
  * order, and checks the store's count and contents against it. */
object StoreWrite {
  val Docs = 2000
  val AddSize = 1000
  val AddStoredDupShare = 0.20
  val AddBatchDupShare = 0.05
  val UpsertSize = 100
  /** What the add and the upsert leave new, so that a round ends at the
    * size it started from. */
  val DeleteSize: Int = AddSize - (AddSize * AddStoredDupShare).toInt - (AddSize * AddBatchDupShare).toInt +
    (UpsertSize - UpsertSize / 2)
  /** A round takes about 9 s: with two, the median is their mean rather
    * than one round's time. */
  val MinRounds = 2
  val Ops: Seq[String] = Seq("add", "delete", "upsert")

  /** The texts the store should hold, in id order, with their metadata. */
  private final class Model {
    val texts = mutable.ArrayBuffer.empty[String]
    val meta = mutable.HashMap.empty[String, Map[String, String]]
    def contains(t: String): Boolean = meta.contains(t)
    def append(batch: Seq[(String, Map[String, String])]): Int = {
      var added = 0
      batch.foreach { case (t, m) =>
        if (!contains(t)) { texts += t; meta(t) = m; added += 1 }
      }
      added
    }
    def removeAt(ids: Seq[Int]): Unit = {
      val drop = ids.toSet
      val kept = texts.zipWithIndex.collect { case (t, i) if !drop(i) => t }
      ids.foreach(i => meta.remove(texts(i)))
      texts.clear(); texts ++= kept
    }
    def remove(ts: Set[String]): Unit = {
      texts.filterInPlace(t => !ts(t)); ts.foreach(meta.remove)
    }
    def userBytes: Long = texts.iterator.map(t => Model.bytes(t, meta(t))).sum
  }
  private object Model {
    def bytes(t: String, m: Map[String, String]): Long =
      t.getBytes("UTF-8").length + m.iterator.map { case (k, v) =>
        k.getBytes("UTF-8").length + v.getBytes("UTF-8").length }.sum
  }

  /** Runs the mutations on `store`, built at `path` from `docs`; returns
    * the median round time in ms. */
  def run(spark: SparkSession, store: DocumentStore, path: String, docs: Seq[(String, Map[String, String])],
      corpus: Corpus, embedder: Embedder, probe: Probe, env: Env, r: Report): Double = {
    val model = new Model
    model.append(docs)
    probe.unattributed()

    val t0 = Probe.nowMs()
    var rounds = Vector.empty[Map[String, (OpTiming, Long, Long)]]
    var lastRound = 0.0
    r.timed("write")(while (rounds.size < MinRounds || (Probe.nowMs() - t0) + lastRound <= env.seconds * 1000.0) {
      val r0 = Probe.nowMs()
      rounds :+= round(store, model, corpus, probe, r, rounds.size)
      lastRound = Probe.nowMs() - r0
    })
    probe.checkAttributed(r)

    def lat(op: String) = rounds.map(_(op)._1.wallMs)
    r.named("add_docs_per_s") = (AddSize * rounds.size / (lat("add").sum / 1000.0), "1/s")
    r.named("delete_p50_ms") = (Stats.median(lat("delete")), "ms")
    r.named("upsert_p50_ms") = (Stats.median(lat("upsert")), "ms")
    val versionDir = new java.io.File(path, s"v${store.currentManifest.version}")
    val diskBytes = treeBytes(versionDir)
    r.named("space_amp") = (diskBytes.toDouble / model.userBytes, "ratio")
    r.info("write_samples") = Ops.map(_ -> rounds.size).toMap + ("round" -> rounds.size)
    r.info("write_latencies_ms") = Ops.map(op => op -> lat(op)).toMap
    r.info("write_corpus_docs") = Docs

    // Stored contents against the model: a seeded sample of ids.
    val sample = corpus.distinctInts(math.min(8, model.texts.size), model.texts.size).map(_.toLong)
    val got = store.getDocumentsByIds(sample).collect()
      .map(row => row.getAs[Long]("doc_id") -> row.getAs[String]("text")).toMap
    r.check(sample.forall(i => got.get(i).contains(model.texts(i.toInt))),
      "stored texts differ from the expected texts at the sampled ids")

    val q = corpus.text()
    val (reopened, tLoad) = probe.op("reopen", "load")(DocumentStore.load(spark, path, embedder))(identity)
    val (hitsAfter, tSearch) = probe.op("reopen", "search")(reopened.similaritySearch(q, 10))(_.collect())
    val hitsLive = store.similaritySearch(q, 10).collect()
    r.check(reopened.documentCount == model.texts.size,
      s"reloaded store holds ${reopened.documentCount} docs, expected ${model.texts.size}")
    r.check(hitsAfter.map(_.getAs[Long]("doc_id")).toSeq == hitsLive.map(_.getAs[Long]("doc_id")).toSeq &&
      hitsAfter.length == 10, "reloaded store's top-10 differs from the live store's")

    // Per-layer numbers: the first round only, so they repeat exactly.
    val first = rounds.head
    for (op <- Ops) {
      val (t, _, _) = first(op)
      r.layer(s"write.$op.jobs") = (t.work.jobs.toDouble, "count")
      r.layer(s"write.$op.tasks") = (t.work.tasks.toDouble, "count")
      r.layer(s"write.$op.shuffle_bytes") = (t.work.shuffleBytes.toDouble, "bytes")
      r.layer(s"write.$op.bytes_written") = (t.work.bytesWritten.toDouble, "bytes")
      r.layer(s"write.$op.busy_frac") = (Stats.busy(t.work.runMs, t.wallMs, probe.cores), "ratio")
    }
    val (_, accepted, _) = first("add")
    r.layer("write.add.accepted_frac") = (accepted.toDouble / AddSize, "ratio")
    val written = Ops.map(first(_)._1.work.bytesWritten).sum
    val offered = Ops.map(first(_)._3).sum
    r.layer("write.bytes_per_user_byte") = (written.toDouble / offered, "ratio")
    r.layer("write.reopen.load_ms") = (tLoad.wallMs, "ms")
    r.layer("write.reopen.search_ms") = (tSearch.wallMs, "ms")
    r.layer("write.disk_bytes_end") = (diskBytes.toDouble, "bytes")
    Stats.median(rounds.map(_.values.map(_._1.wallMs).sum))
  }

  /** One add, delete and upsert; per op: (timing, rows the model
    * accepted, user bytes offered). */
  private def round(store: DocumentStore, model: Model, corpus: Corpus, probe: Probe,
      r: Report, n: Int): Map[String, (OpTiming, Long, Long)] = {
    val fresh = Seq.fill(AddSize - (AddSize * AddStoredDupShare).toInt - (AddSize * AddBatchDupShare).toInt)(
      corpus.text() -> corpus.metadata())
    val stored = corpus.distinctInts((AddSize * AddStoredDupShare).toInt, model.texts.size)
      .map(i => model.texts(i) -> corpus.metadata())
    val repeats = Seq.fill((AddSize * AddBatchDupShare).toInt)(fresh(corpus.nextInt(fresh.size))._1 -> corpus.metadata())
    val batch = shuffle(fresh ++ stored ++ repeats, corpus)
    val addBytes = batch.map { case (t, m) => Model.bytes(t, m) }.sum
    val (_, tAdd) = probe.op("add", s"$n")(store.addTexts(batch.map(_._1), batch.map(_._2)))(identity)
    val accepted = model.append(batch)
    r.check(store.documentCount == model.texts.size,
      s"add $n: store holds ${store.documentCount} docs, expected ${model.texts.size}")

    val ids = corpus.distinctInts(DeleteSize, model.texts.size)
    val delBytes = ids.map(i => Model.bytes(model.texts(i), model.meta(model.texts(i)))).sum
    val (_, tDel) = probe.op("delete", s"$n")(store.deleteByIds(ids.map(_.toLong)))(identity)
    model.removeAt(ids)
    r.check(store.documentCount == model.texts.size,
      s"delete $n: store holds ${store.documentCount} docs, expected ${model.texts.size}")

    val replaced = corpus.distinctInts(UpsertSize / 2, model.texts.size).map(model.texts(_))
    val ups = shuffle(replaced.map(_ -> corpus.metadata()) ++
      Seq.fill(UpsertSize - replaced.size)(corpus.text() -> corpus.metadata()), corpus)
    val upsBytes = ups.map { case (t, m) => Model.bytes(t, m) }.sum
    val (_, tUps) = probe.op("upsert", s"$n")(store.upsertTexts(ups.map(_._1), ups.map(_._2)))(identity)
    model.remove(replaced.toSet)
    model.append(ups)
    r.check(store.documentCount == model.texts.size && model.texts.size == Docs,
      s"upsert $n: store holds ${store.documentCount} docs, expected ${model.texts.size} and $Docs")

    Map("add" -> (tAdd, accepted.toLong, addBytes), "delete" -> (tDel, 0L, delBytes),
      "upsert" -> (tUps, 0L, upsBytes))
  }

  private def shuffle[A](xs: Seq[A], corpus: Corpus): Seq[A] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = corpus.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  private def treeBytes(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
}
