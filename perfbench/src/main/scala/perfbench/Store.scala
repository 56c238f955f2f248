package perfbench

import org.apache.spark.sql.SparkSession

import graft.StoreConfig
import graft.embed.{Embedder, HashEmbedder}
import graft.store.DocumentStore

/** Workload `store`: the `DocumentStore` API one call at a time, as a RAG
  * application uses it. Set-up, done [[Main.SetupRepeats]] times in
  * fresh directories, builds two stores from seeded synthetic
  * documents: an IVF store for the reads ([[StoreRead]]) and a flat
  * store for the mutations ([[StoreWrite]]). The timed part runs the
  * reads, then the mutations, on the stores of the last set-up.
  * `round_ms` is the median read round plus the median write round. It
  * never touches the operators or the streaming gates.
  *
  * The reads and the mutations draw their inputs from two generators,
  * so what the mutations get does not depend on how many read rounds
  * fitted in the run. */
object Store {
  def run(spark: SparkSession, probe: Probe, env: Env, r: Report): Unit = {
    val readCorpus = new Corpus(env.seed)
    val writeCorpus = new Corpus(env.seed + WriteSeedOffset)
    val (readTexts, readMetas) = readCorpus.docs(StoreRead.Docs)
    val (writeTexts, writeMetas) = writeCorpus.docs(StoreWrite.Docs)
    val base: Embedder = HashEmbedder(64)
    val embedder = if (probe.traced) new TimedEmbedder(base, probe) else base
    val (readStore, writeStore, writePath) = (0 until Main.SetupRepeats).map { i =>
      val writePath = env.work(s"write$i").getPath
      val (read, write) = r.setup((
        DocumentStore.fromTexts(spark, env.work(s"read$i").getPath, readTexts, readMetas,
          StoreConfig(nlist = StoreRead.Lists), embedder),
        DocumentStore.fromTexts(spark, writePath, writeTexts, writeMetas, StoreConfig(nlist = 0), base)))
      r.check(read.documentCount == StoreRead.Docs && read.currentManifest.nlist == StoreRead.Lists,
        s"read store $i holds ${read.documentCount} docs in ${read.currentManifest.nlist} lists")
      r.check(write.documentCount == StoreWrite.Docs,
        s"write store $i holds ${write.documentCount} docs, not ${StoreWrite.Docs}")
      (read, write, writePath)
    }.last

    val readMs = StoreRead.run(readStore, readCorpus, base, probe, env, r)
    val writeMs = StoreWrite.run(spark, writeStore, writePath, writeTexts.zip(writeMetas), writeCorpus,
      base, probe, env, r)
    r.e2e("round_ms") = (readMs + writeMs, "ms")
    r.info("read_round_ms") = readMs
    r.info("write_round_ms") = writeMs
  }

  /** Offset of the mutations' generator seed from the run's seed. */
  val WriteSeedOffset = 1000003L
}
