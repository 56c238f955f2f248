package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, StoreConfig}
import graft.embed.HashEmbedder
import graft.store.DocumentStore

/** The work counters are only worth reporting if the same code reads the
  * same counts every time. Each case runs the same operations twice, on
  * separate copies of their inputs so no per-directory cache carries
  * over, and compares the counters the listener attributed to them. */
class CountersSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private lazy val probe = new Probe(spark, traced = true)
  private val scratch = java.nio.file.Files.createTempDirectory("perfbench-spec").toFile

  override def afterAll(): Unit = {
    spark.stop()
    deleteTree(scratch)
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }

  private def counts(w: Work) = (w.jobs, w.tasks, w.shuffleBytes, w.rowsScanned, w.bytesWritten)

  test("every SparkEntry query sits in exactly one family") {
    assert(Families.check(SparkEntry.queries.keySet).isEmpty)
  }

  test("suite query counters repeat exactly") {
    val data = new File("data/sf0.01")
    def once(copy: String): Seq[(Long, Long, Long, Long, Long)] = {
      val dir = new File(scratch, copy)
      dir.mkdirs()
      data.listFiles().foreach(f => java.nio.file.Files.copy(f.toPath, new File(dir, f.getName).toPath))
      Seq("q1_lineitem_agg", "q_dedup_minhash_lsh").map { q =>
        val (_, t) = probe.op("query", s"$q/$copy")(SparkEntry.queries(q)(spark, dir.getPath))(_.collect())
        counts(t.work)
      }
    }
    val first = once("a")
    assert(first.forall(_._1 > 0), "the listener saw no jobs")
    assert(first.exists(_._4 > 0), "no rows scanned")
    assert(once("b") == first)
  }

  test("store read and write counters repeat exactly") {
    def once(name: String): Seq[(Long, Long, Long, Long, Long)] = {
      val corpus = new Corpus(7L)
      val (texts, metas) = corpus.docs(300)
      val store = DocumentStore.fromTexts(spark, new File(scratch, name).getPath, texts, metas,
        StoreConfig(nlist = -1), HashEmbedder(64))
      val q = corpus.text()
      val (_, search) = probe.op("search", name)(store.similaritySearch(q, 10))(_.collect())
      val (_, lookup) = probe.op("lookup", name)(
        store.getDocumentsByIds(Seq(17L), includeFullMetadata = true))(_.collect())
      val (more, moreMetas) = corpus.docs(50)
      val (_, add) = probe.op("add", name)(store.addTexts(more, moreMetas))(identity)
      Seq(search, lookup, add).map(t => counts(t.work))
    }
    val first = once("a")
    assert(first.forall(_._1 > 0), "the listener saw no jobs")
    assert(first.last._5 > 0, "the add wrote no bytes")
    assert(once("b") == first)
  }

  test("a job outside every operation label fails the attribution check") {
    probe.unattributed()
    spark.range(10).count()
    val stray = new Report("spec")
    probe.checkAttributed(stray)
    assert(stray.failed == 1)

    probe.op("query", "labelled")(spark.range(10))(_.count())
    val clean = new Report("spec")
    probe.checkAttributed(clean)
    assert(clean.attempted == 1 && clean.failed == 0)
  }

  test("self time subtracts the union of child spans") {
    val spans = Seq(
      Span(1, 0, "root", "op", 0, 100),
      Span(2, 1, "store.build", "op", 0, 40),
      Span(3, 1, "store.exec", "op", 40, 100),
      Span(4, 3, "spark.job", "op", 50, 70),
      Span(5, 3, "spark.job", "op", 60, 80))
    val self = Probe.selfTimes(spans)
    assert(self("root") == 0.0)
    assert(self("store.build") == 40.0)
    assert(self("store.exec") == 30.0)
    assert(self("spark.job") == 40.0)
  }
}
