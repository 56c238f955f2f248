package perfbench

import scala.collection.mutable

/** Seeded synthetic documents for the store workloads: words drawn from
  * a Zipf(1.1) vocabulary of 20,000 words, log-normal lengths clipped to
  * 20..400 words, metadata with `source`, `category` and two to five
  * extra keys. Every text it returns is distinct from every earlier one,
  * so duplicates only appear where a workload makes them on purpose. */
final class Corpus(seed: Long) {
  private val rnd = new java.util.Random(seed)
  private val seen = mutable.HashSet.empty[String]

  private val cdf: Array[Double] = {
    val w = Array.tabulate(Corpus.VocabSize)(i => 1.0 / math.pow(i + 1, 1.1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _ / total).tail
  }

  private def word(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    val rank = math.min(if (i >= 0) i else -i - 1, Corpus.VocabSize - 1)
    Corpus.Syllables(rank % 16) + Corpus.Syllables((rank / 16) % 16) + rank.toString
  }

  /** A text not returned before. */
  def text(): String = {
    var t = ""
    while ({
      val len = math.round(math.exp(math.log(60) + 0.8 * rnd.nextGaussian())).toInt
      t = Array.fill(math.max(20, math.min(400, len)))(word()).mkString(" ")
      !seen.add(t)
    }) ()
    t
  }

  def metadata(): Map[String, String] = {
    val extra = 2 + rnd.nextInt(4)
    Map("source" -> s"src${rnd.nextInt(10)}", "category" -> Corpus.Categories(rnd.nextInt(Corpus.Categories.size))) ++
      (0 until extra).map(k => s"attr$k" -> s"v${rnd.nextInt(1000)}")
  }

  def docs(n: Int): (Seq[String], Seq[Map[String, String]]) =
    (Seq.fill(n)(text()), Seq.fill(n)(metadata()))

  def nextInt(n: Int): Int = rnd.nextInt(n)

  /** `k` distinct values from 0 until `n`, in draw order. */
  def distinctInts(k: Int, n: Int): Seq[Int] = {
    val out = mutable.LinkedHashSet.empty[Int]
    while (out.size < k) out += rnd.nextInt(n)
    out.toSeq
  }
}

object Corpus {
  val VocabSize = 20000
  val Categories: IndexedSeq[String] =
    IndexedSeq("news", "code", "legal", "medical", "finance", "sports", "science", "travel")
  private val Syllables = IndexedSeq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo",
    "be", "da", "fi", "go", "hu", "ja", "pe", "zu")
}
