package perfbench

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** Workload `suite`: a fixed list of `SparkEntry.queries` entries over
  * the bundled sf0.01 tables, one at a time in sorted name order, each
  * result collected. The list holds one query of each family; for the
  * media, gate, text and vector families it is a direction-2 query, one
  * whose stages leave cores idle. The whole 151-query pass takes about
  * 90 s warm at this scale on 4 cores, more than the benchmark's time
  * budget holds.
  *
  * Set-up, done [[Main.SetupRepeats]] times: a fresh copy of the
  * tables, every table's schema read, and the first query run once
  * over the copy. That warms the session and the scan path. The timed
  * pass is then what a batch job pays in a fresh JVM: every other
  * query's plan is generated and compiled for the first time. A pass
  * after the first one would run on half-compiled code, in the steep
  * part of the JIT's warm-up, and measured less steady than the cold
  * one. The pass reads its own fresh copy of the tables, so the engine's
  * per-directory caches and `IvfIndex`'s model cache, which are
  * process-global, start cold. The timed work is this one pass,
  * whatever `--seconds` says. Every result must match the hash
  * recorded in `expected/suite.tsv`. The inputs are fixed tables; the
  * seed does not change them. */
object Suite {
  val Direction2: Seq[String] = Seq(
    "q_dsir_weights", "q_image_gate", "q_image_neardup", "q_tuning_curve")
  val Queries: Seq[String] =
    (Direction2 ++ Seq("q1_lineitem_agg", "q_dedup_minhash_lsh", "q_percentiles", "q_upsert")).sorted

  def run(spark: SparkSession, probe: Probe, env: Env, r: Report): Unit = {
    val problems = Families.check(SparkEntry.queries.keySet)
    r.check(problems.isEmpty, "family map: " + problems.mkString("; "))
    val expected = readExpected(env.expectedFile)
    def checked(q: String, rows: Array[Row], what: String): Unit = {
      val got = ResultHash(rows)
      r.check(expected.get(q).contains(got), s"$q $what: result $got, expected ${expected.get(q)}")
    }
    def freshTables(name: String): String = {
      val dir = env.work(name)
      copyTree(env.dataDir, dir)
      dir.getPath
    }

    for (i <- 0 until Main.SetupRepeats) r.setup {
      val dir = freshTables(s"setup$i")
      new java.io.File(dir).listFiles().foreach(f => spark.read.parquet(f.getPath).schema)
      checked(Queries.head, SparkEntry.queries(Queries.head)(spark, dir).collect(), s"set-up $i")
    }
    probe.unattributed()

    val dir = freshTables("pass")
    val pass = r.timed("pass")(Queries.map { q =>
      val (rows, t) = probe.op("query", q)(SparkEntry.queries(q)(spark, dir))(_.collect())
      checked(q, rows, "pass")
      q -> t
    }.toMap)
    probe.checkAttributed(r)

    val passMs = pass.values.map(_.wallMs).sum
    r.e2e("round_ms") = (passMs, "ms")
    r.named("suite_s") = (passMs / 1000.0, "s")
    r.info("suite_queries") = Queries
    r.info("samples") = Map("pass" -> 1)
    r.info("query_ms") = Queries.map(q => q -> pass(q).wallMs).toMap

    for (f <- Families.names) {
      val ts = Queries.filter(Families.familyOf(_) == f).map(pass)
      val w = ts.map(_.work).foldLeft(Work())(_ + _)
      val wallMs = ts.map(_.wallMs).sum
      r.layer(s"suite.$f.wall_s") = (wallMs / 1000.0, "s")
      r.layer(s"suite.$f.jobs") = (w.jobs.toDouble, "count")
      r.layer(s"suite.$f.tasks") = (w.tasks.toDouble, "count")
      r.layer(s"suite.$f.starved_stages") = (w.starvedStages.toDouble, "count")
      r.layer(s"suite.$f.busy_frac") = (Stats.busy(w.runMs, wallMs, probe.cores), "ratio")
      r.layer(s"suite.$f.shuffle_bytes") = (w.shuffleBytes.toDouble, "bytes")
      r.layer(s"suite.$f.spill_bytes") = (w.spillBytes.toDouble, "bytes")
      r.layer(s"suite.$f.plan_ms") = (ts.map(_.planMs).sum, "ms")
    }
    Direction2.foreach(q => r.layer(s"suite.q.$q.wall_s") = (pass(q).wallMs / 1000.0, "s"))
  }

  private def readExpected(f: java.io.File): Map[String, String] =
    if (!f.isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map(_.split('\t')).map(a => a(0) -> a(1)).toMap
      finally src.close()
    }

  private def copyTree(from: java.io.File, to: java.io.File): Unit = {
    to.mkdirs()
    from.listFiles().foreach { f =>
      val dest = new java.io.File(to, f.getName)
      if (f.isDirectory) copyTree(f, dest)
      else java.nio.file.Files.copy(f.toPath, dest.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }
}

/** Order-insensitive digest of a result: row count plus a SHA-256 over
  * the sorted row renderings. Doubles are rendered to 10 significant
  * digits, so a last-bit difference in a floating-point sum does not
  * read as a wrong answer. */
object ResultHash {
  def apply(rows: Array[Row]): String = {
    val lines = rows.map(render).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    s"${rows.length}:" + md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => fmt(d)
    case f: Float => fmt(f.toDouble)
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case o => o.toString
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite || d == 0.0) d.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(10)).toString
}
