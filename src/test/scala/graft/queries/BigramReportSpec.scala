package graft.queries

import graft.SparkSpec

/** Pins the SEMANTICS of the round-10 curation additions — the
  * interpolated bigram LM (tx_bigram_logprob), the per-source frequency
  * cap (tx_source_cap), and the corpus data card (tx_corpus_report) —
  * on crafted corpora. The DuckDB oracle pins all three hash-exact on
  * the real corpus at three SFs; these tests pin what the numbers MEAN.
  */
class BigramReportSpec extends SparkSpec {

  private def writeDocs(dir: String, docs: Seq[(Long, String, String, String)]): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def cleanup(dir: String): Unit = {
    graft.core.Memo.clear()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("bigram logprob matches a driver-side brute force of the model") {
    val dir = java.nio.file.Files.createTempDirectory("bg_bf").toString
    try {
      val docs = Seq(
        (0L, "the cat sat the cat sat", "en", "a"),
        (1L, "the cat ran", "en", "a"),
        (2L, "one lone", "en", "b"),
        (3L, "solo", "en", "b"), // 1 token: no bigrams, must drop out
        (4L, "the cat sat", "en", "b"),
        (5L, "sat lone", "en", "b")) // rare continuation of a common context
      writeDocs(dir, docs)
      // brute-force the corpus model in plain Scala
      val toks = docs.map { case (id, t, _, _) => id -> t.toLowerCase.split("\\s+").toSeq }
      val uni = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val big = toks.flatMap { case (_, ts) => ts.zip(ts.tail) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = uni.values.sum.toDouble
      val v = uni.size.toDouble
      val lam = 0.7
      def expected(id: Long): Double = {
        val ts = toks.toMap.apply(id)
        val pairs = ts.zip(ts.tail)
        val lp = pairs.map { case (w1, w2) =>
          math.log(lam * (big((w1, w2)).toDouble / uni(w1).toDouble)
            + (1.0 - lam) * ((uni(w2) + 1L).toDouble / (n + v)))
        }.sum
        BigDecimal(lp / pairs.size)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val rows = graft.SparkEntry.queries("tx_bigram_logprob")(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
      assert(!rows.contains(3L), "1-token doc must produce no bigram score")
      for (id <- Seq(0L, 1L, 2L, 4L, 5L))
        assert(math.abs(rows(id) - expected(id)) < 1e-9,
          s"doc $id: got ${rows(id)}, brute force ${expected(id)}")
      // conditional structure is what the score sees: a DETERMINISTIC
      // continuation (doc 2's only pair is its context's only
      // continuation, c12/c1 = 1) outscores the common-but-ambiguous
      // pairs of doc 0, which outscore a RARE continuation of a common
      // context (doc 5: c12/c1 = 1/4)
      assert(rows(2L) > rows(0L) && rows(0L) > rows(5L))
      assert(rows.values.forall(_ < 0.0))
    } finally cleanup(dir)
  }

  test("source cap keeps min(n, K) docs per source with dense ranks") {
    val dir = java.nio.file.Files.createTempDirectory("bg_cap").toString
    try {
      // source "big" has 15 docs (> K = 10), source "small" has 4 (< K)
      val docs = (0L until 15L).map(i => (i, s"doc $i text", "en", "big")) ++
        (100L until 104L).map(i => (i, s"doc $i text", "en", "small"))
      writeDocs(dir, docs)
      val rows = graft.SparkEntry.queries("tx_source_cap")(spark, dir)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      val bySrc = rows.groupBy(_._1)
      assert(bySrc("big").length == TextAnalysis.SourceCapK)
      assert(bySrc("small").length == 4)
      // ranks are dense 1..k within each source
      for ((_, rs) <- bySrc)
        assert(rs.map(_._2).sorted.toSeq == (1 to rs.length).toSeq)
      // hash selection is stable: the kept set from the big source is a
      // subset decision per doc, not positional — dropping an unkept doc
      // leaves the kept set unchanged
      val kept = bySrc("big").map(_._3).toSet
      val unkept = (0L until 15L).toSet -- kept
      graft.core.Memo.clear()
      writeDocs(dir, docs.filterNot(d => d._4 == "big" && d._1 == unkept.head))
      val rows2 = graft.SparkEntry.queries("tx_source_cap")(spark, dir)
        .collect().filter(_.getString(0) == "big").map(_.getLong(2)).toSet
      assert(rows2 == kept, "kept set must be hash-stable under unkept-doc removal")
    } finally cleanup(dir)
  }

  test("corpus report: rollup totals are consistent and dup flags count losers") {
    val dir = java.nio.file.Files.createTempDirectory("bg_rep").toString
    try {
      writeDocs(dir, Seq(
        (0L, "alpha beta", "en", "s1"),
        (1L, "alpha beta", "en", "s1"), // exact dup of doc 0 (loser)
        (2L, "gamma delta eps", "de", "s1"),
        (3L, "zeta", "en", "s2")))
      val rows = graft.SparkEntry.queries("tx_corpus_report")(spark, dir)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(rows(("s1", "en")) == ((2L, 4L, 1L)))
      assert(rows(("s1", "de")) == ((1L, 3L, 0L)))
      assert(rows(("s2", "en")) == ((1L, 1L, 0L)))
      // source subtotals and the grand total aggregate the cells
      assert(rows(("s1", "ALL"))  == ((3L, 7L, 1L)))
      assert(rows(("s2", "ALL"))  == ((1L, 1L, 0L)))
      assert(rows(("ALL", "ALL")) == ((4L, 8L, 1L)))
    } finally cleanup(dir)
  }
}
