package graft.queries

import graft.SparkSpec

/** Pins the SEMANTICS of the LM-scoring family (tx_unigram_logprob,
  * tx_ccnet_buckets, tx_entropy) and of dedup_semantic on crafted
  * corpora — the DuckDB oracle pins the queries hash-exact on the real
  * corpus at three SFs; these tests pin what the numbers MEAN.
  */
class LmQualitySpec extends SparkSpec {

  private def writeDocs(dir: String, docs: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "text", "lang")
      .withColumn("source", org.apache.spark.sql.functions.lit("t"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("unigram logprob ranks common-word docs above rare-word docs") {
    val dir = java.nio.file.Files.createTempDirectory("lm_lp").toString
    try {
      // 8 filler docs make "the cat sat" overwhelmingly common; doc 0 is
      // all-common, doc 1 is all-singleton vocabulary.
      val filler = (2L until 10L).map(i => (i, "the cat sat on the mat", "en"))
      writeDocs(dir, Seq(
        (0L, "the cat sat the cat sat", "en"),
        (1L, "zyzzyva qoph xylem vug", "en")) ++ filler)
      val rows = graft.SparkEntry.queries("tx_unigram_logprob")(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(rows(0L) > rows(1L),
        s"common-word doc must outscore rare-word doc: ${rows(0L)} vs ${rows(1L)}")
      // every avg log-probability is strictly negative (probabilities < 1)
      assert(rows.values.forall(_ < 0.0))
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("entropy: repeated-token doc scores 0, uniform doc scores log2(m)") {
    val dir = java.nio.file.Files.createTempDirectory("lm_ent").toString
    try {
      writeDocs(dir, Seq(
        (0L, "spam spam spam spam", "en"),     // one type: H = 0
        (1L, "alpha beta gamma delta", "en"),  // 4 uniform types: H = 2
        (2L, "a a b b", "en")))                // 2 uniform types: H = 1
      val rows = graft.SparkEntry.queries("tx_entropy")(spark, dir)
        .collect().map(r => r.getLong(0) -> r).toMap
      assert(rows(0L).getDouble(3) == 0.0)
      assert(rows(1L).getDouble(3) == 2.0)
      assert(rows(2L).getDouble(3) == 1.0)
      assert(rows(1L).getLong(2) == 4L) // n_distinct
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("ccnet buckets partition each language into near-equal ordered thirds") {
    val dir = java.nio.file.Files.createTempDirectory("lm_ccnet").toString
    try {
      // 10 en + 7 de docs with varying fluency (mix of common/rare words)
      val en = (0L until 10L).map { i =>
        val rare = Seq.fill(i.toInt)(s"xq$i").mkString(" ")
        (i, s"the cat sat on the mat $rare".trim, "en")
      }
      val de = (10L until 17L).map { i =>
        val rare = Seq.fill((i - 10).toInt)(s"zk$i").mkString(" ")
        (i, s"der hund lief durch den wald $rare".trim, "de")
      }
      writeDocs(dir, en ++ de)
      val rows = graft.SparkEntry.queries("tx_ccnet_buckets")(spark, dir)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(4), r.getDouble(5))) // n_docs, min_lp, max_lp
        .toMap
      // partition: per-lang doc counts sum back, sizes differ by <= 1
      def sizes(l: String) = Seq("head", "middle", "tail").map(b => rows((l, b))._1)
      assert(sizes("en").sum == 10L && sizes("de").sum == 7L)
      Seq("en", "de").foreach { l =>
        assert(sizes(l).max - sizes(l).min <= 1L, s"$l ntile sizes: ${sizes(l)}")
      }
      // ordering: head holds the highest scores (head.min >= middle.max >= ...)
      Seq("en", "de").foreach { l =>
        assert(rows((l, "head"))._2 >= rows((l, "middle"))._3)
        assert(rows((l, "middle"))._2 >= rows((l, "tail"))._3)
      }
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("dedup_semantic drops exact-duplicate vectors, keeping the first id") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("semdedup").toString
    try {
      // 12 well-separated base vectors (labels 0-3); ids 12/13 duplicate
      // id 0, id 14 duplicates id 5. Distinct base vectors are near-
      // orthogonal so only the planted copies clear the 0.4 cosine gate.
      val r = new scala.util.Random(11)
      val base = Array.tabulate(12) { i =>
        val v = Array.fill(64)(r.nextGaussian().toFloat * 0.05f)
        v(i) = 10f // dominant distinct axis per vector
        v
      }
      val rows = (0 until 12).map(i => (i.toLong, base(i), i % 4)) ++ Seq(
        (12L, base(0), 0), (13L, base(0), 0), (14L, base(5), 1))
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val out = graft.SparkEntry.queries("dedup_semantic")(spark, dir)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
      assert(out.keySet == Set(12L, 13L, 14L), s"dropped set: ${out.keySet}")
      assert(out(12L)._1 == 0L && out(13L)._1 == 0L && out(14L)._1 == 5L)
      out.values.foreach { case (_, cos) => assert(cos > 0.99) }
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
