package graft.queries

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Pins the incremental index-MAINTENANCE contract (the write half of
  * the ingest loop): for every staged artifact with a merge path,
  * artifact(A) ∪ delta(B) must equal the artifact rebuilt from scratch
  * on A ∪ B — and where the merge is only conditionally exact (the
  * shingle family's df-dependent stop list), the drift meter must fire
  * exactly when the condition breaks.
  */
class DeltaMergeSpec extends SparkSpec {

  private def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("t"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def batchDf(docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def cleanup(dirs: String*): Unit = {
    graft.core.Memo.clear()
    dirs.foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  test("merged artifacts equal a from-scratch rebuild on the union corpus") {
    val dirA  = java.nio.file.Files.createTempDirectory("dm_a").toString
    val dirAB = java.nio.file.Files.createTempDirectory("dm_ab").toString
    try {
      val existing = (0L until 25L).map { i =>
        (i, s"the quick brown fox number ${i % 6} jumps over the lazy dog tail $i")
      }
      val batch = (1000L until 1012L).map { i =>
        (i, s"the quick brown fox number ${i % 6} jumps over the lazy dog tail $i extra")
      }
      writeDocs(dirA, existing)
      writeDocs(dirAB, existing ++ batch)
      val b = batchDf(batch)

      // benign batch: no shingle crosses the stop line → drift meter silent
      assert(Dedup.hotShingleDrift(spark, dirA, b).isEmpty)

      // band index: staged(A) ∪ per-row(B) == groupBy rebuild on A ∪ B
      assert(rows(Dedup.mergedBandIndex(spark, dirA, b)) ==
        rows(Dedup.minhashBandIndex(spark, dirAB)),
        "merged band index diverged from the union rebuild")

      // kept sets: both sides list each doc's shingles sorted
      assert(rows(Dedup.mergedKeptSets(spark, dirA, b)) ==
        rows(Dedup.keptSets(spark, dirAB)))

      // window index: a per-doc derivation → pure union equals the
      // rebuild (empty-batch merge is the identity read of the rebuild)
      assert(rows(Dedup.mergedWindowIndex(spark, dirA, b)) ==
        rows(Dedup.mergedWindowIndex(spark, dirAB, batchDf(Seq.empty))))

      // positional postings: the same per-doc-derivation argument —
      // staged(A) ∪ tokenized(B) == the index built on A ∪ B
      assert(rows(Positional.mergedPositionalIndex(spark, dirA, b)) ==
        rows(Positional.mergedPositionalIndex(spark, dirAB, batchDf(Seq.empty))))

      // biword postings (the exact fast route's generation slice):
      // identical per-doc-derivation argument
      assert(rows(Positional.mergedBigramIndex(spark, dirA, b)) ==
        rows(Positional.mergedBigramIndex(spark, dirAB, batchDf(Seq.empty))))
      graft.core.Memo.clear()
    } finally cleanup(dirA, dirAB)
  }

  test("the capped anchor-list merge equals the union rebuild, including a " +
      "batch that displaces an existing word's stored prefix") {
    val dirA  = java.nio.file.Files.createTempDirectory("dm_capa").toString
    val dirAB = java.nio.file.Files.createTempDirectory("dm_capab").toString
    try {
      // word "a" floods past the 2000-per-word cap on the A side (doc
      // ids 5/6), and the BATCH's doc ids (1, 2) sort BELOW the stored
      // prefix — the union's true cut must admit the batch's postings
      // and evict the stored tail, which only works because the
      // (doc_id, pos)-prefix min-k is mergeable from the stored cut
      val existing = Seq(
        (5L, Seq.fill(1500)("a").mkString(" ")),
        (6L, Seq.fill(1500)("a").mkString(" ")),
        (7L, "a b c d"))
      val batch = Seq(
        (1L, "a a a b"),
        (2L, Seq.fill(50)("a").mkString(" ")))
      writeDocs(dirA, existing)
      writeDocs(dirAB, existing ++ batch)
      import org.apache.spark.sql.functions.col
      val mergedDf = Positional.mergedCappedIndex(spark, dirA, batchDf(batch))
      val merged = rows(mergedDf)
      // the displacement actually happened: the cut is full at the cap
      // and the batch's low-id postings sit inside it
      assert(mergedDf.filter(col("word") === "a").count() == 2000L)
      assert(mergedDf.filter(col("word") === "a" && col("doc_id") === 1L)
        .count() == 3L, "batch postings missing from the merged cut")
      graft.core.Memo.clear()
      val rebuilt = rows(Positional.mergedCappedIndex(spark, dirAB, batchDf(Seq.empty)))
      assert(merged == rebuilt,
        "merged capped lists diverged from the union rebuild")
      graft.core.Memo.clear()
    } finally cleanup(dirA, dirAB)
  }

  test("merged LM count tables equal the union rebuild") {
    val dirA  = java.nio.file.Files.createTempDirectory("dm_lma").toString
    val dirAB = java.nio.file.Files.createTempDirectory("dm_lmab").toString
    try {
      val existing = (0L until 15L).map(i => (i, s"alpha beta gamma ${i % 4} delta"))
      val batch = (500L until 508L).map(i => (i, s"beta gamma epsilon ${i % 3} zeta"))
      writeDocs(dirA, existing)
      writeDocs(dirAB, existing ++ batch)
      val b = batchDf(batch)
      val uniMerged = rows(TextAnalysis.mergedUnigramLm(spark, dirA, b))
      val bigMerged = rows(TextAnalysis.mergedBigramLm(spark, dirA, b))
      graft.core.Memo.clear() // force the AB side to build fresh
      assert(uniMerged == rows(textUnigram(dirAB)))
      assert(bigMerged == rows(textBigram(dirAB)))
    } finally cleanup(dirA, dirAB)
  }

  // rebuilt-from-scratch LM tables via the merge API with an EMPTY batch
  // (merge with no delta is the identity, so this reads the staged build)
  private def textUnigram(dir: String): DataFrame =
    TextAnalysis.mergedUnigramLm(spark, dir, batchDf(Seq.empty))
  private def textBigram(dir: String): DataFrame =
    TextAnalysis.mergedBigramLm(spark, dir, batchDf(Seq.empty))

  test("the drift meter fires when a batch pushes a shingle over MaxDf") {
    val dirA = java.nio.file.Files.createTempDirectory("dm_hot").toString
    try {
      // planted phrase: df 60 in the existing corpus, 45 more in the
      // batch → crosses MaxDf = 100 exactly when the batch lands
      val existing = (0L until 60L).map(i => (i, s"planted hot phrase here marker $i"))
      val batch = (2000L until 2045L).map(i => (i, s"planted hot phrase here marker $i"))
      writeDocs(dirA, existing)
      val drift = Dedup.hotShingleDrift(spark, dirA, batchDf(batch)).collect()
      assert(drift.nonEmpty, "crossing batch must fire the drift meter")
      val crossed = drift.map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      // "planted hot phrase", "hot phrase here", "phrase here marker"
      // are shared by all 105 docs
      assert(crossed == Set(
        ("planted hot phrase", 60L, 45L),
        ("hot phrase here", 60L, 45L),
        ("phrase here marker", 60L, 45L)))
    } finally cleanup(dirA)
  }
}
