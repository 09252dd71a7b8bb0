package graft.queries

import graft.SparkSpec

/** Pins the SEMANTICS of the BPE trainer (tx_bpe_merges /
  * tx_bpe_segment) on crafted corpora — the DuckDB oracle re-trains the
  * merge table hash-exact at three SFs; these tests pin what the
  * learned merges MEAN: frequency-weighted pair selection, greedy
  * non-overlapping application, and lossless segmentation.
  */
class BpeSpec extends SparkSpec {

  private def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("t"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def cleanup(dir: String): Unit = {
    graft.core.Memo.clear()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("merges are frequency-weighted and segmentations are lossless") {
    val dir = java.nio.file.Files.createTempDirectory("bpe_sem").toString
    try {
      // "the"×30 + "then"×10 put (t,h) and (h,e) both at weight 40 —
      // the deterministic tie-break (pair ascending) picks (h,e); the
      // merged symbol then makes (t,he) the unique weight-40 pair of
      // round 2.
      val docs = Seq(
        (0L, ("the " * 30).trim),
        (1L, ("then " * 10).trim),
        (2L, ("cat " * 8).trim),
        (3L, "dog mouse zebra"))
      writeDocs(dir, docs)
      val merges = graft.SparkEntry.queries("tx_bpe_merges")(spark, dir)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      assert(merges.length == TextAnalysis.BpeMerges)
      assert(merges(0) == ((1, "h", "e", 40L)),
        s"round 1 must merge the weighted-most-frequent pair (tie → pair asc): ${merges(0)}")
      assert(merges(1) == ((2, "t", "he", 40L)),
        s"round 2 must see the merged symbol: ${merges(1)}")
      // segmentation is lossless: symbols concatenate back to the word
      val segs = graft.SparkEntry.queries("tx_bpe_segment")(spark, dir)
        .collect().map(r => (r.getString(0), r.getString(3)))
      assert(segs.nonEmpty)
      segs.foreach { case (w, seg) =>
        assert(seg.replace(" ", "") == w, s"lossy segmentation: $w -> $seg")
      }
      // after 10 merges on this corpus, "the" is one symbol
      val theSeg = segs.toMap.apply("the")
      assert(theSeg == "the", s"'the' should be fully merged, got '$theSeg'")
    } finally cleanup(dir)
  }

  test("greedy application is left-to-right and non-overlapping") {
    val dir = java.nio.file.Files.createTempDirectory("bpe_greedy").toString
    try {
      // corpus of a^4 words: round 1 merges (a,a) with weight 3 per
      // word (3 adjacent pairs in "aaaa") — greedy application must
      // yield [aa][aa], NOT [aa][a][a] or overlap artifacts
      writeDocs(dir, Seq((0L, ("aaaa " * 5).trim + " b")))
      val merges = graft.SparkEntry.queries("tx_bpe_merges")(spark, dir)
        .collect().map(r => (r.getString(1), r.getString(2)))
      assert(merges(0) == (("a", "a")))
      val segs = graft.SparkEntry.queries("tx_bpe_segment")(spark, dir)
        .collect().map(r => r.getString(0) -> r.getString(3)).toMap
      // round 1: aaaa -> aa aa; round 2 merges (aa,aa) -> aaaa
      assert(segs("aaaa") == "aaaa",
        s"a^4 should fully merge over two rounds, got '${segs("aaaa")}'")
    } finally cleanup(dir)
  }
}
