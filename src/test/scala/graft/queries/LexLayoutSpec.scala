package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The committed lexical generation's WORD-BUCKETED layout: serving
  * must prune the index/bounds scans to the probed words' `wb=`
  * partition directories at planning and push the words to parquet as
  * a real In predicate (the positional tier's r16 device, applied to
  * `writeLexicalGeneration` — the round-16 wide-vocab ladder showed
  * the flat-scan form growing 2.4×/decade once vocabulary grows with
  * the corpus). Pre-bucketing (flat-parquet) generations must keep
  * loading and serving unchanged.
  */
class LexLayoutSpec extends SparkSpec {

  private def freshCorpus(): String = {
    val dir = java.nio.file.Files.createTempDirectory("lexlayout").toString
    // doc 0 is the query-by-example probe (%QStep == 0); spread enough
    // distinct words that probed buckets are a strict subset of NB
    writeDocTable(dir, Seq(
      0L -> "alpha beta gamma", 1L -> "alpha beta gamma delta",
      2L -> "alpha epsilon", 3L -> "beta zeta", 4L -> "gamma eta",
      5L -> "theta iota kappa", 6L -> "lambda mu nu", 7L -> "xi omicron pi"))
    graft.core.Memo.clear()
    dir
  }

  private def cleanup(paths: String*): Unit = {
    graft.core.Memo.clear()
    paths.foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
  }

  test("bucketed lexical serving prunes word buckets at planning and pushes " +
      "word In predicates — BM25 and QL, no full-index scan") {
    import spark.implicits._
    val dir = freshCorpus()
    val root = java.nio.file.Files.createTempDirectory("lexlayroot").toString
    try {
      assert(Retrieval.writeLexicalGeneration(spark, dir, root) == 1L)
      val g = Retrieval.loadLexicalGeneration(spark, root)
      assert(g.wbN.nonEmpty, "bucketed generation must commit the wb_n sidecar")
      val gq = Retrieval.loadQlGeneration(spark, root)
      assert(gq.wbN == g.wbN)
      val qd = spark.read.parquet(s"$dir/documents.parquet")
        .filter($"doc_id" === 0).select($"doc_id", $"text")

      val bm = Retrieval.bm25ServeGenBatch(spark, g, qd)
      val bmPlan = bm.queryExecution.executedPlan.toString
      assert(bmPlan.contains("PartitionFilters: [wb"),
        s"expected wb partition pruning in BM25 serve plan:\n$bmPlan")
      assert(bmPlan.contains("PushedFilters: [In(word"),
        s"expected pushed word In filter in BM25 serve plan:\n$bmPlan")

      val ql = Retrieval.qlServeGenBatch(spark, gq, qd)
      val qlPlan = ql.queryExecution.executedPlan.toString
      assert(qlPlan.contains("PartitionFilters: [wb"),
        s"expected wb partition pruning in QL serve plan:\n$qlPlan")
      assert(qlPlan.contains("PushedFilters: [In(word"),
        s"expected pushed word In filter in QL serve plan:\n$qlPlan")

      // and the pruned plans still serve the exact contract rows
      val gate = graft.SparkEntry.queries("tx_bm25_impact")(spark, dir)
        .filter($"qid" === 0).select($"qid", $"rank", $"doc_id", $"bm25")
      assert(bm.select($"qid", $"rank", $"doc_id", $"bm25")
        .collect().map(_.toSeq).toSet == gate.collect().map(_.toSeq).toSet)
    } finally cleanup(dir, root)
  }

  test("a pre-bucketing (flat-parquet) generation loads without a prune and " +
      "serves the same rows as the bucketed layout") {
    import spark.implicits._
    val dir = freshCorpus()
    val rootA = java.nio.file.Files.createTempDirectory("lexlayA").toString
    val rootB = java.nio.file.Files.createTempDirectory("lexlayB").toString
    try {
      assert(Retrieval.writeLexicalGeneration(spark, dir, rootA) == 1L)
      // simulate the pre-r17 format: every slice flat, no wb column, no
      // wb_n sidecar
      for (slice <- Seq("index", "bounds", "ql_index", "ql_bounds", "dl"))
        spark.read.parquet(s"$rootA/gen-1/$slice").drop("wb")
          .write.mode("overwrite").parquet(s"$rootB/gen-1/$slice")
      graft.core.Generations.setLatest(rootB, 1L)

      val gNew = Retrieval.loadLexicalGeneration(spark, rootA)
      val gOld = Retrieval.loadLexicalGeneration(spark, rootB)
      assert(gOld.wbN.isEmpty, "flat generation must load with no modulus")
      val qd = spark.read.parquet(s"$dir/documents.parquet")
        .filter($"doc_id" === 0).select($"doc_id", $"text")
      def rows(g: Retrieval.LexicalGeneration) =
        Retrieval.bm25ServeGenBatch(spark, g, qd)
          .collect().map(_.toSeq).toSet
      assert(rows(gOld) == rows(gNew),
        "flat and bucketed layouts must serve identical rows")

      val gqNew = Retrieval.loadQlGeneration(spark, rootA)
      val gqOld = Retrieval.loadQlGeneration(spark, rootB)
      assert(gqOld.wbN.isEmpty && gqOld.mMin == gqNew.mMin)
      def qlRows(g: Retrieval.QlGeneration) =
        Retrieval.qlServeGenBatch(spark, g, qd)
          .collect().map(_.toSeq).toSet
      assert(qlRows(gqOld) == qlRows(gqNew))
    } finally cleanup(dir, rootA, rootB)
  }
}
