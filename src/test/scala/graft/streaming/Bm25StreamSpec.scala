package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** The streaming lexical server must reproduce the batch
  * tx_bm25_impact rows exactly for the gate query docs, however the
  * query stream splits into micro-batches, and must serve ad-hoc
  * queries whose ids are not corpus docs.
  */
class Bm25StreamSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("streaming BM25 serving equals the batch impact tier across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val qdocs = graft.core.Tables(spark, dir).documents
      .filter($"doc_id" % 50 === 0)
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(qdocs.size >= 4)

    val served = mutable.Buffer.empty[(Long, Int, Long, Double)]
    val in = MemoryStream[(Long, String)]
    val q = Bm25Stream.serve(in.toDS().toDF("doc_id", "text"), spark, dir) { out =>
      served ++= out.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    }.queryName("bm25_serve").start()
    val cut = qdocs.length / 2
    Seq(qdocs.take(cut), qdocs.drop(cut))
      .foreach { chunk => in.addData(chunk: _*); q.processAllAvailable() }
    q.stop()

    val batch = graft.SparkEntry.queries("tx_bm25_impact")(spark, dir)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(served.toSet == batch)
    assert(served.size == served.toSet.size) // no double-serve across batches
  }

  test("ad-hoc queries (ids outside the corpus) are served from the full index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val text = graft.core.Tables(spark, dir).documents
      .filter($"doc_id" === 0).collect()(0).getAs[String]("text")

    // depth covering the whole corpus, so retrievability is decidable
    val served = mutable.Buffer.empty[(Long, Int, Long, Double)]
    val in = MemoryStream[(Long, String)]
    val q = Bm25Stream.serve(in.toDS().toDF("doc_id", "text"), spark, dir,
      k = 600) { out =>
      served ++= out.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    }.queryName("bm25_adhoc").start()
    in.addData((999999L, text)); q.processAllAvailable()
    q.stop()

    assert(served.nonEmpty && served.forall(_._1 == 999999L))
    // no self-exclusion for an id outside the corpus: doc 0 (whose text
    // IS the query) is retrievable
    assert(served.map(_._3).contains(0L))
    // and the stream serves exactly what the batch core serves
    import spark.implicits._
    val batch = graft.queries.Retrieval.bm25ServeBatch(spark, dir,
        Seq((999999L, text)).toDF("doc_id", "text"), 600)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(served.toSet == batch)
  }

  test("generation cutover: a rebuilt index serves the next batch live, old gens prune") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("lexgen").toString
    val (dirA, dirB, root) = (s"$tmp/a", s"$tmp/b", s"$tmp/serve")
    try {
      writeDocTable(dirA, Seq(0L -> "alpha beta", 1L -> "alpha a1", 2L -> "beta b1"))
      writeDocTable(dirB, Seq(0L -> "gamma delta", 3L -> "gamma g1", 4L -> "delta d1"))
      def impactRows(d: String) =
        graft.SparkEntry.queries("tx_bm25_impact")(spark, d)
          .collect().map(r =>
            (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      def qdocs(d: String) = graft.core.Tables(spark, d).documents
        .filter($"doc_id" === 0).select($"doc_id", $"text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

      assert(graft.queries.Retrieval.writeLexicalGeneration(spark, dirA, root) == 1L)
      val served = mutable.Buffer.empty[(Long, (Long, Int, Long, Double, Long))]
      val in = MemoryStream[(Long, String)]
      var batchNo = 0L
      val q = Bm25Stream.serveLatest(in.toDS().toDF("doc_id", "text"), root) { out =>
        val b = batchNo
        served ++= out.collect().map(r => (b,
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
            r.getAs[Long]("safe"))))
        batchNo += 1
      }.queryName("bm25_gen_serve").start()

      in.addData(qdocs(dirA): _*); q.processAllAvailable()
      graft.core.Memo.clear()
      assert(graft.queries.Retrieval.writeLexicalGeneration(spark, dirB, root) == 2L)
      in.addData(qdocs(dirB): _*); q.processAllAvailable()
      q.stop()

      // batch 0 served under gen 1 (corpus A), batch 1 under gen 2 (B)
      graft.core.Memo.clear()
      val a = served.filter(_._1 == 0L).map(_._2).map(t => (t._1, t._2, t._3, t._4)).toSet
      assert(a == impactRows(dirA), "pre-flip batch must serve generation 1")
      graft.core.Memo.clear()
      val b = served.filter(_._1 == 1L).map(_._2).map(t => (t._1, t._2, t._3, t._4)).toSet
      assert(b == impactRows(dirB), "post-flip batch must serve generation 2")
      // nothing truncates on these corpora: every answer certified exact
      assert(served.forall(_._2._5 == 1L))
      // retention keeps the pointer target
      assert(graft.core.Generations.prune(root, 1) == Seq(1L))
      assert(graft.core.Generations.latest(root).contains(2L))
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("exact-rescore serving mode equals tx_bm25_wand across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("lexresc").toString
    try {
      assert(graft.queries.Retrieval.writeLexicalGeneration(spark, dir, tmp) == 1L)
      val qdocs = graft.core.Tables(spark, dir).documents
        .filter($"doc_id" % 50 === 0)
        .select($"doc_id", $"text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val served = mutable.Buffer.empty[(Long, Int, Long, Double)]
      val in = MemoryStream[(Long, String)]
      val q = Bm25Stream.serveLatestRescored(
        in.toDS().toDF("doc_id", "text"), tmp, dir) { out =>
        served ++= out.collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      }.queryName("bm25_rescored_serve").start()
      val cut = qdocs.length / 2
      Seq(qdocs.take(cut), qdocs.drop(cut))
        .foreach { chunk => in.addData(chunk: _*); q.processAllAvailable() }
      q.stop()
      val wand = graft.SparkEntry.queries("tx_bm25_wand")(spark, dir)
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(served.toSet == wand)
      assert(served.size == served.toSet.size)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("RM3 serving mode equals tx_bm25_rm3 across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("lexrm3").toString
    try {
      assert(graft.queries.Retrieval.writeLexicalGeneration(spark, dir, tmp) == 1L)
      val qdocs = graft.core.Tables(spark, dir).documents
        .filter($"doc_id" % 50 === 0)
        .select($"doc_id", $"text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val served = mutable.Buffer.empty[(Long, Int, Long, Double)]
      val in = MemoryStream[(Long, String)]
      val q = Bm25Stream.serveLatestRm3(
        in.toDS().toDF("doc_id", "text"), tmp, dir) { out =>
        served ++= out.collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      }.queryName("bm25_rm3_serve").start()
      val cut = qdocs.length / 2
      Seq(qdocs.take(cut), qdocs.drop(cut))
        .foreach { chunk => in.addData(chunk: _*); q.processAllAvailable() }
      q.stop()
      val rm3 = graft.SparkEntry.queries("tx_bm25_rm3")(spark, dir)
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(served.toSet == rm3)
      assert(served.size == served.toSet.size)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("QL serving equals the batch QL impact tier with tx_ql_safe's " +
      "verdicts across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("lexql").toString
    try {
      assert(graft.queries.Retrieval.writeLexicalGeneration(spark, dir, tmp) == 1L)
      val qdocs = graft.core.Tables(spark, dir).documents
        .filter($"doc_id" % 50 === 0)
        .select($"doc_id", $"text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val served = mutable.Buffer.empty[(Long, Int, Long, Double, Long)]
      val in = MemoryStream[(Long, String)]
      val q = Bm25Stream.serveLatestQl(
        in.toDS().toDF("doc_id", "text"), tmp) { out =>
        served ++= out.collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
            r.getAs[Long]("safe")))
      }.queryName("ql_gen_serve").start()
      val cut = qdocs.length / 2
      Seq(qdocs.take(cut), qdocs.drop(cut))
        .foreach { chunk => in.addData(chunk: _*); q.processAllAvailable() }
      q.stop()
      val safeOf = graft.SparkEntry.queries("tx_ql_safe")(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("safe")).toMap
      val batch = graft.SparkEntry.queries("tx_ql_impact")(spark, dir)
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
            safeOf(r.getLong(0)))).toSet
      assert(served.toSet == batch)
      assert(served.size == served.toSet.size)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("prior-bound certified QL serving mode equals tx_ql_wand across " +
      "micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("lexqlwand").toString
    try {
      assert(graft.queries.Retrieval.writeLexicalGeneration(spark, dir, tmp) == 1L)
      val qdocs = graft.core.Tables(spark, dir).documents
        .filter($"doc_id" % 50 === 0)
        .select($"doc_id", $"text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val served = mutable.Buffer.empty[(Long, Int, Long, Double)]
      val in = MemoryStream[(Long, String)]
      val q = Bm25Stream.serveLatestQlWand(
        in.toDS().toDF("doc_id", "text"), tmp, dir) { out =>
        served ++= out.collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      }.queryName("ql_wand_serve").start()
      val cut = qdocs.length / 2
      Seq(qdocs.take(cut), qdocs.drop(cut))
        .foreach { chunk => in.addData(chunk: _*); q.processAllAvailable() }
      q.stop()
      val wand = graft.SparkEntry.queries("tx_ql_wand")(spark, dir)
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(served.toSet == wand)
      assert(served.size == served.toSet.size)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("the serving certificate flags truncated answers") {
    import spark.implicits._
    // hand-built generation: word "x" truncated (bound 0.5), "y" intact
    val idx = Seq(("x", 1L, 2.0), ("x", 2L, 1.5), ("y", 3L, 1.0))
      .toDF("word", "doc_id", "c")
    val bounds = Seq(("x", 0.5), ("y", 0.0)).toDF("word", "b")
    val g = graft.queries.Retrieval.LexicalGeneration(1L, idx, bounds)
    val out = graft.queries.Retrieval.bm25ServeGenBatch(spark, g,
        Seq((100L, "x"), (200L, "y")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("safe")).toMap
    assert(out(100L) == 0L, "a probe touching a truncated list is not exact")
    assert(out(200L) == 1L, "zero residual budget certifies exactness")
  }
}
