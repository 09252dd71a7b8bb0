package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.queries.Positional

/** The streaming phrase server must reproduce the batch
  * tx_phrase_search rows exactly for the gate query docs, however the
  * query stream splits into micro-batches, and a republished
  * generation must cut over live between micro-batches.
  */
class PositionalStreamSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("streaming phrase serving equals the batch query across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val qdocs = graft.core.Tables(spark, dir).documents
      .filter($"doc_id" % 50 === 0)
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(qdocs.size >= 4)

    val served = mutable.Buffer.empty[(Long, Long, Long, Int)]
    val in = MemoryStream[(Long, String)]
    val q = PositionalStream.serve(in.toDS().toDF("doc_id", "text"), spark, dir) { out =>
      served ++= out.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    }.queryName("phrase_serve").start()
    val cut = qdocs.length / 2
    Seq(qdocs.take(cut), qdocs.drop(cut))
      .foreach { chunk => in.addData(chunk: _*); q.processAllAvailable() }
    q.stop()

    val batch = graft.SparkEntry.queries("tx_phrase_search")(spark, dir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(served.toSet == batch)
    assert(served.size == served.toSet.size)
  }

  test("streaming proximity serving equals the batch query across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val qdocs = graft.core.Tables(spark, dir).documents
      .filter($"doc_id" % 50 === 0)
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

    val served = mutable.Buffer.empty[(Long, Long, Long, Int)]
    val in = MemoryStream[(Long, String)]
    val q = PositionalStream.serveProximity(
      in.toDS().toDF("doc_id", "text"), spark, dir) { out =>
      served ++= out.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    }.queryName("prox_serve").start()
    val cut = qdocs.length / 2
    Seq(qdocs.take(cut), qdocs.drop(cut))
      .foreach { chunk => in.addData(chunk: _*); q.processAllAvailable() }
    q.stop()

    val batch = graft.SparkEntry.queries("tx_proximity")(spark, dir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(served.toSet == batch)
  }

  test("streaming snippet serving equals the batch query across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("possnip").toString
    try {
      Positional.writePositionalGeneration(spark, dir, tmp)
      val qdocs = graft.core.Tables(spark, dir).documents
        .filter($"doc_id" % 50 === 0)
        .select($"doc_id", $"text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

      val served = mutable.Buffer.empty[(Long, Long, Long, String)]
      val in = MemoryStream[(Long, String)]
      val q = PositionalStream.serveLatestSnippet(
        in.toDS().toDF("doc_id", "text"), tmp) { out =>
        served ++= out.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      }.queryName("snippet_serve").start()
      val cut = qdocs.length / 2
      Seq(qdocs.take(cut), qdocs.drop(cut))
        .foreach { chunk => in.addData(chunk: _*); q.processAllAvailable() }
      q.stop()

      val batch = graft.SparkEntry.queries("tx_snippet")(spark, dir)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      assert(served.toSet == batch)
      assert(served.size == served.toSet.size)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("streaming bigram-route phrase serving equals tx_phrase_search " +
      "across micro-batches (route equivalence, served form)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("posbg").toString
    try {
      Positional.writePositionalGeneration(spark, dir, tmp)
      val qdocs = graft.core.Tables(spark, dir).documents
        .filter($"doc_id" % 50 === 0)
        .select($"doc_id", $"text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

      val served = mutable.Buffer.empty[(Long, Long, Long, Int)]
      val in = MemoryStream[(Long, String)]
      val q = PositionalStream.serveLatestBigram(
        in.toDS().toDF("doc_id", "text"), tmp) { out =>
        served ++= out.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      }.queryName("bigram_serve").start()
      val cut = qdocs.length / 2
      Seq(qdocs.take(cut), qdocs.drop(cut))
        .foreach { chunk => in.addData(chunk: _*); q.processAllAvailable() }
      q.stop()

      val batch = graft.SparkEntry.queries("tx_phrase_search")(spark, dir)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      assert(served.toSet == batch)
      assert(served.size == served.toSet.size)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("streaming capped-phrase serving equals the batch query across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("poscap").toString
    try {
      Positional.writePositionalGeneration(spark, dir, tmp)
      val qdocs = graft.core.Tables(spark, dir).documents
        .filter($"doc_id" % 50 === 0)
        .select($"doc_id", $"text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

      val served = mutable.Buffer.empty[(Long, Long, Long, Int, Long)]
      val in = MemoryStream[(Long, String)]
      val q = PositionalStream.serveLatestCapped(
        in.toDS().toDF("doc_id", "text"), tmp) { out =>
        served ++= out.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
            r.getAs[Long]("exact")))
      }.queryName("capped_serve").start()
      val cut = qdocs.length / 2
      Seq(qdocs.take(cut), qdocs.drop(cut))
        .foreach { chunk => in.addData(chunk: _*); q.processAllAvailable() }
      q.stop()

      val batch = graft.SparkEntry.queries("tx_phrase_capped")(spark, dir)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
            r.getAs[Long]("exact"))).toSet
      assert(served.toSet == batch)
      assert(served.size == served.toSet.size)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("generation cutover: a republished postings index serves the next batch live") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("posgen").toString
    val (dirA, dirB, root) = (s"$tmp/a", s"$tmp/b", s"$tmp/serve")
    try {
      // corpus A: the phrase "alpha beta gamma" lives in docs 0 and 1;
      // corpus B (the rebuilt world): only doc 2 carries it
      writeDocTable(dirA, Seq(
        0L -> "alpha beta gamma x", 1L -> "y alpha beta gamma", 2L -> "z z z z"))
      writeDocTable(dirB, Seq(
        0L -> "q q q q", 2L -> "alpha beta gamma q"))
      graft.core.Memo.clear()
      Positional.writePositionalGeneration(spark, dirA, root)

      val served = mutable.Buffer.empty[(Long, Long, Long, Int)]
      val in = MemoryStream[(Long, String)]
      val q = PositionalStream.serveLatest(
        in.toDS().toDF("doc_id", "text"), root) { out =>
        served ++= out.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      }.queryName("phrase_serve_gen").start()

      in.addData((100L, "alpha beta gamma")); q.processAllAvailable()
      assert(served.map(_._2).toSet == Set(0L, 1L), s"gen-1 answers: $served")

      served.clear()
      graft.core.Memo.clear()
      Positional.writePositionalGeneration(spark, dirB, root)
      in.addData((101L, "alpha beta gamma")); q.processAllAvailable()
      q.stop()
      assert(served.map(_._2).toSet == Set(2L), s"post-cutover answers: $served")
    } finally graft.core.Memo.clear()
  }

  test("the auto serving stream answers multi-token phrases through the " +
      "bigram route and 1-token phrases through the word route") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("posauto").toString
    val (dirA, root) = (s"$tmp/a", s"$tmp/serve")
    try {
      writeDocTable(dirA, Seq(
        0L -> "alpha beta gamma x", 1L -> "y alpha beta gamma", 2L -> "x y alpha"))
      graft.core.Memo.clear()
      Positional.writePositionalGeneration(spark, dirA, root)

      val served = mutable.Buffer.empty[(Long, Long, Long, Int, Long, String)]
      val in = MemoryStream[(Long, String)]
      val q = PositionalStream.serveLatestAuto(
        in.toDS().toDF("doc_id", "text"), root) { out =>
        served ++= out.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
            r.getAs[Long]("exact"), r.getString(5)))
      }.queryName("phrase_serve_auto").start()
      in.addData((100L, "alpha beta gamma"), (101L, "alpha"))
      q.processAllAvailable()
      q.stop()

      // 4-token-free phrase query served EXACT through the biword chain
      assert(served.filter(_._1 == 100L).map(_._2).toSet == Set(0L, 1L))
      assert(served.filter(_._1 == 100L).forall(t => t._5 == 1L && t._6 == "bigram"),
        s"multi-token must route bigram: $served")
      // 1-token phrase: tf ranking through the word route
      assert(served.filter(_._1 == 101L).map(_._2).toSet == Set(0L, 1L, 2L))
      assert(served.filter(_._1 == 101L).forall(t => t._5 == 1L && t._6 == "word"))
    } finally graft.core.Memo.clear()
  }
}
