package graft.io

import graft.SparkSpec

/** Pins the publish protocol of [[CorpusSink]]: the written snapshot's
  * manifest equals the oracle-checked tx_curation_manifest rows, the
  * layout is lang-partitioned, validation certifies the on-disk files,
  * and a snapshot without its manifest is unpublished.
  */
class CorpusSinkSpec extends SparkSpec {

  private def writeDocs(dir: String, docs: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "text", "lang")
      .withColumn("source", org.apache.spark.sql.functions.lit("t"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("publish writes lang partitions and a manifest equal to the oracle query") {
    val dir = java.nio.file.Files.createTempDirectory("cs_in").toString
    val out = java.nio.file.Files.createTempDirectory("cs_out").toString
    try {
      // long stopword-rich docs pass the quality gate; doc 3 is an exact
      // dup (must not be published); doc 4 fails quality (too short)
      val fluent = "the cat is in the house and it is a good day " * 5
      writeDocs(dir, Seq(
        (0L, fluent + "zero", "en"),
        (1L, fluent + "one", "en"),
        (2L, fluent + "zwei", "de"),
        (3L, fluent + "zero", "en"), // exact dup of doc 0
        (4L, "too short", "en")))
      CorpusSink.publish(spark, dir, out)
      assert(CorpusSink.isPublished(spark, out))
      assert(CorpusSink.validate(spark, out).isEmpty)
      // layout: one directory per surviving language
      val parts = new java.io.File(s"$out/data").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(parts == Set("lang=en", "lang=de"))
      // the published rows are exactly the survivors
      val published = spark.read.parquet(s"$out/data")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(published == Set(0L, 1L, 2L))
      // manifest rows == the oracle-checked query, row for row
      val q = graft.SparkEntry.queries("tx_curation_manifest")(spark, dir)
        .collect().map(_.toString).sorted.toSeq
      val m = spark.read.parquet(s"$out/_manifest")
        .select("lang", "n_docs", "n_tok", "checksum")
        .collect().map(_.toString).sorted.toSeq
      assert(m == q, s"manifest $m != oracle query $q")
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("re-publish into a live snapshot retracts the old manifest first") {
    val dir = java.nio.file.Files.createTempDirectory("cs_in4").toString
    val out = java.nio.file.Files.createTempDirectory("cs_out4").toString
    try {
      val fluent = "the cat is in the house and it is a good day " * 5
      writeDocs(dir, (0L until 3L).map(i => (i, fluent + i, "en")))
      CorpusSink.publish(spark, dir, out)
      assert(CorpusSink.validate(spark, out).isEmpty)
      // second publish over the SAME dir: corpus changed, so a crash
      // between the data rewrite and the new manifest must leave the
      // snapshot unpublished, not published-with-stale-manifest — the
      // committed publish() deletes _manifest before touching data.
      writeDocs(dir, (0L until 5L).map(i => (i, fluent + i, "en")))
      CorpusSink.publish(spark, dir, out)
      assert(CorpusSink.isPublished(spark, out))
      assert(CorpusSink.validate(spark, out).isEmpty)
      assert(spark.read.parquet(s"$out/data").count() == 5L)
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("manifest checksum is the modular sum — no 64-bit wrap at high doc counts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 2^17 synthetic 48-bit hashes sum past 2^63 only at extreme counts,
    // but the DEFINITION must be modular: pin checksumAgg == the exact
    // BigInt sum reduced mod 2^61-1 on a frame whose plain long sum is
    // near the wrap boundary.
    val h = (0 until 1000).map(i => (java.lang.Long.MAX_VALUE >> 3) - i.toLong)
    val got = h.toDF("h").agg(graft.queries.QueryFns.checksumAgg($"h"))
      .collect()(0).getLong(0)
    val want = (h.map(BigInt(_)).sum
      .mod(BigInt(graft.queries.QueryFns.ChecksumMod))).toLong
    assert(got == want)
    // sanity: the exact sum exceeds 64-bit range, so a plain BIGINT sum
    // wraps on this input (the old bug) — the wrapped value is not the
    // modular checksum
    assert(h.map(BigInt(_)).sum > BigInt(java.lang.Long.MAX_VALUE))
    assert(h.sum != want)
  }

  test("validation fails after tamper; missing manifest means unpublished") {
    val dir = java.nio.file.Files.createTempDirectory("cs_in2").toString
    val out = java.nio.file.Files.createTempDirectory("cs_out2").toString
    try {
      val fluent = "the dog is in the park and it is a fine day " * 5
      writeDocs(dir, (0L until 6L).map(i => (i, fluent + i, if (i < 3) "en" else "fr")))
      CorpusSink.publish(spark, dir, out)
      assert(CorpusSink.validate(spark, out).isEmpty)
      // tamper: drop one language's data files entirely
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(s"$out/data/lang=fr"))
      val problems = CorpusSink.validate(spark, out)
      assert(problems.exists(_.contains("lang=fr")),
        s"expected a fr mismatch, got $problems")
      // a snapshot whose manifest never landed is unpublished
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(s"$out/_manifest"))
      assert(!CorpusSink.isPublished(spark, out))
      assert(CorpusSink.validate(spark, out).nonEmpty)
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("versioned publish flips the pointer last; rollback restores a generation") {
    val dir = java.nio.file.Files.createTempDirectory("cs_in3").toString
    val out = java.nio.file.Files.createTempDirectory("cs_out3").toString
    try {
      val fluent = "the cat is in the house and it is a good day " * 5
      writeDocs(dir, (0L until 4L).map(i => (i, fluent + i, "en")))
      assert(CorpusSink.latestGeneration(out).isEmpty)
      assert(CorpusSink.publishVersioned(spark, dir, out) == 1L)
      assert(CorpusSink.readLatest(spark, out).count() == 4L)

      // corpus grows; a second publish lands gen 2 without touching gen 1
      graft.core.Memo.clear()
      writeDocs(dir, (0L until 6L).map(i => (i, fluent + i, "en")))
      assert(CorpusSink.publishVersioned(spark, dir, out) == 2L)
      assert(CorpusSink.latestGeneration(out).contains(2L))
      assert(CorpusSink.readLatest(spark, out).count() == 6L)
      assert(CorpusSink.validate(spark, s"$out/gen=1").isEmpty,
        "earlier generation must remain intact and valid")

      // rollback flips the pointer back; a torn target is refused
      CorpusSink.rollback(spark, out, 1L)
      assert(CorpusSink.readLatest(spark, out).count() == 4L)
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(s"$out/gen=2/_manifest"))
      intercept[IllegalArgumentException](CorpusSink.rollback(spark, out, 2L))
      // no pointer temp file left behind by the atomic flip
      assert(!new java.io.File(s"$out/_latest.tmp").exists())
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }
}
