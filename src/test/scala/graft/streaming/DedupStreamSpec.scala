package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.queries.Dedup

/** The streaming incremental-dedup twin must reproduce the batch match
  * set exactly, however the ingest splits into micro-batches — and the
  * per-row band formulation it rides must stay value-identical to the
  * staged groupBy band index.
  */
class DedupStreamSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("array-route band structs equal the staged band index") {
    import spark.implicits._
    val staged = Dedup.minhashBandIndex(spark, dir)
      .select($"doc_id", $"band", $"key")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val arrayRoute = Dedup.withBandStructs(Dedup.keptSets(spark, dir), "shs")
      .select($"doc_id",
        org.apache.spark.sql.functions.explode($"_bands").as("bk"))
      .select($"doc_id", $"bk.band", $"bk.key")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(arrayRoute == staged)
    assert(staged.nonEmpty)
  }

  test("streaming incremental dedup equals the batch match set across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val newDocs = graft.core.Tables(spark, dir).documents
      .filter($"doc_id" % 5 === 0)
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

    val in = MemoryStream[(Long, String)]
    val q = DedupStream.matches(in.toDS().toDF("doc_id", "text"), spark, dir)
      .writeStream.format("memory").queryName("incr_stream")
      .outputMode("append").start()
    // three uneven micro-batches: the match set must not depend on how
    // the ingest chunks
    val cut1 = newDocs.length / 4
    val cut2 = newDocs.length / 2
    Seq(newDocs.take(cut1), newDocs.slice(cut1, cut2), newDocs.drop(cut2))
      .foreach { chunk => in.addData(chunk: _*); q.processAllAvailable() }
    q.stop()

    val streaming = spark.table("incr_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Dedup.incrementalMatches(spark, dir)
      .select($"ni", $"oi",
        org.apache.spark.sql.functions.round($"jac", 6).as("jac"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streaming == batch)
    assert(streaming.nonEmpty)
    // and the shipped decision query is exactly the argmax of this set
    val decisions = Dedup.queries("dedup_incremental")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(decisions.map(_._1) == streaming.map(_._1))
    decisions.foreach { case (ni, oi, jac) => assert(streaming.contains((ni, oi, jac))) }
  }

  test("watermarked dedup: batch-equal matches, state evicted past retention, post-eviction re-emit") {
    import spark.implicits._
    import org.apache.spark.sql.functions.round
    implicit val sqlCtx = spark.sqlContext
    val newDocs = graft.core.Tables(spark, dir).documents
      .filter($"doc_id" % 5 === 0)
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val t0 = 1700000000000L

    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = DedupStream.matches(
        in.toDS().toDF("doc_id", "text", "ingest_ts"), spark, dir,
        ingestTsCol = Some("ingest_ts"), dedupRetention = "10 seconds")
      .writeStream.format("memory").queryName("incr_stream_wm")
      .outputMode("append").start()
    def stateRows(): Long = Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum

    // phase 1: the full ingest inside one retention window, chunked —
    // including an in-window RE-DELIVERY of the first chunk, which the
    // watermarked state must collapse exactly like the unwatermarked form
    val cut = newDocs.length / 2
    in.addData(newDocs.take(cut).map { case (id, tx) => (id, tx, ts(t0)) }: _*)
    q.processAllAvailable()
    in.addData((newDocs.drop(cut) ++ newDocs.take(3))
      .map { case (id, tx) => (id, tx, ts(t0 + 1000)) }: _*)
    q.processAllAvailable()
    val streaming = spark.table("incr_stream_wm")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Dedup.incrementalMatches(spark, dir)
      .select($"ni", $"oi", round($"jac", 6).as("jac"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streaming == batch)
    assert(streaming.nonEmpty)
    val afterParity = spark.table("incr_stream_wm").count()
    val statePhase1 = stateRows()
    assert(statePhase1 > 0L, "watermarked dedup kept no state in-window")

    // phase 2: event time jumps far past retention → watermark passes
    // every phase-1 pair's ingest_ts + 10 s and the store evicts (two
    // ticks: the batch that ADVANCES the watermark, then the batch that
    // evicts under it). The ticking doc re-uses a real doc at fresh ts —
    // its own rows may re-emit; the assertion is about STATE, and that
    // the store tracks the recent window, not lifetime pairs.
    val (tickId, tickTx) = newDocs.head
    in.addData((tickId, tickTx, ts(t0 + 3600L * 1000))); q.processAllAvailable()
    in.addData((tickId, tickTx, ts(t0 + 3600L * 1000 + 1000))); q.processAllAvailable()
    val residual = stateRows()
    assert(residual < statePhase1 / 2,
      s"retention elapsed but $residual of $statePhase1 state rows remain (phase-1 pairs not evicted)")

    // phase 3: a phase-1 doc re-delivered AFTER eviction re-emits its
    // matches — at-least-once output past the retention window, never
    // loss (pick a doc that is KNOWN to have matches)
    val before = spark.table("incr_stream_wm").count()
    val matchedIds = streaming.map(_._1)
    val (reId, reTx) = newDocs.find(d => matchedIds.contains(d._1) && d._1 != tickId).get
    in.addData((reId, reTx, ts(t0 + 3600L * 1000 + 2000))); q.processAllAvailable()
    assert(spark.table("incr_stream_wm").count() > before,
      "post-eviction re-delivery emitted nothing (matches lost)")
    q.stop()
  }

  test("streaming embedding ingest dedup equals the batch match set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val newVecs = graft.core.Tables(spark, dir).embeddings
      .filter($"vec_id" % 5 === 0)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toSeq

    val in = MemoryStream[(Long, Array[Float])]
    val q = DedupStream.embMatches(in.toDS(), spark, dir)
      .writeStream.format("memory").queryName("emb_incr_stream")
      .outputMode("append").start()
    val cut = newVecs.length / 3
    Seq(newVecs.take(cut), newVecs.slice(cut, 2 * cut), newVecs.drop(2 * cut))
      .foreach { chunk => in.addData(chunk: _*); q.processAllAvailable() }
    q.stop()

    val streaming = spark.table("emb_incr_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.queries.Similarity.embIncrementalMatches(spark, dir)
      .select($"ni", $"oi",
        org.apache.spark.sql.functions.round($"cos", 6).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streaming == batch)
    assert(streaming.nonEmpty)
    val decisions = graft.SparkEntry.queries("dedup_emb_incremental")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(decisions.map(_._1) == streaming.map(_._1))
    decisions.foreach { case (ni, oi, cos) => assert(streaming.contains((ni, oi, cos))) }
  }

  test("generation-bound ingest dedup equals the staging-keyed route, and a " +
      "mid-stream band republish cuts over on the very next batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("dedupgen").toString
    val (dirB, root) = (s"$tmp/b", s"$tmp/serve")
    try {
      // gen 1: the gate corpus's committed band generation
      assert(Dedup.writeBandGeneration(spark, dir, root) == 1L)
      val newDocs = graft.core.Tables(spark, dir).documents
        .filter($"doc_id" % 5 === 0)
        .select($"doc_id", $"text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

      val served = scala.collection.mutable.Buffer.empty[(Long, Long, Double)]
      val in = MemoryStream[(Long, String)]
      val q = DedupStream.matchesLatest(in.toDS().toDF("doc_id", "text"), root,
        existingFilter = org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0) { out =>
        served ++= out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }.queryName("dedup_gen_serve").start()
      val cut = newDocs.length / 2
      Seq(newDocs.take(cut), newDocs.drop(cut))
        .foreach { chunk => in.addData(chunk: _*); q.processAllAvailable() }

      // parity with the staging-keyed route's batch reference
      val batch = Dedup.incrementalMatches(spark, dir)
        .select($"ni", $"oi",
          org.apache.spark.sql.functions.round($"jac", 6).as("jac"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(served.toSet == batch)
      assert(served.nonEmpty && served.size == served.toSet.size)

      // mid-stream republish: gen 2 committed from a DIFFERENT corpus —
      // the next batch must dedup against the NEW index with the NEW
      // stop list, no query restart
      writeDocTable(dirB, Seq(
        1000001L -> "w1 w2 w3 w4 w5 w6 w7 w8",
        1000002L -> "x1 x2 x3 x4 x5 x6 x7 x8",
        1000003L -> "y1 y2 y3 y4 y5 y6 y7 y8"))
      graft.core.Memo.clear()
      assert(Dedup.writeBandGeneration(spark, dirB, root) == 2L)
      val before = served.size
      // a near-dup of corpus B's doc 1000001 (7 of its 8 tokens): no
      // corpus-A doc looks anything like it, so a match PROVES the flip
      in.addData((7777770L, "w1 w2 w3 w4 w5 w6 w7")); q.processAllAvailable()
      q.stop()
      val fresh = served.drop(before)
      assert(fresh.map(m => (m._1, m._2)) == Seq((7777770L, 1000001L)),
        s"expected the post-flip batch to match corpus B, got $fresh")
      assert(fresh.head._3 >= 0.5)
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("a pre-r17 (bands-only) dedup generation loads for the rebuild policy " +
      "but a serving request demands a republish") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("dedupgenold").toString
    try {
      // simulate the old format: bands slice only
      Dedup.minhashBandIndex(spark, dir).write.mode("overwrite")
        .parquet(s"$tmp/gen-1/bands")
      graft.core.Generations.setLatest(tmp, 1L)
      val g = Dedup.loadDedupGeneration(spark, tmp)
      assert(g.gen == 1L && g.hot.isEmpty && g.sets.isEmpty)
      assert(g.bands.count() > 0)
      val e = intercept[RuntimeException](g.hotOrFail)
      assert(e.getMessage.contains("republish"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }
}
