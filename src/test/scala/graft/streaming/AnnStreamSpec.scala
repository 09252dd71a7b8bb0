package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.queries.Similarity
import graft.streaming.AnnStream.{AssignUpdate, VecEvent}

/** Batch/stream parity for ANN ingest: vectors fed through the live
  * [[AnnStream]] cell state machine — shuffled arrival order, several
  * micro-batches, re-deliveries — must produce exactly the batch
  * `Similarity.assignments` cells and histogram. Pinned in BOTH
  * quantizer regimes: the gate corpus (b = 0, 10 label cells) and a
  * past-the-floor synthetic corpus (b = 1, split cells), so the
  * replicated argmin arithmetic is proven against the SQL fold where
  * the residual-split centroids actually differ from the labels.
  */
class AnnStreamSpec extends SparkSpec {

  import spark.implicits._

  /** Run the parity check for one corpus dir against the batch oracle. */
  private def checkParity(dir: String, queryName: String): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val batch = Similarity.assignments(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Number](1).longValue()).toMap
    val centroids = Similarity.trainedCentroidArrays(spark, dir)

    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    // deterministic shuffle (md5 of vec_id) — arrival order is NOT
    // vec_id order; seq is the per-source emission counter
    val shuffled = vecs.sortBy { case (id, _) =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes).map(b => f"$b%02x").mkString
    }
    val events = shuffled.zipWithIndex.map { case ((id, emb), i) =>
      VecEvent(src = i % 3, seq = i.toLong, vec_id = id, embedding = emb)
    }

    val in = MemoryStream[VecEvent]
    val q = AnnStream.assignments(in.toDS(), centroids)
      .writeStream.format("memory").queryName(queryName)
      .outputMode(OutputMode.Update()).start()
    val rounds = events.grouped(math.max(1, events.length / 4)).toSeq
    rounds.zipWithIndex.foreach { case (round, i) =>
      in.addData(round.toIndexedSeq)
      // re-deliver a slice of an EARLIER round (at-least-once): the
      // dedup high-water must drop every one of them
      if (i > 0) in.addData(rounds(i - 1).take(7).toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()

    val upd = spark.table(queryName).as[AssignUpdate].collect()
    // every vector exactly once, in its batch cell
    assert(upd.length === vecs.length, "re-deliveries leaked or rows lost")
    assert(upd.map(_.vec_id).distinct.length === vecs.length)
    upd.foreach(u => assert(u.cell === batch(u.vec_id),
      s"vec ${u.vec_id}: stream cell ${u.cell} != batch ${batch(u.vec_id)}"))
    // occupancy: the max cell_count per cell equals the batch histogram
    val streamHist = upd.groupBy(_.cell).view.mapValues(_.map(_.cell_count).max).toMap
    val batchHist = batch.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(streamHist === batchHist)
  }

  test("streaming ingest equals batch assignment on the gate corpus (b = 0)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, s"$dir not present")
    checkParity(dir, "ann_ingest_gate")
  }

  test("full IVF-PQ ingest: stream cells AND codes equal the batch index") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, s"$dir not present")
    implicit val sqlCtx = spark.sqlContext
    val batchCells = Similarity.assignments(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Number](1).longValue()).toMap
    val batchCodes = Similarity.pqCodesView(spark, dir)
      .collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getAs[Number](1).intValue()) ->
        r.getAs[Number](2).intValue()).toMap
    val centroids = Similarity.trainedCentroidArrays(spark, dir)
    val codebook = Similarity.pqCodebookArrays(spark, dir)

    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val events = vecs.zipWithIndex.map { case ((id, emb), i) =>
      AnnStream.VecEvent(src = i % 2, seq = i.toLong, vec_id = id, embedding = emb)
    }
    val in = MemoryStream[AnnStream.VecEvent]
    val q = AnnStream.pqIngest(in.toDS(), centroids, codebook)
      .writeStream.format("memory").queryName("ann_pq_ingest")
      .outputMode(OutputMode.Update()).start()
    events.grouped(200).foreach { round =>
      in.addData(round.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()

    val upd = spark.table("ann_pq_ingest")
      .select($"vec_id", $"cell", $"codes")
      .as[(Long, Long, Array[Int])].collect()
    assert(upd.length === vecs.length)
    upd.foreach { case (id, cell, codes) =>
      assert(cell === batchCells(id))
      codes.zipWithIndex.foreach { case (code, m) =>
        assert(code === batchCodes((id, m)),
          s"vec $id subspace $m: stream code $code != batch ${batchCodes((id, m))}")
      }
    }
  }

  test("streaming ingest equals batch assignment past the floor (b = 1)") {
    // the IvfScaleSpec synthetic corpus: 3000 vectors, 10 labels, b = 1
    // — seed cells diverge from labels, so the parity exercises the
    // residual-split centroids, not the label identity
    val n = 3000
    val dim = 8
    val rows = (0 until n).map { i =>
      val label = i % 10
      val emb = Array.tabulate(dim)(d =>
        (label * 10.0 + ((i / 10 + d * 3) % 7) * 0.3).toFloat)
      (i.toLong, emb, label)
    }
    val dir = java.nio.file.Files.createTempDirectory("annstream").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    graft.core.Memo.clear()
    try checkParity(dir, "ann_ingest_split")
    finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
