package graft.queries

import java.security.MessageDigest

import scala.util.Random

import graft.SparkSpec

/** Property check for the sequence-packing family against an independent
  * in-memory brute force: random corpora with empty docs, one-token
  * docs, and >512-token docs that straddle several sequence boundaries,
  * over enough doc_ids to span multiple 64-doc prefix-sum blocks. The
  * DuckDB oracle pins the queries on the fixed corpora at three SFs;
  * this pins the SEMANTICS — exact concat-and-chunk layout in both the
  * doc_id order and the md5-shuffled order — against a second,
  * structurally different implementation (a sequential fold, not a
  * distributed prefix sum).
  */
class PackPropertySpec extends SparkSpec {

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Brute-force packer: docs already in pack order. */
  private def brutePack(
      docs: Seq[(Long, Int)]): Map[Long, (Long, Long, Long, Long)] = {
    var off = 0L
    val acc = scala.collection.mutable.Map.empty[Long, (Long, Long, Long, Long)]
    for ((id, m) <- docs if m > 0) {
      for (s <- (off / 512) to ((off + m - 1) / 512)) {
        val piece = math.min(off + m, (s + 1) * 512) - math.max(off, s * 512)
        val cur = acc.getOrElse(s, (0L, 0L, Long.MaxValue, Long.MinValue))
        acc(s) = (cur._1 + 1, cur._2 + piece, math.min(cur._3, id), math.max(cur._4, id))
      }
      off += m
    }
    acc.toMap
  }

  private def collectPack(name: String, dir: String): Map[Long, (Long, Long, Long, Long)] =
    graft.SparkEntry.queries(name)(spark, dir).collect().map { r =>
      r.getAs[Long]("seq_id") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tok"),
          r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc")))
    }.toMap

  test("random corpus matches the sequential brute force in both orders") {
    import spark.implicits._
    val rnd = new Random(17)
    // 300 docs over ~5 blocks; lengths mix empty, tiny, and multi-seq
    val docs = (0L until 300L).map { id =>
      val m = rnd.nextInt(4) match {
        case 0 => 0                   // empty — must vanish entirely
        case 1 => 1 + rnd.nextInt(9)  // tiny
        case 2 => 40 + rnd.nextInt(200)
        case _ => 520 + rnd.nextInt(900) // straddles 2-3 sequences
      }
      (id, Seq.fill(m)("w").mkString(" "), m)
    }
    val dir = java.nio.file.Files.createTempDirectory("pack_prop").toString
    docs.map { case (id, text, m) => (id, text, "xx", "gen", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(2).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.core.Memo.clear()

    val counts = docs.map { case (id, _, m) => (id, m) }
    val wantIdOrder = brutePack(counts)
    assert(collectPack("tx_pack", dir) == wantIdOrder)

    val wantShuffled = brutePack(
      counts.sortBy { case (id, _) => (md5hex(id.toString), id) })
    assert(collectPack("tx_pack_shuffled", dir) == wantShuffled)
    // the two orders lay out the same token stream differently but must
    // conserve totals
    assert(wantIdOrder.values.map(_._2).sum == wantShuffled.values.map(_._2).sum)
    graft.core.Memo.clear()
  }

  test("BPE-billed packing conserves the trained-tokenizer token stream") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pack_bpe").toString
    try {
      // words long enough that BPE billing differs from whitespace
      // billing (10 merges leave multi-symbol segmentations)
      val rnd = new scala.util.Random(23)
      val vocabWords = Seq("internationalization", "tokenization", "the",
        "reproducibility", "cat", "deterministic")
      val docs = (0L until 120L).map { id =>
        val m = 20 + rnd.nextInt(120)
        (id, Seq.fill(m)(vocabWords(rnd.nextInt(vocabWords.length)))
          .mkString(" "))
      }
      docs.map { case (id, text) => (id, text, "xx", "gen", text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(2).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      graft.core.Memo.clear()

      val perDoc = graft.SparkEntry.queries("tx_bpe_token_count")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val packed = graft.SparkEntry.queries("tx_bpe_pack")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      // conservation: every BPE token of every doc lands in exactly one
      // sequence piece
      assert(packed.map(_._2).sum == perDoc.map(_._3).sum)
      // layout: all sequences full except possibly the last
      val full = packed.sortBy(_._1).dropRight(1)
      assert(full.forall(_._2 == 512L),
        s"non-final sequence underfilled: ${full.filter(_._2 != 512L).take(3).toSeq}")
      // billing really differs from whitespace (the reason the query exists)
      assert(perDoc.map(_._3).sum > perDoc.map(_._2).sum)
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
