package graft.queries

import scala.util.Random

import graft.SparkSpec

/** Property check for dedup_spans against an independent in-memory
  * brute force: random small-vocab docs (so cross-doc duplicated
  * passages occur naturally) plus deliberately planted shared passages.
  * The DuckDB oracle pins the query on the real corpus at three SFs;
  * this pins the SEMANTICS — maximal islands of ≥2-doc 5-token windows —
  * against a second, structurally different implementation.
  */
class SpansPropertySpec extends SparkSpec {

  private def bruteSpans(
      docs: Seq[(Long, String)]): Set[(Long, Long, Long, Long)] = {
    val wins = docs.flatMap { case (id, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty)
      toks.sliding(5).zipWithIndex.collect {
        case (w, i) if w.length == 5 => (id, i.toLong, w.mkString(" "))
      }
    }
    val dup = wins.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
    wins.filter(w => dup(w._3))
      .groupBy(_._1)
      .flatMap { case (id, ws) =>
        // merge consecutive flagged positions into maximal islands
        val ps = ws.map(_._2).sorted
        val islands = ps.foldLeft(List.empty[(Long, Long, Long)]) {
          case ((s, e, n) :: rest, p) if p == e + 1 => (s, p, n + 1) :: rest
          case (acc, p) => (p, p, 1L) :: acc
        }
        islands.map { case (s, e, n) => (id, s + 1, e + 5, n) }
      }.toSet
  }

  test("random + planted corpora match the brute-force span semantics") {
    import spark.implicits._
    val rnd = new Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val planted = "x1 x2 x3 x4 x5 x6 x7" // 7 tokens -> 3 shared windows
    val docs = (0L until 30L).map { id =>
      val words = Seq.fill(12 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
      val withPlant =
        if (id % 7 == 0) words.take(4) ++ planted.split(" ") ++ words.drop(4)
        else words
      (id, withPlant.mkString(" "))
    }
    val dir = java.nio.file.Files.createTempDirectory("spans_prop").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    graft.core.Memo.clear()
    try {
      val got = graft.SparkEntry.queries("dedup_spans")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val want = bruteSpans(docs)
      assert(got == want,
        s"missing=${want -- got} extra=${got -- want}")
      assert(want.nonEmpty, "the planted passage must produce spans")
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
