package graft.queries

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The LLM-pipeline text operators on REAL text: the reference's own 8
  * Project Gutenberg books (~3.3 MB, main/pg-*.txt) instead of the
  * synthetic word-salad documents table. Real text has exactly the
  * structures the operators exist for — every book carries the same
  * Project Gutenberg license boilerplate, so cross-document duplicated
  * passages are REAL here, and the language-ID heuristic faces genuine
  * English prose rather than a vocabulary engineered for the test.
  *
  * Cancels if the reference corpus is absent (same contract as
  * RealCorpusSpec).
  */
class RealTextPipelineSpec extends SparkSpec {

  import spark.implicits._

  private lazy val books: Seq[(Long, String, String)] = {
    val dir = Paths.get("/root/reference/main")
    if (!Files.isDirectory(dir)) Seq.empty
    else Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("pg-") && p.toString.endsWith(".txt"))
      .toSeq.sortBy(_.getFileName.toString)
      .zipWithIndex
      .map { case (p, i) =>
        (i.toLong, new String(Files.readAllBytes(p), StandardCharsets.UTF_8),
          p.getFileName.toString)
      }
  }

  private lazy val dir: String = {
    import org.apache.spark.sql.functions._
    val d = java.nio.file.Files.createTempDirectory("real_text").toString
    // read the books through the TEXT SOURCE (tasks read from disk)
    // instead of parallelizing the 3.3 MB driver-local Seq — the latter
    // ships each book inside a task binary and floods the suite log
    // with very-large-task warnings, hiding real task-size regressions
    val files = spark.read.option("wholetext", "true")
      .text("/root/reference/main/pg-*.txt")
      .select(regexp_extract(input_file_name(), "([^/]+)$", 1).as("source"),
        $"value".as("text"))
    val ids = books.map { case (id, _, name) => (id, name) }
      .toDF("doc_id", "source")
    files.join(broadcast(ids), "source")
      .select($"doc_id", $"text", lit("xx").as("lang"), $"source",
        length($"text").cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, dir)

  test("dedup_substring finds the Gutenberg license boilerplate across all 8 books") {
    assume(books.nonEmpty, "reference corpus not present")
    graft.core.Memo.clear()
    val rows = run("dedup_substring").collect()
    assert(rows.nonEmpty, "real books must share duplicated 5-token windows")
    // the license text is common to EVERY book — some window must appear
    // in all 8 documents, not just a pair
    val maxDocs = rows.map(_.getAs[Long]("n_docs")).max
    assert(maxDocs == 8L,
      s"license boilerplate should span all 8 books, best was $maxDocs")
  }

  test("dedup_spans merges the boilerplate into long per-book spans") {
    assume(books.nonEmpty, "reference corpus not present")
    val spans = run("dedup_spans").collect()
    assert(spans.nonEmpty)
    // license paragraphs are hundreds of tokens long — the
    // gaps-and-islands merge must produce a correspondingly long span,
    // not a scatter of 5-token fragments
    val longest = spans.map(r => r.getAs[Long]("span_end") - r.getAs[Long]("span_start")).max
    assert(longest >= 100L, s"longest merged span only ${longest} tokens")
    // every book carries the boilerplate → spans in every doc
    assert(spans.map(_.getAs[Long]("doc_id")).distinct.length == 8)
  }

  test("tx_lang_id votes English for every book") {
    assume(books.nonEmpty, "reference corpus not present")
    val preds = run("tx_lang_id").collect()
    assert(preds.length == 8)
    assert(preds.forall(_.getAs[String]("pred_lang") == "en"),
      preds.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("pred_lang"))).mkString(", "))
  }

  test("tx_topk_words: 'the' tops real English prose under the bounded sketch") {
    assume(books.nonEmpty, "reference corpus not present")
    val top = run("tx_topk_words").collect()
    assert(top.nonEmpty)
    val byCount = top.maxBy(_.getAs[Long]("cnt"))
    assert(byCount.getAs[String]("word") == "the",
      top.take(5).mkString(", "))
  }

  test("tx_redact on zero-hit docs is the identity (md5 and length survive unicode)") {
    assume(books.nonEmpty, "reference corpus not present")
    val red = run("tx_redact").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hits"), r.getAs[String]("redacted_md5"), r.getAs[Long]("redacted_len")))
      .toMap
    assert(red.size == 8)
    books.foreach { case (id, text, _) =>
      val (hits, md5Hex, len) = red(id)
      if (hits == 0L) {
        val want = java.security.MessageDigest.getInstance("MD5")
          .digest(text.getBytes(StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
        assert(md5Hex == want, s"doc $id: zero-hit redaction must be identity")
        assert(len == text.length.toLong)
      }
    }
  }

  test("tx_chunk packs each book into ceil(tokens/64) windows with a ragged tail") {
    assume(books.nonEmpty, "reference corpus not present")
    val chunks = run("tx_chunk").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"), r.getAs[Long]("n_tok")))
    val byDoc = chunks.groupBy(_._1)
    assert(byDoc.keySet.size == 8)
    books.foreach { case (id, text, _) =>
      val nTok = text.split("\\s+").count(_.nonEmpty).toLong
      val want = (nTok + 63) / 64
      val got = byDoc(id)
      assert(got.length.toLong == want, s"doc $id: ${got.length} chunks, want $want")
      // every chunk but the last is exactly 64 tokens; the tail is the rest
      val full = got.count(_._3 == 64L)
      assert(full.toLong >= want - 1)
      assert(got.map(_._3).sum == nTok, s"doc $id: token counts must partition the doc")
    }
  }

  test("tx_pack cuts the 8-book token stream into exact 512-token sequences") {
    assume(books.nonEmpty, "reference corpus not present")
    val seqs = run("tx_pack").collect()
      .map(r => (r.getAs[Long]("seq_id"), r.getAs[Long]("n_tok")))
    val totalTok = books.map(_._2.split("\\s+").count(_.nonEmpty).toLong).sum
    // sequences partition the concatenated stream: ids contiguous from 0,
    // every sequence full except the ragged last, totals conserved
    assert(seqs.map(_._1).toSeq == (0L until seqs.length.toLong))
    assert(seqs.dropRight(1).forall(_._2 == 512L))
    assert(seqs.map(_._2).sum == totalTok)
    assert(seqs.length.toLong == (totalTok + 511) / 512)
  }

  test("dedup_exact: 8 distinct books, no exact duplicates") {
    assume(books.nonEmpty, "reference corpus not present")
    val g = run("dedup_exact").collect()
    assert(g.length == 8)
  }

  test("dedup_incremental: distinct real books produce no false drop decisions") {
    assume(books.nonEmpty, "reference corpus not present")
    // new side = ids 0 and 5; despite every book sharing the Gutenberg
    // license boilerplate, whole-document Jaccard between distinct books
    // is nowhere near 0.5 — the incremental decision list must be empty
    assert(run("dedup_incremental").count() == 0L)
  }

  test("dedup_incremental catches a near-copy ingested against the real corpus") {
    assume(books.nonEmpty, "reference corpus not present")
    // existing corpus: the 8 books at ids avoiding multiples of 5 (all on
    // the indexed side); incoming batch: id 5, a lightly-perturbed copy
    // of the book at id 1 — the one true near-dup must be the one
    // decision, pointing at its source
    // derive the re-IDed corpus + perturbed copy from the parquet the
    // suite already wrote (tasks read from disk) — a driver-local Seq
    // of whole books ships megabyte task binaries (the large-task
    // warning class this suite is the canary for)
    import org.apache.spark.sql.functions.{broadcast, concat, lit}
    val d = Files.createTempDirectory("real_incr").toString
    val ids = Seq(1L, 2L, 3L, 4L, 6L, 7L, 8L, 9L)
    val idMap = books.map(_._3).zip(ids).toDF("source", "new_id")
    val stored = graft.core.Tables(spark, dir).documents
    val base = stored.join(broadcast(idMap), "source")
      .select($"new_id".as("doc_id"), $"text", $"lang", $"source", $"n_chars")
    val copy = stored.filter($"source" === books.head._3)
      .select(lit(5L).as("doc_id"),
        concat($"text", lit("\nincremental ingest copy marker\n")).as("text"),
        lit("xx").as("lang"),
        concat(lit("copy-of-"), $"source").as("source"),
        lit(0L).as("n_chars"))
    base.unionByName(copy)
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = graft.SparkEntry.queries("dedup_incremental")(spark, d).collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == 5L && rows(0).getLong(1) == 1L)
    assert(rows(0).getDouble(2) > 0.9)
    // the passage-level incremental agrees: essentially every 5-token
    // window of the ingested copy already exists in the corpus
    val ssi = graft.SparkEntry.queries("dedup_substring_incremental")(spark, d).collect()
    assert(ssi.length == 1)
    assert(ssi(0).getLong(0) == 5L)
    assert(ssi(0).getDouble(3) > 0.99)
  }

  test("NbScoreStream's per-doc fold is linear on real 100k-token books") {
    assume(books.nonEmpty, "reference corpus not present")
    // the regression guard for the O(tokens²) fold bug: 8 real books
    // (~600k tokens total, the largest ~115k tokens in one document)
    // must score in seconds, bit-identical to the batch scorer's
    // held-out rows. The quadratic form took minutes-to-hours here.
    graft.core.Memo.clear()
    import org.apache.spark.sql.functions.col
    val t0 = System.nanoTime()
    val stream = graft.streaming.NbScoreStream
      .scores(graft.core.Tables(spark, dir).documents
        .filter(col("doc_id") % 3 === 0).select(col("doc_id"), col("text")),
        spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSet
    val sec = (System.nanoTime() - t0) / 1e9
    // the guard separates asymptotic classes (the quadratic fold took
    // minutes-to-hours here), so the budget carries load headroom: the
    // linear form measures ~1-2 min on this shared 4-thread test JVM
    assert(sec < 240, f"real-book NB scoring took $sec%.0f s — fold not linear?")
    val batch = graft.SparkEntry.queries("tx_nb_score")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSet
    assert(stream == batch, "stream rows must be bit-identical to the batch scorer")
  }

  test("BM25 retrieval runs the real books end to end, probe excluded") {
    assume(books.nonEmpty, "reference corpus not present")
    graft.core.Memo.clear()
    // only doc 0 is a %50-stride query; its probe is the first 6 tokens
    // of a real book (Gutenberg header boilerplate shared by all books)
    val rows = run("tx_bm25_topk").collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Long]("qid") == 0L))
    assert(!rows.exists(_.getAs[Long]("doc_id") == 0L), "self-exclusion on real text")
    graft.core.Memo.clear()
  }

  test("phrase + proximity search on real Zipfian text: the Gutenberg header phrase spans books") {
    assume(books.nonEmpty, "reference corpus not present")
    graft.core.Memo.clear()
    val t0 = System.nanoTime()
    // doc 0's opening 3 tokens are Gutenberg boilerplate shared across
    // the corpus — the phrase must hit multiple books, and the anchored
    // plan must survive real 100k-token documents (the O(tokens²)
    // expression-substitution regression class)
    val meter = graft.SparkEntry.queries("tx_phrase_meter")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(meter.length == 1 && meter.head._1 == 0L)
    assert(meter.head._2 >= 2, s"header phrase should span books, got ${meter.head._2}")
    assert(meter.head._3 >= meter.head._2)
    val prox = graft.SparkEntry.queries("tx_proximity")(spark, dir).collect()
    assert(prox.nonEmpty)
    val sec = (System.nanoTime() - t0) / 1e9
    // asymptotic-class guard (the O(tokens²) substitution regression
    // measured minutes-to-hours): the anchored plan reads 122-150 s
    // COLD-isolated on this shared 4-thread JVM across r16..r17 trees
    // (r17's reading beats r16's 138 s), so 120 s was environment
    // noise, not a signal line — 240 s still separates the classes by
    // an order of magnitude
    assert(sec < 240, f"real-book positional queries took $sec%.0f s")
    graft.core.Memo.clear()
  }
}
