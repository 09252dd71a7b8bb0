package graft.queries

import graft.SparkSpec

/** Makes the per-LANGUAGE quality gate (tx_quality_lang /
  * tx_curation_lang) genuinely ACTIVE: the driver's synthetic gate
  * corpora are all-English (tx_curation_lang collapses to one row
  * there), so — like the stop-shingle guard before it — the
  * multilingual branch needs a planted corpus where each language's
  * stopword list does real gating work. Plants de/es/fr/en docs whose
  * stopword mass lives entirely in THEIR language's list and asserts
  * the one behavior the _lang twins exist for: a non-English doc that
  * the English-pinned tx_quality REJECTS (zero English stopwords →
  * quality 0.5 < 0.7) passes the lang-aware gate at full score under
  * its own language's list.
  */
class LangGateSpec extends SparkSpec {

  private def writeDocs(dir: String, docs: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "text", "lang")
      .withColumn("source", org.apache.spark.sql.functions.lit("t"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  // 60 tokens: 12 of the language's own stopwords (stop_ratio 0.2 —
  // double the 10% the quality formula saturates at) + 48 unique filler
  // tokens that sit in NO language's list → quality = 1.0 under the
  // doc's own list, 0.5 under any other list.
  private def plant(stopwords: Seq[String], tag: String): String = {
    val marks = Seq.fill(3)(stopwords).flatten.take(12)
    val filler = (0 until 48).map(i => f"$tag${i}%02dzz")
    (marks ++ filler).mkString(" ")
  }

  // stopword picks are DISTINCTIVE to their language across the four
  // lists (es "de"/"la"/"que"/"un" collide with fr, so avoid them here)
  private val deText = plant(Seq("der", "die", "das", "und"), "dw")
  private val esText = plant(Seq("el", "y", "es", "en"), "sw")
  private val frText = plant(Seq("le", "et", "est", "des"), "fw")
  private val enText = plant(Seq("the", "of", "and", "is"), "ew")
  private val dupText = plant(Seq("the", "a", "to", "in"), "xw")

  private def withCorpus[A](f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("lang_gate").toString
    try {
      writeDocs(dir, Seq(
        (0L, deText, "de"),
        (1L, esText, "es"),
        (2L, frText, "fr"),
        (3L, enText, "en"),
        // 4: high stopword RATIO but 4 tokens — the length term gates it
        (4L, "der die das und", "de"),
        // 5+6: exact duplicates — curation keeps the smaller doc_id
        (5L, dupText, "en"),
        (6L, dupText, "en")))
      f(dir)
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("tx_quality_lang detects each planted language and scores by ITS stopword list") {
    withCorpus { dir =>
      val rows = graft.SparkEntry.queries("tx_quality_lang")(spark, dir)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("pred_lang"), r.getAs[Double]("quality"),
            r.getAs[Double]("stop_ratio")))).toMap
      assert(rows(0L)._1 == "de" && rows(1L)._1 == "es"
        && rows(2L)._1 == "fr" && rows(3L)._1 == "en")
      // every 60-token planted doc saturates BOTH quality terms under
      // its own language's list (0.2 stop ratio, 60 ≥ 50 tokens)
      Seq(0L, 1L, 2L, 3L).foreach { id =>
        assert(rows(id)._2 == 1.0, s"doc $id quality ${rows(id)._2}")
        assert(rows(id)._3 == 0.2, s"doc $id stop_ratio ${rows(id)._3}")
      }
      // pred_lang is exactly tx_lang_id's vote, doc for doc
      val voted = graft.SparkEntry.queries("tx_lang_id")(spark, dir)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[String]("pred_lang")).toMap
      rows.foreach { case (id, (lang, _, _)) => assert(voted(id) == lang) }

      // THE discriminator: the English-pinned tx_quality sees zero
      // stopwords in the German doc and rejects it at the 0.7 gate the
      // curation pipeline applies; the lang-aware score admits it
      val enGate = graft.SparkEntry.queries("tx_quality")(spark, dir)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[Double]("quality")).toMap
      assert(enGate(0L) == 0.5 && enGate(0L) < 0.7,
        s"en-pinned quality of the German doc read ${enGate(0L)} — planted filler leaked into the en list?")
      assert(rows(0L)._2 >= 0.7)
    }
  }

  test("termFreqs-derived quality stats equal the tokenize-pass projection (r18)") {
    // tx_curation_lang now reads langQualityFromTf (aggregates over the
    // staged per-(doc, word) counts) instead of re-tokenizing; this
    // pins the two derivations column-for-column on every ≥1-token doc
    // of the planted multilingual corpus, ties and gate-edge docs
    // included
    withCorpus { dir =>
      import spark.implicits._
      val viaTf = TextAnalysis.langQualityFromTf(spark, dir)
        .select($"doc_id", $"pred_lang", $"n_tok", $"quality")
      val viaTok = TextAnalysis.langQualityScores(
        graft.core.Tables(spark, dir).documents)
        .filter($"n_tok" > 0)
        .select($"doc_id", $"pred_lang", $"n_tok", $"quality")
      assert(viaTf.exceptAll(viaTok).isEmpty && viaTok.exceptAll(viaTf).isEmpty,
        "tf-derived quality stats must equal the tokenize-pass projection")
    }
  }

  test("tx_curation_lang gates per language: dups collapse, short doc dropped, one row per language") {
    withCorpus { dir =>
      val rows = graft.SparkEntry.queries("tx_curation_lang")(spark, dir)
        .collect().map(r => r.getAs[String]("pred_lang") ->
          ((r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens")))).toMap
      // de: doc 0 survives; doc 4 (4 tokens) fails the length term
      // (0.5·4/50 + 0.5·1 = 0.54 < 0.7) — the gate, not the language,
      // drops it. en: doc 3 + ONE of the duplicate pair 5/6.
      assert(rows == Map(
        "de" -> ((1L, 60L)), "en" -> ((2L, 120L)),
        "es" -> ((1L, 60L)), "fr" -> ((1L, 60L))), s"got $rows")
    }
  }
}
