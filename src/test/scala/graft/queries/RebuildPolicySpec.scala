package graft.queries

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The composed rebuild policy must read all-quiet on the natural
  * corpus and flip EXACTLY the planted family's verdict — one monitor
  * firing must never bleed into another family's rebuild decision.
  */
class RebuildPolicySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def policyRows(d: String): Map[String, (Double, Long)] =
    graft.SparkEntry.queries("tx_rebuild_policy")(spark, d)
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getAs[Long]("rebuild")))
      .toMap

  test("all three families read below threshold on the natural corpus") {
    val p = policyRows(dir)
    assert(p.keySet == Set("dedup", "vector", "lexical"))
    assert(p.values.forall(_._2 == 0L), s"unexpected rebuild verdict: $p")
  }

  test("planted embedding drift flips exactly the vector family's verdict") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_policy").toString
    try {
      spark.read.parquet(s"$dir/documents.parquet")
        .write.parquet(s"$tmp/documents.parquet")
      // the arriving split (vec_id % 5 == 0) shifted +0.15 in the
      // leading 4 dims: ~20% of a cell's members moving 0.15/dim pulls
      // the cell mean ~0.03/dim → drift4 ≈ 4·9e-4 ≈ 3600 ppm, past the
      // 2000 ppm retrain line — while an L2 shift of 0.3 is small
      // against the 64-dim cluster separation, so arrivals stay in
      // their trained cells (a relocation-sized shift lands them in
      // new-only cells the existing-mean join drops). The token side is
      // byte-identical, so dedup/lexical must not move.
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id",
          when($"vec_id" % 5 === 0,
            transform($"embedding",
              (x, i) => when(i < 4, x + lit(0.15f)).otherwise(x).cast("float")))
            .otherwise($"embedding").as("embedding"),
          $"label")
        .write.parquet(s"$tmp/embeddings.parquet")

      val base = policyRows(dir)
      val planted = policyRows(tmp)
      assert(planted("vector")._2 == 1L,
        s"planted centroid drift must trigger the vector rebuild: $planted")
      assert(planted("dedup") == base("dedup"),
        "the dedup verdict (and value) must be untouched by embedding drift")
      assert(planted("lexical") == base("lexical"),
        "the lexical verdict (and value) must be untouched by embedding drift")
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("planted shingle crossing fires exactly the dedup verdict, and " +
      "applyPolicy commits an actual band-index generation for it") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_policy_dedup").toString
    val (dedupRoot, lexRoot, vecRoot) = (s"$tmp/ded", s"$tmp/lex", s"$tmp/vec")
    try {
      // one planted trigram of the corpus's three MOST COMMON words (in
      // an unseen order) appended to every arriving-split doc: its
      // batch df (~1/5 of the corpus) crosses the MaxDf stop line —
      // while three already-frequent tokens barely move the unigram
      // distribution (lexical stays quiet) and the embeddings are
      // byte-identical (vector stays quiet)
      val top = spark.read.parquet(s"$dir/documents.parquet")
        .select(explode(split(lower($"text"), "\\s+")).as("w"))
        .filter($"w" =!= "")
        .groupBy($"w").count().orderBy($"count".desc, $"w").limit(3)
        .collect().map(_.getString(0))
      val tail = s" ${top(2)} ${top(0)} ${top(1)}"
      spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id",
          when($"doc_id" % 5 === 0, concat($"text", lit(tail)))
            .otherwise($"text").as("text"),
          $"lang", $"source", $"n_chars")
        .write.parquet(s"$tmp/documents.parquet")
      spark.read.parquet(s"$dir/embeddings.parquet")
        .write.parquet(s"$tmp/embeddings.parquet")

      val planted = policyRows(tmp)
      assert(planted("dedup")._2 == 1L,
        s"planted shingle crossing must trigger the dedup rebuild: $planted")
      assert(planted("vector")._2 == 0L && planted("lexical")._2 == 0L,
        s"the crossing must not bleed into other families: $planted")

      // the executor commits ONLY the dedup band-index generation
      val fired = graft.queries.RebuildPolicy.applyPolicy(spark, tmp,
        Map("dedup" -> dedupRoot, "lexical" -> lexRoot, "vector" -> vecRoot))
      assert(fired == Map("dedup" -> 1L), s"unexpected rebuilds: $fired")
      val (gen, bands) = graft.queries.Dedup.loadBandGeneration(spark, dedupRoot)
      assert(gen == 1L && bands.count() > 0,
        "the committed generation must hold the rebuilt band index")
      // and the serving slices (r17): the generation applyPolicy commits
      // is the SAME self-contained artifact DedupStream.matchesLatest
      // cuts over to — the planted trigram it flagged is IN the new
      // stop list, so the rebuilt index's banding excludes it
      val g = graft.queries.Dedup.loadDedupGeneration(spark, dedupRoot)
      assert(g.sets.nonEmpty && g.sets.get.count() > 0)
      assert(g.hot.nonEmpty, "serving slices must commit with the bands")
      assert(graft.core.Generations.latest(lexRoot).isEmpty)
      assert(graft.core.Generations.latest(vecRoot).isEmpty)
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("the full loop: planted lexical drift fires the policy, applyPolicy " +
      "rebuilds ONLY the lexical generation, and serving cuts over live") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val tmp = java.nio.file.Files.createTempDirectory("graft_loop").toString
    val (drift, lexRoot, vecRoot) = (s"$tmp/drift", s"$tmp/lex", s"$tmp/vec")
    try {
      // the drifted corpus: the arriving split (%5 == 0) flooded with
      // 200 per-doc-UNIQUE novel tokens — JS divergence jumps past the
      // 0.01 line from the flood's mass, while every flooded 5-gram is
      // globally unique (df 1: no dedup stop-line crossing) and the
      // embeddings are byte-identical (no vector drift)
      spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id",
          when($"doc_id" % 5 === 0,
            concat($"text", lit(" "), array_join(
              transform(sequence(lit(0), lit(199)),
                i => concat(lit("zz"), $"doc_id", lit("x"), i)), " ")))
            .otherwise($"text").as("text"),
          $"lang", $"source", $"n_chars")
        .write.parquet(s"$drift/documents.parquet")
      spark.read.parquet(s"$dir/embeddings.parquet")
        .write.parquet(s"$drift/embeddings.parquet")

      // serving starts on gen-1 built from the PRISTINE corpus
      assert(graft.queries.Retrieval.writeLexicalGeneration(spark, dir, lexRoot) == 1L)
      val batches = mutable.Buffer.empty[Long]
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.Bm25Stream.serveLatest(
        in.toDS().toDF("doc_id", "text"), lexRoot) { out =>
        batches += out.count()
      }.queryName("loop_serve").start()
      val qdoc = graft.core.Tables(spark, dir).documents
        .filter($"doc_id" === 0).select($"doc_id", $"text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      in.addData(qdoc: _*); q.processAllAvailable()
      assert(batches.nonEmpty && batches.head > 0)

      // the monitor → verdict → rebuild chain on the drifted corpus
      val fired = graft.queries.RebuildPolicy.applyPolicy(spark, drift,
        Map("lexical" -> lexRoot, "vector" -> vecRoot))
      assert(fired == Map("lexical" -> 2L), s"unexpected rebuilds: $fired")
      assert(graft.core.Generations.latest(lexRoot).contains(2L))
      assert(graft.core.Generations.latest(vecRoot).isEmpty,
        "a quiet vector verdict must not commit a vector generation")

      // the SAME running stream serves the next batch from gen-2
      in.addData(qdoc: _*); q.processAllAvailable()
      q.stop()
      assert(batches.size == 2 && batches(1) > 0)

      // all-quiet corpus: the executor is a no-op
      assert(graft.queries.RebuildPolicy.applyPolicy(spark, dir,
        Map("lexical" -> lexRoot, "vector" -> vecRoot)).isEmpty)
      assert(graft.core.Generations.latest(lexRoot).contains(2L))
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }
}
