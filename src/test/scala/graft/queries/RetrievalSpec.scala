package graft.queries

import org.apache.spark.sql.functions.{length, lit}

import graft.SparkSpec

/** Semantics of the retrieval/classifier family on planted corpora
  * where each behavior is hand-computable:
  *
  *  - tx_bm25_topk: query-by-example probe excludes the query doc,
  *    rarer terms outrank commoner ones (IDF), and shorter docs outrank
  *    longer ones at equal tf (length normalization).
  *  - ann_hybrid_rrf: the fused score is exactly
  *    1/(60+rank_bm25) + 1/(60+rank_dense); a doc ranked #2 in BOTH
  *    lists beats each list's #1 (the consensus property RRF exists
  *    for), and equal fused scores tie-break by doc_id.
  *  - tx_nb_train / tx_nb_score: the classifier trained on the quality
  *    gate's verdicts learns a positive log-odds for the token planted
  *    only in gate-passing docs and a negative one for the token
  *    planted only in failing docs, and classifies held-out docs by
  *    those markers.
  */
class RetrievalSpec extends SparkSpec {

  private def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def writeVecs(dir: String, vecs: Seq[(Long, Seq[Float])]): Unit = {
    import spark.implicits._
    vecs.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def withCorpus[A](docs: Seq[(Long, String)],
      vecs: Seq[(Long, Seq[Float])] = Nil)(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("retrieval").toString
    try {
      writeDocs(dir, docs)
      if (vecs.nonEmpty) writeVecs(dir, vecs)
      f(dir)
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  // doc 0 is the query (doc_id % 50 == 0); its first 6 tokens are the
  // probe. "rare" appears only in docs 0+1 (high IDF), "common" in doc 0
  // and nine candidates (low IDF). Docs 2 and 3 share "common" at tf=1
  // but doc 3 is 4x longer.
  private val bmDocs: Seq[(Long, String)] = Seq(
    0L -> "alpha beta rare common zfill0a zfill0b",
    1L -> "rare w1a w1b w1c w1d",
    2L -> "common w2a w2b w2c w2d",
    3L -> ("common " + (0 until 19).map(i => s"w3x$i").mkString(" ")),
    7L -> "v7a v7b v7c v7d v7e",
    9L -> "v9a v9b v9c v9d v9e") ++
    Seq(4L, 5L, 6L, 8L, 10L, 11L).map(k =>
      k -> s"common f${k}a f${k}b f${k}c f${k}d")

  test("tx_bm25_topk: query doc excluded, IDF and length normalization order the results") {
    withCorpus(bmDocs) { dir =>
      val rows = graft.SparkEntry.queries("tx_bm25_topk")(spark, dir).collect()
      assert(rows.forall(_.getAs[Long]("qid") == 0L))
      val rankOf = rows.map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[Int]("rank")).toMap
      assert(!rankOf.contains(0L), "query doc must not retrieve itself")
      assert(rankOf(1L) == 1, s"rare-term doc should rank first: $rankOf")
      assert(rankOf(2L) < rankOf(3L),
        s"shorter doc should outrank longer at equal tf: $rankOf")
      assert(!rankOf.contains(7L) && !rankOf.contains(9L),
        "docs sharing no query term must not appear")
    }
  }

  test("ann_hybrid_rrf: consensus rank-2 beats single-list rank-1, exact RRF arithmetic, id tie-break") {
    // dense candidates: only vecs 2, 7, 9 (the query is vec 0).
    // rd: 7 -> 1 (nearly parallel), 2 -> 2, 9 -> 3 (orthogonal).
    // rb: 1 -> 1, 2 -> 2 (from the corpus above; 7 and 9 share no term).
    val vecs = Seq(
      0L -> Seq(1.0f, 0.0f),
      2L -> Seq(0.9f, 0.3f),
      7L -> Seq(0.99f, 0.1f),
      9L -> Seq(0.0f, 1.0f))
    withCorpus(bmDocs, vecs) { dir =>
      val rows = graft.SparkEntry.queries("ann_hybrid_rrf")(spark, dir)
        .collect()
        .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
          r.getAs[Double]("rrf")))
        .sortBy(_._1)
      // doc 2 is #2 in both lists: 1/62 + 1/62
      assert(rows.head._2 == 2L, s"consensus doc should fuse first: $rows")
      assert(rows.head._3 == BigDecimal(2.0 / 62)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      // doc 1 (bm25 #1 only) and doc 7 (dense #1 only) tie at 1/61 —
      // doc_id breaks the tie
      val tied = rows.filter(_._3 == BigDecimal(1.0 / 61)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(tied.map(_._2).toSeq == Seq(1L, 7L), s"tie-break order: $rows")
      assert(tied.head._1 == 2 && tied.last._1 == 3)
    }
  }

  // Impact truncation at P=1: each term keeps only its single
  // highest-contribution posting. Doc 1 holds BOTH query terms at tf=1
  // (the exact winner by the cross-term sum) but neither of its
  // postings survives a P=1 cut — docs 2 and 3 dominate t1/t2 at tf=3.
  private val impactDocs: Seq[(Long, String)] = Seq(
    0L -> "t1 t2 z0a z0b z0c z0d",
    1L -> "t1 t2 a1 a2",
    2L -> "t1 t1 t1 b1",
    3L -> "t2 t2 t2 c1")

  test("impact truncation: the cross-term consensus doc drops at P=1, survives at the default depth") {
    withCorpus(impactDocs) { dir =>
      import org.apache.spark.sql.functions.col
      val exact = Retrieval.bm25Scored(spark, dir)
        .orderBy(col("bm25").desc, col("doc_id")).collect()
      assert(exact.head.getAs[Long]("doc_id") == 1L,
        s"two mid postings should beat one strong one: ${exact.toSeq}")
      val p1 = Retrieval.bm25ImpactScoredAt(spark, dir, 1)
        .orderBy(col("bm25").desc, col("doc_id")).collect()
      assert(!p1.exists(_.getAs[Long]("doc_id") == 1L),
        s"doc 1's postings must be truncated away at P=1: ${p1.toSeq}")
      assert(p1.head.getAs[Long]("doc_id") == 2L, s"df tie-break: ${p1.toSeq}")
      // at the gate depth nothing truncates — tiers agree exactly
      val full = Retrieval.bm25ImpactScored(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val ex = Retrieval.bm25Scored(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(full == ex)
    }
  }

  test("ql impact truncation: the two-term doc drops at P=1, gate depth equals exact, certificate fires") {
    withCorpus(impactDocs) { dir =>
      import org.apache.spark.sql.functions.col
      // exact QL: ln(1 + tf·T/(μ·cf)) is near-linear at these sizes, so
      // doc 2 (tf=3 on t1) outranks doc 1 (tf=1 on both terms); doc 1 is
      // still a candidate (len-4 docs share the same prior)
      val exact = Retrieval.qlScored(spark, dir)
        .orderBy(col("ql").desc, col("doc_id")).collect()
      assert(exact.exists(_.getAs[Long]("doc_id") == 1L),
        s"two-term doc must be an exact-tier candidate: ${exact.toSeq}")
      // at P=1 each term keeps only its tf=3 posting — doc 1 has no
      // surviving posting and vanishes from the candidate set
      val p1 = Retrieval.qlImpactScoredAt(spark, dir, 1)
        .orderBy(col("ql").desc, col("doc_id")).collect()
      assert(!p1.exists(_.getAs[Long]("doc_id") == 1L),
        s"doc 1's postings must be truncated away at P=1: ${p1.toSeq}")
      // at the gate depth nothing truncates — tiers agree exactly
      val full = Retrieval.qlImpactScored(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val ex = Retrieval.qlScored(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(full == ex)
      // the certificate sees zero residual budget at the gate depth
      val safe = graft.SparkEntry.queries("tx_ql_safe")(spark, dir).collect()
      assert(safe.forall(r =>
        r.getAs[Long]("safe") == 1L && r.getAs[Double]("u") == 0.0),
        s"nothing truncated => U=0, safe=1: ${safe.toSeq}")
      // and the graded meter reads a perfect 1.0
      val ndcg = graft.SparkEntry.queries("tx_ql_ndcg")(spark, dir).collect()
      assert(ndcg.forall(_.getAs[Double]("ndcg") == 1.0), s"${ndcg.toSeq}")
    }
  }

  test("ql wand: the prior-aware certificate fires under ACTIVE truncation and the served ranking is exact") {
    // doc 0 is the query (6 terms). Docs 1-14 carry every term at tf=2
    // (the true winners); docs 15-30 carry only t1 at tf=1 plus filler.
    // At p=15, t1's list (31 postings) truncates — U > 0 — but every
    // kept candidate's score clears U + the most-favorable-prior bound,
    // so the query certifies WITHOUT a full fallback: the verdict
    // branch no gate SF exercises (sf0.001/0.01 certify via U == 0,
    // sf0.1 falls back).
    val strong = (1L to 14L).map(j =>
      j -> "t1 t1 t2 t2 t3 t3 t4 t4 t5 t5 t6 t6")
    val weak = (15L to 30L).map(j =>
      j -> ("t1 " + (1 to 11).map(i => s"w${j}x$i").mkString(" ")))
    val docs = Seq(0L -> "t1 t2 t3 t4 t5 t6") ++ strong ++ weak
    withCorpus(docs) { dir =>
      import org.apache.spark.sql.functions.{col, sum}
      // active truncation: the residual budget at p=15 is positive
      val u = Retrieval.qlBoundsAt(spark, dir, 15)
        .filter(col("word").isin("t1", "t2", "t3", "t4", "t5", "t6"))
        .agg(sum(col("b"))).collect()(0).getDouble(0)
      assert(u > 0.0, s"t1's list must truncate at p=15 (u=$u)")
      val (served, meter) = Retrieval.qlWandParts(spark, dir, 15)
      val m = meter.collect()
      assert(m.length == 1 && m(0).getAs[Long]("safe") == 1L,
        s"prior bound must certify despite U > 0: ${m.toSeq}")
      // rank-safety: the served rows ARE the exact tier's top-k
      val exact = graft.SparkEntry.queries("tx_ql_topk")(spark, dir)
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      val got = served.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == exact, s"served must equal exact: $got vs $exact")
      // and the rescore was candidate-restricted, not a full traversal
      assert(m(0).getAs[Long]("n_rescore") <= m(0).getAs[Long]("n_seen"))
    }
  }

  // Gate-passing training docs (50 tokens, 5 English stopwords -> quality
  // 1.0) carry "goodmark"; failing ones (50 tokens, no stopwords ->
  // quality 0.5) carry "badmark". Held-out docs (doc_id % 3 == 0) carry
  // one marker each.
  private def posDoc(tag: String): String =
    ("the the the the the a of and to "
      + s"goodmark goodmark goodmark goodmark goodmark "
      + (0 until 36).map(i => s"$tag$i").mkString(" "))
  private def negDoc(tag: String): String =
    (s"badmark badmark badmark badmark badmark "
      + (0 until 45).map(i => s"$tag$i").mkString(" "))

  private val nbDocs: Seq[(Long, String)] = Seq(
    0L -> "goodmark goodmark goodmark the a of",
    3L -> "badmark badmark badmark b1 b2 b3",
    1L -> posDoc("p1k"), 2L -> posDoc("p2k"),
    4L -> negDoc("n4k"), 5L -> negDoc("n5k"))

  test("tx_nb_train: the planted markers get opposite-signed log-odds") {
    withCorpus(nbDocs) { dir =>
      val lo = graft.SparkEntry.queries("tx_nb_train")(spark, dir)
        .collect()
        .map(r => r.getAs[String]("word") -> r.getAs[Double]("lo")).toMap
      assert(lo.contains("goodmark") && lo("goodmark") > 0,
        s"goodmark should be positive evidence: $lo")
      assert(lo.contains("badmark") && lo("badmark") < 0,
        s"badmark should be negative evidence: $lo")
      // the gate's own stopwords are positive evidence too
      assert(lo.getOrElse("the", 0.0) > 0)
    }
  }

  test("tx_nb_score: held-out docs classify by their planted marker") {
    withCorpus(nbDocs) { dir =>
      val preds = graft.SparkEntry.queries("tx_nb_score")(spark, dir)
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Double]("score"), r.getAs[Long]("pred")))).toMap
      assert(preds.keySet == Set(0L, 3L))
      assert(preds(0L)._2 == 1L && preds(0L)._1 > 0,
        s"goodmark doc should score positive: $preds")
      assert(preds(3L)._2 == 0L && preds(3L)._1 < 0,
        s"badmark doc should score negative: $preds")
    }
  }
}
