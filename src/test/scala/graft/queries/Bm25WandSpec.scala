package graft.queries

import org.apache.spark.sql.Row

import graft.SparkSpec

/** Rank-safety of the WAND/max-score serving tier and exactness of the
  * incremental index merge, on corpora where truncation is ACTIVE (the
  * gate depth [[Retrieval.BmImpactP]] never truncates a tiny planted
  * corpus, so these run the parametric depth):
  *
  *  - at an aggressive depth (p = 2) the served top-k must still equal
  *    the exact top-k EXACTLY — safe queries via bounded rescore,
  *    unsafe ones via the fallback; the meter must show the truncation
  *    actually bit (some per-term bound non-zero);
  *  - at a depth past every document frequency the verdict is trivially
  *    safe everywhere (residual budget 0) and nothing is over-rescored;
  *  - meter arithmetic: a safe query rescores a SUBSET of its seen
  *    candidates; an unsafe query pays its full traversal.
  *  - tx_bm25_incremental: the additively-merged base ∪ batch serving
  *    equals tx_bm25_topk row for row.
  */
class Bm25WandSpec extends SparkSpec {

  private def withCorpus[A](docs: Seq[(Long, String)])(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("wand").toString
    try { writeDocTable(dir, docs); f(dir) }
    finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  // Two query docs (0, 50). "common" appears in MANY candidates with
  // varying tf so a depth-2 truncation drops real scorers; "rare" in
  // two docs so its list survives any depth. Candidate ids avoid the
  // %50 == 0 stride.
  private val docs: Seq[(Long, String)] =
    Seq(
      0L -> "rare common q0pad0 q0pad1 q0pad2 q0pad3",
      50L -> "common solo q1pad0 q1pad1 q1pad2 q1pad3",
      1L -> "rare r1a r1b r1c",
      2L -> "solo s2a s2b s2c") ++
      (3L to 30L).filter(_ % 50 != 0).map { k =>
        val reps = 1 + (k % 4).toInt
        k -> (Seq.fill(reps)("common") ++ Seq(s"c${k}a", s"c${k}b")).mkString(" ")
      }

  private def exact(dir: String): Array[Row] =
    graft.SparkEntry.queries("tx_bm25_topk")(spark, dir).collect()

  test("p=2: served top-k equals the exact top-k while truncation is active") {
    withCorpus(docs) { dir =>
      val (served, meter) = Retrieval.wandParts(spark, dir, 2)
      val m = meter.collect()
      assert(served.collect().toSeq == exact(dir).toSeq,
        "rank-safe serving must reproduce the exact ranking")
      // truncation must actually have bitten: 28 docs contain "common",
      // a depth-2 list drops 26 of them.
      assert(m.nonEmpty)
      val unsafeOrRescored = m.exists(r =>
        r.getAs[Long]("safe") == 0L || r.getAs[Long]("n_rescore") > 0L)
      assert(unsafeOrRescored, s"expected active pruning, got ${m.toSeq}")
    }
  }

  test("p past every df: trivially safe everywhere, rescore bounded by seen") {
    withCorpus(docs) { dir =>
      val (served, meter) = Retrieval.wandParts(spark, dir, 1 << 20)
      val m = meter.collect()
      assert(m.forall(_.getAs[Long]("safe") == 1L),
        s"zero residual budget must be declared safe: ${m.toSeq}")
      assert(m.forall(r =>
        r.getAs[Long]("n_rescore") <= r.getAs[Long]("n_seen")))
      assert(served.collect().toSeq == exact(dir).toSeq)
    }
  }

  test("meter arithmetic: safe rescores a subset, unsafe pays the full traversal") {
    withCorpus(docs) { dir =>
      val (_, meter) = Retrieval.wandParts(spark, dir, 2)
      val full = Retrieval.bm25Scored(spark, dir)
        .groupBy("qid").count().collect()
        .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("count")).toMap
      meter.collect().foreach { r =>
        val (qid, safe, seen, resc) = (r.getAs[Long]("qid"),
          r.getAs[Long]("safe"), r.getAs[Long]("n_seen"),
          r.getAs[Long]("n_rescore"))
        if (safe == 1L) assert(resc <= seen, s"q$qid: $resc > seen $seen")
        else assert(resc == full(qid), s"q$qid: fallback must cost the full traversal")
      }
    }
  }

  test("tx_bm25_rm3: expansion retrieves a doc sharing only feedback vocabulary") {
    // "bridge" is the query's retrieval term; docs 1 and 2 match it and
    // both carry "cable", so "cable" dominates the relevance model and
    // joins the probe; doc 3 shares ONLY "cable" — invisible to plain
    // BM25, retrieved after expansion.
    val rmDocs: Seq[(Long, String)] = Seq(
      0L -> "bridge alpha p0a p0b p0c p0d",
      1L -> "bridge cable c1a c1b",
      2L -> "bridge cable c2a c2b",
      3L -> "cable only e3a e3b") ++
      (4L to 9L).map(k => k -> s"f${k}a f${k}b f${k}c")
    withCorpus(rmDocs) { dir =>
      val plain = exact(dir).map(_.getAs[Long]("doc_id")).toSet
      assert(!plain.contains(3L), "doc 3 shares no original query term")
      val rm3 = graft.SparkEntry.queries("tx_bm25_rm3")(spark, dir).collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(rm3.contains(3L),
        s"expansion must surface the cable-only doc: got $rm3")
      assert(rm3.contains(1L) && rm3.contains(2L),
        "original matches must survive expansion")
    }
  }

  test("tx_ql_topk: query doc excluded, shorter doc wins at equal tf, no-overlap docs absent") {
    withCorpus(docs) { dir =>
      val rows = graft.SparkEntry.queries("tx_ql_topk")(spark, dir).collect()
      val q0 = rows.filter(_.getAs[Long]("qid") == 0L)
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("rank")).toMap
      assert(!q0.contains(0L), "query doc must not retrieve itself")
      assert(q0.contains(1L), "the rare-term doc must be retrieved")
      assert(!q0.contains(2L), "a doc sharing no probed term is never a candidate")
      // docs 7, 11, 15 are identical shapes (tf("common")=4, 6 tokens):
      // equal scores must tie-break by ascending doc_id
      val ranks = Seq(7L, 11L, 15L).flatMap(q0.get)
      assert(ranks == ranks.sorted, s"tie-break violated: $q0")
    }
  }

  test("tx_bm25_ndcg: perfect grading when nothing truncates, ratio bounded") {
    withCorpus(docs) { dir =>
      val rows = graft.SparkEntry.queries("tx_bm25_ndcg")(spark, dir).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val (dcg, idcg, ndcg) = (r.getAs[Double]("dcg"),
          r.getAs[Double]("idcg"), r.getAs[Double]("ndcg"))
        assert(idcg > 0 && dcg >= 0 && ndcg >= 0.0 && ndcg <= 1.0)
        assert(ndcg == 1.0,
          s"no truncation at the gate depth on 30 docs ⇒ ideal ranking: $r")
      }
    }
  }

  test("tx_bm25_incremental: merged base ∪ batch serving equals the exact top-k") {
    withCorpus(docs) { dir =>
      val inc = graft.SparkEntry.queries("tx_bm25_incremental")(spark, dir).collect()
      assert(inc.toSeq == exact(dir).toSeq,
        "additive stat merge must serve bit-identically to the rebuild")
    }
  }
}
