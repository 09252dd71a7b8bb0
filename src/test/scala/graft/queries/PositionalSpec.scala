package graft.queries

import org.apache.spark.sql.functions.{length, lit}

import graft.SparkSpec

/** Positional-retrieval semantics on planted corpora where every
  * occurrence and distance is hand-computable. Probe docs are
  * doc_id % 50 == 0 (the family's QStep), so doc 0 and doc 50 are the
  * query carriers.
  */
class PositionalSpec extends SparkSpec {

  private def freshDir(docs: Seq[(Long, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("positional").toString
    import spark.implicits._
    docs.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.core.Memo.clear()
    dir
  }

  // probe doc 0's phrase is "a b a" (repeated query word); doc 1
  // contains it twice (overlapping occurrences "a b a b a" at starts
  // 0 and 2), doc 2 contains the words but never the phrase.
  private def phraseDocs = Seq(
    (0L, "a b a x y", "s0"),
    (1L, "a b a b a", "s1"),
    (2L, "b a x a b", "s2"))

  test("phrase occurrences: repeated query words, overlapping matches, word-soup non-match") {
    val dir = freshDir(phraseDocs)
    val got = Positional.queries("tx_phrase_search")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // doc 1 has 2 occurrences, doc 0 (self) has 1, doc 2 has 0
    assert(got.toSeq == Seq((0L, 1L, 2L, 1), (0L, 0L, 1L, 2)))
    val meter = Positional.queries("tx_phrase_meter")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(meter.toSeq == Seq((0L, 2L, 3L)))
  }

  test("proximity: plane-sweep min distance equals the hand-computed gap; bound excludes far pairs") {
    // probe doc 50: w1 = "p", w2 = "q" (first differing token).
    // doc 3: p .. q at distance 2 in one direction and q..p at 1 via
    // the middle occurrence; doc 4: p and q distance 12 — outside the
    // W = 10 bound; doc 5: only p — never a pair.
    val docs = Seq(
      (50L, "p p q r", "s0"),
      (3L, "p x q p", "s1"),
      (4L, ("p " + Seq.fill(11)("x").mkString(" ") + " q"), "s2"),
      (5L, "p p p", "s3"))
    val dir = freshDir(docs)
    val got = Positional.queries("tx_proximity")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // doc 50 (self): p at 1, q at 2 → dist 1; doc 3: q at 2, p at 3 → 1
    assert(got.toSeq == Seq((50L, 3L, 1L, 1), (50L, 50L, 1L, 2)))
  }

  test("snippet: best doc's first-match context window, reconstructed in position order") {
    val dir = freshDir(phraseDocs)
    val got = Positional.queries("tx_snippet")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // best doc for "a b a" is doc 1 (2 occurrences); first match at the
    // doc head, so the ±2 window clips to the doc's first 5 tokens
    assert(got.toSeq == Seq((0L, 1L, 2L, "a b a b a")))
  }

  test("capped tier: an over-cap anchor truncates candidates honestly; " +
      "an under-cap anchor stays exact") {
    // probe 0's phrase "a b c": all three words flooded past the 2000
    // cap (anchor df 2503), with one match inside the doc_id-ordered
    // prefix (doc 1) and one beyond it (doc 3000) — the capped tier
    // must find the former, miss the latter, and say exact = 0.
    // probe 50's phrase "p q r": anchor df 3 — exact = 1, rows equal
    // the uncapped search.
    val docs = Seq(
      (0L, "a b c x y", "s0"),
      (1L, "a b c", "s1"),
      (5L, Seq.fill(2500)("a").mkString(" "), "sa"),
      (6L, Seq.fill(2500)("b").mkString(" "), "sb"),
      (7L, Seq.fill(2500)("c").mkString(" "), "sc"),
      (3000L, "a b c", "s9"),
      (50L, "p q r z", "s4"),
      (2L, "p q r p q r", "s5"))
    val dir = freshDir(docs)
    val capped = Positional.queries("tx_phrase_capped")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getAs[Long]("exact")))
    val search = Positional.queries("tx_phrase_search")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // uncapped truth for probe 0: docs 0, 1 AND 3000
    assert(search.filter(_._1 == 0L).map(_._2).toSet == Set(0L, 1L, 3000L))
    // capped: the beyond-prefix doc 3000 is gone, flag honest
    assert(capped.filter(_._1 == 0L).map(_._2).toSet == Set(0L, 1L))
    assert(capped.filter(_._1 == 0L).forall(_._5 == 0L))
    // under-cap probe 50: identical rows, flagged exact
    assert(capped.filter(_._1 == 50L).map(t => (t._1, t._2, t._3, t._4)).toSet
      == search.filter(_._1 == 50L).toSet)
    assert(capped.filter(_._1 == 50L).forall(_._5 == 1L))

    val meter = Positional.queries("tx_phrase_cap_meter")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getAs[Long]("exact"),
        r.getLong(3), r.getLong(4))).toMap
    assert(meter(0L)._1 > 2000L && meter(0L)._2 == 0L)
    assert(meter(0L)._3 == 2L && meter(0L)._4 == 2L)
    assert(meter(50L) == ((3L, 1L, 2L, 3L)))

    // the recall meter prices the miss: probe 0's exact match set is
    // {0, 1, 3000}, the capped tier keeps the prefix docs {0, 1} —
    // n_common == n_capped (capped ⊆ exact, always); the under-cap
    // probe reads full recall
    val rec = Positional.queries("tx_phrase_cap_recall")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rec(0L) == ((3L, 2L, 2L)))
    assert(rec(50L) == ((2L, 2L, 2L)))
  }

  test("bigram route: repeated-word phrases, identical bigrams, and " +
      "overlapping matches all equal the word route") {
    // probe 0: "a b a" (bigrams "a b", "b a") — doc 1 "a b a b a"
    // matches at overlapping starts 0 and 2; probe 50: "z z z"
    // (BOTH bigrams are "z z") — doc 2 "z z z z" matches at starts
    // 0 and 1 through the shared-bigram alignment.
    val docs = Seq(
      (0L, "a b a x y", "s0"),
      (1L, "a b a b a", "s1"),
      (50L, "z z z", "s2"),
      (2L, "z z z z", "s3"))
    val dir = freshDir(docs)
    val bg = Positional.queries("tx_phrase_bigram")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val ws = Positional.queries("tx_phrase_search")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(bg.toSeq == ws.toSeq, "the two routes must return identical rows")
    assert(bg.find(t => t._1 == 0L && t._2 == 1L).map(_._3).contains(2L))
    assert(bg.find(t => t._1 == 50L && t._2 == 2L).map(_._3).contains(2L))
  }

  test("capped-list build: the bounded-heap cut equals the window " +
      "derivation row for row, with no Window in its plan") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    // over-cap word "a" (df 2503 > P=2000) alongside small words — the
    // heap must keep exactly the first P by (doc_id, pos) and all of an
    // under-cap word's postings
    val docs = Seq(
      (0L, "a b c x y", "s0"),
      (1L, "a b c", "s1"),
      (5L, Seq.fill(2500)("a").mkString(" "), "sa"),
      (3000L, "a b c", "s9"))
    val dir = freshDir(docs)
    val idx = Positional.positionalIndex(spark, dir)
    val heap = Positional.cappedCut(idx)
    val window = idx
      .withColumn("arn", row_number().over(
        Window.partitionBy(col("word")).orderBy(col("doc_id"), col("pos"))))
      .filter(col("arn") <= 2000).drop("arn")
    // names and types must match (nullability differs: the aggregate's
    // struct fields are provably non-null; parquet round-trip erases it)
    assert(heap.schema.map(f => (f.name, f.dataType))
      == window.schema.map(f => (f.name, f.dataType)))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getInt(1), r.getString(2))
    assert(heap.collect().map(key).sorted.toSeq
      == window.collect().map(key).sorted.toSeq)
    // word "a": exactly P postings survive, the (doc_id, pos) prefix
    assert(heap.filter(col("word") === "a").count() == 2000L)
    assert(!heap.queryExecution.executedPlan.toString.contains("Window"),
      "the capped build must never single-task-sort a word's postings")
  }

  test("generation serving: the capped tier's plan prunes word buckets at " +
      "the scan and verifies by broadcast probe — no shuffle of postings") {
    import org.apache.spark.sql.functions.col
    val dir = freshDir(phraseDocs ++ Seq((50L, "p q r z", "s4"), (2L, "p q r p", "s5")))
    val root = java.nio.file.Files.createTempDirectory("posplanroot").toString
    try {
      Positional.writePositionalGeneration(spark, dir, root)
      val g = Positional.loadPositionalGeneration(spark, root)
      assert(g.wbN.nonEmpty && g.capped.nonEmpty)
      val qd = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 50 === 0).select(col("doc_id"), col("text"))
      val served = Positional.phraseCappedServeGenBatch(spark, g, qd)
      val plan = served.queryExecution.executedPlan.toString
      // probed words' bucket ids prune gen-N partition directories at
      // planning, and the words push to parquet as a real In predicate
      assert(plan.contains("PartitionFilters: [wb"),
        s"expected wb partition pruning in:\n$plan")
      assert(plan.contains("PushedFilters: [In(word"),
        s"expected pushed word In filter in:\n$plan")
      // the exact-position verification is a broadcast hash probe of the
      // bounded (queries × P × 2) candidate frame onto the pruned scan —
      // never a sort-merge shuffle of the probed words' full postings
      assert(!plan.contains("SortMergeJoin"),
        s"capped verification must not shuffle postings:\n$plan")
      // and the result is still the capped contract, value for value
      val gate = Positional.queries("tx_phrase_capped")(spark, dir)
      assert(served.collect().map(_.toSeq).toSet
        == gate.collect().map(_.toSeq).toSet)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  // shared corpus for the n-token route tests: overlapping repeated-word
  // matches (doc 1), a 4-token prefix decoy (doc 2), a 2-token double
  // match (doc 3), a non-adjacent decoy (doc 4), a 4-token phrase host
  // (doc 5), and a 1-token tf case (doc 6)
  private def nTokenDocs = Seq(
    (1L, "a b a b a b a", "s1"),
    (2L, "a b a b x", "s2"),
    (3L, "p q p q", "s3"),
    (4L, "p x q", "s4"),
    (5L, "w x y z t", "s5"),
    (6L, "a a a", "s6"))

  test("n-token phrases: the bigram chain equals the word route at lengths " +
      "2, 4 and 5 — including repeated words and overlapping matches") {
    import spark.implicits._
    val dir = freshDir(nTokenDocs)
    val queries = Seq(
      (100L, "a b a b a"), // 5 tokens, repeated words, overlap in doc 1
      (101L, "p q"),       // 2 tokens — no non-anchor bigram to verify
      (102L, "w x y z"),   // 4 tokens — a 3-bigram chain
      (103L, "a")          // 1 token — word route only
    ).toDF("doc_id", "text")
    val word = Positional.phraseOccFull(spark, dir, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(word == Set(
      (100L, 1L, 2L),                            // starts 0 and 2 overlap
      (101L, 3L, 2L),
      (102L, 5L, 1L),
      (103L, 1L, 4L), (103L, 2L, 2L), (103L, 6L, 3L)))
    val bigram = Positional.phraseBigramOccFull(spark, dir, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // route equivalence at every length ≥ 2 (1-token has no bigram)
    assert(bigram == word.filterNot(_._1 == 103L))
  }

  test("the auto serving entry expresses the route choice: bigram-first on a " +
      "full generation, the P-cut bound on a pre-bigram one, word route " +
      "for 1-token phrases") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = freshDir(nTokenDocs)
    val rootA = java.nio.file.Files.createTempDirectory("posautoA").toString
    val rootB = java.nio.file.Files.createTempDirectory("posautoB").toString
    try {
      Positional.writePositionalGeneration(spark, dir, rootA)
      val gA = Positional.loadPositionalGeneration(spark, rootA)
      val queries = Seq((200L, "a b a b a"), (201L, "a")).toDF("doc_id", "text")
      val servedA = Positional.phraseServeGenBatchAuto(spark, gA, queries)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getAs[Long]("exact"), r.getString(5)))
      // multi-token phrase answered EXACT through the biword chain
      assert(servedA.filter(_._1 == 200L).toSeq
        == Seq((200L, 1L, 2L, 1, 1L, "bigram")))
      // 1-token phrase: the word route, tf-ranked (4, 3, 2 ties by id)
      assert(servedA.filter(_._1 == 201L).map(t => (t._2, t._3, t._4)).toSeq
        == Seq((1L, 4L, 1), (6L, 3L, 2), (2L, 2L, 3)))
      assert(servedA.filter(_._1 == 201L).forall(t => t._5 == 1L && t._6 == "word"))

      // pre-bigram generation: same commit minus the bigrams slice —
      // the auto entry falls back to the P-cut bound, flags honest
      Positional.writePositionalGeneration(spark, dir, rootB)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$rootB/gen-1/bigrams"))
      val gB = Positional.loadPositionalGeneration(spark, rootB)
      assert(gB.bigrams.isEmpty)
      val servedB = Positional.phraseServeGenBatchAuto(spark, gB, queries)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getAs[Long]("exact"), r.getString(5)))
      // same rows (anchor df far under the cap → still exact), capped route
      assert(servedB.filter(_._1 == 200L).toSeq
        == Seq((200L, 1L, 2L, 1, 1L, "capped")))
      assert(servedB.filter(_._1 == 201L).map(t => (t._2, t._3, t._4)).toSeq
        == servedA.filter(_._1 == 201L).map(t => (t._2, t._3, t._4)).toSeq)
      assert(servedB.filter(_._1 == 201L).forall(_._6 == "word"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(rootA))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(rootB))
    }
  }

  test("a serving batch whose bounded probe frame exceeds the broadcast " +
      "budget degrades to the semi-join and still answers exactly") {
    import spark.implicits._
    // one 4005-token phrase → probe bound (L−1) × P = 4004 × 2000 >
    // CapVerifyBroadcastMax — the capped verification must take the
    // semi-join path instead of failing the batch on a broadcast limit
    val toks = (0 until 4005).map(i => s"t$i")
    val dir = freshDir(Seq(
      (1L, toks.mkString(" "), "s1"), (2L, "t7 t8 x", "s2")))
    val root = java.nio.file.Files.createTempDirectory("poscapfall").toString
    try {
      Positional.writePositionalGeneration(spark, dir, root)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$root/gen-1/bigrams")) // force the capped route
      val g = Positional.loadPositionalGeneration(spark, root)
      val q = Seq((300L, toks.mkString(" "))).toDF("doc_id", "text")
      val served = Positional.phraseServeGenBatchAuto(spark, g, q)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getAs[Long]("exact"), r.getString(5)))
      assert(served.toSeq == Seq((300L, 1L, 1L, 1, 1L, "capped")))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("results are deterministic across cache-cleared reruns") {
    val dir = freshDir(phraseDocs)
    val first = Positional.queries("tx_phrase_search")(spark, dir).collect().toSeq
    graft.core.Memo.clear()
    val second = Positional.queries("tx_phrase_search")(spark, dir).collect().toSeq
    assert(first == second)
  }

  test("word-bucketed generation routes equal the memoized index route") {
    // a committed generation serves its probed words through bucket +
    // word In filters on the wb-partitioned postings (wbN = Some(nb));
    // this pins that pruned route row-for-row equal to the unpruned
    // semi-join on the session's memoized index, for every core that
    // takes a modulus — serveLatestProximity has no parity spec of its
    // own, so this is the one check of proximityOn's pruned branch
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val docs = Seq(
      (0L, "a b a x y", "s0"),
      (1L, "a b a b a", "s1"),
      (2L, "b a x a b", "s2"),
      (50L, "p p q r", "s0"),
      (3L, "p x q p", "s1"))
    val dir = freshDir(docs)
    val root = java.nio.file.Files.createTempDirectory("poswbroot").toString
    try {
      Positional.writePositionalGeneration(spark, dir, root)
      val g = Positional.loadPositionalGeneration(spark, root)
      assert(g.postings.columns.contains("wb") && g.wbN.exists(_ >= 16))
      val memoIdx = Positional.positionalIndex(spark, dir)
      val phrases = Positional.queryPhrases(spark, dir)
      val cf = Some(Positional.positionalCf(spark, dir))
      def same(pruned: DataFrame, memo: DataFrame, what: String): Unit =
        assert(pruned.exceptAll(memo).isEmpty && memo.exceptAll(pruned).isEmpty,
          s"$what: pruned route must equal the memoized route")
      same(
        Positional.phraseStartsOn(spark, g.postings, phrases, g.wbN, cf = cf),
        Positional.phraseStartsOn(spark, memoIdx, phrases, cf = cf),
        "exact phrase starts")
      val capped = Some(Positional.cappedIndex(spark, dir))
      same(
        Positional.phraseAnchorParts(spark, g.postings, phrases, capped, g.wbN,
          cf = cf)._1,
        Positional.phraseAnchorParts(spark, memoIdx, phrases, capped,
          cf = cf)._1,
        "capped phrase starts")
      same(
        Positional.snippetOn(spark, g.postings, phrases, g.wbN, cf = cf),
        Positional.snippetOn(spark, memoIdx, phrases, cf = cf),
        "snippets")
      val pt = Seq(
        (0L, Seq("a", "b", "a", "x", "y")),
        (50L, Seq("p", "p", "q", "r"))).toDF("qid", "toks")
      same(
        Positional.proximityOn(spark, g.postings, pt, g.wbN),
        Positional.proximityOn(spark, memoIdx, pt),
        "proximity pairs")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }
}
