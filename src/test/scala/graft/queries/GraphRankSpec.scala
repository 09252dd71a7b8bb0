package graft.queries

import org.apache.spark.sql.functions.{length, lit}

import graft.SparkSpec

/** Semantics of the source-graph family on planted corpora where every
  * number is hand-computable:
  *
  *  - gr_source_graph: one edge per source pair, weighted by DISTINCT
  *    shared shingles (a phrase repeated across many docs of one source
  *    counts once), and an isolated source produces no edge.
  *  - gr_source_rank: an edgeless source holds exactly the teleport
  *    floor round(0.15/n, 6); a symmetric two-node component holds the
  *    uniform rank (its iteration is a fixpoint under 6-dec rounding);
  *    dangling mass evaporates (ranks sum below 1 when an isolated
  *    source exists) — the documented contract, asserted.
  *  - gr_rank_gate / gr_rank_sample: budgets are rank-monotone and sum
  *    to at most B; the sampler emits exactly min(budget, n_docs) docs
  *    per source, and reruns are deterministic.
  */
class GraphRankSpec extends SparkSpec {

  private def writeSrcDocs(dir: String, docs: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def freshDir(docs: Seq[(Long, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graphrank").toString
    writeSrcDocs(dir, docs)
    graft.core.Memo.clear()
    dir
  }

  // a and b share exactly one distinct shingle ("x2 x3 x4"), twice over
  // on a's side (two docs contain it — still ONE distinct shared
  // shingle); c is textually disjoint.
  private def plantedDocs = Seq(
    (1L, "x1 x2 x3 x4", "a"),
    (2L, "x0 x2 x3 x4", "a"),
    (3L, "x2 x3 x4 x5", "b"),
    (4L, "z1 z2 z3 z4", "c"))

  test("edge weights count distinct shared shingles; isolated source has no edge") {
    val dir = freshDir(plantedDocs)
    val edges = GraphRank.queries("gr_source_graph")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(edges.toSeq == Seq(("a", "b", 1L)))
  }

  test("edgeless source holds the teleport floor; symmetric pair holds uniform; dangling mass evaporates") {
    val dir = freshDir(plantedDocs)
    val ranks = GraphRank.queries("gr_source_rank")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // n = 3: teleport floor = round(0.15/3, 6) = 0.05
    assert(ranks("c") == 0.05)
    // a↔b symmetric single edge: r stays round(0.05 + 0.85·r, 6) from
    // r0 = round(1/3, 6) = 0.333333 — a fixpoint at 6 decimals.
    assert(ranks("a") == 0.333333 && ranks("b") == 0.333333)
    // c's initial 0.333333 decays to the floor and its excess leaves
    // the system (no dangling redistribution): total strictly below 1.
    assert(math.abs(ranks.values.sum - (2 * 0.333333 + 0.05)) < 1e-9)
    assert(ranks.values.sum < 1.0)
  }

  test("budgets are rank-monotone, bounded by B, and the sampler emits min(budget, n_docs) per source") {
    val dir = freshDir(plantedDocs)
    val gate = GraphRank.queries("gr_rank_gate")(spark, dir)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    val bTotal = plantedDocs.size / 2
    assert(gate.map(_._4).sum <= bTotal)
    // same pr ⇒ same budget; higher pr ⇒ ≥ budget
    val byPr = gate.sortBy(-_._2).map(_._4)
    assert(byPr.zip(byPr.tail).forall { case (hi, lo) => hi >= lo })
    val kept = GraphRank.queries("gr_rank_sample")(spark, dir)
      .collect().map(_.getString(1)).groupBy(identity).view.mapValues(_.length).toMap
    gate.foreach { case (src, _, nDocs, budget) =>
      assert(kept.getOrElse(src, 0).toLong == math.min(budget, nDocs), src)
    }
  }

  // Three identical docs across a/b/c (every pair overlaps fully) and
  // a textually disjoint d: the mirror subgraph is the a-b-c triangle
  // plus isolated d.
  private def triangleDocs = Seq(
    (1L, "x1 x2 x3 x4 x5", "a"),
    (2L, "x1 x2 x3 x4 x5", "b"),
    (3L, "x1 x2 x3 x4 x5", "c"),
    (4L, "z1 z2 z3 z4 z5", "d"))

  test("mirror pairs carry the overlap coefficient and respect the threshold") {
    val dir = freshDir(plantedDocs)
    // a: 3 distinct shingles, b: 2, shared 1 → ov = 1/2 = 0.5 ≥ 0.1
    val pairs = GraphRank.queries("gr_mirror_pairs")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(pairs.toSeq == Seq(("a", "b", 1L, 0.5)))
  }

  test("components label every source; mirror-linked sources share the min label") {
    val dir = freshDir(triangleDocs)
    val comp = GraphRank.queries("gr_components")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comp == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d"))
  }

  test("component stats aggregate members, docs, and internal mirror weight") {
    val dir = freshDir(triangleDocs)
    val stats = GraphRank.queries("gr_component_stats")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // a-b-c: 3 members, 3 docs, 3 internal edges each sharing 3 shingles
    assert(stats("a") == ((3L, 3L, 3L, 9L)))
    assert(stats("d") == ((1L, 1L, 0L, 0L)))
  }

  test("triangle counts and clustering coefficient on a planted triangle") {
    val dir = freshDir(triangleDocs)
    val tri = GraphRank.queries("gr_triangles")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    Seq("a", "b", "c").foreach { v => assert(tri(v) == ((2L, 1L, 1.0)), v) }
    assert(tri("d") == ((0L, 0L, 0.0)))
  }

  test("keep decision: one canonical source per cluster, best-rank wins, ties to min") {
    val dir = freshDir(triangleDocs)
    val keep = GraphRank.queries("gr_mirror_keep")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3), r.getLong(4)))
    // symmetric triangle: equal ranks, tie to 'a'; singleton d keeps itself
    assert(keep.toSeq == Seq(
      ("a", "a", "a", 1, 1L), ("b", "a", "a", 0, 1L),
      ("c", "a", "a", 0, 1L), ("d", "d", "d", 1, 1L)))
    val keptPerComp = keep.groupBy(_._2).view.mapValues(_.count(_._4 == 1)).toMap
    assert(keptPerComp.values.forall(_ == 1))
  }

  test("rank delta meter: one-step convergence on the planted pair, then zero") {
    val dir = freshDir(plantedDocs)
    val deltas = GraphRank.queries("gr_rank_delta")(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // c decays 0.333333 → 0.05 in iteration 1 (the only movement);
    // the a↔b pair is a 6-dec fixpoint from r0, so iters 2..5 are 0
    assert(deltas(1) == 0.333333 - 0.05)
    (2 to 5).foreach { i => assert(deltas(i) == 0.0, s"iter $i") }
  }

  test("incremental edge merge reconstructs the rebuilt graph exactly") {
    // doc 5 (the %5==0 batch) adds source e sharing b's shingles AND a
    // new shingle to a (doc 10): both delta modes — a brand-new vertex
    // and a new posting on an existing edge's endpoint
    val docs = plantedDocs ++ Seq(
      (5L, "x2 x3 x4 x5", "e"),
      (10L, "x9 x2 x3 x4", "a"))
    val dir = freshDir(docs)
    val merged = GraphRank.queries("gr_graph_incremental")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val rebuilt = GraphRank.queries("gr_source_graph")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(merged == rebuilt)
    assert(merged.exists(_._1 == "e") || merged.exists(_._2 == "e"))
  }

  test("rank computation is deterministic across cache-cleared reruns") {
    val dir = freshDir(plantedDocs)
    val first = GraphRank.queries("gr_source_rank")(spark, dir).collect().toSeq
    graft.core.Memo.clear()
    val second = GraphRank.queries("gr_source_rank")(spark, dir).collect().toSeq
    assert(first == second)
  }
}
