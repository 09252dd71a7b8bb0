package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the corpus-scaled IVF quantizer (VERDICT r03 #2: fixed 10-cell
  * blocking is quadratic at scale — nlist must grow with the corpus and
  * the per-cell pair count must be METERED, not assumed).
  *
  * Two halves:
  *  1. gate invariance — at the gate SFs (n ≤ 2000) nlistFor floors to
  *     the 10 seed labels, so the trained quantizer is the per-label-mean
  *     table and every existing oracle hash is untouched;
  *  2. scale behavior — past the floor, cells split (residual-sign
  *     refinement + re-trained exact-DECIMAL means), the largest cell
  *     shrinks versus label-only blocking, and exact clones still land
  *     in the same cell (the locality contract near-dup blocking needs).
  */
class IvfScaleSpec extends SparkSpec {

  test("nlistFor floors to 10 at gate SFs and grows ~sqrt(n) beyond") {
    assert(Similarity.nlistFor(500) === 10)
    assert(Similarity.nlistFor(2000) === 10) // sqrt(2000/20) = 10 exactly
    assert(Similarity.splitBitsFor(2000) === 0)
    assert(Similarity.nlistFor(5000) === 16)
    assert(Similarity.splitBitsFor(5000) === 1)
    assert(Similarity.nlistFor(20000) === 32)
    assert(Similarity.splitBitsFor(20000) === 2)
    // ratio to sqrt(n/20) stays within 2x (power-of-2 split granularity)
    for (n <- Seq(50000L, 2000000L, 100000000L)) {
      val cells = 10 * (1 << Similarity.splitBitsFor(n))
      val target = math.sqrt(n / 20.0)
      assert(cells >= target && cells <= 4 * target)
    }
  }

  test("gate corpus keeps exactly the 10 label cells (oracle invariance)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, s"$dir not present")
    val r = Similarity.embCellStats(spark, dir).collect()(0)
    assert(r.getAs[Int]("split_bits") === 0)
    assert(r.getAs[Int]("nlist_target") === 10)
    assert(r.getAs[Long]("cells_used") === 10L)
    assert(r.getAs[Long]("n_vectors") === 500L)
    // the seed quantizer (dedup_emb_cos's blocking key) is the label
    // identity at the floor — the oracle keeps its label-join form
    val sr = Similarity.seedCellStats(spark, dir).collect()(0)
    assert(sr.getAs[Int]("split_bits") === 0)
    assert(sr.getAs[Long]("cells_used") === 10L)
    assert(sr.getAs[Long]("n_vectors") === 500L)
  }

  test("EVERY gate corpus dir sits below the b=0 floor (oracle-equivalence guard)") {
    // dedup_emb_cos blocks on seedCellAssignments while its DuckDB
    // oracle keeps the raw label join; the two are equivalent ONLY while
    // splitBitsFor(n) == 0. sf0.1 (n = 2000) sits exactly on the floor
    // boundary, so a regenerated corpus with one more embedding would
    // flip b to 1 and hash-mismatch a query whose logic didn't change —
    // this guard makes that failure mode a named assertion over every
    // gate directory present, not a mystery gate red.
    val dirs = Option(new java.io.File("/root/testdata").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("sf"))
      .filter(f => new java.io.File(f, "embeddings.parquet").exists())
    assume(dirs.nonEmpty, "no gate corpus directories present")
    for (d <- dirs) {
      val n = spark.read.parquet(s"${d.getPath}/embeddings.parquet").count()
      assert(Similarity.splitBitsFor(n) === 0,
        s"${d.getName}: n=$n flips the seed quantizer past the b=0 floor — " +
          "parameterize the dedup_emb_cos oracle on the seed cell before " +
          "trusting the gate")
    }
  }

  test("ann_seed_cells_scaled exercises b=2 and genuinely splits the label cells") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, s"$dir not present")
    val out = Similarity.seedCellsScaledGate(spark, dir)
    val cells = out.select("cell").distinct().count()
    val sb = out.select("split_bits").head().getInt(0)
    assert(sb === 2)
    // 10 labels × 2^2 sign patterns = 40 possible cells; the replica
    // shifts must actually scatter vectors across >10 of them, or the
    // gate query would be hash-checking the b=0 identity in disguise
    assert(cells > 10L && cells <= 40L, s"cells=$cells")
  }

  test("gate corpus: two-level assignment is the b=0 identity (exact, 2 fine cands)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, s"$dir not present")
    val r = Similarity.coarseAssignStats(spark, dir).collect()(0)
    assert(r.getAs[Long]("agree_flat") === r.getAs[Long]("n_vectors"))
    assert(r.getAs[Long]("coarse_cells") === 10L)
    assert(r.getAs[Long]("fine_cells") === 10L)
    // b = 0: the fine pass touches exactly the 2 coarse-winner cells
    assert(r.getAs[Long]("fine_dist_rows") === 2L * r.getAs[Long]("n_vectors"))
    assert(r.getAs[Long]("flat_dist_rows") === 10L * r.getAs[Long]("n_vectors"))
  }

  test("past the floor, cells split and bound within-cell pairs") {
    import spark.implicits._
    val n = 3000
    val dim = 8
    // 10 well-separated label clusters; within a cluster, coordinates
    // cycle through 7 deterministic offsets, so i and i+700 are EXACT
    // clones (same label, same offsets) — the locality probe below.
    val rows = (0 until n).map { i =>
      val label = i % 10
      val emb = Array.tabulate(dim)(d =>
        (label * 10.0 + ((i / 10 + d * 3) % 7) * 0.3).toFloat)
      (i.toLong, emb, label)
    }
    val dir = java.nio.file.Files.createTempDirectory("ivfscale").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    graft.core.Memo.clear()
    try {
      val r = Similarity.embCellStats(spark, dir).collect()(0)
      info(s"cells_used=${r.getAs[Long]("cells_used")} " +
        s"max_cell=${r.getAs[Long]("max_cell")} " +
        s"within_cell_pairs=${r.getAs[Long]("within_cell_pairs")}")
      assert(r.getAs[Int]("nlist_target") === 13) // ceil(sqrt(150))
      assert(r.getAs[Int]("split_bits") === 1)
      assert(r.getAs[Long]("n_vectors") === n.toLong) // every vector, once
      assert(r.getAs[Long]("cells_used") > 10L)
      // label-only blocking: 10 cells of 300 -> max_cell 300, pairs 448500
      assert(r.getAs[Long]("max_cell") < 300L)
      assert(r.getAs[Long]("within_cell_pairs") < 448500L)
      // the seed quantizer (dedup_emb_cos's blocking key) splits the
      // same way past the floor — its within-cell pair count must beat
      // label-only blocking, or dedup_emb_cos is quadratic again
      val sr = Similarity.seedCellStats(spark, dir).collect()(0)
      assert(sr.getAs[Long]("n_vectors") === n.toLong)
      assert(sr.getAs[Long]("cells_used") > 10L)
      assert(sr.getAs[Long]("max_cell") < 300L)
      assert(sr.getAs[Long]("within_cell_pairs") < 448500L)
      // exact clones must share a cell (residual signs are identical)
      val asg = Similarity.assignments(spark, dir)
      val cloneSplit = asg.toDF("va", "ca")
        .join(asg.toDF("vb", "cb"), $"vb" === $"va" + 700)
        .filter($"ca" =!= $"cb").count()
      assert(cloneSplit === 0L)
      // two-level (coarse → fine) assignment past the floor: on this
      // well-separated corpus the pruned argmin must agree with the flat
      // argmin for every vector, while doing strictly less distance work
      val cs = Similarity.coarseAssignStats(spark, dir).collect()(0)
      info(s"coarse meter: agree=${cs.getAs[Long]("agree_flat")}/" +
        s"${cs.getAs[Long]("n_vectors")} " +
        s"fine_dist_rows=${cs.getAs[Long]("fine_dist_rows")} " +
        s"flat_dist_rows=${cs.getAs[Long]("flat_dist_rows")}")
      assert(cs.getAs[Long]("agree_flat") === cs.getAs[Long]("n_vectors"))
      assert(cs.getAs[Long]("coarse_cells") === 10L)
      assert(cs.getAs[Long]("fine_cells") > 10L)
      assert(cs.getAs[Long]("fine_dist_rows") < cs.getAs[Long]("flat_dist_rows"))
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
