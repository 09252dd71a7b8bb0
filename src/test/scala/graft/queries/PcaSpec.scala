package graft.queries

import graft.SparkSpec

/** Pins the SEMANTICS of the PCA family (ann_pca_project /
  * ann_pca_var) on crafted corpora — the DuckDB oracle re-trains the
  * axis hash-exact at three SFs; these tests pin what the trained axis
  * MEANS: it finds a planted dominant direction, explains its variance,
  * and projections separate the populations the direction separates.
  */
class PcaSpec extends SparkSpec {

  private def writeVecs(dir: String, vecs: Seq[(Long, Array[Float], Int)]): Unit = {
    import spark.implicits._
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  test("the trained axis recovers a planted dominant direction") {
    val dir = java.nio.file.Files.createTempDirectory("pca_dir").toString
    try {
      val d = 16
      val u = Array.tabulate(d)(i => if (i % 2 == 0) 1.0 else -1.0)
        .map(_ / math.sqrt(d.toDouble))
      val r = new scala.util.Random(7)
      // x_i = a_i·u + 0.05·noise, a_i ∈ [-3, 3]
      val vecs = (0L until 200L).map { i =>
        val a = (i % 7).toDouble - 3.0
        val x = Array.tabulate(d)(j => (a * u(j) + 0.05 * r.nextGaussian()).toFloat)
        (i, x, (i % 4).toInt)
      }
      writeVecs(dir, vecs)
      val varRow = graft.SparkEntry.queries("ann_pca_var")(spark, dir).collect()(0)
      assert(varRow.getLong(0) == 200L)
      assert(varRow.getDouble(1) > 0.9,
        s"planted low-rank corpus must read high variance explained: $varRow")
      // projections must order with the planted coefficient a_i = (i%7)-3:
      // correlation of proj with a is ±1-ish (sign of the axis is free)
      val proj = graft.SparkEntry.queries("ann_pca_project")(spark, dir)
        .collect().map(r2 => r2.getLong(0) -> r2.getDouble(2)).toMap
      val a = (0L until 200L).map(i => (i % 7).toDouble - 3.0)
      val p = (0L until 200L).map(proj)
      def corr(x: Seq[Double], y: Seq[Double]): Double = {
        val n = x.length
        val (mx, my) = (x.sum / n, y.sum / n)
        val cov = x.zip(y).map { case (a0, b0) => (a0 - mx) * (b0 - my) }.sum
        val sx = math.sqrt(x.map(v => (v - mx) * (v - mx)).sum)
        val sy = math.sqrt(y.map(v => (v - my) * (v - my)).sum)
        cov / (sx * sy)
      }
      assert(math.abs(corr(a, p)) > 0.99,
        s"projection must recover the planted coefficient, corr=${corr(a, p)}")
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("deflation recovers a planted second direction") {
    val dir = java.nio.file.Files.createTempDirectory("pca_r2").toString
    try {
      val d = 16
      // orthogonal planted pair, both with nonzero overlap with the
      // fixed 1/sqrt(d) start
      val u1 = Array.tabulate(d)(i => if (i % 2 == 0) 1.0 else 0.0)
        .map(_ / math.sqrt(8.0))
      val u2 = Array.tabulate(d)(i => if (i % 2 == 1) 1.0 else 0.0)
        .map(_ / math.sqrt(8.0))
      val r = new scala.util.Random(13)
      val coefs = (0L until 240L).map { i =>
        val a = (i % 7).toDouble - 3.0        // dominant component
        val b = ((i % 5).toDouble - 2.0) / 2  // weaker second component
        (i, a, b)
      }
      writeVecs(dir, coefs.map { case (i, a, b) =>
        (i, Array.tabulate(d)(j =>
          (a * u1(j) + b * u2(j) + 0.02 * r.nextGaussian()).toFloat),
          (i % 4).toInt)
      })
      val varRow = graft.SparkEntry.queries("ann_pca_var")(spark, dir).collect()(0)
      val (v1, v2) = (varRow.getDouble(1), varRow.getDouble(2))
      assert(v1 > v2 && v2 > 0.05, s"rank-2 split expected: $varRow")
      assert(v1 + v2 > 0.95, s"two components must carry a rank-2 corpus: $varRow")
      val proj = graft.SparkEntry.queries("ann_pca_project")(spark, dir)
        .collect().map(r2 => r2.getLong(0) -> (r2.getDouble(2), r2.getDouble(3))).toMap
      def corr(x: Seq[Double], y: Seq[Double]): Double = {
        val n = x.length
        val (mx, my) = (x.sum / n, y.sum / n)
        val cov = x.zip(y).map { case (a0, b0) => (a0 - mx) * (b0 - my) }.sum
        cov / (math.sqrt(x.map(v => (v - mx) * (v - mx)).sum)
          * math.sqrt(y.map(v => (v - my) * (v - my)).sum))
      }
      val ids = coefs.map(_._1)
      val p1 = ids.map(i => proj(i)._1)
      val p2 = ids.map(i => proj(i)._2)
      assert(math.abs(corr(coefs.map(_._2), p1)) > 0.99,
        "proj1 must recover the dominant coefficient")
      assert(math.abs(corr(coefs.map(_._3), p2)) > 0.99,
        "proj2 must recover the deflated second coefficient")
      assert(math.abs(corr(p1, p2)) < 0.1,
        "the two projections must be decorrelated")
      // when two components carry the geometry, the PCA-grid tier's
      // 3×3 neighborhood holds most true neighbors (observed 0.712
      // here, vs 0.176 on the near-uniform sf0.1 corpus). Not 1.0 by
      // NATURE of the metric mismatch the meter exists to expose:
      // cosine is angular, the lattice is euclidean — collinear clumps
      // at different radii share a direction but not a cell.
      val rec = graft.SparkEntry.queries("ann_pca_recall")(spark, dir)
        .collect().map(r2 => (r2.getLong(1), r2.getLong(3)))
      val recall = rec.map(_._2).sum.toDouble / rec.map(_._1).sum
      assert(recall > 0.6,
        s"grid recall on a rank-2 corpus should be substantial, got $recall")
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("an isotropic corpus reads variance explained near 1/d") {
    val dir = java.nio.file.Files.createTempDirectory("pca_iso").toString
    try {
      val d = 16
      val r = new scala.util.Random(11)
      writeVecs(dir, (0L until 400L).map(i =>
        (i, Array.fill(d)(r.nextGaussian().toFloat), (i % 4).toInt)))
      val varRow = graft.SparkEntry.queries("ann_pca_var")(spark, dir).collect()(0)
      // no direction dominates: PC1 of an isotropic cloud carries
      // roughly 1/d of the variance (loose band — finite sample)
      assert(varRow.getDouble(1) < 3.0 / d,
        s"isotropic corpus must read low variance explained: $varRow")
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
