package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the IVF-PQ tier (round 5): codebook geometry, quantization
  * quality, and an observed recall floor on the gate corpus. The gate
  * oracles pin exact values; this spec pins the QUALITY contract — the
  * numbers the M/K/shortlist sweep was tuned against (SCALING.md) — so
  * a quantizer regression fails loudly even if it stays self-consistent
  * with its own oracle.
  */
class PqSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def present = new java.io.File(dir).isDirectory

  test("codebook geometry and quantization error on the gate corpus") {
    assume(present, s"$dir not present")
    val r = Similarity.queries("ann_pq_codes")(spark, dir).collect()(0)
    // M=16 × K ≤ 2^(4 sign bits + 3 radial bits) = 128; rows above the
    // 16-orthant floor prove the radial splits actually produced groups,
    // rows at/below the cap prove no code id escaped the bit budget
    assert(r.getAs[Long]("codebook_rows") > 256L,
      "radial-split seeding produced no extra codebook rows")
    assert(r.getAs[Long]("codebook_rows") <= 16L * 128L)
    assert(r.getAs[Long]("codes_used") <= 16L * 128L)
    // round-5 orthant codebook measured 163.8 vs 478.7 (34%); the
    // round-11 radial-split + 1-Lloyd codebook must stay strictly
    // better than the old half-energy bar
    assert(r.getAs[Double]("quant_error") <
      r.getAs[Double]("resid_energy") * 0.5,
      "PQ codes must explain at least half the residual energy")
  }

  test("recall@5 against exact brute force stays above the floor") {
    assume(present, s"$dir not present")
    import spark.implicits._
    val rec = Similarity.queries("ann_pq_recall")(spark, dir)
      .agg((sum($"n_common").cast("double") / sum($"n_exact")).as("recall"))
      .collect()(0).getDouble(0)
    info(f"observed PQ recall@5 = $rec%.3f (measured 0.648 at the round-10 " +
      "nprobe=4 serving default; 0.392 at the round-5 nprobe=2 tuning)")
    assert(rec >= 0.4, f"PQ recall@5 collapsed: $rec%.3f")
  }

  test("on a clustered corpus (the realistic embedding shape) recall is high") {
    // the gate corpus's vectors are near-uniform, so every ANN tier's
    // recall tracks its scanned fraction — the honest worst case
    // (SCALING.md). Real embedding spaces are CLUSTERED; this pins that
    // the modest gate-corpus recall is a data property, not an
    // implementation defect: 10 well-separated clusters, within-cluster
    // structure that PQ codes can capture, same M=16/K=16 geometry.
    import spark.implicits._
    val dim = 64
    // 10 separated clusters × 40 families of 5: family members share a
    // unit-scale random offset from the cluster center plus tiny jitter,
    // so each vector's true top-4 are its family mates, separated from
    // the rest of the cell by the cross-family offset distance — the
    // "near-duplicate families in a clustered space" shape real
    // embedding corpora have
    val centers = {
      val r = new scala.util.Random(3)
      Array.fill(10, dim)(r.nextGaussian() * 4.0)
    }
    val rows = (0 until 2000).map { i =>
      val label = i % 10
      val fam = (i / 10) % 40
      val fr = new scala.util.Random(label * 1000 + fam)
      val offset = Array.fill(dim)(fr.nextGaussian() * 1.5)
      val jr = new scala.util.Random(900000 + i)
      val emb = Array.tabulate(dim)(d =>
        (centers(label)(d) + offset(d) + jr.nextGaussian() * 0.02).toFloat)
      (i.toLong, emb, label)
    }
    val tmp = java.nio.file.Files.createTempDirectory("pqclustered").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    graft.core.Memo.clear()
    try {
      val rec = Similarity.queries("ann_pq_recall")(spark, tmp)
        .agg((sum($"n_common").cast("double") / sum($"n_exact")).as("recall"))
        .collect()(0).getDouble(0)
      info(f"clustered-corpus PQ recall@5 = $rec%.3f")
      assert(rec >= 0.8, f"PQ recall should be high on clustered data: $rec%.3f")
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }
}
