package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Memo, Staging, Tables}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`Array[Float]` column, TESTDATA.md).
  *
  * Three tiers, same output shape (probe, rank, neighbor, cosine):
  *  - `ann_topk`        — brute-force exact baseline. The probe set is
  *    broadcast; the big side streams through one codegen'd projection,
  *    and top-k-per-probe happens via the bounded-heap GroupedTopK
  *    aggregate (shuffle O(probes × k)). Cost O(probes × vectors) — correct at any scale
  *    but linear in the corpus; the baseline the ANN tiers are judged
  *    against.
  *  - `ann_ivf_topk`    — IVF with the stored `label` as the coarse
  *    quantizer assignment (nprobe=1): search only the probe's own
  *    cluster. At 100 TB the cluster id is a parquet partition key →
  *    partition pruning makes the scan itself O(corpus / nlist).
  *  - `ann_lsh_topk`    — sign-LSH: 8 hyperplanes = coordinate signs of
  *    dims 1..8 → 256 buckets; candidates share the probe's bucket.
  *    Fully portable/deterministic (no RNG — the planes are axis-aligned;
  *    swap in seeded random hyperplanes at production scale).
  *
  * All cosine arithmetic is sequential-left-fold DOUBLE (bit-identical
  * in the DuckDB oracle); norms are computed once per vector before any
  * join.
  */
object Similarity {

  /** dot(x, y): native codegen'd left fold in double (same summation
    * order as the oracle's list_reduce — see [[graft.functions.FloatDot]]).
    */
  private def dot(x: Column, y: Column): Column =
    graft.functions.FloatDot.floatDot(x, y)

  /** Metadata-filter modulus for the filtered-search family
    * (ann_filtered_topk / ann_filtered_ivf / ann_postfilter_recall):
    * allowed(vector) ⇔ vec_id % AnnFilterMod == 0 — a ~25%-selective
    * predicate UNCORRELATED with cell geometry by construction, standing
    * in for an arbitrary metadata filter (source / date / licence). One
    * definition; the oracle SQL interpolates the same constant.
    */
  private[graft] val AnnFilterMod = 4

  /** Unfiltered shortlist size for the post-filter route measured by
    * ann_postfilter_recall (the route real systems fall back to when the
    * index cannot push the predicate down). Same constant interpolated
    * into the oracle.
    */
  private[graft] val PostFilterShortlist = 20

  /** Number of sign-LSH tables in the multi-table tier (ann_lsh_multi):
    * table t reads the signs of dims 8t+1..8t+8, so 4 tables consume
    * dims 1..32 of the 64-dim corpus. One definition; the oracle SQL
    * interpolates the same constant. Multi-table OR'ing is the standard
    * remedy for the single-table tier's low recall (the S-curve: P[all
    * T tables miss] = (1 − s^8)^T), at T× the index size.
    */
  private[graft] val LshTables = 4

  /** Sign-LSH bucket of dims off+1..off+8: Σ 2^(i-1)·[e_{off+i} > 0].
    * The transform runs over the slice itself, so the vector is an
    * argument of the expression, not only a lambda-body reference: with
    * a constant argument, the self-joins of [[vecs]] (probes against the
    * corpus) intermittently got a bucket filter pushed to the wrong join
    * side when queries were planned concurrently.
    */
  private def signBucketAt(e: Column, off: Int): Column = aggregate(
    transform(slice(e, off + 1, 8),
      (x, i) => when(x > 0f, pow(lit(2), i).cast("long")).otherwise(0L)),
    lit(0L), (acc, v) => acc + v)

  /** Sign-LSH bucket of dims 1..8: Σ 2^(i-1)·[e_i > 0]. */
  private def signBucket(e: Column): Column = signBucketAt(e, 0)

  /** (vec_id, embedding, norm2, t, bucket) — each vector exploded into
    * its [[LshTables]] per-table sign buckets; the multi-table index.
    */
  private def multiBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    vecs(s, dir).select($"vec_id", $"embedding", $"norm2",
      explode(array((0 until LshTables).map(t =>
        struct(lit(t).as("t"),
          signBucketAt($"embedding", t * 8).as("bucket"))): _*)).as("tb"))
      .select($"vec_id", $"embedding", $"norm2",
        $"tb.t".as("t"), $"tb.bucket".as("bucket"))
  }

  /** [[vecs]] plus the int8 code book: per-vector absolute max and the
    * rounded 127/vmax quantization — the PARITY-CRITICAL front end shared
    * by both quantized serving queries (ann_quantized_topk,
    * ann_ivf_quantized); the oracle-side twin is [[QuantCte]]. One copy
    * each side so a rounding/ordering tweak can never drift between the
    * two queries.
    */
  private def quantizedVecs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val absMax = aggregate(
      transform($"embedding", x => abs(x.cast("double"))),
      lit(0.0), (acc, x) => greatest(acc, x))
    vecs(s, dir)
      .withColumn("vmax", absMax)
      .withColumn("qv", transform($"embedding",
        x => round(x.cast("double") * 127.0 / $"vmax").cast("long")))
  }

  /** Vectors with precomputed squared norm (+ LSH bucket). */
  private[queries] def vecs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).embeddings
      .repartition(s.sparkContext.defaultParallelism)
      .select(
      $"vec_id", $"label", $"embedding",
      dot($"embedding", $"embedding").as("norm2"),
      signBucket($"embedding").as("bucket"))
  }

  /** Per-probe top-k via the bounded-heap [[graft.functions.GroupedTopK]]
    * aggregate, not `row_number().over(partitionBy(probe))`: the window
    * form sorts EVERY candidate pair per probe partition, while the
    * aggregate keeps a k-element heap with partial aggregation — each map
    * task ships at most k pairs per probe, so at 100 TB the shuffle is
    * O(probes × k) and nothing is fully sorted. Ordering (cos desc,
    * neighbor asc) matches the oracle's row_number ordering exactly.
    */
  private def topk(pairs: DataFrame, k: Int)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    pairs
      .groupBy($"probe")
      .agg(graft.functions.GroupedTopK.groupedTopK($"cos", $"neighbor", k).as("top"))
      .select($"probe", posexplode($"top").as(Seq("pos", "t")))
      .select($"probe", ($"pos" + 1).as("rank"), $"t.id".as("neighbor"),
        round($"t.ord", 6).as("cos"))
      .orderBy($"probe", $"rank")
  }

  /** Session memo of the EXACT brute-force reference ranking — the
    * 25-probe top-10 (probe, rank, neighbor, cos), persisted once per
    * (session, corpus). This one frame was derived independently by
    * ann_topk AND the exact arm of every recall meter (lsh, lsh_multi,
    * imi, pq, pca — five brute-force 25 × corpus × d passes per bench
    * run where one answers all of them; r18, guide §2.4 — ReuseExchange
    * shares subtrees within one action, never across queries).
    * [[graft.functions.GroupedTopK]]'s (cos desc, id asc) order is
    * TOTAL, so any top-k ≤ 10 is a rank prefix: the recall arms read
    * `rank <= 5`, bit-identical to their old per-query topk(pairs, 5)
    * (pca's arm projected the same rows through pcaCells — same
    * (probe, neighbor, cos) multiset, same fold). */
  private[queries] def exactTop10(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Similarity.exact_top10") {
      implicit val sp: SparkSession = s
      import s.implicits._
      val v = vecs(s, dir)
      val probes = v.filter($"vec_id" < 25)
        .select($"vec_id".as("probe"), $"embedding".as("pe"), $"norm2".as("pn"))
      val pairs = v.join(broadcast(probes), $"vec_id" =!= $"probe")
        .withColumn("cos", dot($"pe", $"embedding") / sqrt($"pn" * $"norm2"))
        .select($"probe", $"vec_id".as("neighbor"), $"cos")
      topk(pairs, 10).persist()
    }

  /** The recall meters' exact reference set: the memoized ranking's
    * top-5 (probe, neighbor) prefix. */
  private def exactRef5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    exactTop10(s, dir).filter($"rank" <= 5).select($"probe", $"neighbor")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact brute-force baseline: 25 probes × corpus — the session
    // memo IS this query's frame (see exactTop10).
    "ann_topk" -> { (s, dir) => exactTop10(s, dir) },

    // IVF (nprobe=1): restrict the search to the probe's own cluster.
    "ann_ivf_topk" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val v = vecs(s, dir)
      val probes = v.filter($"vec_id" < 50)
        .select($"vec_id".as("probe"), $"label".as("plabel"),
          $"embedding".as("pe"), $"norm2".as("pn"))
      val pairs = v.join(broadcast(probes),
        $"label" === $"plabel" && $"vec_id" =!= $"probe")
        .withColumn("cos", dot($"pe", $"embedding") / sqrt($"pn" * $"norm2"))
        .select($"probe", $"vec_id".as("neighbor"), $"cos")
      topk(pairs, 5)
    },

    // Sign-LSH: candidates share the probe's 8-bit sign bucket.
    "ann_lsh_topk" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val v = vecs(s, dir)
      val probes = v.filter($"vec_id" < 50)
        .select($"vec_id".as("probe"), $"bucket".as("pbucket"),
          $"embedding".as("pe"), $"norm2".as("pn"))
      val pairs = v.join(broadcast(probes),
        $"bucket" === $"pbucket" && $"vec_id" =!= $"probe")
        .withColumn("cos", dot($"pe", $"embedding") / sqrt($"pn" * $"norm2"))
        .select($"probe", $"vec_id".as("neighbor"), $"cos")
      topk(pairs, 5)
    },

    // Observed sign-LSH recall against the exact brute force — closes
    // the metered-recall contract for the last unmetered approximate
    // tier (simhash drops, LSH-jaccard, IVF cells, IMI, PQ all carry
    // one). Single 8-bit bucket: the coarsest/cheapest tier — the meter
    // is what tells a user when one hyperplane byte is not enough.
    "ann_lsh_recall" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      val v = vecs(s, dir)
      val probes = v.filter($"vec_id" < 25)
        .select($"vec_id".as("probe"), $"bucket".as("pbucket"),
          $"embedding".as("pe"), $"norm2".as("pn"))
      // (r17 note: a one-pass union rewrite and a localCheckpoint form
      // both MEASURED SLOWER here — the arms' expensive exchanges are
      // already shared by ReuseExchange within the one action. Original
      // shape kept; r18 replaces the exact arm with the shared memoized
      // reference ranking instead.)
      val ex5 = exactRef5(s, dir)
      val lshPairs = v.join(broadcast(probes),
        $"bucket" === $"pbucket" && $"vec_id" =!= $"probe")
        .withColumn("cos", dot($"pe", $"embedding") / sqrt($"pn" * $"norm2"))
        .select($"probe", $"vec_id".as("neighbor"), $"cos")
      val l5 = topk(lshPairs, 5).select($"probe", $"neighbor")
      val nExact = ex5.groupBy($"probe").agg(count(lit(1)).as("n_exact"))
      val nLsh = l5.groupBy($"probe").agg(count(lit(1)).as("n_lsh"))
      val nCommon = ex5.join(l5, Seq("probe", "neighbor"), "left_semi")
        .groupBy($"probe").agg(count(lit(1)).as("n_common"))
      nExact.join(nLsh, Seq("probe"), "left")
        .join(nCommon, Seq("probe"), "left")
        .select($"probe",
          $"n_exact",
          coalesce($"n_lsh", lit(0L)).as("n_lsh"),
          coalesce($"n_common", lit(0L)).as("n_common"))
        .orderBy($"probe")
    },

    "ann_centroids" -> { (s, dir) => centroids(s, dir) },

    // The IVF cell-geometry METER as a first-class, oracle-checked query
    // (same contract as dedup_simhash_drops: the quantizer's blocking
    // cost must be queryable per corpus; see [[embCellStats]]).
    "ann_ivf_cells" -> { (s, dir) => embCellStats(s, dir) },

    // The b > 0 regime under the oracle gate: a deterministic 8-33×
    // replica corpus forces split_bits = 2 and every residual-sign cell
    // assignment is hash-checked (see [[seedCellsScaledGate]]).
    "ann_seed_cells_scaled" -> { (s, dir) => seedCellsScaledGate(s, dir) },

    // ...and the retrain half: the one-Lloyd-step trained-centroid means
    // per scaled seed cell, hash-checked per (cell, dim < 4).
    "ann_centroids_scaled" -> { (s, dir) => centroidsScaledGate(s, dir) },

    "ann_quantize" -> { (s, dir) => quantize(s, dir) },

    // The two-level assignment meter as a first-class, oracle-checked
    // query (the embCellStats/simhashDropStats contract): the coarse
    // pre-quantizer's agreement with the flat argmin and the measured
    // distance-fold row counts of both routes. At the gate SFs b = 0,
    // so coarse == fine and agree_flat == n_vectors exactly — the oracle
    // replays the same two-level procedure, not a constant.
    "ann_ivf_coarse" -> { (s, dir) => coarseAssignStats(s, dir) },

    // IVF with the TRAINED coarse quantizer and nprobe=2: vectors are
    // assigned to their nearest trained centroid (full 64-dim L2,
    // argmin with deterministic label tie-break); each probe searches
    // the cells of its TWO nearest centroids. This is the production
    // IVF shape — the quantizer comes from the training step
    // (ann_centroids), not from a stored label, and multi-probe buys
    // recall at cell-boundary probes for 2× the candidate set.
    // Scale: centroids are a nlistFor(n) ∝ √n row broadcast; assignment
    // is one codegen'd zip_with fold per (vector, centroid); candidates
    // join on the assigned cell — at 100 TB the cell id is the
    // partition key, exactly like ann_ivf_topk.
    "ann_ivf2_topk" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val v = vecs(s, dir)
      val va = v.join(assignments(s, dir), "vec_id")
      // each probe's 2 nearest centroids: ord = −dist (GroupedTopK keeps
      // the largest ords, tie → smaller id), matching the oracle's
      // ORDER BY d, clabel
      val pcells = centroidDists(s, dir).filter($"vec_id" < 50)
        .groupBy($"vec_id")
        .agg(graft.functions.GroupedTopK.groupedTopK(-$"d", $"clabel".cast("long"), 2).as("top"))
        .select($"vec_id".as("probe"), explode($"top.id").as("pcell"))
      val probes = v.filter($"vec_id" < 50)
        .select($"vec_id".as("probe"), $"embedding".as("pe"), $"norm2".as("pn"))
        .join(pcells, "probe")
      val pairs = va.join(broadcast(probes),
        $"alabel" === $"pcell" && $"vec_id" =!= $"probe")
        .withColumn("cos", dot($"pe", $"embedding") / sqrt($"pn" * $"norm2"))
        .select($"probe", $"vec_id".as("neighbor"), $"cos")
      topk(pairs, 5)
    },

    // Two-stage RETRIEVE → RESCORE in the int8-quantized domain: stage 1
    // ranks every (probe, vector) pair by the cosine reconstructed from
    // int8 codes (the cheap pass — at scale int8 dots are 4× smaller
    // memory traffic and SIMD-friendly; here the integer dot is exact
    // BIGINT arithmetic, portable to the oracle bit-for-bit), keeps the
    // top-20 candidates per probe via the bounded heap, then stage 2
    // rescores ONLY those 20 with the exact float cosine and emits the
    // top-5. The standard serving pattern over a quantized index:
    // full-precision vectors are touched for 20 candidates, not the
    // whole corpus.
    "ann_quantized_topk" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val v = quantizedVecs(s, dir)
      val probes = v.filter($"vec_id" < 25)
        .select($"vec_id".as("probe"), $"embedding".as("pe"), $"norm2".as("pn"),
          $"vmax".as("pmax"), $"qv".as("pq"))
      val approx = v.join(broadcast(probes), $"vec_id" =!= $"probe")
        .withColumn("dotq", aggregate(
          zip_with($"pq", $"qv", (a, b) => a * b), lit(0L), (acc, x) => acc + x))
        .withColumn("approx",
          ($"dotq".cast("double") * $"pmax" * $"vmax" / (127.0 * 127.0))
            / sqrt($"pn" * $"norm2"))
      val cand = approx
        .groupBy($"probe")
        .agg(graft.functions.GroupedTopK.groupedTopK($"approx", $"vec_id", 20).as("top"))
        .select($"probe", explode($"top.id").as("neighbor"))
      val pairs = cand
        .join(v.select($"vec_id".as("neighbor"), $"embedding", $"norm2"), "neighbor")
        .join(broadcast(probes.select($"probe", $"pe", $"pn")), "probe")
        .withColumn("cos", dot($"pe", $"embedding") / sqrt($"pn" * $"norm2"))
        .select($"probe", $"neighbor", $"cos")
      topk(pairs, 5)
    },

    // The full 100 TB SERVING plan: IVF cell restriction (nprobe=2,
    // trained quantizer) composed with the int8 retrieve→rescore
    // two-stage pass. ann_quantized_topk demonstrated the quantized
    // domain on a FLAT index (every vector scanned in int8);
    // ann_ivf2_topk demonstrated cell pruning at full precision. Here
    // the cheap int8 ranking runs only over the probe's two cells
    // (candidate set O(corpus/nlist) — a partition-prunable scan at
    // scale), the bounded heap keeps 20 per probe, and full-precision
    // vectors are touched for those 20 alone.
    "ann_ivf_quantized" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val v = quantizedVecs(s, dir)
      val va = v.join(assignments(s, dir), "vec_id")
      val pcells = centroidDists(s, dir).filter($"vec_id" < 25)
        .groupBy($"vec_id")
        .agg(graft.functions.GroupedTopK.groupedTopK(-$"d", $"clabel".cast("long"), 2).as("top"))
        .select($"vec_id".as("probe"), explode($"top.id").as("pcell"))
      val probes0 = v.filter($"vec_id" < 25)
        .select($"vec_id".as("probe"), $"embedding".as("pe"), $"norm2".as("pn"),
          $"vmax".as("pmax"), $"qv".as("pq"))
      val probesC = probes0.join(pcells, "probe")
      val approx = va.join(broadcast(probesC),
        $"alabel" === $"pcell" && $"vec_id" =!= $"probe")
        .withColumn("dotq", aggregate(
          zip_with($"pq", $"qv", (a, b) => a * b), lit(0L), (acc, x) => acc + x))
        .withColumn("approx",
          ($"dotq".cast("double") * $"pmax" * $"vmax" / (127.0 * 127.0))
            / sqrt($"pn" * $"norm2"))
      val cand = approx
        .groupBy($"probe")
        .agg(graft.functions.GroupedTopK.groupedTopK($"approx", $"vec_id", 20).as("top"))
        .select($"probe", explode($"top.id").as("neighbor"))
      val pairs = cand
        .join(v.select($"vec_id".as("neighbor"), $"embedding", $"norm2"), "neighbor")
        .join(broadcast(probes0.select($"probe", $"pe", $"pn")), "probe")
        .withColumn("cos", dot($"pe", $"embedding") / sqrt($"pn" * $"norm2"))
        .select($"probe", $"neighbor", $"cos")
      topk(pairs, 5)
    },

    // IVF with a SAMPLE-TRAINED quantizer (nprobe=2): identical serving
    // plan to ann_ivf2_topk, but the centroids are the DECIMAL-exact
    // means of a deterministic 20% sample (md5(vec_id) % 5 == 0 — the
    // portable replayable-sampling trick tx_sample_stratified uses), not
    // of the full corpus. This is the extreme-n training posture: the
    // Lloyd pass costs O(|sample|·d) instead of O(n·d), and since
    // k-means centroids are means, a uniform sample estimates them with
    // error O(1/√(cell sample size)) — the standard IVF practice (train
    // on ~max(10⁶, 50·nlist) points, assign everything). Assignment
    // still scans the full corpus — that cost is inherent to indexing —
    // and cells may differ from the full-trained quantizer's near cell
    // boundaries; the meter query below makes the resulting geometry
    // observable. Gate corpora sample 100-400 vectors over 10 labels,
    // so the oracle mirrors the sampled means bit-for-bit.
    "ann_ivf_sampled_topk" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val v = vecs(s, dir)
      val va = v.join(assignmentsFrom(sampledDists(s, dir)), "vec_id")
      val pcells = sampledDists(s, dir).filter($"vec_id" < 50)
        .groupBy($"vec_id")
        .agg(graft.functions.GroupedTopK.groupedTopK(-$"d", $"clabel".cast("long"), 2).as("top"))
        .select($"vec_id".as("probe"), explode($"top.id").as("pcell"))
      val probes = v.filter($"vec_id" < 50)
        .select($"vec_id".as("probe"), $"embedding".as("pe"), $"norm2".as("pn"))
        .join(pcells, "probe")
      val pairs = va.join(broadcast(probes),
        $"alabel" === $"pcell" && $"vec_id" =!= $"probe")
        .withColumn("cos", dot($"pe", $"embedding") / sqrt($"pn" * $"norm2"))
        .select($"probe", $"vec_id".as("neighbor"), $"cos")
      topk(pairs, 5)
    },

    // Cell-geometry meter for the sample-trained quantizer (the
    // embCellStats contract): how the sampled training's cells compare
    // to the full training's, plus the observed training-set size. The
    // within_cell_pairs delta between this and ann_ivf_cells IS the
    // measured cost of training on 20% of the data.
    "ann_ivf_sampled_cells" -> { (s, dir) =>
      import s.implicits._
      val sampleN = Tables(s, dir).embeddings
        .filter(sampleCond).agg(count(lit(1)).as("sample_size"))
      assignmentsFrom(sampledDists(s, dir))
        .groupBy($"alabel").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("cells_used"),
          max($"c").as("max_cell"),
          sum($"c").as("n_vectors"),
          expr("sum(c * (c - 1)) div 2").as("within_cell_pairs"))
        .crossJoin(broadcast(sampleN))
    },

    // The IMI product-cell geometry meter, oracle-checked like every
    // other index meter (see [[imiCellStats]]).
    "ann_imi_cells" -> { (s, dir) => imiCellStats(s, dir) },

    // Inverted MULTI-index search: each probe takes its top-2 centroids
    // PER HALF and searches the ≤4 product cells they span. Versus
    // ann_ivf2_topk at the same codebook size the candidate cells are
    // K²-fine instead of K-coarse, so the scanned candidate set shrinks
    // by ~K× while the probe-side argmin work is unchanged — the
    // Babenko–Lempitsky multi-index tradeoff, with recall governed by
    // the per-half probe width exactly as nprobe governs IVF. At 100 TB
    // the product cell id is the partition key, same as every IVF tier.
    "ann_imi_topk" -> { (s, dir) => imiTopk(s, dir, 50) },

    // Observed IMI recall against the exact brute force (the metered-
    // recall contract every approximate tier here honors: simhash drop
    // meter, LSH recall, IVF cell meters). Per probe: the exact top-5,
    // the ≤4-product-cell top-5, and their overlap — the number the
    // per-half probe width (here 2) is tuned against on a real corpus.
    "ann_imi_recall" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // r17 optimization: one-pass overlap counter (see ann_lsh_recall);
      // r18: exact arm from the shared memoized reference ranking
      val ex5 = exactRef5(s, dir)
      val imi5 = imiTopk(s, dir, 25).select($"probe", $"neighbor")
      graft.core.Overlap.counts(ex5, imi5, "probe", "neighbor",
        "n_exact", "n_imi", requireRight = true)
        .orderBy($"probe")
    },

    // IVF-PQ: the remaining tier of the 100 TB serving story — residual
    // product-quantization codes inside the trained cells, asymmetric
    // (lookup-table) distance over the codes, exact rescore of the
    // top-50 shortlist (knob measured by the ScaleProbe sweep: at fixed
    // nprobe the shortlist is free in ADC cost and buys ~5pp recall). At scale the candidate scan reads M bytes of codes per
    // vector instead of d floats — memory traffic shrinks ~d·4/M×, and
    // the ADC table is probes × M × K rows, broadcast.
    "ann_pq_topk" -> { (s, dir) => pqTopk(s, dir, 50) },

    // Observed PQ recall against the exact brute force (the
    // metered-recall contract every approximate tier honors — the
    // number M/K/nprobe are tuned against on a real corpus).
    "ann_pq_recall" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // r17 optimization: one-pass overlap counter (see ann_lsh_recall);
      // r18: exact arm from the shared memoized reference ranking
      val ex5 = exactRef5(s, dir)
      val pq5 = pqTopk(s, dir, 25).select($"probe", $"neighbor")
      graft.core.Overlap.counts(ex5, pq5, "probe", "neighbor",
        "n_exact", "n_pq", requireRight = true)
        .orderBy($"probe")
    },

    // PQ code-geometry + quantization-quality meter (the embCellStats
    // contract): codebook size, codes actually used, and the residual
    // energy before vs after PQ reconstruction — the variance the codes
    // fail to explain IS the approximation error ADC ranking carries,
    // made queryable per corpus. Exact-DECIMAL sums keep the energies
    // partition-order free. (Oracle twin of the ann_serving_index meter
    // sits with the other PQ oracles below.)
    "ann_pq_codes" -> { (s, dir) =>
      import s.implicits._
      val book = pqCodebook(s, dir).agg(count(lit(1)).as("codebook_rows"))
      val used = pqCodes(s, dir).select($"m", $"code").distinct()
        .agg(count(lit(1)).as("codes_used"))
      val energies = pqSubvectors(s, dir)
        .join(pqCodes(s, dir), Seq("vec_id", "m"))
        .join(broadcast(pqCodebook(s, dir)), Seq("m", "code"))
        .withColumn("re", aggregate(
          zip_with($"sub", $"sub", (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x))
        .withColumn("qe", aggregate(
          zip_with($"sub", $"cvq", (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x))
        .agg(
          round(sum($"re".cast("decimal(27,10)")).cast("double"), 6)
            .as("resid_energy"),
          round(sum($"qe".cast("decimal(27,10)")).cast("double"), 6)
            .as("quant_error"))
      energies.crossJoin(broadcast(book)).crossJoin(broadcast(used))
        .select($"codebook_rows", $"codes_used",
          $"resid_energy", $"quant_error")
    },

    // The SERVING-INDEX artifact under the hash gate: pqServingIndex is
    // the exact frame the streaming serving twins consume (cell routing
    // + per-vector code arrays + norms + embeddings), and this meter
    // pins its derivation against the oracle's independently re-trained
    // assignment + code chain — row count, cell count, code-array
    // width, total code mass, a vec↔cell pairing checksum, and the
    // DECIMAL-exact norm mass. A drift anywhere in the join (dropped
    // vectors, misrouted cells, reordered code arrays) moves at least
    // one column.
    "ann_serving_index" -> { (s, dir) =>
      import s.implicits._
      pqServingIndex(s, dir)
        .select($"vec_id", $"cell",
          aggregate($"codes", lit(0L), (acc, x) => acc + x).as("cmass"),
          size($"codes").cast("long").as("m_width"),
          $"norm2")
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct($"cell").as("n_cells"),
          min($"m_width").as("m_min"),
          max($"m_width").as("m_max"),
          // modular convention (QueryFns.checksumAgg): Spark's BIGINT
          // sum wraps where DuckDB's HUGEINT doesn't — accumulate in
          // DECIMAL(38,0), reduce mod 2^61-1, so both engines agree at
          // any corpus scale (~1e11 vectors with nlist ∝ √n overflows
          // a plain 64-bit route_mass sum)
          QueryFns.checksumAgg($"cmass").as("code_mass"),
          QueryFns.checksumAgg(($"vec_id" % 997) * $"cell").as("route_mass"),
          round(sum($"norm2".cast("decimal(27,6)")).cast("double"), 4)
            .as("norm_mass"))
    },

    // Cluster-balanced SUBSAMPLING: keep ceil(sqrt(n_c)) deterministic
    // md5-ranked members of each trained quantizer cell — the
    // diversity-preserving downsample of an embedded corpus (big
    // clusters compressed hardest, sqrt the standard flattening —
    // the learned-cluster analogue of tx_mix_temperature's per-lang
    // flattening and tx_source_cap's per-source cap, for corpora with
    // no curated strata). One partial+final agg for the per-cell
    // quotas (broadcast back), one cell-PARTITIONED window for the
    // rank — never a global sort; at 100 TB the cell is the shuffle
    // key exactly as in every IVF-family operator.
    "ann_cluster_sample" -> { (s, dir) =>
      import s.implicits._
      val asg = assignments(s, dir)
        .select($"vec_id", $"alabel".cast("long").as("cell"))
      val quotas = asg.groupBy($"cell")
        .agg(count(lit(1)).as("n_cell"))
        .withColumn("quota", ceil(sqrt($"n_cell")).cast("long"))
      asg
        .withColumn("rk", QueryFns.hash48($"vec_id".cast("string")))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"cell").orderBy($"rk", $"vec_id")))
        .join(broadcast(quotas), "cell")
        .filter($"rn" <= $"quota")
        .select($"vec_id", $"cell", $"n_cell", $"quota")
        .orderBy($"vec_id")
    },

    // Embedding near-dup blocked by the TRAINED centroid assignment
    // (closing the loop the label-blocked dedup_emb_cos documents): the
    // blocking key comes from the IVF training step, so the operator is
    // self-contained on corpora with no curated labels — the realistic
    // 100 TB case. Same candidate discipline: pairs only within a cell.
    "dedup_emb_cos_ivf" -> { (s, dir) =>
      import s.implicits._
      ivfCosPairs(s, dir)
        .select($"ia", $"ib", round($"cos", 6).as("cos"))
        .orderBy($"ia", $"ib")
    },

    // SEMANTIC DEDUPLICATION (SemDeDup — Abbas et al. 2023, "SemDeDup:
    // Data-efficient learning at web-scale through semantic
    // deduplication"; public): within each trained quantizer cell, a
    // vector is DROPPED when any lower-id vector of the same cell sits
    // above the cosine gate; the emitted row is the drop DECISION —
    // (vec_id, kept_id = smallest such anchor, n_earlier, max_cos).
    // Keep-smallest-id is the family's keep-first convention
    // (dedup_drop_list's analogue for embeddings), the standard
    // transitive-free approximation of the paper's per-cluster greedy.
    // Shares [[ivfCosPairs]] with dedup_emb_cos_ivf — same staged
    // assignment artifact, same within-cell candidate discipline, so
    // the scale posture is inherited: never all-pairs, cells ∝ √n.
    "dedup_semantic" -> { (s, dir) =>
      import s.implicits._
      ivfCosPairs(s, dir)
        .groupBy($"ib")
        .agg(min($"ia").as("kept_id"), count(lit(1)).as("n_earlier"),
          round(max($"cos"), 6).as("max_cos"))
        .select($"ib".as("vec_id"), $"kept_id", $"n_earlier", $"max_cos")
        .orderBy($"vec_id")
    },

    // INCREMENTAL (delta) embedding dedup — the vector-modality twin of
    // dedup_incremental: a new batch of vectors (vec_id % 5 == 0)
    // deduped against the existing corpus within trained cells. The
    // asymmetric join cannot generate existing×existing pairs, so the
    // per-ingest cost tracks the BATCH (new vectors × their cells'
    // existing occupants), never the corpus. The cell assignment rides
    // the same staged artifact as the batch family; in production the
    // stored quantizer (trained on the indexed corpus — at the gate
    // regime, identical) assigns incoming vectors, making the centroid
    // table the only artifact an ingest worker needs. Output is the
    // per-new-vector DECISION: its best existing match (highest cosine,
    // ties to the smallest existing id) at the family's ≥ 0.4 gate.
    "dedup_emb_incremental" -> { (s, dir) =>
      import s.implicits._
      embIncrementalMatches(s, dir)
        // deterministic argmax by (cos desc, oi asc) — one struct-min
        // aggregate on the new-vector id, no window sort
        .groupBy($"ni")
        .agg(min(struct((-$"cos").as("ncos"), $"oi".as("oi"))).as("pick"))
        .select($"ni".as("new_id"), $"pick.oi".as("dup_of"),
          round(-$"pick.ncos", 6).as("cos"))
        .orderBy($"new_id")
    },

    // Multi-table sign-LSH serving: candidates share ANY of the 4
    // tables' buckets with the probe (union-distinct of 4 equi-joins —
    // never pairwise). The standard fix for the single-table tier's
    // S-curve miss rate, bought with 4× index rows; ann_lsh_multi_recall
    // meters what it bought.
    "ann_lsh_multi" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val mb = multiBuckets(s, dir)
      val probes = mb.filter($"vec_id" < 50)
        .select($"vec_id".as("probe"), $"t".as("pt"), $"bucket".as("pbucket"),
          $"embedding".as("pe"), $"norm2".as("pn"))
      val pairs = mb.join(broadcast(probes),
        $"t" === $"pt" && $"bucket" === $"pbucket" && $"vec_id" =!= $"probe")
        .withColumn("cos", dot($"pe", $"embedding") / sqrt($"pn" * $"norm2"))
        .select($"probe", $"vec_id".as("neighbor"), $"cos")
        .distinct()
      topk(pairs, 5)
    },

    // The meter: exact top-5 vs multi-table top-5 per probe — directly
    // comparable with ann_lsh_recall's single-table numbers (same
    // probes, same truth).
    "ann_lsh_multi_recall" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      // r18: exact arm from the shared memoized reference ranking
      val ex5 = exactRef5(s, dir)
      val mb = multiBuckets(s, dir)
      val mprobes = mb.filter($"vec_id" < 25)
        .select($"vec_id".as("probe"), $"t".as("pt"), $"bucket".as("pbucket"),
          $"embedding".as("pe"), $"norm2".as("pn"))
      val lshPairs = mb.join(broadcast(mprobes),
        $"t" === $"pt" && $"bucket" === $"pbucket" && $"vec_id" =!= $"probe")
        .withColumn("cos", dot($"pe", $"embedding") / sqrt($"pn" * $"norm2"))
        .select($"probe", $"vec_id".as("neighbor"), $"cos")
        .distinct()
      val l5 = topk(lshPairs, 5).select($"probe", $"neighbor")
      val nExact = ex5.groupBy($"probe").agg(count(lit(1)).as("n_exact"))
      val nLsh = l5.groupBy($"probe").agg(count(lit(1)).as("n_lsh"))
      val nCommon = ex5.join(l5, Seq("probe", "neighbor"), "left_semi")
        .groupBy($"probe").agg(count(lit(1)).as("n_common"))
      nExact.join(nLsh, Seq("probe"), "left")
        .join(nCommon, Seq("probe"), "left")
        .select($"probe", $"n_exact",
          coalesce($"n_lsh", lit(0L)).as("n_lsh"),
          coalesce($"n_common", lit(0L)).as("n_common"))
        .orderBy($"probe")
    },

    // INDEX-MAINTENANCE meter: where does an arriving batch land in the
    // trained cells, and how far would it pull each centroid? Existing =
    // vec_id % 5 != 0, new = the incremental batch (the family's
    // standing split). Per cell: occupancy of both populations plus the
    // squared-L2 shift of the leading-4-dim cell mean between
    // existing-only and existing+new (exact DECIMAL sums → double,
    // pos-ordered 4-term fold — the ann_centroids discipline). This is
    // the retrain trigger a production ingest loop watches: cells whose
    // occupancy or mean drifts past a threshold re-run their Lloyd
    // step; the rest keep serving the staged centroids.
    "ann_centroid_drift" -> { (s, dir) =>
      import s.implicits._
      val va = Tables(s, dir).embeddings
        .join(assignments(s, dir), "vec_id")
        .select($"vec_id", $"alabel".as("cell"),
          slice($"embedding", 1, 4).as("e4"))
      val counts = va.groupBy($"cell").agg(
        sum(when($"vec_id" % 5 =!= 0, 1L).otherwise(0L)).as("n_existing"),
        sum(when($"vec_id" % 5 === 0, 1L).otherwise(0L)).as("n_new"))
      def means(df: DataFrame, out: String) = df
        .select($"cell", posexplode($"e4").as(Seq("pos", "x")))
        .groupBy($"cell", $"pos")
        .agg((sum($"x".cast("double").cast("decimal(27,10)")).cast("double")
          / count(lit(1))).as(out))
      val drift = means(va, "m_all")
        .join(means(va.filter($"vec_id" % 5 =!= 0), "m_exist"), Seq("cell", "pos"))
        .groupBy($"cell")
        .agg(sort_array(collect_list(struct($"pos", $"m_all", $"m_exist"))).as("ds"))
        .withColumn("drift4", aggregate($"ds", lit(0.0),
          (acc, t) => acc + (t.getField("m_all") - t.getField("m_exist"))
            * (t.getField("m_all") - t.getField("m_exist"))))
      counts.join(drift, "cell")
        .select($"cell".cast("long").as("cell"), $"n_existing", $"n_new",
          round($"drift4" * 1e6, 4).as("drift4_ppm"))
        .orderBy($"cell")
    },

    // ——— PCA over the embedding corpus ———
    // The dimensionality-reduction front end (PCA/OPQ rotation prelude)
    // as a first-class, oracle-replayed artifact: the staged axis comes
    // from PcaIters deterministic power-iteration rounds, and the
    // oracle SQL re-trains it with the SAME generated round count
    // (PcaCte — the PqLloydSteps discipline).

    // Per-vector projection onto the trained top TWO principal
    // components (the 2-D sketch of the corpus): proj1 = r·v₁ as a
    // position-ordered sequential fold; proj2 = r₂·v₂ over the
    // deflated residual r₂ = r − proj1·v₁. One narrow pass over the
    // corpus against a broadcast 3d-value artifact.
    "ann_pca_project" -> { (s, dir) =>
      import s.implicits._
      val (mu, v1, v2) = pcaArrays(s, dir)
      val v1L = typedlit(v1.toSeq)
      Tables(s, dir).embeddings
        .select($"vec_id", $"label",
          zip_with($"embedding", typedlit(mu.toSeq),
            (x, m) => x.cast("double") - m).as("r"))
        .withColumn("c1", aggregate(zip_with($"r", v1L, (a, b) => a * b),
          lit(0.0), (acc, t) => acc + t))
        .withColumn("c2", aggregate(zip_with(
            zip_with($"r", v1L, (a, b) => a - $"c1" * b),
            typedlit(v2.toSeq), (a, b) => a * b),
          lit(0.0), (acc, t) => acc + t))
        .select($"vec_id", $"label",
          (round($"c1", 4) + 0.0).as("proj1"),
          (round($"c2", 4) + 0.0).as("proj2"))
        .orderBy($"vec_id")
    },

    // Variance-explained meter of the trained axes — Σ(r·vᵢ)² / Σ‖r‖²
    // per component over the corpus, all sums DECIMAL-exact at (27,4)
    // so the scaled value stays double-exact on both engines. The
    // observability numbers that say how many components are worth
    // serving (a planted rank-2 corpus reads var1+var2 ≳ 0.95;
    // isotropic ones read ~1/d each).
    "ann_pca_var" -> { (s, dir) =>
      import s.implicits._
      val (mu, v1, v2) = pcaArrays(s, dir)
      val v1L = typedlit(v1.toSeq)
      Tables(s, dir).embeddings
        .select(zip_with($"embedding", typedlit(mu.toSeq),
          (x, m) => x.cast("double") - m).as("r"))
        .withColumn("c1", aggregate(zip_with($"r", v1L, (a, b) => a * b),
          lit(0.0), (acc, t) => acc + t))
        .withColumn("c2", aggregate(zip_with(
            zip_with($"r", v1L, (a, b) => a - $"c1" * b),
            typedlit(v2.toSeq), (a, b) => a * b),
          lit(0.0), (acc, t) => acc + t))
        .withColumn("n2", aggregate($"r", lit(0.0), (acc, t) => acc + t * t))
        .agg(count(lit(1)).as("n_vectors"),
          sum(($"c1" * $"c1").cast("decimal(27,4)")).cast("double").as("s1"),
          sum(($"c2" * $"c2").cast("decimal(27,4)")).cast("double").as("s2"),
          sum($"n2".cast("decimal(27,4)")).cast("double").as("sn"))
        .select($"n_vectors", round($"s1" / $"sn", 6).as("var1"),
          round($"s2" / $"sn", 6).as("var2"))
    },

    // PCA-grid ANN tier: candidates share the probe's 3×3 neighborhood
    // on the 2-D projection lattice — the trained-sketch analogue of
    // the sign-LSH bucket (data-adaptive where the hyperplane byte is
    // fixed). Equi-join on (cx, cy), exact-cosine verify, bounded-heap
    // top-5; at 100 TB the cell id is a partition-prunable key like
    // every IVF tier's.
    "ann_pca_topk" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val cells = pcaCells(s, dir)
      val probed = cells.filter($"vec_id" < 50)
        .select($"vec_id".as("probe"), $"embedding".as("pe"),
          $"norm2".as("pn"), $"cx".as("pcx"), $"cy".as("pcy"))
        .withColumn("d", explode(typedlit(PcaNeighborhood)))
        .select($"probe", $"pe", $"pn",
          ($"pcx" + $"d._1").as("cx"), ($"pcy" + $"d._2").as("cy"))
      val pairs = cells.join(broadcast(probed), Seq("cx", "cy"))
        .filter($"vec_id" =!= $"probe")
        .withColumn("cos", dot($"pe", $"embedding") / sqrt($"pn" * $"norm2"))
        .select($"probe", $"vec_id".as("neighbor"), $"cos")
      topk(pairs, 5)
    },

    // Cell-geometry meter for the PCA grid (the embCellStats/imiCells
    // pattern): occupied lattice cells, the largest, and the candidate
    // volume a probe of the worst cell would scan — grid blowup is
    // observed, not assumed.
    "ann_pca_cells" -> { (s, dir) =>
      import s.implicits._
      pcaCells(s, dir)
        .groupBy($"cx", $"cy").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("cells_used"),
          max($"c").as("max_cell"),
          sum($"c").as("n_vectors"),
          (sum($"c" * ($"c" - 1)) / 2).cast("long").as("within_cell_pairs"))
    },

    // Observed PCA-grid recall against the exact brute force — the
    // metered-recall contract applied to the new tier (every
    // approximate tier on the board carries one).
    "ann_pca_recall" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val cells = pcaCells(s, dir)
      val probes = cells.filter($"vec_id" < 25)
        .select($"vec_id".as("probe"), $"embedding".as("pe"),
          $"norm2".as("pn"), $"cx".as("pcx"), $"cy".as("pcy"))
      // r18: exact arm from the shared memoized reference ranking —
      // pcaCells carries vecs' rows 1:1 (a projection-column extension),
      // so the old cells-based brute force computed the same
      // (probe, neighbor, cos) multiset
      val ex5 = exactRef5(s, dir)
      val probed = probes
        .withColumn("d", explode(typedlit(PcaNeighborhood)))
        .select($"probe", $"pe", $"pn",
          ($"pcx" + $"d._1").as("cx"), ($"pcy" + $"d._2").as("cy"))
      val gridPairs = cells.join(broadcast(probed), Seq("cx", "cy"))
        .filter($"vec_id" =!= $"probe")
        .withColumn("cos", dot($"pe", $"embedding") / sqrt($"pn" * $"norm2"))
        .select($"probe", $"vec_id".as("neighbor"), $"cos")
      val g5 = topk(gridPairs, 5).select($"probe", $"neighbor")
      ex5.groupBy($"probe").agg(count(lit(1)).as("n_exact"))
        .join(g5.groupBy($"probe").agg(count(lit(1)).as("n_grid")), "probe")
        .join(ex5.join(g5, Seq("probe", "neighbor"))
          .groupBy($"probe").agg(count(lit(1)).as("n_common")),
          Seq("probe"), "left")
        .select($"probe", $"n_exact", $"n_grid",
          coalesce($"n_common", lit(0L)).as("n_common"))
        .orderBy($"probe")
    },

    // ——— Filtered vector search (metadata predicate + top-k) ———
    // allowed(neighbor) ⇔ vec_id % AnnFilterMod == 0 (see the constant's
    // doc). Three routes: exact pre-filter truth, pre-filter through the
    // trained IVF index, and the post-filter recall meter.

    // PRE-filter exact baseline: the predicate is applied to the corpus
    // side BEFORE the distance join — at 100 TB it reaches the parquet
    // scan as a pushed filter, so the scan itself shrinks by the filter
    // selectivity and the top-k is exact over the allowed subset. This
    // is the truth the approximate / post-filter routes are judged
    // against.
    "ann_filtered_topk" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val v = vecs(s, dir)
      val probes = v.filter($"vec_id" < 25)
        .select($"vec_id".as("probe"), $"embedding".as("pe"), $"norm2".as("pn"))
      val pairs = v.filter($"vec_id" % AnnFilterMod === 0)
        .join(broadcast(probes), $"vec_id" =!= $"probe")
        .withColumn("cos", dot($"pe", $"embedding") / sqrt($"pn" * $"norm2"))
        .select($"probe", $"vec_id".as("neighbor"), $"cos")
      topk(pairs, 5)
    },

    // PRE-filter through the trained IVF index (nprobe=2): candidates =
    // (probe's 2 nearest cells) ∩ (allowed) — the predicate lands BELOW
    // the distance computation, so the index bounds the scan and the
    // filter bounds the ranking independently. This is the production
    // shape for filtered vector search; because the predicate is
    // uncorrelated with cell geometry, candidate counts shrink ~4× with
    // no systematic recall bias (FilteredAnnSpec reports the recall).
    "ann_filtered_ivf" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val v = vecs(s, dir)
      val va = v.join(assignments(s, dir), "vec_id")
      val pcells = centroidDists(s, dir).filter($"vec_id" < 25)
        .groupBy($"vec_id")
        .agg(graft.functions.GroupedTopK.groupedTopK(-$"d", $"clabel".cast("long"), 2).as("top"))
        .select($"vec_id".as("probe"), explode($"top.id").as("pcell"))
      val probes = v.filter($"vec_id" < 25)
        .select($"vec_id".as("probe"), $"embedding".as("pe"), $"norm2".as("pn"))
        .join(pcells, "probe")
      val pairs = va.filter($"vec_id" % AnnFilterMod === 0)
        .join(broadcast(probes), $"alabel" === $"pcell" && $"vec_id" =!= $"probe")
        .withColumn("cos", dot($"pe", $"embedding") / sqrt($"pn" * $"norm2"))
        .select($"probe", $"vec_id".as("neighbor"), $"cos")
      topk(pairs, 5)
    },

    // PRE vs POST meter: the post-filter route takes the UNFILTERED
    // exact top-PostFilterShortlist shortlist, then applies the
    // predicate, then keeps the first 5 survivors in shortlist order —
    // what a system does when the filter cannot be pushed into the
    // index. Output per probe: n_true (allowed truth size), n_post
    // (survivors kept), n_common (overlap with the pre-filter truth).
    // With a ~25% filter a 20-deep shortlist keeps ~5 survivors and
    // loses part of the true top-5 — the measured argument for
    // pre-filtering (the number real vector stores call "filtered
    // recall").
    "ann_postfilter_recall" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val v = vecs(s, dir)
      val probes = v.filter($"vec_id" < 25)
        .select($"vec_id".as("probe"), $"embedding".as("pe"), $"norm2".as("pn"))
      val pairs = v.join(broadcast(probes), $"vec_id" =!= $"probe")
        .withColumn("cos", dot($"pe", $"embedding") / sqrt($"pn" * $"norm2"))
        .select($"probe", $"vec_id".as("neighbor"), $"cos")
      val truth = topk(pairs.filter($"neighbor" % AnnFilterMod === 0), 5)
        .select($"probe", $"neighbor")
      val post = topk(pairs, PostFilterShortlist)
        .filter($"neighbor" % AnnFilterMod === 0)
        // first 5 survivors in shortlist order: keep the SMALLEST ranks
        .groupBy($"probe")
        .agg(graft.functions.GroupedTopK.groupedTopK(
          -$"rank".cast("double"), $"neighbor", 5).as("top"))
        .select($"probe", explode($"top.id").as("neighbor"))
      val nt = truth.groupBy($"probe").agg(count(lit(1)).as("n_true"))
      val np = post.groupBy($"probe").agg(count(lit(1)).as("n_post"))
      val nc = truth.join(post, Seq("probe", "neighbor"))
        .groupBy($"probe").agg(count(lit(1)).as("n_common"))
      nt.join(np, Seq("probe"), "left")
        .join(nc, Seq("probe"), "left")
        .select($"probe", $"n_true",
          coalesce($"n_post", lit(0L)).as("n_post"),
          coalesce($"n_common", lit(0L)).as("n_common"))
        .orderBy($"probe")
    }
  )

  /** All within-cell (trained assignment) cosine pairs at the family's
    * ≥ 0.4 gate — the shared pair set behind dedup_emb_cos_ivf and
    * dedup_semantic. Norms are computed once per vector before the
    * join; `cos` leaves unrounded (consumers round at emission).
    */
  private[graft] def ivfCosPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val va = Tables(s, dir).embeddings
      .select($"vec_id", $"embedding", dot($"embedding", $"embedding").as("norm2"))
      .join(assignments(s, dir), "vec_id")
    va.select($"vec_id".as("ia"), $"embedding".as("ea"), $"norm2".as("na"), $"alabel")
      .join(va.select($"vec_id".as("ib"), $"embedding".as("eb"), $"norm2".as("nb"), $"alabel"), "alabel")
      .filter($"ia" < $"ib")
      .withColumn("cos", dot($"ea", $"eb") / sqrt($"na" * $"nb"))
      .filter($"cos" >= 0.4)
      .select($"ia", $"ib", $"cos")
  }

  /** The existing-corpus (vec_id % 5 != 0) side of the incremental
    * embedding split, with norms and trained-cell assignments — the
    * static table the streaming ingest twin joins against.
    */
  private[graft] def embIncrementalExisting(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).embeddings
      .select($"vec_id", $"embedding", dot($"embedding", $"embedding").as("norm2"))
      .join(assignments(s, dir), "vec_id")
      .filter($"vec_id" % 5 =!= 0)
      .select($"vec_id".as("oi"), $"embedding".as("eo"), $"norm2".as("no"), $"alabel")
  }

  /** All verified (ni, oi, cos ≥ 0.4) matches of the incremental split —
    * the pre-argmax set behind dedup_emb_incremental, and the batch
    * reference its streaming twin is pinned against.
    */
  private[graft] def embIncrementalMatches(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nw = Tables(s, dir).embeddings
      .select($"vec_id", $"embedding", dot($"embedding", $"embedding").as("norm2"))
      .join(assignments(s, dir), "vec_id")
      .filter($"vec_id" % 5 === 0)
      .select($"vec_id".as("ni"), $"embedding".as("en"), $"norm2".as("nn"), $"alabel")
    nw.join(embIncrementalExisting(s, dir), "alabel")
      .withColumn("cos", dot($"en", $"eo") / sqrt($"nn" * $"no"))
      .filter($"cos" >= 0.4)
      .select($"ni", $"oi", $"cos")
  }

  /** Corpus-size-derived IVF cell count: `max(L, ceil(sqrt(n / 20)))`
    * with L = 10 seed labels. Fixed-cardinality blocking is the one
    * quadratic trap in the embedding family: with nlist frozen at L,
    * within-cell all-pairs work grows O((n/L)²) per cell. Scaling cells
    * ∝ √n keeps the expected cell size ∝ √n too, so total within-cell
    * pairs grow ~O(n·√n/nlist) ≈ linearly in n per cell — bounded, and
    * METERED by [[embCellStats]] rather than assumed. At the gate SFs
    * (n ≤ 2000) the formula floors to L = 10, so the trained quantizer,
    * assignments, and every oracle hash are bit-identical to the
    * label-seeded baseline.
    */
  private[queries] def nlistFor(n: Long): Int =
    math.max(10, math.ceil(math.sqrt(n / 20.0)).toInt)

  /** Residual-split depth: cells = L·2^b ≥ nlistFor(n). b = 0 at gate
    * SFs (nlist = L).
    */
  private[queries] def splitBitsFor(n: Long): Int = {
    val nlist = nlistFor(n)
    if (nlist <= 10) 0
    else math.ceil(math.log(nlist / 10.0) / math.log(2.0)).toInt
  }

  /** Planning-time corpus size (chooses the quantizer structure — the
    * number of residual split bits must be fixed before the plan is
    * built). One count per (session, corpus), memoized; at production
    * scale this is a table-statistics lookup, not a job.
    */
  private def corpusSize(s: SparkSession, dir: String): Long =
    Memo(s, dir, "Similarity.corpus_size")(Tables(s, dir).embeddings.count())

  /** Seed-cell id per vector for quantizer TRAINING. b = 0: the stored
    * label (today's gate behavior, exactly). b > 0: each label cell is
    * split 2^b ways by the SIGNS of the vector's residual against its
    * label mean on dims 1..b — a shallow k-d refinement that preserves
    * locality (two near-duplicate vectors have near-equal coordinates,
    * so they fall on the same side of each residual hyperplane except at
    * knife-edge boundaries — the standard LSH-style recall tradeoff,
    * observable via [[embCellStats]]). cell = label·2^b + bits, so cell
    * ids stay disjoint across labels.
    */
  /** Public face of [[seedCells]]: (vec_id, cell) under the corpus-scaled
    * residual-sign quantizer seeding. Consumed by `dedup_emb_cos` as its
    * blocking key so the curated-label route shares the same √n cell
    * growth as the trained-IVF route (at gate SFs b = 0 and cell ≡
    * label, so the blocking — and every oracle hash — is unchanged).
    */
  def seedCellAssignments(s: SparkSession, dir: String): DataFrame =
    seedCells(s, dir)

  /** Session memo for [[seedCells]]: dedup_emb_cos references it on BOTH
    * sides of its self-join (plus the seed_cells meter), and at b > 0
    * each evaluation would re-run the full-corpus centroid aggregation —
    * the same staged-index discipline as [[distsAgainst]]/[[pqCodebook]].
    */
  private def seedCells(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Similarity.seed_cells")(seedCellsUncached(s, dir).persist())

  private def seedCellsUncached(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = splitBitsFor(corpusSize(s, dir))
    if (b == 0)
      Tables(s, dir).embeddings.select($"vec_id", $"label".as("cell"))
    else {
      val bits = (0 until b).map(j =>
        when(element_at($"embedding", j + 1).cast("double") >=
          element_at($"cv", j + 1), lit(1 << j)).otherwise(lit(0)))
        .reduce(_ + _)
      Tables(s, dir).embeddings
        .join(broadcast(centroidVectors(s, dir)), $"label" === $"clabel")
        .select($"vec_id", ($"label" * lit(1 << b) + bits).as("cell"))
    }
  }

  /** Oracle-gated exercise of the b > 0 quantizer regime (VERDICT r05
    * #3): every gate corpus sits on or below the b = 0 floor (n ≤ 2000),
    * so the residual-sign splitting — the flagship scale mechanism — was
    * pinned only by specs, never by a DuckDB hash. This query builds a
    * DETERMINISTIC scaled corpus from the real embeddings table
    * (replicate each vector R = ceil(16001/n) times; replica `rep`
    * shifts every coordinate by rep·0.25 — exact in binary, so both
    * engines see bit-identical doubles), which pushes n past 16 000 and
    * forces split_bits = 2 at every gate SF. It then runs the REAL
    * b > 0 arithmetic of [[seedCellsUncached]] — per-label DECIMAL-exact
    * means over the split dims, residual-sign bits, cell = label·2^b +
    * bits — and emits every per-vector assignment, so each of the
    * ~16-18k residual-sign decisions is hash-checked against DuckDB
    * replaying the identical derivation.
    *
    * Scale: one narrow shuffle to train the b-dim means (b·10 groups), a
    * broadcast join to assign — the identical dataflow the production
    * quantizer uses at any n.
    */
  /** The deterministic scaled replica shared by the b > 0 gate queries:
    * (svec_id, label, shift, embedding) with R = ceil(16001/n) replicas
    * per vector, plus (b, r, sn). Replica `rep` shifts every coordinate
    * by rep·0.25 at read time (exact in binary — both engines see
    * bit-identical doubles).
    */
  private def scaledReplica(s: SparkSession, dir: String): (DataFrame, Int, Int) = {
    import s.implicits._
    val n = corpusSize(s, dir)
    val r = math.ceil(16001.0 / n).toInt
    val sn = n * r
    val b = splitBitsFor(sn)
    require(b >= 2, s"scaled corpus n=$sn must exercise multi-bit splitting, got b=$b")
    val scaled = Tables(s, dir).embeddings
      .withColumn("rep", explode(sequence(lit(0), lit(r - 1))))
      .select(($"vec_id" * r + $"rep").as("svec_id"), $"label",
        $"rep".cast("double").as("shift"), $"embedding")
    (scaled, b, nlistFor(sn))
  }

  /** The scaled replica's residual-sign cells: the REAL b > 0 seeding
    * arithmetic (per-label DECIMAL means over the first b dims, sign
    * bits, cell = label·2^b + bits), one row per (svec_id, cell).
    */
  private def scaledSeedCells(s: SparkSession, dir: String): (DataFrame, Int, Int) = {
    import s.implicits._
    val (scaled, b, nlist) = scaledReplica(s, dir)
    // only the first b dims participate in splitting — explode just those
    val ex = scaled
      .select($"svec_id", $"label", $"shift",
        posexplode(slice($"embedding", 1, b)).as(Seq("pos", "xf")))
      .select($"svec_id", $"label", $"pos",
        ($"xf".cast("double") + $"shift" * lit(0.25)).as("x"))
    val cv = ex.groupBy($"label", $"pos")
      .agg((sum($"x".cast("decimal(27,10)")).cast("double") / count(lit(1))).as("m"))
    val cells = ex.join(broadcast(cv), Seq("label", "pos"))
      .groupBy($"svec_id", $"label")
      .agg(sum(when($"x" >= $"m", expr("shiftleft(1, pos)")).otherwise(lit(0))).as("bits"))
      .select($"svec_id",
        ($"label".cast("long") * (1L << b) + $"bits").as("cell"))
    (cells, b, nlist)
  }

  def seedCellsScaledGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (cells, b, nlist) = scaledSeedCells(s, dir)
    cells.select($"svec_id", $"cell",
      lit(b).as("split_bits"), lit(nlist).as("nlist_target"))
      .orderBy($"svec_id")
  }

  /** Second b > 0 gate: the TRAINED centroids (the one-Lloyd-step mean
    * per seed cell — the arithmetic [[trainedCentroids]] runs past the
    * floor) over the scaled replica, hash-checked per (cell, dim < 4)
    * against DuckDB replaying the identical derivation. With
    * [[seedCellsScaledGate]] this puts BOTH halves of the b > 0
    * quantizer — seeding and retraining — under the oracle.
    */
  def centroidsScaledGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (cells, b, _) = scaledSeedCells(s, dir)
    val (scaled, _, _) = scaledReplica(s, dir)
    val ex4 = scaled
      .select($"svec_id",
        posexplode(slice($"embedding", 1, 4)).as(Seq("pos", "xf")),
        $"shift")
      .select($"svec_id", $"pos",
        ($"xf".cast("double") + $"shift" * lit(0.25)).as("x"))
    ex4.join(cells, "svec_id")
      .groupBy($"cell", $"pos")
      .agg((sum($"x".cast("decimal(27,10)")).cast("double") / count(lit(1))).as("mean"))
      .select($"cell", $"pos", $"mean", lit(b).as("split_bits"))
      .orderBy($"cell", $"pos")
  }

  /** Trained coarse-quantizer centroids: the DECIMAL-exact mean of each
    * seed cell (posexplode → partial+final HashAggregate on (cell, pos)
    * → re-assembled array). With b = 0 this is [[centroidVectors]]
    * verbatim; with b > 0 it is one Lloyd refinement over the
    * residual-split seeding — nlist grows ∝ √n ([[nlistFor]]) so the
    * broadcast stays √n-rows small (100k centroids ≈ 50 MB at n = 10¹⁰;
    * beyond that, train on a sample and prune the centroid search with a
    * coarse pre-quantizer — the dataflow here is unchanged).
    */
  private def trainedCentroids(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Similarity.ivf_centroids")(Staging.readElseBuild(
      s, dir, "ivf_centroids", Seq("embeddings")) {
      import s.implicits._
      if (splitBitsFor(corpusSize(s, dir)) == 0) centroidVectors(s, dir)
      else Tables(s, dir).embeddings
        .join(seedCells(s, dir), "vec_id")
        .select($"cell", posexplode($"embedding").as(Seq("pos", "x")))
        .groupBy($"cell", $"pos")
        .agg((sum($"x".cast("double").cast("decimal(27,10)")).cast("double")
          / count(lit(1))).as("m"))
        .groupBy($"cell")
        .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
          c => c.getField("m")).as("cv"))
        .select($"cell".as("clabel"), $"cv")
    })

  /** METER for the IVF cell geometry (pattern: Dedup.simhashDropStats):
    * how many trained cells are in use, how big the largest is, and the
    * total within-cell pair count — the exact all-pairs cost driver of
    * `dedup_emb_cos_ivf` and the candidate-set size of the IVF ANN
    * tiers. Run alongside any corpus change (ScaleProbe prints it;
    * IvfScaleSpec pins it) so cell blowup is observed, not assumed.
    */
  /** Cell-geometry meter for the SEED quantizer (the blocking key of
    * `dedup_emb_cos`) — same shape as [[embCellStats]] so ScaleProbe can
    * print both and the within-cell pair growth of the curated-label
    * route is observed, not assumed.
    */
  def seedCellStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = corpusSize(s, dir)
    seedCells(s, dir)
      .groupBy($"cell").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("cells_used"),
        max($"c").as("max_cell"),
        sum($"c").as("n_vectors"),
        expr("sum(c * (c - 1)) div 2").as("within_cell_pairs"))
      .withColumn("nlist_target", lit(nlistFor(n)))
      .withColumn("split_bits", lit(splitBitsFor(n)))
  }

  def embCellStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = corpusSize(s, dir)
    assignments(s, dir)
      .groupBy($"alabel").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("cells_used"),
        max($"c").as("max_cell"),
        sum($"c").as("n_vectors"),
        // integral div, not Divide: c·(c−1) is even, and a double-typed
        // sum would silently round above 2^53 — the extreme-scale regime
        // this meter exists to observe
        expr("sum(c * (c - 1)) div 2").as("within_cell_pairs"))
      .withColumn("nlist_target", lit(nlistFor(n)))
      .withColumn("split_bits", lit(splitBitsFor(n)))
  }

  /** Label-mean centroid vectors: per-label mean over all dims (the
    * full-width version of [[centroids]]; same exact-DECIMAL summation so
    * the result is partition-order independent), re-assembled into an
    * ordered array — a 10-row broadcast table. The quantizer SEED level;
    * [[trainedCentroids]] refines it when the corpus outgrows 10 cells.
    */
  private def centroidVectors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).embeddings
      .select($"label", posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"label", $"pos")
      .agg((sum($"x".cast("double").cast("decimal(27,10)")).cast("double")
        / count(lit(1))).as("m"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
        c => c.getField("m")).as("cv"))
      .select($"label".as("clabel"), $"cv")
  }

  /** Power-iteration rounds for the PCA axis ([[pcaAxis]]). CTE-for-CTE
    * the oracle replays the SAME count ([[PcaCte]] is generated from
    * this constant) — tune the constant, never the SQL.
    */
  private[queries] val PcaIters = 3

  /** The corpus's top PRINCIPAL COMPONENT — staged as `pca_axis`
    * (pos, mu, v): the per-dimension DECIMAL-exact mean and the unit
    * axis after [[PcaIters]] deterministic power-iteration rounds from
    * the fixed start v₀ = 1/√d. Each round is ONE aggregation pass
    * (per-row centered dot c = r·v as a sequential fold, then the
    * per-dimension DECIMAL-exact sum of c·r — partial+final aggregate,
    * shuffle O(d)), with the 256-value normalize on the driver — the
    * clusterLabels driver-coordinated-loop pattern. Every sum that
    * crosses rows goes through DECIMAL so partition order cannot
    * perturb it; scales are sized so the DuckDB twin's scaled-int →
    * DOUBLE cast stays under 2^53 (the q_corr lesson): means at
    * (27,10), axis sums at (27,6), variance sums at (27,4).
    *
    * This is the dimensionality-reduction front end an embedding
    * pipeline runs before indexing (PCA/OPQ rotation preludes); at
    * 100 TB each round stays one O(n·d) pass with a d-row shuffle.
    */
  private def pcaAxis(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Similarity.pca_axes")(Staging.readElseBuild(
      s, dir, "pca_axes", Seq("embeddings")) {
      import s.implicits._
      val de = Tables(s, dir).embeddings
        .select(posexplode($"embedding").as(Seq("pos", "x")))
      val mu = de.groupBy($"pos")
        .agg((sum($"x".cast("double").cast("decimal(27,10)")).cast("double")
          / count(lit(1))).as("mu"))
        .orderBy($"pos").collect().map(_.getDouble(1))
      val centered = Tables(s, dir).embeddings.select($"vec_id",
        zip_with($"embedding", typedlit(mu.toSeq),
          (x, m) => x.cast("double") - m).as("r"))
      val v1 = powerIterate(centered, mu.length)
      // DEFLATE and re-iterate for the second component: r₂ = r − (r·v₁)v₁
      // (per-row sequential fold for the coefficient, elementwise
      // subtraction — iterates over r₂ stay ⊥ v₁ up to fp precision)
      val v1Lit = typedlit(v1.toSeq)
      val deflated = centered
        .withColumn("c1", aggregate(zip_with($"r", v1Lit, (a, b) => a * b),
          lit(0.0), (acc, t) => acc + t))
        .select($"vec_id",
          zip_with($"r", v1Lit, (a, b) => a - $"c1" * b).as("r"))
      val v2 = powerIterate(deflated, mu.length)
      mu.indices.map(i => (i, mu(i), v1(i), v2(i)))
        .toDF("pos", "mu", "v1", "v2")
    }.persist())

  /** [[PcaIters]] power-iteration rounds over a (vec_id, r) frame from
    * the fixed 1/√d start — one aggregation pass per round, driver-side
    * normalize with the same pos-ordered left folds the oracle's
    * list_reduce replays.
    */
  private def powerIterate(rdf: DataFrame, d: Int): Array[Double] = {
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    for (_ <- 1 to PcaIters) {
      val vLit = typedlit(v.toSeq)
      val w = rdf
        .select(col("r"), aggregate(zip_with(col("r"), vLit, (a, b) => a * b),
          lit(0.0), (acc, t) => acc + t).as("c"))
        .select(posexplode(col("r")).as(Seq("pos", "rx")), col("c"))
        .groupBy(col("pos"))
        .agg(sum((col("c") * col("rx")).cast("decimal(27,6)"))
          .cast("double").as("w"))
        .orderBy(col("pos")).collect().map(_.getDouble(1))
      val norm = math.sqrt(w.foldLeft(0.0)((a, x) => a + x * x))
      v = w.map(_ / norm)
    }
    v
  }

  /** Cells per side of the PCA-grid index (ann_pca_topk): the 2-D
    * projection sketch bucketed into a PcaGrid × PcaGrid lattice over
    * the observed projection range. One definition; the oracle SQL
    * interpolates the same constant.
    */
  private[queries] val PcaGrid = 16

  /** Per-vector PCA-grid cell assignment (vec_id, embedding, norm2,
    * cx, cy): both projections computed per row (position-ordered
    * folds), lattice bounds from one 4-value aggregate attached by
    * broadcast. The 2-D analogue of the sign-LSH bucket — cheap to
    * compute, data-adaptive via the trained axes.
    */
  private def pcaCells(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (mu, v1, v2) = pcaArrays(s, dir)
    val v1L = typedlit(v1.toSeq)
    val proj = vecs(s, dir)
      .select($"vec_id", $"embedding", $"norm2",
        zip_with($"embedding", typedlit(mu.toSeq),
          (x, m) => x.cast("double") - m).as("r"))
      .withColumn("c1", aggregate(zip_with($"r", v1L, (a, b) => a * b),
        lit(0.0), (acc, t) => acc + t))
      .withColumn("c2", aggregate(zip_with(
          zip_with($"r", v1L, (a, b) => a - $"c1" * b),
          typedlit(v2.toSeq), (a, b) => a * b),
        lit(0.0), (acc, t) => acc + t))
      .drop("r")
    val b = proj.agg(min($"c1").as("mn1"), max($"c1").as("mx1"),
      min($"c2").as("mn2"), max($"c2").as("mx2"))
    proj.crossJoin(broadcast(b))
      .select($"vec_id", $"embedding", $"norm2",
        least(floor(($"c1" - $"mn1") / (($"mx1" - $"mn1") / PcaGrid)),
          lit(PcaGrid - 1).cast("long")).as("cx"),
        least(floor(($"c2" - $"mn2") / (($"mx2" - $"mn2") / PcaGrid)),
          lit(PcaGrid - 1).cast("long")).as("cy"))
  }

  /** The 9 (dx, dy) neighbor offsets a probe searches. */
  private val PcaNeighborhood: Seq[(Int, Int)] =
    for { dx <- -1 to 1; dy <- -1 to 1 } yield (dx, dy)

  /** Driver-side (mu, v1, v2) arrays of the staged PCA axes. */
  private def pcaArrays(s: SparkSession, dir: String)
      : (Array[Double], Array[Double], Array[Double]) = {
    val rows = pcaAxis(s, dir).orderBy(col("pos")).collect()
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)), rows.map(_.getDouble(3)))
  }

  /** Force-build the ANN family's durable staged artifacts for `dir`
    * ([[graft.core.Staging]]): trained IVF centroids, PQ codebook,
    * per-vector PQ codes, and the PCA axis. Read-else-build —
    * already-staged artifacts cost one parquet footer read.
    */
  def stageIndexes(s: SparkSession, dir: String): Unit =
    Staging.buildAll(s)(
      () => trainedCentroids(s, dir),
      () => pqCodebook(s, dir),
      () => pqCodes(s, dir),
      () => pqServingIndex(s, dir),
      () => pcaAxis(s, dir))

  /** Drop and release this module's session memos ([[Memo]]). */
  def clearCaches(): Unit = Memo.clear("Similarity")

  /** Session-scoped memo of the persisted (vector × centroid) distance
    * table: ann_ivf2_topk consumes it on both join sides (assignments +
    * probe cells) and dedup_emb_cos_ivf self-joins its derivation —
    * without the memo, centroid TRAINING and the O(vectors × centroids
    * × dims) distance fold re-run per consumer. Same staged-index
    * pattern as [[Dedup.shingleIndex]]; the trained IVF index is exactly
    * the artifact a production pipeline writes once per corpus.
    *
    * Squared L2 distance of every vector to every centroid of the given
    * quantizer: one sequential zip_with fold in DOUBLE per pair (same
    * order as the oracle's list_reduce), against the broadcast centroid
    * table. Memoized + persisted per (session, corpus, quantizer). Cost
    * O(n·nlist·d) with nlist ∝ √n — the standard IVF assignment pass.
    * (At extreme n the next lever is a coarse PRE-quantizer: assign each
    * vector to one of ~√nlist coarse cells first, then compute fine
    * distances only against that coarse cell's centroids —
    * O(n·√nlist·d) total; the dataflow below is unchanged, the centroid
    * table just gains a coarse_cell key to join on instead of a full
    * crossJoin.)
    */
  private def distsAgainst(
      s: SparkSession, dir: String, key: String,
      cents: => DataFrame): DataFrame =
    Memo(s, dir, s"Similarity.dists$key") {
      import s.implicits._
      Tables(s, dir).embeddings
        .select($"vec_id", $"embedding")
        .crossJoin(broadcast(cents))
        .withColumn("d", aggregate(
          zip_with($"embedding", $"cv",
            (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
          lit(0.0), (acc, x) => acc + x))
        .select($"vec_id", $"clabel", $"d")
        .persist()
    }

  private def centroidDists(s: SparkSession, dir: String): DataFrame =
    distsAgainst(s, dir, "", trainedCentroids(s, dir))

  private def sampledDists(s: SparkSession, dir: String): DataFrame =
    distsAgainst(s, dir, "#sampled", sampledCentroids(s, dir))

  /** Nearest-centroid assignment over a distance table (the IVF cell of
    * each vector); ties break to the smaller label via lexicographic
    * struct min — a cheap aggregate over the memoized distances.
    */
  private def assignmentsFrom(dists: DataFrame): DataFrame = {
    val s = dists.sparkSession
    import s.implicits._
    dists
      .groupBy($"vec_id")
      .agg(min(struct($"d", $"clabel")).as("m"))
      .select($"vec_id", $"m.clabel".as("alabel"))
  }

  private[graft] def assignments(s: SparkSession, dir: String): DataFrame =
    assignmentsFrom(centroidDists(s, dir))

  /** Distances to the COARSE level of the quantizer — the L label means.
    * The trained quantizer is hierarchical by construction (fine cell =
    * label·2^b + residual bits, so a fine cell's parent is `clabel div
    * 2^b`), which makes the label means a free coarse pre-quantizer: no
    * extra training pass. At b = 0 coarse == fine, so this reuses the
    * memoized fine distance table outright.
    */
  private def coarseDists(s: SparkSession, dir: String): DataFrame =
    if (splitBitsFor(corpusSize(s, dir)) == 0) centroidDists(s, dir)
    else distsAgainst(s, dir, "#coarse", centroidVectors(s, dir))

  /** Each vector's 2 nearest coarse cells (ties → smaller label, same
    * ordering contract as the nprobe=2 probe-cell selection).
    */
  private def coarseTop2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    coarseDists(s, dir)
      .groupBy($"vec_id")
      .agg(graft.functions.GroupedTopK.groupedTopK(-$"d", $"clabel".cast("long"), 2).as("top"))
      .select($"vec_id", explode($"top.id").as("pcoarse"))
  }

  /** Fine-centroid distances RESTRICTED to the vector's 2 nearest coarse
    * cells — the extreme-n assignment pass. The flat pass costs
    * O(n·nlist·d); with nlist ∝ √n that fold itself becomes the indexing
    * bottleneck around n ≈ 10¹⁰. Here each vector computes L coarse
    * distances plus w·2^b fine distances (w = 2), i.e. O(n·(L + w·2^b)·d)
    * ≈ O(n·√nlist·d) — the standard two-level IVF assignment. The price
    * is approximation: the true nearest fine centroid can live under a
    * third coarse parent. [[coarseAssignStats]] METERS that disagreement
    * against the flat assignment rather than assuming it away; at b = 0
    * the two levels coincide and agreement is exact by construction.
    */
  private def coarseFineDists(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = splitBitsFor(corpusSize(s, dir))
    val fines = trainedCentroids(s, dir)
      .withColumn("parent", expr(s"CAST(clabel AS BIGINT) div ${1L << b}"))
    Tables(s, dir).embeddings
      .select($"vec_id", $"embedding")
      .join(coarseTop2(s, dir), "vec_id")
      .join(broadcast(fines), $"parent" === $"pcoarse")
      .withColumn("d", aggregate(
        zip_with($"embedding", $"cv",
          (a, c) => (a.cast("double") - c) * (a.cast("double") - c)),
        lit(0.0), (acc, x) => acc + x))
      .select($"vec_id", $"clabel", $"d")
  }

  /** Two-level (coarse → fine) cell assignment. */
  private[queries] def coarseAssignments(s: SparkSession, dir: String): DataFrame =
    assignmentsFrom(coarseFineDists(s, dir))

  /** METER for the two-level assignment pass (the embCellStats contract):
    * how often the coarse-pruned argmin agrees with the flat argmin, and
    * the measured distance-fold row counts of each route — the evidence
    * that the pruning buys its cost reduction without silent recall loss.
    */
  def coarseAssignStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fine = coarseFineDists(s, dir)
    val cmp = assignments(s, dir)
      .join(coarseAssignments(s, dir).withColumnRenamed("alabel", "alabel2"), "vec_id")
      .agg(count(lit(1)).as("n_vectors"),
        sum(when($"alabel" === $"alabel2", 1L).otherwise(0L)).as("agree_flat"))
    val coarseN = centroidVectors(s, dir).agg(count(lit(1)).as("coarse_cells"))
    val fineN = trainedCentroids(s, dir).agg(count(lit(1)).as("fine_cells"))
    val fRows = fine.agg(count(lit(1)).as("fine_dist_rows"))
    cmp.crossJoin(broadcast(coarseN))
      .crossJoin(broadcast(fineN))
      .crossJoin(broadcast(fRows))
      .withColumn("flat_dist_rows", $"n_vectors" * $"fine_cells")
  }

  /** Squared L2 of every vector to every codebook centroid restricted to
    * each HALF of the dimensions — the inverted-multi-index (IMI)
    * distance table. The IMI point at extreme n: a product of two
    * K-centroid half-space quantizers spans K² cells while storing and
    * scanning only 2K centroids, so reaching nlist cells costs
    * O(n·√nlist·d) assignment work instead of the flat O(n·nlist·d) —
    * the same cell count for the square root of the codebook. Both half
    * distances come out of ONE pass over the broadcast codebook (the
    * fold is split at d/2, not recomputed), memoized + persisted like
    * every staged index here.
    */
  private def imiDists(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Similarity.dists#imi") {
      import s.implicits._
      def fold(lo: Column, hi: Column) = aggregate(
        transform(sequence(lo, hi),
          i => (element_at($"embedding", i).cast("double") - element_at($"cv", i))
            * (element_at($"embedding", i).cast("double") - element_at($"cv", i))),
        lit(0.0), (acc, x) => acc + x)
      Tables(s, dir).embeddings
        .select($"vec_id", $"embedding")
        .crossJoin(broadcast(centroidVectors(s, dir)))
        .withColumn("h", expr("CAST(size(embedding) / 2 AS INT)"))
        .select($"vec_id", $"clabel",
          fold(lit(1), $"h").as("d1"),
          fold($"h" + 1, size($"embedding")).as("d2"))
        .persist()
    }

  /** IMI product-cell assignment: independent argmin per half (ties →
    * smaller label, the [[assignmentsFrom]] contract), cell id =
    * a1·10⁶ + a2 (disjoint for any codebook under a million rows).
    */
  private[queries] def imiAssignments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    imiDists(s, dir)
      .groupBy($"vec_id")
      .agg(min(struct($"d1", $"clabel")).as("m1"),
        min(struct($"d2", $"clabel")).as("m2"))
      .select($"vec_id",
        ($"m1.clabel".cast("long") * 1000000L + $"m2.clabel".cast("long"))
          .as("icell"))
  }

  /** Per-half probe width of the IMI search: each probe takes its top-w
    * centroids per half and scans the ≤ w² product cells. The serving
    * dial of the IMI tier — scanned fraction (and thus recall on a
    * near-uniform corpus) grows ~w², cost grows with the scanned rows;
    * [[imiServingMeter]] measures the frontier per corpus
    * (SCALING.md round-10 table) so the default is priced, not guessed.
    * Moved 2 → 5 in round 10: w=2 read 0.168 recall@5 at sf0.1 (2,059
    * candidate rows) — the weakest serving number on the board; w=5
    * reads 0.544 at 12,512 rows, a better recall-per-scanned-row point
    * than the PQ tier's nprobe=4 (0.536 at 20,156). The oracle CTEs
    * interpolate this constant, so the engines cannot desync.
    */
  private[queries] val ImiHalfProbe = 5

  /** The IMI search shared by ann_imi_topk (probes < 50) and the recall
    * meter (probes < 25): per-half top-[[ImiHalfProbe]] centroids via
    * the bounded heap, candidates restricted to the ≤ w² product cells,
    * exact cosine, top-5.
    */
  private def imiTopk(s: SparkSession, dir: String, probeLimit: Int): DataFrame =
    imiTopk(s, dir, probeLimit, ImiHalfProbe)

  private def imiTopk(s: SparkSession, dir: String, probeLimit: Int,
      w: Int): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val v = vecs(s, dir)
    val hd = imiDists(s, dir).filter($"vec_id" < probeLimit)
    val p1 = hd.groupBy($"vec_id")
      .agg(graft.functions.GroupedTopK.groupedTopK(-$"d1", $"clabel".cast("long"), w).as("t1"))
      .select($"vec_id", explode($"t1.id").as("c1"))
    val p2 = hd.groupBy($"vec_id")
      .agg(graft.functions.GroupedTopK.groupedTopK(-$"d2", $"clabel".cast("long"), w).as("t2"))
      .select($"vec_id", explode($"t2.id").as("c2"))
    val pcells = p1.join(p2, "vec_id")
      .select($"vec_id".as("probe"), ($"c1" * 1000000L + $"c2").as("pcell"))
    val probes = v.filter($"vec_id" < probeLimit)
      .select($"vec_id".as("probe"), $"embedding".as("pe"), $"norm2".as("pn"))
      .join(pcells, "probe")
    val pairs = v.join(imiAssignments(s, dir), "vec_id")
      .join(broadcast(probes), $"icell" === $"pcell" && $"vec_id" =!= $"probe")
      .withColumn("cos", dot($"pe", $"embedding") / sqrt($"pn" * $"norm2"))
      .select($"probe", $"vec_id".as("neighbor"), $"cos")
    topk(pairs, 5)
  }

  /** Serving-knob meter for the IMI tier (the pqServingMeter contract):
    * recall@5 against the exact brute force at per-half width `w`, plus
    * the candidate-scan row count (Σ scanned product-cell occupancy).
    */
  def imiServingMeter(s: SparkSession, dir: String, probeLimit: Int,
      w: Int): (Double, Long) = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val v = vecs(s, dir)
    val probes = v.filter($"vec_id" < probeLimit)
      .select($"vec_id".as("probe"), $"embedding".as("pe"), $"norm2".as("pn"))
    val exactPairs = v.join(broadcast(probes), $"vec_id" =!= $"probe")
      .withColumn("cos", dot($"pe", $"embedding") / sqrt($"pn" * $"norm2"))
      .select($"probe", $"vec_id".as("neighbor"), $"cos")
    val ex5 = topk(exactPairs, 5).select($"probe", $"neighbor")
    val im5 = imiTopk(s, dir, probeLimit, w).select($"probe", $"neighbor")
    val common = ex5.join(im5, Seq("probe", "neighbor"), "left_semi").count()
    val total = ex5.count()
    // candidate rows: occupancy of the scanned product cells per probe
    val hd = imiDists(s, dir).filter($"vec_id" < probeLimit)
    val p1 = hd.groupBy($"vec_id")
      .agg(graft.functions.GroupedTopK.groupedTopK(-$"d1", $"clabel".cast("long"), w).as("t1"))
      .select($"vec_id", explode($"t1.id").as("c1"))
    val p2 = hd.groupBy($"vec_id")
      .agg(graft.functions.GroupedTopK.groupedTopK(-$"d2", $"clabel".cast("long"), w).as("t2"))
      .select($"vec_id", explode($"t2.id").as("c2"))
    val pcells = p1.join(p2, "vec_id")
      .select($"vec_id".as("probe"), ($"c1" * 1000000L + $"c2").as("pcell"))
    val occ = imiAssignments(s, dir).groupBy($"icell").agg(count(lit(1)).as("c"))
    val candRows = pcells.join(occ, $"pcell" === $"icell")
      .agg(coalesce(sum($"c"), lit(0L))).head.getLong(0)
    (common.toDouble / math.max(total, 1L), candRows)
  }

  /** Cell-geometry meter for the IMI product cells (the [[embCellStats]]
    * contract): the within_cell_pairs delta against ann_ivf_cells is the
    * measured candidate-set shrink the K²-cell product buys over the
    * K-cell flat quantizer, at identical codebook storage (codebook_rows
    * counts both halves' centroids).
    */
  def imiCellStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val book = centroidVectors(s, dir)
      .agg((count(lit(1)) * 2).as("codebook_rows"))
    imiAssignments(s, dir)
      .groupBy($"icell").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("cells_used"),
        max($"c").as("max_cell"),
        sum($"c").as("n_vectors"),
        expr("sum(c * (c - 1)) div 2").as("within_cell_pairs"))
      .crossJoin(broadcast(book))
  }

  // ===== Product-quantization tier (round 5) =====

  /** PQ geometry: M subspaces, 2^PqBits sign-seed orthants per subspace
    * (d=64, M=16 → 4-dim subspaces whose 4 leading signs ARE the full
    * orthant map), K up to 2^(PqBits+PqMagBits) after the radial
    * splits — 16 × ≤128 codebook rows, 16 codes (14 bytes at 7
    * bits/code) per vector vs 256 raw float bytes: ~18× compression.
    * Geometry measured at sf0.1 (M=4/K=4 → 6% recall@5; M=16/K=16 →
    * 54%; M=8/K=64 → 40% — partial sign maps of 8-dim subspaces lose to
    * full 4-dim orthants; M=16/K=128+Lloyd → 61% vs the 62% nprobe=4
    * exact-ranking ceiling — see SCALING.md round 11). Deliberately
    * independent of n: at scale the codebook trains on a sample (the
    * sampledCentroids posture); the dataflow (train means → argmin
    * codes → ADC lookup join) is unchanged at any K.
    */
  private val PqM = 16
  private val PqBits = 4

  /** Extra RADIAL seed bits per subspace (0 = pure orthant seeding):
    * each bit splits every current seed group at its DECIMAL-exact mean
    * ||sub||², so K doubles per bit (16 → 128 at 3). This, not a
    * rotation, is the codebook lever that bites on this corpus: the
    * covariance spectrum is near-flat (top eigenvalue 2.1% vs 1.6%
    * mean), so OPQ/PCA rotations have nothing to concentrate —
    * measured, the round-11 radial ladder reads (4,50) recall 0.536 (K=16)
    * → 0.560 (K=32) → 0.576 (K=64) → 0.600 (K=128) → 0.600 (K=256,
    * saturated), against the 0.616 nprobe=4 pool ceiling.
    */
  private val PqMagBits = 3

  /** Lloyd refinement rounds past the seeding: each round re-assigns
    * codes by argmin against the current codebook, then re-trains the
    * codebook as the exact-DECIMAL mean of its assigned residual
    * subvectors. The oracle replays the SAME number of rounds
    * CTE-for-CTE ([[PqCte]] is generated from this constant), so any
    * setting stays fully hash-checked.
    *
    * MEASURED to 1 (round 11): on pure-orthant seeds (round 10) Lloyd
    * was a no-op — orthant means are a local optimum of subspace
    * distortion, 2 rounds moved sf0.1 gate recall 0.352 → 0.344. The
    * radial splits change that: their mean-||sub||² cut planes are NOT
    * distortion-optimal, and one argmin re-assignment repairs the
    * boundaries — (4,50) recall 0.600 → 0.608, (4,20) 0.496 → 0.568,
    * clustered corpus 0.912 → 0.992. A second round reshuffles
    * near-ties only (0.608 → 0.608, measured).
    */
  private[queries] val PqLloydSteps = 1

  /** Serving default: cells probed per query. Moved 2 → 4 in round 10:
    * at nprobe=2 the EXACT-ranking ceiling within the probed cells is
    * 0.376 recall@5 on the sf0.1 near-uniform worst case — no codebook
    * improvement can clear 0.5 there. The measured ceiling ladder
    * (`ScaleProbe ceiling`): nprobe 2/3/4/5/6 → 0.376/0.520/0.616/
    * 0.704/0.800 exact. At (4, 50) the round-11 codebook serves 0.608 —
    * 98.7% of its 0.616 pool ceiling at 20,156 candidate rows; the next
    * recall unit must come from nprobe, not the codebook.
    */
  private[queries] val PqNprobe = 4

  /** Staging-name suffix carrying every constant that governs the PQ
    * artifacts' CONTENTS (r18, ADVICE: the impact-index `_p$P`
    * convention) — editing the geometry or the Lloyd depth must miss the
    * store, never read a stale codebook/codes/serving table.
    */
  private val PqParams = s"m${PqM}b${PqBits}r${PqMagBits}l$PqLloydSteps"

  /** Per-vector residual against its trained-cell centroid — the vector
    * PQ encodes (the classic IVF-PQ decomposition: store the cell id
    * plus M small codes instead of d floats).
    */
  private def pqResiduals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).embeddings
      .join(assignments(s, dir), "vec_id")
      .join(broadcast(trainedCentroids(s, dir)), $"alabel" === $"clabel")
      .select($"vec_id", $"alabel",
        zip_with($"embedding", $"cv", (a, b) => a.cast("double") - b).as("r"))
  }

  /** Residual subvectors, one row per (vector, subspace), with the
    * sign-seed group (the subspace's PqBits leading residual signs) that
    * seeds codebook training — the same residual-sign seeding device the
    * coarse quantizer's cell splitting uses.
    */
  private def pqSubvectors(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Similarity.pq_sub") {
      // staged like the codebook/codes below: codebook training, code
      // assignment, AND the error meter all fold over these rows — the
      // residual join + slicing would otherwise run three times cold
      import s.implicits._
      val base = pqResiduals(s, dir)
        .withColumn("h", floor(size($"r") / PqM).cast("int"))
        .withColumn("m", explode(sequence(lit(0), lit(PqM - 1))))
        .withColumn("sub", slice($"r", $"m" * $"h" + 1, $"h"))
        .withColumn("seed", (0 until PqBits).map(j =>
          when(element_at($"sub", j + 1) >= 0, lit(1 << j)).otherwise(lit(0)))
          .reduce(_ + _))
        .withColumn("n2", aggregate(zip_with($"sub", $"sub", (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x))
      // radial splits: PqMagBits extra seed bits per subspace — each
      // round splits every current seed group at its DECIMAL-exact mean
      // ||sub||². The orthant mean captures the sign pattern; the
      // magnitude bits halve the radial spread within each orthant (the
      // measured recall lever on this near-isotropic corpus, where
      // rotations have nothing to concentrate — see SCALING.md round 11).
      // Each round's thresholds (at most PqM·2^(PqBits+PqMagBits-1)
      // values) are collected and applied as a literal lookup: joining
      // the round's aggregate back into `acc` would copy every earlier
      // round into the plan, doubling it per round.
      val groups = 1 << (PqBits + PqMagBits)
      (1 to PqMagBits).foldLeft(base) { (acc, j) =>
        val thr = acc.groupBy($"m", $"seed")
          .agg((sum($"n2".cast("decimal(27,10)")).cast("double")
            / count(lit(1))).as("thr"))
          .as[(Int, Int, Double)].collect()
          .map { case (m, seed, t) => (m * groups + seed) -> t }.toMap
        acc.withColumn("seed",
          $"seed" + when($"n2" > element_at(typedLit(thr), $"m" * groups + $"seed"),
            lit(1 << (PqBits + j - 1))).otherwise(lit(0)))
      }.select($"vec_id", $"m", $"seed", $"sub").persist()
    }

  /** Shared PQ codebook: per (subspace, sign-seed group) the
    * exact-DECIMAL mean residual subvector — PqM·2^PqBits rows, trained
    * across ALL cells (the standard shared-codebook IVF-PQ posture).
    */
  /** Argmin code per (vector, subspace) against a codebook (ties to the
    * smaller code — the [[assignmentsFrom]] contract).
    */
  private def pqAssign(sub: DataFrame, book: DataFrame): DataFrame = {
    val s = sub.sparkSession
    import s.implicits._
    sub.join(broadcast(book), "m")
      .withColumn("d", aggregate(
        zip_with($"sub", $"cvq", (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
      .groupBy($"vec_id", $"m")
      .agg(min(struct($"d", $"code")).as("mm"))
      .select($"vec_id", $"m", $"mm.code".as("code"))
  }

  /** Mean residual subvector per (subspace, code) over an assignment —
    * the codebook-training half of a Lloyd round. Exact-DECIMAL sums so
    * the means are partition-order free (the oracle replays them).
    */
  private def pqTrain(sub: DataFrame, codes: DataFrame): DataFrame = {
    val s = sub.sparkSession
    import s.implicits._
    sub.join(codes, Seq("vec_id", "m"))
      .select($"m", $"code", posexplode($"sub").as(Seq("pos", "x")))
      .groupBy($"m", $"code", $"pos")
      .agg((sum($"x".cast("decimal(27,10)")).cast("double")
        / count(lit(1))).as("c"))
      .groupBy($"m", $"code")
      .agg(transform(array_sort(collect_list(struct($"pos", $"c"))),
        c => c.getField("c")).as("cvq"))
      .select($"m", $"code", $"cvq")
  }

  /** Session memo for the PQ index (codebook + codes) — consumed by the
    * serving query, the recall meter, and the codes meter; the PQ index
    * is exactly the artifact a production pipeline writes once per
    * corpus (same staged-index pattern as [[distsAgainst]]).
    */
  private def pqCodebook(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Similarity.pq_book") {
      import s.implicits._
      Staging.readElseBuild(s, dir, s"pq_codebook_$PqParams", Seq("embeddings")) {
        val sub = pqSubvectors(s, dir)
        // round 0: means per leading-sign orthant (the seed groups)
        val seedBook = pqTrain(sub,
          sub.select($"vec_id", $"m", $"seed".as("code")))
        // Lloyd rounds: re-assign by argmin, re-train the means
        (1 to PqLloydSteps).foldLeft(seedBook) { (book, _) =>
          pqTrain(sub, pqAssign(sub, book))
        }
      }.persist()
    }

  /** Per-(vector, subspace) PQ code: argmin over the subspace's codebook
    * (one Lloyd step past the sign seeding; ties → smaller code, the
    * [[assignmentsFrom]] contract). Persisted per session.
    */
  private def pqCodes(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Similarity.pq_codes") {
      Staging.readElseBuild(s, dir, s"pq_codes_$PqParams", Seq("embeddings")) {
        pqAssign(pqSubvectors(s, dir), pqCodebook(s, dir))
      }.persist()
    }

  /** IVF-PQ serving pass shared by ann_pq_topk (probes < 50) and the
    * recall meter (probes < 25): nprobe=2 trained cells; approximate
    * inner product from the PQ decomposition
    * `dot(q,v) ≈ dot(q, cv(cell)) + Σ_m dot(q_sub[m], codevec[m, code])`
    * — the candidate scan touches M code ids per vector (array-indexed
    * lookups into the broadcast probes × M × K ADC table), never the raw
    * floats; the bounded heap keeps the shortlist (default 50, measured
    * by the ScaleProbe sweep) per probe and full-precision vectors are
    * read for those alone (the ann_quantized_topk two-stage
    * contract). The M subspace terms are folded in subspace
    * order (sorted collect, sequential double fold) so the sum is
    * partition-order free and matches the oracle bit-for-bit.
    */
  private def pqTopk(s: SparkSession, dir: String, probeLimit: Int): DataFrame =
    pqTopk(s, dir, probeLimit, nprobe = PqNprobe, shortlist = 50)

  /** Knob-parameterized form — nprobe (probed cells per query) and
    * shortlist (ADC candidates kept for exact rescore) are the two
    * serving-cost/recall dials; the gate queries pin (2, 20), and
    * [[pqServingMeter]] sweeps the frontier so the defaults are
    * measured, not guessed (SCALING.md).
    */
  private def pqTopk(s: SparkSession, dir: String, probeLimit: Int,
      nprobe: Int, shortlist: Int): DataFrame =
    pqTopkFor(s, dir, col("vec_id") < probeLimit, nprobe, shortlist, 5)

  /** Probe-set- and depth-parameterized IVF-PQ serving pass — the
    * dense arm of the serving-grade hybrid fusion
    * (`ann_hybrid_serving` in [[Retrieval]]) probes the SAME staged
    * PQ artifacts with the embedded-query probe set and the fusion
    * depth. `probeFilter` is a predicate over `vec_id`, applied to
    * both the probe embeddings and their trained-cell rankings. */
  private[graft] def pqTopkFor(s: SparkSession, dir: String,
      probeFilter: org.apache.spark.sql.Column, nprobe: Int, shortlist: Int,
      k: Int): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val v = vecs(s, dir)
    val pcells = centroidDists(s, dir).filter(probeFilter)
      .groupBy($"vec_id")
      .agg(graft.functions.GroupedTopK.groupedTopK(-$"d", $"clabel".cast("long"), nprobe).as("top"))
      .select($"vec_id".as("probe"), explode($"top.id").as("pcell"))
    val probes0 = v.filter(probeFilter)
      .select($"vec_id".as("probe"), $"embedding".as("pe"), $"norm2".as("pn"))
    // base term: dot(probe, centroid) per probed cell
    val bq = probes0.join(pcells, "probe")
      .join(broadcast(trainedCentroids(s, dir)), $"pcell" === $"clabel")
      .select($"probe", $"pcell", aggregate(
        zip_with($"pe", $"cv", (a, b) => a.cast("double") * b),
        lit(0.0), (acc, x) => acc + x).as("bq"))
    // ADC lookup table: dot(probe subvector, code vector) — probes×M×K
    val td = probes0
      .withColumn("h", floor(size($"pe") / PqM).cast("int"))
      .withColumn("m", explode(sequence(lit(0), lit(PqM - 1))))
      .withColumn("psub", slice($"pe", $"m" * $"h" + 1, $"h"))
      .join(broadcast(pqCodebook(s, dir)), "m")
      .select($"probe", $"m", $"code", aggregate(
        zip_with($"psub", $"cvq", (a, b) => a.cast("double") * b),
        lit(0.0), (acc, x) => acc + x).as("sd"))
    // r17 optimization — classic array-indexed ADC: flatten each probe's
    // (m, code) → sd table into ONE broadcast map keyed m·K + code and
    // fold the candidate's M-entry code ARRAY over it, in subspace order
    // (sequence 0..M−1, sequential double fold — the identical addition
    // order, hence bit-identical sums, as the former sorted-collect_list
    // fold). This replaces the explode-to-M-rows join + re-aggregation
    // per candidate (candidates × M joined rows, then a hash aggregate
    // with a per-group sort) with one codegen'd expression per candidate
    // row over the staged serving index — no shuffle, no per-candidate
    // aggregation, M map lookups per scanned vector.
    val K = 1 << (PqBits + PqMagBits)
    val tdm = td.groupBy($"probe")
      .agg(map_from_entries(collect_list(
        struct(($"m" * K + $"code").as("k"), $"sd".as("v")))).as("adc"))
    val psi = pqServingIndex(s, dir)
    val probesC = pcells.join(probes0.select($"probe", $"pn"), "probe")
    val approx = psi
      .join(broadcast(probesC), $"cell" === $"pcell" && $"vec_id" =!= $"probe")
      .join(broadcast(tdm), "probe")
      // COMPLETENESS INVARIANT (ADVICE r17): element_at returns null for
      // a missing (m, code) key, which would null sdsum and silently
      // drop the candidate. Every code here is an argmin over the SAME
      // codebook rows the ADC table `td` joined (both sides of one
      // generation dir, whose name now carries PqParams), so a missing
      // key requires mixing artifacts across generations — which the
      // corpus fingerprint + parameter-named artifacts prevent; a
      // partially-written generation is excluded by the atomic-rename
      // commit. Kept as a documented invariant rather than a per-element
      // assert_true: the fold is the serving hot path (M lookups per
      // scanned vector).
      .select($"probe", $"pcell", $"pn", $"vec_id", $"norm2",
        aggregate(sequence(lit(0), lit(PqM - 1)), lit(0.0),
          (acc, m) => acc + element_at($"adc",
            m * K + element_at($"codes", m + 1))).as("sdsum"))
      .join(broadcast(bq), Seq("probe", "pcell"))
      .withColumn("approx", ($"bq" + $"sdsum") / sqrt($"pn" * $"norm2"))
    val cand = approx
      .groupBy($"probe")
      .agg(graft.functions.GroupedTopK.groupedTopK($"approx", $"vec_id", shortlist).as("top"))
      .select($"probe", explode($"top.id").as("neighbor"))
    val pairs = cand
      .join(psi.select($"vec_id".as("neighbor"), $"embedding", $"norm2"), "neighbor")
      .join(broadcast(probes0.select($"probe", $"pe", $"pn")), "probe")
      .withColumn("cos", dot($"pe", $"embedding") / sqrt($"pn" * $"norm2"))
      .select($"probe", $"neighbor", $"cos")
    topk(pairs, k)
  }

  /** Driver-side copy of the trained centroid table (clabel ascending)
    * for the streaming-ingest twin ([[graft.streaming.AnnStream]]):
    * nlist ∝ √n rows — the exact artifact the batch assignment
    * broadcasts, handed to the stream as its static quantizer.
    */
  def trainedCentroidArrays(s: SparkSession, dir: String): Array[(Long, Array[Double])] =
    centroidArraysFrom(trainedCentroids(s, dir))

  /** The ONE rows→driver-arrays assembly for centroid tables (shared by
    * the corpus-staged and generation-staged loads — the two must never
    * drift).
    */
  private def centroidArraysFrom(df: DataFrame): Array[(Long, Array[Double])] = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("clabel").cast("long"), col("cv"))
      .as[(Long, Array[Double])]
      .collect()
      .sortBy(_._1)
  }

  /** Driver-side copy of the PQ codebook for the streaming-ingest twin:
    * `codebook(m)(code)` = the mean residual subvector — PqM·2^PqBits
    * rows, the broadcast-sized artifact the ADC join ships. A seed
    * pattern that never occurred in the training corpus has NO codebook
    * row; its slot stays null and the streaming argmin skips it, exactly
    * as the batch argmin's inner join never sees it.
    */
  def pqCodebookArrays(s: SparkSession, dir: String): Array[Array[Array[Double]]] =
    codebookArraysFrom(pqCodebook(s, dir))

  /** The ONE rows→nested-array assembly for codebook tables (null slot
    * = a seed pattern never seen in training — the contract both the
    * corpus-staged and generation-staged loads must honor identically).
    */
  private def codebookArraysFrom(df: DataFrame): Array[Array[Array[Double]]] = {
    val s = df.sparkSession
    import s.implicits._
    val rows = df
      .select(col("m").cast("int"), col("code").cast("int"), col("cvq"))
      .as[(Int, Int, Array[Double])]
      .collect()
    val m = rows.map(_._1).max + 1
    val k = rows.map(_._2).max + 1
    val out: Array[Array[Array[Double]]] = Array.fill(m, k)(null)
    rows.foreach { case (mi, ci, cvq) => out(mi)(ci) = cvq }
    out
  }

  /** Batch PQ code table, exposed for the streaming parity spec. */
  private[graft] def pqCodesView(s: SparkSession, dir: String): DataFrame =
    pqCodes(s, dir)

  /** Static serving-index table for the streaming serving twin
    * ([[graft.streaming.AnnStream.pqServe]]): one row per corpus vector
    * carrying everything the online scorer needs — the IVF cell (the
    * stream-static join key), the staged squared norm, the M PQ codes in
    * subspace order, and the raw embedding for the full-precision
    * rescore of the shortlist. All pieces are the SAME staged batch
    * artifacts the batch `ann_pq_topk` serves from, joined on vec_id —
    * the index is built once per corpus generation; the query stream
    * never touches raw corpus text. At 100 TB [[writeServingIndex]]
    * writes this table partitioned by cell, so the streaming twin's
    * per-batch scan prunes to the probed cells.
    */
  def pqServingIndex(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "Similarity.pq_srv") {
      import s.implicits._
      // staged (r17 optimization): the serving pass consumed its three
      // pieces (vectors+norms, cell assignments, per-vector codes) as
      // three vec_id joins PER QUERY; the assembled index is the
      // artifact the index-build job writes once, and both the batch
      // serving pass and the streaming twin read it as ONE table.
      Staging.readElseBuild(s, dir, s"pq_serving_index_$PqParams", Seq("embeddings")) {
        vecs(s, dir).select($"vec_id", $"embedding", $"norm2")
          .join(assignments(s, dir), "vec_id")
          .join(
            pqCodes(s, dir).groupBy($"vec_id")
              .agg(transform(array_sort(collect_list(struct($"m", $"code"))),
                x => x.getField("code").cast("int")).as("codes")),
            "vec_id")
          .select($"vec_id", $"alabel".cast("long").as("cell"), $"norm2",
            $"codes", $"embedding")
      }.persist()
    }

  /** The (nprobe, shortlist) the batch `ann_pq_topk` serves with —
    * exposed so the streaming twin and its parity spec score under the
    * SAME knobs rather than re-declaring them.
    */
  def pqServingDefaults: (Int, Int) = (PqNprobe, 50)

  /** Batch IVF-PQ top-k at EXPLICIT serving knobs — the parity oracle
    * for per-request (nprobe, shortlist) in the streaming serving twin
    * ([[graft.streaming.AnnStream.QueryEvent]] overrides): a request
    * that buys nprobe=6 must get exactly the rows the batch engine
    * produces at nprobe=6.
    */
  private[graft] def pqTopkAt(s: SparkSession, dir: String, probeLimit: Int,
      nprobe: Int, shortlist: Int): DataFrame =
    pqTopk(s, dir, probeLimit, nprobe, shortlist)

  /** Write the serving index CELL-PARTITIONED — the on-disk layout
    * [[graft.streaming.AnnStream.pqServePruned]] partition-prunes
    * against (one hive-style directory per IVF cell; each micro-batch
    * reads only its probed cells' files). This is the index-build job's
    * final step in the at-scale serving story; the flat
    * [[pqServingIndex]] frame remains the stream-static-join form's
    * input.
    */
  def writeServingIndex(s: SparkSession, dir: String, path: String): Unit =
    pqServingIndex(s, dir).write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Compact the on-disk serving index: every streamed ingest batch
    * APPENDS a file per touched cell partition, so a long-lived index
    * accumulates small files and each serve batch pays file-open +
    * footer cost per file in its probed cells — the classic file-append
    * small-files decay (the maintenance HALF of the write path, next to
    * drift-triggered retrain which rebuilds cell CONTENTS). ONE shuffle,
    * keyed by cell (each cell's rows coalesce into a single task's
    * output file), written to a temp dir and swapped in by rename.
    * Returns (files_before, files_after) for the maintenance loop's
    * trigger ledger; cost ∝ index size, one job per generation.
    *
    * CONCURRENCY CONTRACT — this path-swap form is for a SINGLE-path
    * deployment with a maintenance window: the swap is two renames, and
    * a reader planning between them sees no live path (and one mid-scan
    * of the pre-swap tree loses files when the swapped-out tree is
    * dropped). Run it between serve batches. A tier that must compact
    * UNDER live traffic uses [[compactServingGeneration]] instead —
    * there the rewrite lands as a fresh generation and the pointer flip
    * is the only mutation a reader can observe.
    */
  def compactServingIndex(s: SparkSession, path: String): (Long, Long) = {
    def dataFiles(p: java.nio.file.Path): Long = {
      val st = java.nio.file.Files.walk(p)
      try st.iterator().asScala.count(f =>
        f.getFileName.toString.endsWith(".parquet")).toLong
      finally st.close()
    }
    val root = java.nio.file.Paths.get(path)
    val tmp = java.nio.file.Paths.get(path + ".compact.tmp")
    val old = java.nio.file.Paths.get(path + ".compact.old")
    // crash recovery: the only unsafe window is between the two renames
    // below (live tree moved aside, compacted tree not yet in place). A
    // crash there leaves no live path but a complete `.old` tree — heal
    // it before doing anything else this run.
    if (!java.nio.file.Files.exists(root) && java.nio.file.Files.exists(old))
      java.nio.file.Files.move(old, root)
    val before = dataFiles(root)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    s.read.parquet(path)
      .repartition(col("cell"))
      .sortWithinPartitions(col("vec_id"))
      .write.mode("overwrite").partitionBy("cell").parquet(tmp.toString)
    // atomic swap: live -> .old, tmp -> live, drop .old
    org.apache.commons.io.FileUtils.deleteDirectory(old.toFile)
    java.nio.file.Files.move(root, old)
    java.nio.file.Files.move(tmp, root)
    org.apache.commons.io.FileUtils.deleteDirectory(old.toFile)
    (before, dataFiles(root))
  }

  /** Compact UNDER LIVE TRAFFIC: rewrite the committed generation's
    * index one-file-per-cell INTO A FRESH GENERATION (same centroids +
    * codebook — compaction changes layout, never content) and flip the
    * pointer. No tree a reader can be scanning is ever mutated or
    * deleted; [[graft.streaming.AnnStream.pqServeLatest]] picks the
    * compacted generation up at its next batch, and old generations
    * fall to [[pruneServingGenerations]] on the operator's retention
    * schedule. Returns the new generation number.
    */
  def compactServingGeneration(s: SparkSession, root: String): Long = {
    val g = loadServingGeneration(s, root)
    val next = graft.core.Generations.next(root)
    val gdir = s"$root/gen-$next"
    s.read.parquet(g.indexPath)
      .repartition(col("cell"))
      .sortWithinPartitions(col("vec_id"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$gdir/index")
    val src = java.nio.file.Paths.get(s"$root/gen-${g.gen}")
    org.apache.commons.io.FileUtils.copyDirectory(
      src.resolve("centroids").toFile,
      java.nio.file.Paths.get(gdir, "centroids").toFile)
    org.apache.commons.io.FileUtils.copyDirectory(
      src.resolve("codebook").toFile,
      java.nio.file.Paths.get(gdir, "codebook").toFile)
    graft.core.Generations.setLatest(root, next)
    next
  }

  /** One committed serving GENERATION: the self-contained artifact set
    * a serving tier needs — the cell-partitioned index plus the
    * quantizer that defined it (centroids + PQ codebook; codes are
    * meaningless under any other codebook, so the three travel
    * together).
    */
  final case class ServingGeneration(gen: Long, indexPath: String,
      centroids: Array[(Long, Array[Double])],
      codebook: Array[Array[Array[Double]]])

  /** Write the NEXT serving generation under `root` and flip the
    * `_latest` pointer to it atomically (temp + ATOMIC_MOVE — the
    * CorpusSink generation device, applied to the vector side): the
    * retrain→cutover step of the production loop. A generation is
    * `gen-N/{index, centroids, codebook}` — self-contained, so a
    * serving tier resolving the pointer per batch
    * ([[graft.streaming.AnnStream.pqServeLatest]]) cuts over to a
    * RETRAINED quantizer live, with no query restart: the pointer
    * flip is the only coordination point, readers of the old
    * generation finish their batch undisturbed, and rollback is a
    * pointer write to a previous intact generation.
    */
  def writeServingGeneration(s: SparkSession, dir: String, root: String): Long = {
    // allocate from the DIRECTORIES, not the pointer: after a rollback
    // (pointer rewritten to an older gen) pointer+1 would REUSE a live
    // gen number — overwriting a directory a serving tier may have
    // cached under that number (same gen ⇒ no artifact reload ⇒ new
    // index decoded under a stale codebook). Numbers are monotone over
    // everything ever written, rollback or not.
    val next = graft.core.Generations.next(root)
    val gdir = s"$root/gen-$next"
    writeServingIndex(s, dir, s"$gdir/index")
    trainedCentroids(s, dir)
      .select(col("clabel").cast("long").as("clabel"), col("cv"))
      .coalesce(1).write.mode("overwrite").parquet(s"$gdir/centroids")
    pqCodebook(s, dir)
      .select(col("m").cast("int").as("m"), col("code").cast("int").as("code"),
        col("cvq"))
      .coalesce(1).write.mode("overwrite").parquet(s"$gdir/codebook")
    graft.core.Generations.setLatest(root, next)
    next
  }

  /** Drop all but the newest `keep` generations (the committed pointer
    * target is always retained regardless) — the retention policy that
    * keeps the generation store's disk bounded at keep × index size
    * while preserving rollback targets. Returns the pruned gen numbers.
    * Run it AFTER serving tiers have had a batch under the new pointer
    * (a tier mid-batch on a pruned generation would lose files under
    * its scan — same discipline as any snapshot retention).
    */
  def pruneServingGenerations(root: String, keep: Int): Seq[Long] =
    graft.core.Generations.prune(root, keep)

  /** The generation `_latest` points at, if any committed. */
  def latestServingGeneration(root: String): Option[Long] =
    graft.core.Generations.latest(root)

  /** Load the committed generation's full artifact set (fails if none —
    * an unpublished root is an error, not an empty index).
    */
  def loadServingGeneration(s: SparkSession, root: String): ServingGeneration = {
    val gen = latestServingGeneration(root).getOrElse(
      sys.error(s"$root: no committed serving generation"))
    val gdir = s"$root/gen-$gen"
    ServingGeneration(gen, s"$gdir/index",
      centroidArraysFrom(s.read.parquet(s"$gdir/centroids")),
      codebookArraysFrom(s.read.parquet(s"$gdir/codebook")))
  }

  /** Serving-knob meter (ScaleProbe-only diagnostic): recall@5 of the
    * PQ pass against the exact brute force at explicit (nprobe,
    * shortlist), plus the candidate-scan row count (Σ probed-cell
    * occupancy — the ADC cost driver) so the knobs' recall/cost
    * frontier is measured per corpus rather than defaulted.
    */
  def pqServingMeter(s: SparkSession, dir: String, probeLimit: Int,
      nprobe: Int, shortlist: Int): (Double, Long) = {
    implicit val sp: SparkSession = s
    import s.implicits._
    val v = vecs(s, dir)
    val probes = v.filter($"vec_id" < probeLimit)
      .select($"vec_id".as("probe"), $"embedding".as("pe"), $"norm2".as("pn"))
    val exactPairs = v.join(broadcast(probes), $"vec_id" =!= $"probe")
      .withColumn("cos", dot($"pe", $"embedding") / sqrt($"pn" * $"norm2"))
      .select($"probe", $"vec_id".as("neighbor"), $"cos")
    val ex5 = topk(exactPairs, 5).select($"probe", $"neighbor").persist()
    val pq5 = pqTopk(s, dir, probeLimit, nprobe, shortlist)
      .select($"probe", $"neighbor")
    val common = ex5.join(pq5, Seq("probe", "neighbor"), "left_semi").count()
    val total = ex5.count()
    ex5.unpersist()
    val pcells = centroidDists(s, dir).filter($"vec_id" < probeLimit)
      .groupBy($"vec_id")
      .agg(graft.functions.GroupedTopK.groupedTopK(
        -$"d", $"clabel".cast("long"), nprobe).as("top"))
      .select($"vec_id".as("probe"), explode($"top.id").as("pcell"))
    val candRows = assignments(s, dir)
      .join(broadcast(pcells), $"alabel" === $"pcell").count()
    (common.toDouble / total, candRows)
  }

  /** Deterministic 20% training sample: md5-hash the vec_id, keep
    * residue-0 of 5. Replayable and portable (the oracle reproduces the
    * exact member set) — the same device as tx_sample_stratified.
    */
  private def sampleCond: Column =
    pmod(graft.queries.QueryFns.hash48(col("vec_id").cast("string")), lit(5)) === 0

  /** Label-mean centroids trained on the 20% SAMPLE only (the
    * [[centroidVectors]] twin; same exact-DECIMAL summation). */
  private def sampledSeedMeans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).embeddings
      .filter(sampleCond)
      .select($"label", posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"label", $"pos")
      .agg((sum($"x".cast("double").cast("decimal(27,10)")).cast("double")
        / count(lit(1))).as("m"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
        c => c.getField("m")).as("cv"))
      .select($"label".as("clabel"), $"cv")
  }

  /** Sample-trained quantizer: [[trainedCentroids]] with every mean
    * taken over the deterministic 20% sample. Structure (split-bit
    * count) still follows the FULL corpus size, so the sampled and full
    * quantizers stay cell-count comparable; at b > 0 the residual
    * splits are computed against the sampled label means.
    */
  private def sampledCentroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = splitBitsFor(corpusSize(s, dir))
    if (b == 0) sampledSeedMeans(s, dir)
    else {
      val bits = (0 until b).map(j =>
        when(element_at($"embedding", j + 1).cast("double") >=
          element_at($"cv", j + 1), lit(1 << j)).otherwise(lit(0)))
        .reduce(_ + _)
      Tables(s, dir).embeddings
        .filter(sampleCond)
        .join(broadcast(sampledSeedMeans(s, dir)), $"label" === $"clabel")
        .select($"vec_id", ($"label" * lit(1 << b) + bits).as("cell"), $"embedding")
        .select($"cell", posexplode($"embedding").as(Seq("pos", "x")))
        .groupBy($"cell", $"pos")
        .agg((sum($"x".cast("double").cast("decimal(27,10)")).cast("double")
          / count(lit(1))).as("m"))
        .groupBy($"cell")
        .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
          c => c.getField("m")).as("cv"))
        .select($"cell".as("clabel"), $"cv")
    }
  }

  /** IVF "training" step: per-cluster centroids. Sums run in
    * DECIMAL(27,10) — exact and associative, so the result is identical
    * under any partitioning/aggregation order (a double sum would not
    * be); divided to double only at the end. Shape: posexplode →
    * partial+final HashAggregate on (label, pos).
    */
  private def centroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).embeddings
      .select($"label", posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"label", $"pos")
      // float → double first: Spark's float→decimal cast rounds via the
      // float's 7-digit shortest string; via double both engines round
      // the same exact binary value to 10 decimals.
      .agg((sum($"x".cast("double").cast("decimal(27,10)")).cast("double")
        / count(lit(1))).as("mean"))
      .filter($"pos" < 4) // report the leading components
      .orderBy($"label", $"pos")
  }

  /** Per-vector int8 quantization: scale by 127/max|x| and round —
    * the storage-shrink step before ANN serving.
    */
  private def quantize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val absMax = aggregate(
      transform($"embedding", x => abs(x.cast("double"))),
      lit(0.0), (acc, v) => greatest(acc, v))
    Tables(s, dir).embeddings
      .select($"vec_id", absMax.as("max_abs"),
        element_at($"embedding", 1).cast("double").as("x0"),
        element_at($"embedding", 8).cast("double").as("x7"))
      .select($"vec_id", round($"max_abs", 6).as("max_abs"),
        round($"x0" * 127.0 / $"max_abs").cast("long").as("q0"),
        round($"x7" * 127.0 / $"max_abs").cast("long").as("q7"))
      .orderBy($"vec_id")
  }

  /** Oracle CTE: vectors + norms (+ bucket), double arithmetic in the
    * same sequential fold order as the Spark side.
    */
  private[queries] val VecCte =
    """WITH v AS (
      |  SELECT vec_id, label, embedding,
      |    list_reduce(list_prepend(0.0::DOUBLE,
      |      list_transform(range(1, len(embedding) + 1),
      |        i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)),
      |      (x, y) -> x + y) AS norm2,
      |    list_reduce(list_prepend(0::BIGINT,
      |      list_transform(range(1, 9),
      |        i -> CASE WHEN embedding[i] > 0 THEN CAST(2**(i-1) AS BIGINT)
      |             ELSE 0::BIGINT END)),
      |      (x, y) -> x + y) AS bucket
      |  FROM embeddings)""".stripMargin

  /** Oracle twin of [[multiBuckets]] (appended after [[VecCte]]): each
    * vector's [[LshTables]] per-table sign buckets over dims 8t+1..8t+8.
    */
  private val MultiBucketCte =
    s"""mb AS (
       |  SELECT v.vec_id, tt.t,
       |    list_reduce(list_prepend(0::BIGINT,
       |      list_transform(range(1, 9),
       |        i -> CASE WHEN v.embedding[8 * tt.t + i] > 0
       |             THEN CAST(2**(i-1) AS BIGINT) ELSE 0::BIGINT END)),
       |      (x, y) -> x + y) AS bucket
       |  FROM v, (SELECT unnest(range(0, $LshTables)) AS t) tt)""".stripMargin

  /** Oracle twin of [[quantizedVecs]] (appended after [[VecCte]]): the
    * int8 code book — vmax then rounded 127/vmax codes. One copy for
    * both quantized oracles, mirroring the single Scala-side copy.
    */
  private val QuantCte =
    """q0 AS (
      |  SELECT vec_id, embedding, norm2,
      |    list_reduce(list_prepend(0.0::DOUBLE,
      |      list_transform(embedding, x -> abs(x::DOUBLE))),
      |      (a, b) -> greatest(a, b)) AS vmax
      |  FROM v),
      |qq AS (
      |  SELECT vec_id, embedding, norm2, vmax,
      |    list_transform(embedding,
      |      x -> CAST(round(x::DOUBLE * 127.0 / vmax) AS BIGINT)) AS qv
      |  FROM q0)""".stripMargin

  private def oracleFor(probeLimit: Int, joinCond: String, k: Int): String =
    s"""$VecCte,
       |probes AS (SELECT vec_id AS probe, label AS plabel, bucket AS pbucket,
       |                  embedding AS pe, norm2 AS pn
       |           FROM v WHERE vec_id < $probeLimit),
       |pairs AS (
       |  SELECT p.probe, v.vec_id AS neighbor,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(range(1, len(p.pe) + 1),
       |        i -> p.pe[i]::DOUBLE * v.embedding[i]::DOUBLE)),
       |      (x, y) -> x + y) / sqrt(p.pn * v.norm2) AS cos
       |  FROM v JOIN probes p ON v.vec_id <> p.probe AND $joinCond),
       |ranked AS (
       |  SELECT probe, neighbor, cos,
       |    row_number() OVER (PARTITION BY probe ORDER BY cos DESC, neighbor) AS rank
       |  FROM pairs)
       |SELECT probe, rank, neighbor, round(cos, 6) AS cos
       |FROM ranked WHERE rank <= $k ORDER BY probe, rank""".stripMargin

  /** Oracle CTE for the label-mean codebook alone (cde/cm/carr) — shared
    * by the trained-quantizer assignment CTE and the IMI product
    * quantizer (which reads half-ranges of the same `carr` vectors).
    */
  private val CentroidCte =
    """cde AS (
      |  SELECT label, i - 1 AS pos, embedding[i]::DOUBLE AS x
      |  FROM embeddings, (SELECT unnest(range(1, 200)) AS i) p
      |  WHERE i <= len(embedding)),
      |cm AS (
      |  SELECT label, pos, CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
      |  FROM cde GROUP BY label, pos),
      |carr AS (SELECT label AS clabel, list(m ORDER BY pos) AS cv FROM cm GROUP BY label)""".stripMargin

  /** Oracle CTEs for the trained quantizer (appended after [[VecCte]]):
    * full-width centroids with the exact-DECIMAL mean, per-pair squared
    * L2 via the same sequential double fold, argmin assignment with
    * label tie-break.
    */
  private[queries] val TrainedAsgCte =
    s"""$CentroidCte,
      |dist AS (
      |  SELECT v.vec_id, c.clabel,
      |    list_reduce(list_prepend(0.0::DOUBLE,
      |      list_transform(range(1, len(v.embedding) + 1),
      |        i -> (v.embedding[i]::DOUBLE - c.cv[i]) * (v.embedding[i]::DOUBLE - c.cv[i]))),
      |      (a, b) -> a + b) AS d
      |  FROM v, carr c),
      |asg AS (
      |  SELECT vec_id, clabel AS alabel FROM (
      |    SELECT vec_id, clabel,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, clabel) AS rn
      |    FROM dist) WHERE rn = 1)""".stripMargin

  /** Oracle twin of the sample-trained quantizer (gate regime b = 0,
    * like [[TrainedAsgCte]]): centroid means restricted to the
    * deterministic 20% md5 sample; distances/assignment over the FULL
    * corpus, unchanged.
    */
  private val SampledAsgCte =
    """scde AS (
      |  SELECT label, i - 1 AS pos, embedding[i]::DOUBLE AS x
      |  FROM embeddings, (SELECT unnest(range(1, 200)) AS i) p
      |  WHERE i <= len(embedding)
      |    AND ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT % 5 = 0),
      |scm AS (
      |  SELECT label, pos, CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
      |  FROM scde GROUP BY label, pos),
      |scarr AS (SELECT label AS clabel, list(m ORDER BY pos) AS cv FROM scm GROUP BY label),
      |sdist AS (
      |  SELECT v.vec_id, c.clabel,
      |    list_reduce(list_prepend(0.0::DOUBLE,
      |      list_transform(range(1, len(v.embedding) + 1),
      |        i -> (v.embedding[i]::DOUBLE - c.cv[i]) * (v.embedding[i]::DOUBLE - c.cv[i]))),
      |      (a, b) -> a + b) AS d
      |  FROM v, scarr c),
      |sasg AS (
      |  SELECT vec_id, clabel AS alabel FROM (
      |    SELECT vec_id, clabel,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, clabel) AS rn
      |    FROM sdist) WHERE rn = 1)""".stripMargin

  /** Oracle twin of [[imiDists]] + [[imiAssignments]] (appended after
    * [[VecCte]] and [[CentroidCte]]): half-range squared-L2 folds over
    * the same codebook, independent per-half argmin, product cell id.
    */
  private val ImiAsgCte =
    """hdist AS (
      |  SELECT v.vec_id, c.clabel,
      |    list_reduce(list_prepend(0.0::DOUBLE,
      |      list_transform(range(1, len(v.embedding) // 2 + 1),
      |        i -> (v.embedding[i]::DOUBLE - c.cv[i]) * (v.embedding[i]::DOUBLE - c.cv[i]))),
      |      (a, b) -> a + b) AS d1,
      |    list_reduce(list_prepend(0.0::DOUBLE,
      |      list_transform(range(len(v.embedding) // 2 + 1, len(v.embedding) + 1),
      |        i -> (v.embedding[i]::DOUBLE - c.cv[i]) * (v.embedding[i]::DOUBLE - c.cv[i]))),
      |      (a, b) -> a + b) AS d2
      |  FROM v, carr c),
      |ia1 AS (SELECT vec_id, clabel AS c1 FROM (
      |  SELECT vec_id, clabel,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d1, clabel) AS rn
      |  FROM hdist) WHERE rn = 1),
      |ia2 AS (SELECT vec_id, clabel AS c2 FROM (
      |  SELECT vec_id, clabel,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
      |  FROM hdist) WHERE rn = 1),
      |iasg AS (
      |  SELECT ia1.vec_id,
      |    CAST(ia1.c1 AS BIGINT) * 1000000 + CAST(ia2.c2 AS BIGINT) AS icell
      |  FROM ia1 JOIN ia2 ON ia2.vec_id = ia1.vec_id)""".stripMargin

  /** Oracle CTEs for the PQ tier (appended after [[TrainedAsgCte]], whose
    * `asg`/`carr`/`dist` it consumes): residuals against the assigned
    * centroid, per-subspace sign-seeded codebook means, then
    * [[PqLloydSteps]] Lloyd rounds (argmin re-assign → DECIMAL-mean
    * re-train), then the final argmin code assignment — the twins of
    * [[pqSubvectors]]/[[pqCodebook]]/[[pqCodes]], generated with the
    * SAME round count so an edit to [[PqLloydSteps]] cannot desync the
    * engines. DuckDB `list_slice(l, a, b)` is inclusive of b, so the
    * m-th subspace is elements m·h+1 .. (m+1)·h with h = len // 16.
    */
  private[queries] val PqCte: String = {
    def sqDist(book: String) =
      s"""  SELECT g.vec_id, g.m, b.code,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(g.sub) + 1),
         |        i -> (g.sub[i] - b.cvq[i]) * (g.sub[i] - b.cvq[i]))),
         |      (a, x) -> a + x) AS d
         |  FROM subg g JOIN $book b ON b.m = g.m""".stripMargin
    def argmin(dist: String) =
      s"""  SELECT vec_id, m, code FROM (
         |    SELECT vec_id, m, code,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
         |    FROM $dist) WHERE rn = 1""".stripMargin
    def train(t: Int, asg: String) =
      s"""bde$t AS (
         |  SELECT g.m, k.code, i - 1 AS pos, g.sub[i] AS x
         |  FROM subg g JOIN $asg k ON k.vec_id = g.vec_id AND k.m = g.m,
         |  (SELECT unnest(range(1, 200)) AS i) p WHERE i <= len(g.sub)),
         |bm$t AS (
         |  SELECT m, code, pos,
         |    CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS c
         |  FROM bde$t GROUP BY m, code, pos),
         |book$t AS (SELECT m, code, list(c ORDER BY pos) AS cvq
         |           FROM bm$t GROUP BY m, code)""".stripMargin
    // radial-split chain, generated from PqMagBits exactly like the
    // Lloyd rounds are from PqLloydSteps: each round splits every
    // current seed group at its DECIMAL-exact mean ||sub||² and sets
    // the next power-of-two bit — the oracle twin of the Spark fold in
    // [[pqSubvectors]] (same sequential n2 fold, same DECIMAL mean,
    // same strict > comparison).
    val magChain = (1 to PqMagBits).map { j =>
      s"""magthr$j AS (
         |  SELECT m, seed,
         |    CAST(SUM(CAST(n2 AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS thr
         |  FROM subg${j - 1} GROUP BY m, seed),
         |subg$j AS (
         |  SELECT g.vec_id, g.m, g.sub,
         |    g.seed + CASE WHEN g.n2 > t.thr
         |      THEN ${1 << (PqBits + j - 1)} ELSE 0 END AS seed,
         |    g.n2
         |  FROM subg${j - 1} g JOIN magthr$j t
         |    ON t.m = g.m AND t.seed = g.seed)""".stripMargin
    }
    val header =
      ("""res AS (
        |  SELECT v.vec_id, a.alabel,
        |    list_transform(range(1, len(v.embedding) + 1),
        |      i -> v.embedding[i]::DOUBLE - c.cv[i]) AS r
        |  FROM v JOIN asg a ON a.vec_id = v.vec_id
        |  JOIN carr c ON c.clabel = a.alabel),
        |ssub AS (
        |  SELECT vec_id, m,
        |    list_slice(r, m * (len(r) // 16) + 1, (m + 1) * (len(r) // 16)) AS sub
        |  FROM res, (SELECT unnest(range(0, 16)) AS m) ms),
        |subg0 AS (
        |  SELECT vec_id, m, sub,
        |    (CASE WHEN sub[1] >= 0 THEN 1 ELSE 0 END
        |     + CASE WHEN sub[2] >= 0 THEN 2 ELSE 0 END
        |     + CASE WHEN sub[3] >= 0 THEN 4 ELSE 0 END
        |     + CASE WHEN sub[4] >= 0 THEN 8 ELSE 0 END) AS seed,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list_transform(sub, x -> x * x)), (a, b) -> a + b) AS n2
        |  FROM ssub)""".stripMargin +:
        magChain :+
        s"""subg AS (SELECT vec_id, m, sub, seed FROM subg$PqMagBits),
           |seedasg AS (SELECT vec_id, m, seed AS code FROM subg)""".stripMargin)
        .mkString(",\n")
    val round0 = train(0, "seedasg")
    val lloyd = (1 to PqLloydSteps).map { t =>
      s"""asgd$t AS (
         |${sqDist(s"book${t - 1}")}),
         |asg$t AS (
         |${argmin(s"asgd$t")}),
         |${train(t, s"asg$t")}""".stripMargin
    }
    val finalCtes =
      s"""book AS (SELECT * FROM book$PqLloydSteps),
         |cdist AS (
         |${sqDist("book")}),
         |codes AS (
         |${argmin("cdist")})""".stripMargin
    ((header +: round0 +: lloyd) :+ finalCtes).mkString(",\n")
  }

  /** Oracle CTE chain that RE-TRAINS the PCA axis: per-dimension
    * DECIMAL-exact mean, centered vectors, then [[PcaIters]] generated
    * power-iteration rounds (centered dot per vector → per-dimension
    * DECIMAL(27,6) sum → pos-ordered norm fold → normalize) from the
    * same fixed start 1/√d — the twin of [[pcaAxis]], generated with
    * the SAME round count so an edit to [[PcaIters]] cannot desync the
    * engines. `paxis` is the final axis table.
    */
  private val PcaCte: String = {
    val header =
      """WITH pde AS (
        |  SELECT vec_id, i - 1 AS pos, embedding[i]::DOUBLE AS x
        |  FROM embeddings, (SELECT unnest(range(1, 2049)) AS i) p
        |  WHERE i <= len(embedding)),
        |pmu AS (
        |  SELECT pos, CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE)
        |    / COUNT(*) AS mu
        |  FROM pde GROUP BY pos),
        |pmuarr AS (SELECT list(mu ORDER BY pos) AS mu FROM pmu),
        |pdim AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM pmu),
        |pr AS (
        |  SELECT e.vec_id, e.label,
        |    list_transform(range(1, len(e.embedding) + 1),
        |      i -> e.embedding[i]::DOUBLE - m.mu[i]) AS r
        |  FROM embeddings e, pmuarr m),
        |prde AS (
        |  SELECT vec_id, i - 1 AS pos, r[i] AS rx
        |  FROM pr, (SELECT unnest(range(1, 2049)) AS i) p
        |  WHERE i <= len(r)),
        |pv0 AS (
        |  SELECT list_transform(range(1, d + 1),
        |    i -> 1.0::DOUBLE / sqrt(d::DOUBLE)) AS v
        |  FROM pdim)""".stripMargin
    def round(pfx: String, src: String, srcDe: String)(t: Int) =
      s"""$pfx$t AS (
         |  SELECT p.vec_id,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(p.r) + 1),
         |        i -> p.r[i] * v.v[i])),
         |      (a, b) -> a + b) AS c
         |  FROM $src p, ${pfx}v${t - 1} v),
         |${pfx}w$t AS (
         |  SELECT d.pos,
         |    CAST(SUM(CAST(c.c * d.rx AS DECIMAL(27,6))) AS DOUBLE) AS w
         |  FROM $srcDe d JOIN $pfx$t c USING (vec_id) GROUP BY d.pos),
         |${pfx}warr$t AS (SELECT list(w ORDER BY pos) AS w FROM ${pfx}w$t),
         |${pfx}v$t AS (
         |  SELECT list_transform(w, x -> x / sqrt(
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(w, y -> y * y)), (a, b) -> a + b))) AS v
         |  FROM ${pfx}warr$t)""".stripMargin
    // deflation for the second component: c1 with the FINAL v1, then
    // r₂ = r − c1·v₁ (same elementwise expression as the Spark side)
    val deflate =
      s"""paxis1 AS (SELECT v FROM pcv$PcaIters),
         |pcf AS (
         |  SELECT p.vec_id,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(p.r) + 1),
         |        i -> p.r[i] * a.v[i])),
         |      (x, y) -> x + y) AS c1
         |  FROM pr p, paxis1 a),
         |pr2 AS (
         |  SELECT p.vec_id, p.label,
         |    list_transform(range(1, len(p.r) + 1),
         |      i -> p.r[i] - f.c1 * a.v[i]) AS r
         |  FROM pr p JOIN pcf f USING (vec_id), paxis1 a),
         |prde2 AS (
         |  SELECT vec_id, i - 1 AS pos, r[i] AS rx
         |  FROM pr2, (SELECT unnest(range(1, 2049)) AS i) p
         |  WHERE i <= len(r)),
         |pdfv0 AS (
         |  SELECT list_transform(range(1, d + 1),
         |    i -> 1.0::DOUBLE / sqrt(d::DOUBLE)) AS v
         |  FROM pdim)""".stripMargin
    val v1Rounds = (1 to PcaIters).map(round("pc", "pr", "prde"))
    val v2Rounds = (1 to PcaIters).map(round("pdf", "pr2", "prde2"))
    ((header.replace("pv0 AS", "pcv0 AS") +: v1Rounds) ++
      (deflate +: v2Rounds)).mkString(",\n") +
      s",\npaxis2 AS (SELECT v FROM pdfv$PcaIters)"
  }

  /** The PQ serving pass as oracle SQL, parameterized on the probe
    * limit (twin of [[pqTopk]]); `pq5` is the final top-5 table.
    */
  private def pqSearchCtes(probeLimit: Int): String =
    pqSearchCtesWhere(s"vec_id < $probeLimit")

  /** Probe-predicate form of the PQ search CTE chain (the oracle twin
    * of [[pqTopkFor]]); `where` is a SQL predicate over `vec_id`. */
  private[queries] def pqSearchCtesWhere(where: String): String =
    s"""pcell AS (
       |  SELECT vec_id AS probe, clabel AS pcell FROM (
       |    SELECT vec_id, clabel,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d, clabel) AS rn
       |    FROM dist WHERE $where) WHERE rn <= $PqNprobe),
       |probes AS (
       |  SELECT vec_id AS probe, embedding AS pe, norm2 AS pn
       |  FROM v WHERE $where),
       |bq AS (
       |  SELECT pc.probe, pc.pcell,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(range(1, len(p.pe) + 1),
       |        i -> p.pe[i]::DOUBLE * c.cv[i])),
       |      (x, y) -> x + y) AS bq
       |  FROM pcell pc JOIN probes p ON p.probe = pc.probe
       |  JOIN carr c ON c.clabel = pc.pcell),
       |td AS (
       |  SELECT p.probe, b.m, b.code,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(range(1, len(b.cvq) + 1),
       |        i -> p.pe[b.m * (len(p.pe) // 16) + i]::DOUBLE * b.cvq[i])),
       |      (x, y) -> x + y) AS sd
       |  FROM probes p, book b),
       |pqc AS (
       |  SELECT p.probe, c.pcell, t.vec_id AS neighbor, t.norm2, p.pn
       |  FROM v t JOIN asg a ON a.vec_id = t.vec_id
       |  JOIN pcell c ON a.alabel = c.pcell
       |  JOIN probes p ON p.probe = c.probe AND t.vec_id <> p.probe),
       |apxd AS (
       |  SELECT x.probe, x.neighbor,
       |    (b.bq + list_reduce(list_prepend(0.0::DOUBLE, list(t.sd ORDER BY t.m)),
       |       (a, y) -> a + y)) / sqrt(x.pn * x.norm2) AS approx
       |  FROM pqc x
       |  JOIN codes k ON k.vec_id = x.neighbor
       |  JOIN td t ON t.probe = x.probe AND t.m = k.m AND t.code = k.code
       |  JOIN bq b ON b.probe = x.probe AND b.pcell = x.pcell
       |  GROUP BY x.probe, x.neighbor, x.norm2, x.pn, b.bq),
       |shortlist AS (SELECT probe, neighbor FROM (
       |  SELECT probe, neighbor,
       |    row_number() OVER (PARTITION BY probe ORDER BY approx DESC, neighbor) AS arn
       |  FROM apxd) WHERE arn <= 50),
       |rpairs AS (
       |  SELECT c.probe, c.neighbor,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(range(1, len(p.pe) + 1),
       |        i -> p.pe[i]::DOUBLE * t.embedding[i]::DOUBLE)),
       |      (x, y) -> x + y) / sqrt(p.pn * t.norm2) AS cos
       |  FROM shortlist c JOIN v t ON t.vec_id = c.neighbor
       |  JOIN probes p ON p.probe = c.probe),
       |pq5 AS (
       |  SELECT probe, neighbor, cos,
       |    row_number() OVER (PARTITION BY probe ORDER BY cos DESC, neighbor) AS rank
       |  FROM rpairs)""".stripMargin

  /** Shared oracle CTEs for the scaled-replica (b > 0) gate queries:
    * geometry (R, scaled n, nlist, split_bits), the replica coordinate
    * grid over the split dims, per-label DECIMAL means, sign bits, and
    * the final (svec_id, cell) table.
    */
  private val ScaledCellsCte =
    """WITH geo0 AS (
      |  SELECT CAST(ceil(16001.0 / n) AS INTEGER) AS r, n
      |  FROM (SELECT count(*) AS n FROM embeddings)),
      |geo1 AS (
      |  SELECT r, n * r AS sn,
      |    greatest(10, CAST(ceil(sqrt(n * r / 20.0)) AS INTEGER)) AS nlist
      |  FROM geo0),
      |geo AS (
      |  SELECT r, sn, nlist,
      |    CASE WHEN nlist <= 10 THEN 0
      |         ELSE CAST(ceil(log2(nlist / 10.0)) AS INTEGER) END AS sb
      |  FROM geo1),
      |reps AS (
      |  SELECT unnest(generate_series(0, (SELECT r FROM geo) - 1)) AS rep),
      |ex AS (
      |  SELECT e.vec_id * (SELECT r FROM geo) + rp.rep AS svec_id,
      |    e.label, d.i - 1 AS pos,
      |    e.embedding[d.i]::DOUBLE + rp.rep * 0.25 AS x
      |  FROM embeddings e, reps rp,
      |    (SELECT unnest(generate_series(1, (SELECT sb FROM geo))) AS i) d),
      |cv AS (
      |  SELECT label, pos,
      |    CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
      |  FROM ex GROUP BY label, pos),
      |bits AS (
      |  SELECT ex.svec_id, ex.label,
      |    SUM(CASE WHEN ex.x >= cv.m
      |        THEN CAST(1 AS BIGINT) << ex.pos ELSE CAST(0 AS BIGINT) END) AS b
      |  FROM ex JOIN cv ON ex.label = cv.label AND ex.pos = cv.pos
      |  GROUP BY ex.svec_id, ex.label),
      |cells AS (
      |  SELECT svec_id,
      |    CAST(CAST(label AS BIGINT) * (CAST(1 AS BIGINT) << (SELECT sb FROM geo)) + b
      |      AS BIGINT) AS cell
      |  FROM bits)""".stripMargin

  /** Oracle twin of the PCA-grid tier (appended after [[PcaCte]]):
    * per-vector norms + both projections, lattice bounds, cell
    * assignment with the same least/floor expression, the probe's 3×3
    * neighborhood as two unnested offset tables, exact-cosine verify,
    * rank ≤ 5. `gc` is the celled corpus, `gp` the probes, `g5` the
    * served top-5.
    */
  private def pcaGridCtes(probeLimit: Int): String =
    s"""gv AS (
       |  SELECT e.vec_id, e.embedding,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(range(1, len(e.embedding) + 1),
       |        i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)),
       |      (x, y) -> x + y) AS norm2,
       |    f.c1,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(range(1, len(q.r) + 1),
       |        i -> q.r[i] * b.v[i])),
       |      (x, y) -> x + y) AS c2
       |  FROM embeddings e JOIN pcf f ON f.vec_id = e.vec_id
       |       JOIN pr2 q ON q.vec_id = e.vec_id, paxis2 b),
       |gb AS (SELECT min(c1) AS mn1, max(c1) AS mx1,
       |              min(c2) AS mn2, max(c2) AS mx2 FROM gv),
       |gc AS (
       |  SELECT vec_id, embedding, norm2,
       |    CAST(least(floor((c1 - b.mn1) / ((b.mx1 - b.mn1) / $PcaGrid)),
       |      ${PcaGrid - 1}) AS BIGINT) AS cx,
       |    CAST(least(floor((c2 - b.mn2) / ((b.mx2 - b.mn2) / $PcaGrid)),
       |      ${PcaGrid - 1}) AS BIGINT) AS cy
       |  FROM gv, gb b),
       |gp AS (SELECT vec_id AS probe, embedding AS pe, norm2 AS pn,
       |              cx AS pcx, cy AS pcy
       |       FROM gc WHERE vec_id < $probeLimit),
       |gn AS (SELECT probe, pe, pn, pcx + dx.o AS cx, pcy + dy.o AS cy
       |       FROM gp, (SELECT unnest([-1, 0, 1]) AS o) dx,
       |            (SELECT unnest([-1, 0, 1]) AS o) dy),
       |gpair AS (
       |  SELECT n.probe, c.vec_id AS neighbor,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(range(1, len(n.pe) + 1),
       |        i -> n.pe[i]::DOUBLE * c.embedding[i]::DOUBLE)),
       |      (x, y) -> x + y) / sqrt(n.pn * c.norm2) AS cos
       |  FROM gc c JOIN gn n ON c.cx = n.cx AND c.cy = n.cy
       |       AND c.vec_id <> n.probe),
       |g5 AS (SELECT probe, rank, neighbor, cos FROM (
       |  SELECT probe, neighbor, cos,
       |    row_number() OVER (PARTITION BY probe
       |      ORDER BY cos DESC, neighbor) AS rank
       |  FROM gpair) WHERE rank <= 5)""".stripMargin

  def oracle: Map[String, String] = Map(
    "ann_pca_cells" ->
      s"""$PcaCte,
         |${pcaGridCtes(25)},
         |pcellc AS (SELECT cx, cy, count(*) AS c FROM gc GROUP BY cx, cy)
         |SELECT CAST(count(*) AS BIGINT) AS cells_used,
         |  CAST(max(c) AS BIGINT) AS max_cell,
         |  CAST(sum(c) AS BIGINT) AS n_vectors,
         |  CAST(sum(c * (c - 1)) // 2 AS BIGINT) AS within_cell_pairs
         |FROM pcellc""".stripMargin,

    "ann_pca_topk" ->
      s"""$PcaCte,
         |${pcaGridCtes(50)}
         |SELECT probe, rank, neighbor, round(cos, 6) AS cos
         |FROM g5 ORDER BY probe, rank""".stripMargin,

    "ann_pca_recall" ->
      s"""$PcaCte,
         |${pcaGridCtes(25)},
         |gex AS (
         |  SELECT p.probe, c.vec_id AS neighbor,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(p.pe) + 1),
         |        i -> p.pe[i]::DOUBLE * c.embedding[i]::DOUBLE)),
         |      (x, y) -> x + y) / sqrt(p.pn * c.norm2) AS cos
         |  FROM gc c JOIN gp p ON c.vec_id <> p.probe),
         |gex5 AS (SELECT probe, neighbor FROM (
         |  SELECT probe, neighbor,
         |    row_number() OVER (PARTITION BY probe
         |      ORDER BY cos DESC, neighbor) AS rank
         |  FROM gex) WHERE rank <= 5),
         |gne AS (SELECT probe, CAST(count(*) AS BIGINT) AS n_exact
         |        FROM gex5 GROUP BY probe),
         |gng AS (SELECT probe, CAST(count(*) AS BIGINT) AS n_grid
         |        FROM g5 GROUP BY probe),
         |gnc AS (
         |  SELECT e.probe, CAST(count(*) AS BIGINT) AS n_common
         |  FROM gex5 e JOIN g5 g
         |    ON g.probe = e.probe AND g.neighbor = e.neighbor
         |  GROUP BY e.probe)
         |SELECT gne.probe, gne.n_exact, gng.n_grid,
         |  COALESCE(gnc.n_common, CAST(0 AS BIGINT)) AS n_common
         |FROM gne JOIN gng ON gng.probe = gne.probe
         |LEFT JOIN gnc ON gnc.probe = gne.probe
         |ORDER BY gne.probe""".stripMargin,

    // Oracle twins of the PCA family: PcaCte re-trains the axis with
    // the same generated round count; projection and variance replay
    // the same pos-ordered folds.
    "ann_pca_project" ->
      s"""$PcaCte,
         |pproj AS (
         |  SELECT p.vec_id, p.label,
         |    round(f.c1, 4) + 0.0 AS proj1,
         |    round(list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(q.r) + 1),
         |        i -> q.r[i] * b.v[i])),
         |      (x, y) -> x + y), 4) + 0.0 AS proj2
         |  FROM pr p JOIN pcf f USING (vec_id)
         |            JOIN pr2 q USING (vec_id), paxis2 b)
         |SELECT vec_id, label, proj1, proj2 FROM pproj
         |ORDER BY vec_id""".stripMargin,

    "ann_pca_var" ->
      s"""$PcaCte,
         |pvv AS (
         |  SELECT f.c1,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(q.r) + 1),
         |        i -> q.r[i] * b.v[i])),
         |      (x, y) -> x + y) AS c2,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(p.r, t -> t * t)), (x, y) -> x + y) AS n2
         |  FROM pr p JOIN pcf f USING (vec_id)
         |            JOIN pr2 q USING (vec_id), paxis2 b)
         |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
         |  round(CAST(SUM(CAST(c1 * c1 AS DECIMAL(27,4))) AS DOUBLE)
         |    / CAST(SUM(CAST(n2 AS DECIMAL(27,4))) AS DOUBLE), 6) AS var1,
         |  round(CAST(SUM(CAST(c2 * c2 AS DECIMAL(27,4))) AS DOUBLE)
         |    / CAST(SUM(CAST(n2 AS DECIMAL(27,4))) AS DOUBLE), 6) AS var2
         |FROM pvv""".stripMargin,

    "ann_cluster_sample" ->
      s"""$VecCte,
         |$TrainedAsgCte,
         |q AS (
         |  SELECT alabel, CAST(count(*) AS BIGINT) AS n_cell,
         |    CAST(ceil(sqrt(count(*))) AS BIGINT) AS quota
         |  FROM asg GROUP BY alabel),
         |r AS (
         |  SELECT vec_id, alabel,
         |    row_number() OVER (PARTITION BY alabel
         |      ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT,
         |        vec_id) AS rn
         |  FROM asg)
         |SELECT r.vec_id, CAST(r.alabel AS BIGINT) AS cell, q.n_cell, q.quota
         |FROM r JOIN q ON r.alabel = q.alabel
         |WHERE r.rn <= q.quota
         |ORDER BY r.vec_id""".stripMargin,

    "ann_pq_topk" ->
      s"""$VecCte,
         |$TrainedAsgCte,
         |$PqCte,
         |${pqSearchCtes(50)}
         |SELECT probe, rank, neighbor, round(cos, 6) AS cos
         |FROM pq5 WHERE rank <= 5 ORDER BY probe, rank""".stripMargin,

    "ann_pq_recall" ->
      s"""$VecCte,
         |$TrainedAsgCte,
         |$PqCte,
         |${pqSearchCtes(25)},
         |pq5n AS (SELECT probe, neighbor FROM pq5 WHERE rank <= 5),
         |epairs AS (
         |  SELECT p.probe, t.vec_id AS neighbor,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(p.pe) + 1),
         |        i -> p.pe[i]::DOUBLE * t.embedding[i]::DOUBLE)),
         |      (x, y) -> x + y) / sqrt(p.pn * t.norm2) AS cos
         |  FROM v t JOIN probes p ON t.vec_id <> p.probe),
         |ex5 AS (SELECT probe, neighbor FROM (
         |  SELECT probe, neighbor,
         |    row_number() OVER (PARTITION BY probe ORDER BY cos DESC, neighbor) AS rank
         |  FROM epairs) WHERE rank <= 5),
         |ne AS (SELECT probe, CAST(count(*) AS BIGINT) AS n_exact FROM ex5 GROUP BY probe),
         |np AS (SELECT probe, CAST(count(*) AS BIGINT) AS n_pq FROM pq5n GROUP BY probe),
         |nc AS (
         |  SELECT e.probe, CAST(count(*) AS BIGINT) AS n_common
         |  FROM ex5 e JOIN pq5n q ON q.probe = e.probe AND q.neighbor = e.neighbor
         |  GROUP BY e.probe)
         |SELECT ne.probe, ne.n_exact, np.n_pq,
         |  COALESCE(nc.n_common, CAST(0 AS BIGINT)) AS n_common
         |FROM ne JOIN np ON np.probe = ne.probe
         |LEFT JOIN nc ON nc.probe = ne.probe
         |ORDER BY ne.probe""".stripMargin,

    "ann_pq_codes" ->
      s"""$VecCte,
         |$TrainedAsgCte,
         |$PqCte,
         |err AS (
         |  SELECT g.vec_id, g.m,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(g.sub) + 1),
         |        i -> g.sub[i] * g.sub[i])),
         |      (a, x) -> a + x) AS re,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(g.sub) + 1),
         |        i -> (g.sub[i] - b.cvq[i]) * (g.sub[i] - b.cvq[i]))),
         |      (a, x) -> a + x) AS qe
         |  FROM subg g JOIN codes k ON k.vec_id = g.vec_id AND k.m = g.m
         |  JOIN book b ON b.m = k.m AND b.code = k.code)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM book) AS codebook_rows,
         |  (SELECT CAST(count(*) AS BIGINT)
         |   FROM (SELECT DISTINCT m, code FROM codes)) AS codes_used,
         |  round(CAST(SUM(CAST(re AS DECIMAL(27,10))) AS DOUBLE), 6) AS resid_energy,
         |  round(CAST(SUM(CAST(qe AS DECIMAL(27,10))) AS DOUBLE), 6) AS quant_error
         |FROM err""".stripMargin,

    "ann_serving_index" ->
      s"""$VecCte,
         |$TrainedAsgCte,
         |$PqCte,
         |codemass AS (
         |  SELECT vec_id, CAST(SUM(code) AS BIGINT) AS cmass,
         |    CAST(count(*) AS BIGINT) AS m_width
         |  FROM codes GROUP BY vec_id)
         |SELECT
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT a.alabel) AS BIGINT) AS n_cells,
         |  CAST(min(q.m_width) AS BIGINT) AS m_min,
         |  CAST(max(q.m_width) AS BIGINT) AS m_max,
         |  CAST(SUM(q.cmass) % ${QueryFns.ChecksumMod} AS BIGINT) AS code_mass,
         |  CAST(SUM((v.vec_id % 997) * a.alabel) % ${QueryFns.ChecksumMod}
         |    AS BIGINT) AS route_mass,
         |  round(CAST(SUM(CAST(v.norm2 AS DECIMAL(27,6))) AS DOUBLE), 4) AS norm_mass
         |FROM v
         |JOIN asg a ON a.vec_id = v.vec_id
         |JOIN codemass q ON q.vec_id = v.vec_id""".stripMargin,

    "ann_imi_cells" ->
      s"""$VecCte,
         |$CentroidCte,
         |$ImiAsgCte,
         |cells AS (SELECT icell, count(*) AS c FROM iasg GROUP BY icell)
         |SELECT CAST(count(*) AS BIGINT) AS cells_used,
         |       CAST(max(c) AS BIGINT) AS max_cell,
         |       CAST(sum(c) AS BIGINT) AS n_vectors,
         |       CAST(sum(c * (c - 1)) // 2 AS BIGINT) AS within_cell_pairs,
         |       (SELECT CAST(2 * count(*) AS BIGINT) FROM carr) AS codebook_rows
         |FROM cells""".stripMargin,

    "ann_imi_topk" ->
      s"""$VecCte,
         |$CentroidCte,
         |$ImiAsgCte,
         |pt1 AS (SELECT vec_id, clabel AS c1 FROM (
         |  SELECT vec_id, clabel,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d1, clabel) AS rn
         |  FROM hdist WHERE vec_id < 50) WHERE rn <= $ImiHalfProbe),
         |pt2 AS (SELECT vec_id, clabel AS c2 FROM (
         |  SELECT vec_id, clabel,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
         |  FROM hdist WHERE vec_id < 50) WHERE rn <= $ImiHalfProbe),
         |pcell AS (
         |  SELECT pt1.vec_id AS probe,
         |    CAST(pt1.c1 AS BIGINT) * 1000000 + CAST(pt2.c2 AS BIGINT) AS pcell
         |  FROM pt1 JOIN pt2 ON pt2.vec_id = pt1.vec_id),
         |probes AS (
         |  SELECT p.probe, p.pcell, v.embedding AS pe, v.norm2 AS pn
         |  FROM pcell p JOIN v ON v.vec_id = p.probe),
         |pairs AS (
         |  SELECT p.probe, v.vec_id AS neighbor,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(p.pe) + 1),
         |        i -> p.pe[i]::DOUBLE * v.embedding[i]::DOUBLE)),
         |      (x, y) -> x + y) / sqrt(p.pn * v.norm2) AS cos
         |  FROM v JOIN iasg a ON a.vec_id = v.vec_id
         |  JOIN probes p ON a.icell = p.pcell AND v.vec_id <> p.probe),
         |ranked AS (
         |  SELECT probe, neighbor, cos,
         |    row_number() OVER (PARTITION BY probe ORDER BY cos DESC, neighbor) AS rank
         |  FROM pairs)
         |SELECT probe, rank, neighbor, round(cos, 6) AS cos
         |FROM ranked WHERE rank <= 5 ORDER BY probe, rank""".stripMargin,

    "ann_ivf_sampled_topk" ->
      s"""$VecCte,
         |$SampledAsgCte,
         |pcell AS (
         |  SELECT vec_id AS probe, clabel AS pcell FROM (
         |    SELECT vec_id, clabel,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, clabel) AS rn
         |    FROM sdist WHERE vec_id < 50) WHERE rn <= 2),
         |probes AS (
         |  SELECT p.probe, p.pcell, v.embedding AS pe, v.norm2 AS pn
         |  FROM pcell p JOIN v ON v.vec_id = p.probe),
         |pairs AS (
         |  SELECT p.probe, v.vec_id AS neighbor,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(p.pe) + 1),
         |        i -> p.pe[i]::DOUBLE * v.embedding[i]::DOUBLE)),
         |      (x, y) -> x + y) / sqrt(p.pn * v.norm2) AS cos
         |  FROM v JOIN sasg a ON a.vec_id = v.vec_id
         |  JOIN probes p ON a.alabel = p.pcell AND v.vec_id <> p.probe),
         |ranked AS (
         |  SELECT probe, neighbor, cos,
         |    row_number() OVER (PARTITION BY probe ORDER BY cos DESC, neighbor) AS rank
         |  FROM pairs)
         |SELECT probe, rank, neighbor, round(cos, 6) AS cos
         |FROM ranked WHERE rank <= 5 ORDER BY probe, rank""".stripMargin,

    "ann_ivf_sampled_cells" ->
      s"""$VecCte,
         |$SampledAsgCte,
         |cells AS (SELECT alabel, count(*) AS c FROM sasg GROUP BY alabel)
         |SELECT CAST(count(*) AS BIGINT) AS cells_used,
         |       CAST(max(c) AS BIGINT) AS max_cell,
         |       CAST(sum(c) AS BIGINT) AS n_vectors,
         |       CAST(sum(c * (c - 1)) // 2 AS BIGINT) AS within_cell_pairs,
         |       CAST((SELECT count(*) FROM embeddings
         |             WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT
         |                   % 5 = 0) AS BIGINT) AS sample_size
         |FROM cells""".stripMargin,

    // Oracle twin of the two-level assignment meter in the gate regime
    // (b = 0): the coarse table IS carr and coarse distances ARE dist —
    // exactly mirroring the Scala side's b = 0 reuse — so the oracle
    // replays coarse top-2 → restricted fine argmin and compares it to
    // the flat asg row by row.
    "ann_ivf_coarse" ->
      s"""$VecCte,
         |$TrainedAsgCte,
         |ctop AS (
         |  SELECT vec_id, clabel AS pcoarse FROM (
         |    SELECT vec_id, clabel,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, clabel) AS rn
         |    FROM dist) WHERE rn <= 2),
         |fdist AS (
         |  SELECT d.vec_id, d.clabel, d.d
         |  FROM dist d JOIN ctop c ON c.vec_id = d.vec_id AND d.clabel = c.pcoarse),
         |fasg AS (
         |  SELECT vec_id, clabel AS alabel2 FROM (
         |    SELECT vec_id, clabel,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, clabel) AS rn
         |    FROM fdist) WHERE rn = 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
         |       CAST(sum(CASE WHEN a.alabel = f.alabel2 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS agree_flat,
         |       (SELECT CAST(count(*) AS BIGINT) FROM carr) AS coarse_cells,
         |       (SELECT CAST(count(*) AS BIGINT) FROM carr) AS fine_cells,
         |       (SELECT CAST(count(*) AS BIGINT) FROM fdist) AS fine_dist_rows,
         |       CAST(count(*) * (SELECT count(*) FROM carr) AS BIGINT) AS flat_dist_rows
         |FROM asg a JOIN fasg f ON f.vec_id = a.vec_id""".stripMargin,

    "ann_imi_recall" ->
      s"""$VecCte,
         |$CentroidCte,
         |$ImiAsgCte,
         |pt1 AS (SELECT vec_id, clabel AS c1 FROM (
         |  SELECT vec_id, clabel,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d1, clabel) AS rn
         |  FROM hdist WHERE vec_id < 25) WHERE rn <= $ImiHalfProbe),
         |pt2 AS (SELECT vec_id, clabel AS c2 FROM (
         |  SELECT vec_id, clabel,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
         |  FROM hdist WHERE vec_id < 25) WHERE rn <= $ImiHalfProbe),
         |pcell AS (
         |  SELECT pt1.vec_id AS probe,
         |    CAST(pt1.c1 AS BIGINT) * 1000000 + CAST(pt2.c2 AS BIGINT) AS pcell
         |  FROM pt1 JOIN pt2 ON pt2.vec_id = pt1.vec_id),
         |iprobes AS (
         |  SELECT p.probe, p.pcell, v.embedding AS pe, v.norm2 AS pn
         |  FROM pcell p JOIN v ON v.vec_id = p.probe),
         |ipairs AS (
         |  SELECT p.probe, v.vec_id AS neighbor,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(p.pe) + 1),
         |        i -> p.pe[i]::DOUBLE * v.embedding[i]::DOUBLE)),
         |      (x, y) -> x + y) / sqrt(p.pn * v.norm2) AS cos
         |  FROM v JOIN iasg a ON a.vec_id = v.vec_id
         |  JOIN iprobes p ON a.icell = p.pcell AND v.vec_id <> p.probe),
         |imi5 AS (SELECT probe, neighbor FROM (
         |  SELECT probe, neighbor,
         |    row_number() OVER (PARTITION BY probe ORDER BY cos DESC, neighbor) AS rank
         |  FROM ipairs) WHERE rank <= 5),
         |eprobes AS (
         |  SELECT vec_id AS probe, embedding AS pe, norm2 AS pn
         |  FROM v WHERE vec_id < 25),
         |epairs AS (
         |  SELECT p.probe, v.vec_id AS neighbor,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(p.pe) + 1),
         |        i -> p.pe[i]::DOUBLE * v.embedding[i]::DOUBLE)),
         |      (x, y) -> x + y) / sqrt(p.pn * v.norm2) AS cos
         |  FROM v JOIN eprobes p ON v.vec_id <> p.probe),
         |ex5 AS (SELECT probe, neighbor FROM (
         |  SELECT probe, neighbor,
         |    row_number() OVER (PARTITION BY probe ORDER BY cos DESC, neighbor) AS rank
         |  FROM epairs) WHERE rank <= 5),
         |ne AS (SELECT probe, CAST(count(*) AS BIGINT) AS n_exact FROM ex5 GROUP BY probe),
         |ni AS (SELECT probe, CAST(count(*) AS BIGINT) AS n_imi FROM imi5 GROUP BY probe),
         |nc AS (
         |  SELECT e.probe, CAST(count(*) AS BIGINT) AS n_common
         |  FROM ex5 e JOIN imi5 i ON i.probe = e.probe AND i.neighbor = e.neighbor
         |  GROUP BY e.probe)
         |SELECT ne.probe, ne.n_exact, ni.n_imi,
         |  COALESCE(nc.n_common, CAST(0 AS BIGINT)) AS n_common
         |FROM ne JOIN ni ON ni.probe = ne.probe
         |LEFT JOIN nc ON nc.probe = ne.probe
         |ORDER BY ne.probe""".stripMargin,

    "ann_topk" -> oracleFor(25, "TRUE", 10),
    "ann_ivf_topk" -> oracleFor(50, "v.label = p.plabel", 5),
    "ann_lsh_topk" -> oracleFor(50, "v.bucket = p.pbucket", 5),

    "ann_lsh_recall" ->
      s"""$VecCte,
         |probes AS (SELECT vec_id AS probe, bucket AS pbucket,
         |                  embedding AS pe, norm2 AS pn
         |           FROM v WHERE vec_id < 25),
         |epairs AS (
         |  SELECT p.probe, v.vec_id AS neighbor,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(p.pe) + 1),
         |        i -> p.pe[i]::DOUBLE * v.embedding[i]::DOUBLE)),
         |      (x, y) -> x + y) / sqrt(p.pn * v.norm2) AS cos
         |  FROM v JOIN probes p ON v.vec_id <> p.probe),
         |ex5 AS (SELECT probe, neighbor FROM (
         |  SELECT probe, neighbor,
         |    row_number() OVER (PARTITION BY probe ORDER BY cos DESC, neighbor) AS rank
         |  FROM epairs) WHERE rank <= 5),
         |lpairs AS (
         |  SELECT e.probe, e.neighbor, e.cos FROM epairs e
         |  JOIN v ON v.vec_id = e.neighbor
         |  JOIN probes p2 ON p2.probe = e.probe
         |  WHERE v.bucket = p2.pbucket),
         |l5 AS (SELECT probe, neighbor FROM (
         |  SELECT probe, neighbor,
         |    row_number() OVER (PARTITION BY probe ORDER BY cos DESC, neighbor) AS rank
         |  FROM lpairs) WHERE rank <= 5),
         |ne AS (SELECT probe, CAST(count(*) AS BIGINT) AS n_exact FROM ex5 GROUP BY probe),
         |nl AS (SELECT probe, CAST(count(*) AS BIGINT) AS n_lsh FROM l5 GROUP BY probe),
         |nc AS (
         |  SELECT e.probe, CAST(count(*) AS BIGINT) AS n_common
         |  FROM ex5 e JOIN l5 l ON l.probe = e.probe AND l.neighbor = e.neighbor
         |  GROUP BY e.probe)
         |SELECT ne.probe, ne.n_exact,
         |  COALESCE(nl.n_lsh, CAST(0 AS BIGINT)) AS n_lsh,
         |  COALESCE(nc.n_common, CAST(0 AS BIGINT)) AS n_common
         |FROM ne LEFT JOIN nl ON nl.probe = ne.probe
         |LEFT JOIN nc ON nc.probe = ne.probe
         |ORDER BY ne.probe""".stripMargin,

    "ann_ivf2_topk" ->
      s"""$VecCte,
         |$TrainedAsgCte,
         |pcell AS (
         |  SELECT vec_id AS probe, clabel AS pcell FROM (
         |    SELECT vec_id, clabel,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, clabel) AS rn
         |    FROM dist WHERE vec_id < 50) WHERE rn <= 2),
         |probes AS (
         |  SELECT p.probe, p.pcell, v.embedding AS pe, v.norm2 AS pn
         |  FROM pcell p JOIN v ON v.vec_id = p.probe),
         |pairs AS (
         |  SELECT p.probe, v.vec_id AS neighbor,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(p.pe) + 1),
         |        i -> p.pe[i]::DOUBLE * v.embedding[i]::DOUBLE)),
         |      (x, y) -> x + y) / sqrt(p.pn * v.norm2) AS cos
         |  FROM v JOIN asg a ON a.vec_id = v.vec_id
         |  JOIN probes p ON a.alabel = p.pcell AND v.vec_id <> p.probe),
         |ranked AS (
         |  SELECT probe, neighbor, cos,
         |    row_number() OVER (PARTITION BY probe ORDER BY cos DESC, neighbor) AS rank
         |  FROM pairs)
         |SELECT probe, rank, neighbor, round(cos, 6) AS cos
         |FROM ranked WHERE rank <= 5 ORDER BY probe, rank""".stripMargin,

    // Multi-table LSH serving oracle: per-table sign buckets of dims
    // 8t+1..8t+8, any-table candidate union, exact rank of the
    // candidates. LshTables interpolated from the one Scala constant.
    "ann_lsh_multi" ->
      s"""$VecCte,
         |$MultiBucketCte,
         |probes AS (SELECT vec_id AS probe, embedding AS pe, norm2 AS pn
         |           FROM v WHERE vec_id < 50),
         |cand AS (
         |  SELECT DISTINCT p.probe, a.vec_id AS neighbor
         |  FROM mb a JOIN mb pb ON pb.t = a.t AND pb.bucket = a.bucket
         |  JOIN probes p ON p.probe = pb.vec_id AND a.vec_id <> p.probe),
         |pairs AS (
         |  SELECT c.probe, c.neighbor,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(p.pe) + 1),
         |        i -> p.pe[i]::DOUBLE * v.embedding[i]::DOUBLE)),
         |      (x, y) -> x + y) / sqrt(p.pn * v.norm2) AS cos
         |  FROM cand c JOIN probes p ON p.probe = c.probe
         |  JOIN v ON v.vec_id = c.neighbor),
         |ranked AS (
         |  SELECT probe, neighbor, cos,
         |    row_number() OVER (PARTITION BY probe ORDER BY cos DESC, neighbor) AS rank
         |  FROM pairs)
         |SELECT probe, rank, neighbor, round(cos, 6) AS cos
         |FROM ranked WHERE rank <= 5 ORDER BY probe, rank""".stripMargin,

    // ann_lsh_recall's meter shape with the multi-table candidate set.
    "ann_lsh_multi_recall" ->
      s"""$VecCte,
         |$MultiBucketCte,
         |probes AS (SELECT vec_id AS probe, embedding AS pe, norm2 AS pn
         |           FROM v WHERE vec_id < 25),
         |epairs AS (
         |  SELECT p.probe, v.vec_id AS neighbor,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(p.pe) + 1),
         |        i -> p.pe[i]::DOUBLE * v.embedding[i]::DOUBLE)),
         |      (x, y) -> x + y) / sqrt(p.pn * v.norm2) AS cos
         |  FROM v JOIN probes p ON v.vec_id <> p.probe),
         |ex5 AS (SELECT probe, neighbor FROM (
         |  SELECT probe, neighbor,
         |    row_number() OVER (PARTITION BY probe ORDER BY cos DESC, neighbor) AS rank
         |  FROM epairs) WHERE rank <= 5),
         |cand AS (
         |  SELECT DISTINCT p.probe, a.vec_id AS neighbor
         |  FROM mb a JOIN mb pb ON pb.t = a.t AND pb.bucket = a.bucket
         |  JOIN probes p ON p.probe = pb.vec_id AND a.vec_id <> p.probe),
         |lpairs AS (
         |  SELECT e.probe, e.neighbor, e.cos
         |  FROM epairs e JOIN cand c ON c.probe = e.probe AND c.neighbor = e.neighbor),
         |l5 AS (SELECT probe, neighbor FROM (
         |  SELECT probe, neighbor,
         |    row_number() OVER (PARTITION BY probe ORDER BY cos DESC, neighbor) AS rank
         |  FROM lpairs) WHERE rank <= 5),
         |ne AS (SELECT probe, CAST(count(*) AS BIGINT) AS n_exact FROM ex5 GROUP BY probe),
         |nl AS (SELECT probe, CAST(count(*) AS BIGINT) AS n_lsh FROM l5 GROUP BY probe),
         |nc AS (
         |  SELECT e.probe, CAST(count(*) AS BIGINT) AS n_common
         |  FROM ex5 e JOIN l5 l ON l.probe = e.probe AND l.neighbor = e.neighbor
         |  GROUP BY e.probe)
         |SELECT ne.probe, ne.n_exact,
         |  COALESCE(nl.n_lsh, CAST(0 AS BIGINT)) AS n_lsh,
         |  COALESCE(nc.n_common, CAST(0 AS BIGINT)) AS n_common
         |FROM ne LEFT JOIN nl ON nl.probe = ne.probe
         |LEFT JOIN nc ON nc.probe = ne.probe
         |ORDER BY ne.probe""".stripMargin,

    // Oracle twin of ann_centroid_drift: same exact-DECIMAL means over
    // the leading 4 dims, same pos-ordered squared-difference fold.
    "ann_centroid_drift" ->
      s"""$VecCte,
         |$TrainedAsgCte,
         |vc AS (
         |  SELECT a.vec_id, a.alabel AS cell, v.embedding
         |  FROM asg a JOIN v USING (vec_id)),
         |cnts AS (
         |  SELECT cell,
         |    CAST(SUM(CASE WHEN vec_id % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_existing,
         |    CAST(SUM(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
         |  FROM vc GROUP BY cell),
         |eall AS (
         |  SELECT cell, i - 1 AS pos, embedding[i]::DOUBLE AS x
         |  FROM vc, (SELECT unnest(range(1, 5)) AS i) p),
         |mall AS (
         |  SELECT cell, pos,
         |    CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m_all
         |  FROM eall GROUP BY cell, pos),
         |eex AS (
         |  SELECT cell, i - 1 AS pos, embedding[i]::DOUBLE AS x
         |  FROM vc, (SELECT unnest(range(1, 5)) AS i) p
         |  WHERE vec_id % 5 <> 0),
         |mex AS (
         |  SELECT cell, pos,
         |    CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m_exist
         |  FROM eex GROUP BY cell, pos),
         |dj AS (
         |  SELECT cell,
         |    list(struct_pack(pos := m1.pos, ma := m1.m_all, me := m2.m_exist)
         |         ORDER BY m1.pos) AS ds
         |  FROM mall m1 JOIN mex m2 USING (cell, pos) GROUP BY cell),
         |dr AS (
         |  SELECT cell, list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(ds, t -> (t.ma - t.me) * (t.ma - t.me))),
         |    (a, b) -> a + b) AS drift4
         |  FROM dj)
         |SELECT CAST(c.cell AS BIGINT) AS cell, c.n_existing, c.n_new,
         |  round(dr.drift4 * 1000000, 4) AS drift4_ppm
         |FROM cnts c JOIN dr USING (cell) ORDER BY cell""".stripMargin,

    // Pre-filter exact truth: same shape as ann_topk's oracle with the
    // allowed-predicate (one AnnFilterMod definition, interpolated) on
    // the corpus side of the join.
    "ann_filtered_topk" -> oracleFor(25, s"v.vec_id % $AnnFilterMod = 0", 5),

    // ann_ivf2_topk's oracle with 25 probes and the allowed predicate
    // inside the candidate join — filter below the distance fold, like
    // the Scala side.
    "ann_filtered_ivf" ->
      s"""$VecCte,
         |$TrainedAsgCte,
         |pcell AS (
         |  SELECT vec_id AS probe, clabel AS pcell FROM (
         |    SELECT vec_id, clabel,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, clabel) AS rn
         |    FROM dist WHERE vec_id < 25) WHERE rn <= 2),
         |probes AS (
         |  SELECT p.probe, p.pcell, v.embedding AS pe, v.norm2 AS pn
         |  FROM pcell p JOIN v ON v.vec_id = p.probe),
         |pairs AS (
         |  SELECT p.probe, v.vec_id AS neighbor,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(p.pe) + 1),
         |        i -> p.pe[i]::DOUBLE * v.embedding[i]::DOUBLE)),
         |      (x, y) -> x + y) / sqrt(p.pn * v.norm2) AS cos
         |  FROM v JOIN asg a ON a.vec_id = v.vec_id
         |  JOIN probes p ON a.alabel = p.pcell AND v.vec_id <> p.probe
         |  WHERE v.vec_id % $AnnFilterMod = 0),
         |ranked AS (
         |  SELECT probe, neighbor, cos,
         |    row_number() OVER (PARTITION BY probe ORDER BY cos DESC, neighbor) AS rank
         |  FROM pairs)
         |SELECT probe, rank, neighbor, round(cos, 6) AS cos
         |FROM ranked WHERE rank <= 5 ORDER BY probe, rank""".stripMargin,

    // Post-filter recall meter: unfiltered top-PostFilterShortlist →
    // predicate → first 5 in shortlist order, counted against the
    // pre-filter truth. Constants interpolated from the single Scala
    // definitions.
    "ann_postfilter_recall" ->
      s"""$VecCte,
         |probes AS (SELECT vec_id AS probe, embedding AS pe, norm2 AS pn
         |           FROM v WHERE vec_id < 25),
         |pairs AS (
         |  SELECT p.probe, v.vec_id AS neighbor,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(p.pe) + 1),
         |        i -> p.pe[i]::DOUBLE * v.embedding[i]::DOUBLE)),
         |      (x, y) -> x + y) / sqrt(p.pn * v.norm2) AS cos
         |  FROM v JOIN probes p ON v.vec_id <> p.probe),
         |short AS (
         |  SELECT probe, neighbor, rank FROM (
         |    SELECT probe, neighbor, cos,
         |      row_number() OVER (PARTITION BY probe ORDER BY cos DESC, neighbor) AS rank
         |    FROM pairs) WHERE rank <= $PostFilterShortlist),
         |postk AS (
         |  SELECT probe, neighbor FROM (
         |    SELECT probe, neighbor,
         |      row_number() OVER (PARTITION BY probe ORDER BY rank) AS prn
         |    FROM short WHERE neighbor % $AnnFilterMod = 0) WHERE prn <= 5),
         |truthk AS (
         |  SELECT probe, neighbor FROM (
         |    SELECT probe, neighbor,
         |      row_number() OVER (PARTITION BY probe ORDER BY cos DESC, neighbor) AS rn
         |    FROM pairs WHERE neighbor % $AnnFilterMod = 0) WHERE rn <= 5),
         |nt AS (SELECT probe, CAST(count(*) AS BIGINT) AS n_true FROM truthk GROUP BY probe),
         |np AS (SELECT probe, CAST(count(*) AS BIGINT) AS n_post FROM postk GROUP BY probe),
         |nc AS (
         |  SELECT t.probe, CAST(count(*) AS BIGINT) AS n_common
         |  FROM truthk t JOIN postk q ON q.probe = t.probe AND q.neighbor = t.neighbor
         |  GROUP BY t.probe)
         |SELECT nt.probe, nt.n_true,
         |  COALESCE(np.n_post, CAST(0 AS BIGINT)) AS n_post,
         |  COALESCE(nc.n_common, CAST(0 AS BIGINT)) AS n_common
         |FROM nt LEFT JOIN np ON np.probe = nt.probe
         |LEFT JOIN nc ON nc.probe = nt.probe
         |ORDER BY nt.probe""".stripMargin,

    "ann_quantized_topk" ->
      s"""$VecCte,
         |$QuantCte,
         |probes AS (
         |  SELECT vec_id AS probe, embedding AS pe, norm2 AS pn,
         |         vmax AS pmax, qv AS pq
         |  FROM qq WHERE vec_id < 25),
         |approx AS (
         |  SELECT p.probe, t.vec_id AS neighbor, t.embedding, t.norm2,
         |    (list_reduce(list_prepend(0::BIGINT,
         |       list_transform(range(1, len(p.pq) + 1),
         |         i -> p.pq[i] * t.qv[i])),
         |       (a, b) -> a + b)::DOUBLE * p.pmax * t.vmax / (127.0 * 127.0))
         |      / sqrt(p.pn * t.norm2) AS approx
         |  FROM qq t JOIN probes p ON t.vec_id <> p.probe),
         |cand AS (
         |  SELECT probe, neighbor, embedding, norm2 FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY probe ORDER BY approx DESC, neighbor) AS arn
         |    FROM approx) WHERE arn <= 20),
         |pairs AS (
         |  SELECT c.probe, c.neighbor,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(p.pe) + 1),
         |        i -> p.pe[i]::DOUBLE * c.embedding[i]::DOUBLE)),
         |      (x, y) -> x + y) / sqrt(p.pn * c.norm2) AS cos
         |  FROM cand c JOIN probes p ON p.probe = c.probe),
         |ranked AS (
         |  SELECT probe, neighbor, cos,
         |    row_number() OVER (PARTITION BY probe ORDER BY cos DESC, neighbor) AS rank
         |  FROM pairs)
         |SELECT probe, rank, neighbor, round(cos, 6) AS cos
         |FROM ranked WHERE rank <= 5 ORDER BY probe, rank""".stripMargin,

    "ann_ivf_quantized" ->
      s"""$VecCte,
         |$TrainedAsgCte,
         |$QuantCte,
         |pcell AS (
         |  SELECT vec_id AS probe, clabel AS pcell FROM (
         |    SELECT vec_id, clabel,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, clabel) AS rn
         |    FROM dist WHERE vec_id < 25) WHERE rn <= 2),
         |probes AS (
         |  SELECT q.vec_id AS probe, q.embedding AS pe, q.norm2 AS pn,
         |         q.vmax AS pmax, q.qv AS pq
         |  FROM qq q WHERE q.vec_id < 25),
         |approx AS (
         |  SELECT p.probe, t.vec_id AS neighbor, t.embedding, t.norm2,
         |    (list_reduce(list_prepend(0::BIGINT,
         |       list_transform(range(1, len(p.pq) + 1),
         |         i -> p.pq[i] * t.qv[i])),
         |       (a, b) -> a + b)::DOUBLE * p.pmax * t.vmax / (127.0 * 127.0))
         |      / sqrt(p.pn * t.norm2) AS approx
         |  FROM qq t
         |  JOIN asg a ON a.vec_id = t.vec_id
         |  JOIN pcell c ON a.alabel = c.pcell
         |  JOIN probes p ON p.probe = c.probe AND t.vec_id <> p.probe),
         |cand AS (
         |  SELECT probe, neighbor, embedding, norm2 FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY probe ORDER BY approx DESC, neighbor) AS arn
         |    FROM approx) WHERE arn <= 20),
         |pairs AS (
         |  SELECT c.probe, c.neighbor,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(p.pe) + 1),
         |        i -> p.pe[i]::DOUBLE * c.embedding[i]::DOUBLE)),
         |      (x, y) -> x + y) / sqrt(p.pn * c.norm2) AS cos
         |  FROM cand c JOIN probes p ON p.probe = c.probe),
         |ranked AS (
         |  SELECT probe, neighbor, cos,
         |    row_number() OVER (PARTITION BY probe ORDER BY cos DESC, neighbor) AS rank
         |  FROM pairs)
         |SELECT probe, rank, neighbor, round(cos, 6) AS cos
         |FROM ranked WHERE rank <= 5 ORDER BY probe, rank""".stripMargin,

    "dedup_emb_cos_ivf" ->
      s"""$VecCte,
         |$TrainedAsgCte,
         |p AS (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(a.embedding) + 1),
         |        i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)),
         |      (x, y) -> x + y) / sqrt(a.norm2 * b.norm2) AS cos
         |  FROM v a JOIN asg sa ON sa.vec_id = a.vec_id
         |  JOIN v b ON a.vec_id < b.vec_id
         |  JOIN asg sb ON sb.vec_id = b.vec_id AND sb.alabel = sa.alabel)
         |SELECT ia, ib, round(cos, 6) AS cos FROM p WHERE cos >= 0.4
         |ORDER BY ia, ib""".stripMargin,

    // Same pair CTE as dedup_emb_cos_ivf, rolled up per higher-id
    // vector into the keep-first drop decision.
    "dedup_semantic" ->
      s"""$VecCte,
         |$TrainedAsgCte,
         |p AS (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(a.embedding) + 1),
         |        i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)),
         |      (x, y) -> x + y) / sqrt(a.norm2 * b.norm2) AS cos
         |  FROM v a JOIN asg sa ON sa.vec_id = a.vec_id
         |  JOIN v b ON a.vec_id < b.vec_id
         |  JOIN asg sb ON sb.vec_id = b.vec_id AND sb.alabel = sa.alabel)
         |SELECT ib AS vec_id, min(ia) AS kept_id,
         |  CAST(count(*) AS BIGINT) AS n_earlier,
         |  round(max(cos), 6) AS max_cos
         |FROM p WHERE cos >= 0.4 GROUP BY ib ORDER BY vec_id""".stripMargin,

    // Same VecCte/TrainedAsgCte as dedup_emb_cos_ivf; only the pairing
    // is asymmetric (new % 5 == 0 vs existing) and the output is the
    // per-new-vector argmax decision.
    "dedup_emb_incremental" ->
      s"""$VecCte,
         |$TrainedAsgCte,
         |pi AS (
         |  SELECT n.vec_id AS ni, o.vec_id AS oi,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, len(n.embedding) + 1),
         |        i -> n.embedding[i]::DOUBLE * o.embedding[i]::DOUBLE)),
         |      (x, y) -> x + y) / sqrt(n.norm2 * o.norm2) AS cos
         |  FROM v n JOIN asg sn ON sn.vec_id = n.vec_id AND n.vec_id % 5 = 0
         |  JOIN v o ON o.vec_id % 5 <> 0
         |  JOIN asg so ON so.vec_id = o.vec_id AND so.alabel = sn.alabel),
         |pick AS (
         |  SELECT ni, oi, cos,
         |    row_number() OVER (PARTITION BY ni ORDER BY cos DESC, oi) AS rn
         |  FROM pi WHERE cos >= 0.4)
         |SELECT ni AS new_id, oi AS dup_of, round(cos, 6) AS cos
         |FROM pick WHERE rn = 1 ORDER BY new_id""".stripMargin,

    // The cell-geometry CTE is the gate-regime (b = 0, label-seeded)
    // form, like every trained-quantizer oracle here; nlist/split_bits
    // carry the general corpus-scaled formula.
    "ann_ivf_cells" ->
      s"""$VecCte,
         |$TrainedAsgCte,
         |cells AS (SELECT alabel, count(*) AS c FROM asg GROUP BY alabel),
         |nl AS (SELECT greatest(10,
         |  CAST(ceil(sqrt((SELECT count(*) FROM embeddings) / 20.0)) AS INTEGER)) AS nlist)
         |SELECT CAST(count(*) AS BIGINT) AS cells_used,
         |       CAST(max(c) AS BIGINT) AS max_cell,
         |       CAST(sum(c) AS BIGINT) AS n_vectors,
         |       CAST(sum(c * (c - 1)) // 2 AS BIGINT) AS within_cell_pairs,
         |       (SELECT nlist FROM nl) AS nlist_target,
         |       (SELECT CASE WHEN nlist <= 10 THEN 0
         |               ELSE CAST(ceil(log2(nlist / 10.0)) AS INTEGER) END
         |        FROM nl) AS split_bits
         |FROM cells""".stripMargin,

    // Replays seedCellsScaledGate's derivation exactly: same replica
    // construction (rep·0.25 coordinate shift — exact in binary), same
    // DECIMAL(27,10)-summed per-(label, pos) means, same residual-sign
    // bit packing. geometry is a one-row CTE carrying R, scaled n,
    // nlist, and split_bits (= 2 at every gate SF by construction).
    "ann_seed_cells_scaled" ->
      s"""$ScaledCellsCte
        |SELECT svec_id, cell,
        |  (SELECT sb FROM geo) AS split_bits,
        |  (SELECT nlist FROM geo) AS nlist_target
        |FROM cells ORDER BY svec_id""".stripMargin,

    // The retrain half of the b > 0 quantizer: per-(scaled seed cell,
    // dim < 4) one-Lloyd-step DECIMAL means — the trainedCentroids
    // arithmetic past the floor, replayed from the same replica CTEs.
    "ann_centroids_scaled" ->
      s"""$ScaledCellsCte,
        |ex4 AS (
        |  SELECT e.vec_id * (SELECT r FROM geo) + rp.rep AS svec_id,
        |    d.i - 1 AS pos,
        |    e.embedding[d.i]::DOUBLE + rp.rep * 0.25 AS x
        |  FROM embeddings e, reps rp,
        |    (SELECT unnest(generate_series(1, 4)) AS i) d)
        |SELECT c.cell, x.pos,
        |  CAST(SUM(CAST(x.x AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS mean,
        |  (SELECT sb FROM geo) AS split_bits
        |FROM ex4 x JOIN cells c ON c.svec_id = x.svec_id
        |GROUP BY c.cell, x.pos
        |ORDER BY c.cell, x.pos""".stripMargin,

    "ann_centroids" ->
      """WITH e AS (
        |  SELECT label, i - 1 AS pos, embedding[i]::DOUBLE AS x
        |  FROM embeddings, (SELECT unnest(range(1, 129)) AS i) p
        |  WHERE i <= len(embedding))
        |SELECT label, pos,
        |  CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS mean
        |FROM e WHERE pos < 4 GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    "ann_quantize" ->
      """WITH m AS (
        |  SELECT vec_id,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list_transform(embedding, x -> abs(x::DOUBLE))),
        |      (a, b) -> greatest(a, b)) AS max_abs,
        |    embedding[1]::DOUBLE AS x0, embedding[8]::DOUBLE AS x7
        |  FROM embeddings)
        |SELECT vec_id, round(max_abs, 6) AS max_abs,
        |  CAST(round(x0 * 127.0 / max_abs) AS BIGINT) AS q0,
        |  CAST(round(x7 * 127.0 / max_abs) AS BIGINT) AS q7
        |FROM m ORDER BY vec_id""".stripMargin
  )
}
