package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scaling probe: replicates the sf0.1 documents table `m`× (each copy
  * deterministically perturbed so clones are near- but not exact dups),
  * then times the dedup family on it. Evidence for the scaling claims in
  * NOTES.md/SCALING.md — run as:
  *
  *   sbt "runMain graft.ScaleProbe 10"           # full family at 10×
  *   sbt "runMain graft.ScaleProbe 100 vectors"  # embeddings-only build:
  *                                               # quantizer-ladder meters
  *                                               # + PQ cold/warm timing
  * sbt "runMain graft.ScaleProbe 100 docs"     # documents-only build:
  *                                               # linear text path at 500k
  *   sbt "runMain graft.ScaleProbe 10 media"     # documents-only build:
  *                                               # media encode+decode
  *                                               # throughput (50k payloads)
  *   sbt "runMain graft.ScaleProbe sweep"        # PQ serving-knob sweep
  *                                               # (recall/cost frontier
  *                                               # on the sf0.1 gate)
  *
  * Output: one JSON line per query/meter with seconds and result rows.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    // the ladders measure genuine COLD index builds over freshly written
    // corpora — a durable-staging disk hit would silently turn a build
    // measurement into a parquet read
    graft.core.Staging.disableInProcess()
    val spark = graft.core.Tables.session("local[32]", 32)
    import spark.implicits._

    if (args.headOption.contains("sweep")) { pqSweep(spark); spark.stop(); return }
    if (args.headOption.contains("bm25")) {
      bm25Frontier(spark, args.lift(1).flatMap(_.toIntOption).getOrElse(10))
      spark.stop(); return
    }
    if (args.headOption.contains("ql")) {
      qlFrontier(spark, args.lift(1).flatMap(_.toIntOption).getOrElse(10))
      spark.stop(); return
    }
    if (args.headOption.contains("hybrid")) {
      hybridProbe(spark, args.lift(1).flatMap(_.toIntOption).getOrElse(10))
      spark.stop(); return
    }
    if (args.headOption.contains("hybridql")) {
      hybridQlRecallProbe(spark); spark.stop(); return
    }
    if (args.headOption.contains("graph")) {
      graphProbe(spark, args.lift(1).flatMap(_.toIntOption).getOrElse(10))
      spark.stop(); return
    }
    if (args.headOption.contains("positional")) {
      positionalProbe(spark, args.lift(1).flatMap(_.toIntOption).getOrElse(10))
      spark.stop(); return
    }
    if (args.headOption.contains("positionalwide")) {
      positionalWideProbe(spark, args.lift(1).flatMap(_.toIntOption).getOrElse(10))
      spark.stop(); return
    }
    if (args.headOption.contains("ceiling")) { pqCeiling(spark); spark.stop(); return }
    if (args.headOption.contains("serve")) {
      serveProbe(spark, args.lift(1).flatMap(_.toIntOption).getOrElse(10))
      spark.stop(); return
    }
    if (args.headOption.contains("streamdedup")) {
      streamDedupProbe(spark, args.lift(1).flatMap(_.toIntOption).getOrElse(10))
      spark.stop(); return
    }
    if (args.headOption.contains("gateserve")) {
      gateServeProbe(spark, args.lift(1).flatMap(_.toIntOption).getOrElse(10))
      spark.stop(); return
    }
    if (args.headOption.contains("lexserve")) {
      lexServeProbe(spark, args.lift(1).flatMap(_.toIntOption).getOrElse(10))
      spark.stop(); return
    }
    if (args.headOption.contains("lexwide")) {
      lexWideProbe(spark, args.lift(1).flatMap(_.toIntOption).getOrElse(10))
      spark.stop(); return
    }
    val m = args.headOption.map(_.toInt).getOrElse(10)
    val vectorsOnly = args.contains("vectors")
    val docsOnly = args.contains("docs")
    val mediaOnly = args.contains("media")
    val out = s"/tmp/graft_scale$m" +
      (if (vectorsOnly) "v" else if (docsOnly) "d" else if (mediaOnly) "m" else "")

    if (vectorsOnly) { vectorLadder(spark, m, out); spark.stop(); return }
    if (docsOnly) { docLadder(spark, m, out); spark.stop(); return }
    if (mediaOnly) { mediaLadder(spark, m, out); spark.stop(); return }
    if (args.contains("merge")
        && new java.io.File(s"$out/documents.parquet").exists()) {
      // re-measure the maintenance meter on an already-built replica
      graft.core.Memo.clear()
      mergeMeter(spark, m, out); spark.stop(); return
    }

    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val n = base.count()
    val copies = (0 until m).map { k =>
      base.select(
        ($"doc_id" + lit(k * n)).as("doc_id"),
        (if (k == 0) $"text"
         else concat($"text", lit(s" copytag$k marker$k"))).as("text"),
        $"lang", $"source", $"n_chars")
    }
    copies.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    // embeddings replicated m× too (each copy shifted by a tiny constant
    // so clones are near- but not exact dups) — drives the corpus-scaled
    // IVF quantizer past its 10-cell floor (nlistFor) and the cell meter
    val embBase = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val en = embBase.count()
    (0 until m).map { k =>
      embBase.select(
        ($"vec_id" + lit(k * en)).as("vec_id"),
        (if (k == 0) $"embedding"
         else transform($"embedding", x => x + lit(k * 0.001f))).as("embedding"),
        $"label")
    }.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // events replicated m× with per-copy user-id offsets: user count grows
    // with the corpus while per-user event density stays fixed — the
    // growth mode a real event log has — so the interval join's true pair
    // count (and thus a correctly-shaped plan's cost) must grow linearly.
    // ts is copied through in whatever layout the source file has
    // (nanos-long, TIMESTAMP_NTZ, or TIMESTAMP) — Tables.normalizeEventTs
    // branches on the scanned dtype, so the replica reads identically.
    val evBase = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
    val evn = evBase.count()
    // per-copy offset derived from the base corpus (like event_id's evn),
    // not a hardcoded bound: a fixed 100k stride would silently alias
    // users across copies on a base corpus with more distinct users,
    // breaking the probe's linear pair-growth claim
    val userOff = evBase.agg(max($"user_id")).head.getAs[Number](0).longValue + 1L
    (0 until m).map { k =>
      evBase.select(
        ($"event_id" + lit(k * evn)).as("event_id"), $"ts",
        ($"user_id" + lit(k * userOff)).as("user_id"),
        $"event_type", $"value", $"props")
    }.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    println(s"""{"built": "$out", "docs": ${n * m}, "vectors": ${en * m}, "events": ${evn * m}}""")

    Seq("dedup_exact", "dedup_ngram_jaccard", "dedup_jaccard_prefix",
      "dedup_minhash_lsh", "dedup_incremental", "dedup_lsh_recall_sampled",
      "dedup_simhash", "dedup_clusters", "tx_fingerprint", "tx_tfidf",
      "dedup_emb_cos", "dedup_emb_cos_ivf", "dedup_emb_incremental",
      "ann_ivf2_topk",
      "dedup_substring", "dedup_spans",
      "q_interval_join", "q_funnel", "q_cohort", "q_hopping", "q_gapfill",
      "tx_pack", "tx_mix", "ann_imi_topk", "ann_pq_topk", "q_asof_nearest",
      "tx_bigram_logprob", "dedup_hot_drift", "tx_curation_manifest",
      "tx_source_cap", "tx_corpus_report",
      "tx_bpe_merges", "tx_bpe_token_count", "ann_pca_project", "ann_pca_var",
      "ann_pca_topk", "ann_pca_recall", "ann_cluster_sample",
      "tx_bm25_impact", "ann_hybrid_rrf", "tx_nb_score")
      .foreach { name =>
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(name)(spark, out).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"query": "$name", "mult": $m, "sec": $sec%.2f, "rows": $rows}""")
      }
    // index-MAINTENANCE cost meter: with the band index built (memoized
    // above by dedup_minhash_lsh), merging a 2% batch must cost O(batch)
    // — the merged count re-reads the memoized index and adds only the
    // batch's per-row band work, so merge_sec tracks the batch size, not
    // the corpus multiple
    mergeMeter(spark, m, out)
    // recall-loss meter for the simhash hot-bucket cap: report what the
    // skew guard discarded on this corpus (observed, not assumed)
    val drops = graft.queries.Dedup.simhashDropStats(spark, out).collect()(0)
    println(s"""{"meter": "simhash_hot_bucket_drops", "docs_affected": ${drops.getLong(0)}, """ +
      s""""docs_invisible": ${drops.getLong(1)}, "band_rows_dropped": ${drops.getLong(2)}, """ +
      s""""docs_total": ${drops.getLong(3)}}""")
    // prefix-filter selectivity meter: candidate pairs the AllPairs
    // prefix admitted vs the full shingle-sharing pair table the
    // interIndex route intersects — the measured gap between the two
    // exact-Jaccard plans at this corpus multiple
    val pm = graft.queries.Dedup.queries("dedup_prefix_meter")(spark, out).collect()(0)
    println(s"""{"meter": "prefix_filter", "prefix_rows": ${pm.getLong(0)}, """ +
      s""""n_candidates": ${pm.getLong(1)}, "n_pairs": ${pm.getLong(2)}}""")
    // IVF cell-geometry meter: observed within-cell pair count under the
    // corpus-scaled quantizer (the all-pairs cost of dedup_emb_cos_ivf)
    val cells = graft.queries.Similarity.embCellStats(spark, out).collect()(0)
    println(s"""{"meter": "ivf_cells", "cells_used": ${cells.getAs[Long]("cells_used")}, """ +
      s""""max_cell": ${cells.getAs[Long]("max_cell")}, "n_vectors": ${cells.getAs[Long]("n_vectors")}, """ +
      s""""within_cell_pairs": ${cells.getAs[Long]("within_cell_pairs")}, """ +
      s""""nlist_target": ${cells.getAs[Int]("nlist_target")}, "split_bits": ${cells.getAs[Int]("split_bits")}}""")
    // seed-cell meter: the within-cell pair count of dedup_emb_cos's
    // curated-label blocking under the corpus-scaled residual splits —
    // the bound that kills the O(n²/labels) growth the fixed-label
    // blocking had
    val sc = graft.queries.Similarity.seedCellStats(spark, out).collect()(0)
    println(s"""{"meter": "seed_cells", "cells_used": ${sc.getAs[Long]("cells_used")}, """ +
      s""""max_cell": ${sc.getAs[Long]("max_cell")}, "n_vectors": ${sc.getAs[Long]("n_vectors")}, """ +
      s""""within_cell_pairs": ${sc.getAs[Long]("within_cell_pairs")}, """ +
      s""""nlist_target": ${sc.getAs[Int]("nlist_target")}, "split_bits": ${sc.getAs[Int]("split_bits")}}""")
    // two-level assignment meter: agreement of the coarse-pruned argmin
    // with the flat argmin, and the distance-fold rows of each route —
    // the extreme-n indexing path (O(n·(L + w·2^b)·d) vs O(n·L·2^b·d))
    val ca = graft.queries.Similarity.coarseAssignStats(spark, out).collect()(0)
    println(s"""{"meter": "ivf_coarse_assign", "n_vectors": ${ca.getAs[Long]("n_vectors")}, """ +
      s""""agree_flat": ${ca.getAs[Long]("agree_flat")}, """ +
      s""""fine_dist_rows": ${ca.getAs[Long]("fine_dist_rows")}, """ +
      s""""flat_dist_rows": ${ca.getAs[Long]("flat_dist_rows")}}""")
    // IMI product-cell meter: the candidate-set shrink the two-half
    // product buys over the flat quantizer at the same codebook storage
    val ic = graft.queries.Similarity.imiCellStats(spark, out).collect()(0)
    println(s"""{"meter": "imi_cells", "cells_used": ${ic.getAs[Long]("cells_used")}, """ +
      s""""max_cell": ${ic.getAs[Long]("max_cell")}, """ +
      s""""within_cell_pairs": ${ic.getAs[Long]("within_cell_pairs")}, """ +
      s""""codebook_rows": ${ic.getAs[Long]("codebook_rows")}}""")
    spark.stop()
  }

  /** Embeddings-only replica build + the quantizer-ladder meters at
    * multiples where the full dedup family would be the bottleneck, not
    * the evidence. 100× (200k vectors) pushes the seed quantizer to
    * b = 4 (160 cells) and the PQ codebook to realistic cell occupancy;
    * the meters pin that within-cell pairs stay ~linear across TWO
    * decades (10× and 100×), and the PQ serving query is timed cold
    * (index training included) and warm (staged index) separately.
    */
  /** Index-MAINTENANCE cost meter: with the band index and hot-shingle
    * list in hand (in production: the staged store — warmed here so the
    * meter times the merge, not an index build), merging a 2% batch
    * must cost O(batch), and the drift trigger one pass per side.
    */
  private def mergeMeter(spark: SparkSession, m: Int, out: String): Unit = {
    import spark.implicits._
    val batch = spark.read.parquet(s"$out/documents.parquet")
      .filter($"doc_id" % 50 === 0)
      .select(($"doc_id" + lit(100000000L)).as("doc_id"), $"text")
    graft.queries.Dedup.minhashBandIndex(spark, out).count()
    val t0 = System.nanoTime()
    val mergedRows = graft.queries.Dedup.mergedBandIndex(spark, out, batch).count()
    val mergeSec = (System.nanoTime() - t0) / 1e9
    val d0 = System.nanoTime()
    val driftRows = graft.queries.Dedup.hotShingleDrift(spark, out, batch).count()
    val driftSec = (System.nanoTime() - d0) / 1e9
    println(f"""{"meter": "delta_merge", "mult": $m, "merge_sec": $mergeSec%.2f, """ +
      f""""merged_rows": $mergedRows, "drift_sec": $driftSec%.2f, "drift_rows": $driftRows}""")
  }

  private def vectorLadder(spark: SparkSession, m: Int, out: String): Unit = {
    import spark.implicits._
    val embBase = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val en = embBase.count()
    (0 until m).map { k =>
      embBase.select(
        ($"vec_id" + lit(k * en)).as("vec_id"),
        (if (k == 0) $"embedding"
         else transform($"embedding", x => x + lit(k * 0.001f))).as("embedding"),
        $"label")
    }.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"""{"built": "$out", "vectors": ${en * m}}""")

    def meter(name: String, df: org.apache.spark.sql.DataFrame,
        fields: Seq[String]): Unit = {
      val r = df.collect()(0)
      val kv = fields.map { f =>
        val v = r.get(r.fieldIndex(f)) match {
          case l: Long => l.toString
          case i: Int  => i.toString
          case other   => other.toString
        }
        s""""$f": $v"""
      }.mkString(", ")
      println(s"""{"meter": "$name", "mult": $m, $kv}""")
    }
    meter("seed_cells", graft.queries.Similarity.seedCellStats(spark, out),
      Seq("cells_used", "max_cell", "n_vectors", "within_cell_pairs",
        "nlist_target", "split_bits"))
    meter("ivf_cells", graft.queries.Similarity.embCellStats(spark, out),
      Seq("cells_used", "max_cell", "n_vectors", "within_cell_pairs",
        "nlist_target", "split_bits"))
    meter("imi_cells", graft.queries.Similarity.imiCellStats(spark, out),
      Seq("cells_used", "max_cell", "within_cell_pairs", "codebook_rows"))
    meter("ivf_coarse_assign",
      graft.queries.Similarity.coarseAssignStats(spark, out),
      Seq("n_vectors", "agree_flat", "fine_dist_rows", "flat_dist_rows"))
    // serving queries stay probe-bounded, so they are cheap even at
    // 100×; the first ann_pq_topk run pays the full index training
    // (cold), the second reads the staged index (warm)
    for ((name, tag) <- Seq(("ann_ivf2_topk", "cold"), ("ann_imi_topk", "cold"),
      ("ann_pq_topk", "cold"), ("ann_pq_topk", "warm"),
      ("ann_filtered_topk", "cold"), ("ann_filtered_ivf", "warm"),
      ("ann_postfilter_recall", "warm"),
      ("ann_pca_project", "cold"), ("ann_pca_topk", "warm"),
      ("ann_pca_cells", "warm"), ("ann_serving_index", "warm"),
      ("ann_cluster_sample", "warm"))) {
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(name)(spark, out).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"query": "$name", "run": "$tag", "mult": $m, "sec": $sec%.2f, "rows": $rows}""")
    }
  }

  /** State growth of the two streaming-dedup collapse routes under a
    * long chunked ingest at m× corpus: the WATERMARKED route
    * (`ingestTsCol` + retention — the always-on form) must hold its
    * (ni, oi) pair state bounded by the retention window as event time
    * advances, while the unwatermarked lifetime route grows
    * monotonically with every distinct colliding pair. Both routes must
    * surface the same DISTINCT match set (the watermarked form may
    * re-emit across evictions — at-least-once inside the admission
    * bound). This is the measurement behind closing the last
    * unbounded-state TODO.
    */
  private def streamDedupProbe(spark: SparkSession, m: Int): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val out = s"/tmp/graft_scale${m}d"
    if (!new java.io.File(s"$out/documents.parquet").exists()) {
      val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val n = base.count()
      (0 until m).map { k =>
        base.select(
          ($"doc_id" + lit(k * n)).as("doc_id"),
          (if (k == 0) $"text"
           else concat($"text", lit(s" copytag$k marker$k"))).as("text"),
          $"lang", $"source", $"n_chars")
      }.reduce(_ unionAll _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      println(s"""{"built": "$out", "docs": ${n * m}}""")
    }
    graft.core.Memo.clear()
    // a THIN ingest slice in FEW batches: the probe measures STATE ROWS
    // per batch, and each micro-batch pays the full stream-static join
    // against the m× staged artifacts regardless of batch size — the
    // growth signal needs many distinct colliding pairs, not many
    // batches (% 25 ≈ 2k docs at 10×, 6 batches ≈ 330 docs each)
    val ingest = graft.core.Tables(spark, out).documents
      .filter($"doc_id" % 25 === 0).select($"doc_id", $"text")
      .as[(Long, String)].collect()
    val chunks = ingest.grouped(math.max(1, ingest.length / 6)).toSeq
    val t0 = 1700000000000L
    def run(tag: String, ts: Option[String]): Unit = {
      val in = MemoryStream[(Long, String, java.sql.Timestamp)]
      val q = graft.streaming.DedupStream.matches(
          in.toDS().toDF("doc_id", "text", "ingest_ts"), spark, out,
          ingestTsCol = ts, dedupRetention = "2 minutes")
        .writeStream.format("memory").queryName(s"sdp_$tag")
        .outputMode("append").start()
      val rows = chunks.zipWithIndex.map { case (c, i) =>
        // event time advances one minute per batch → with 2-minute
        // retention the watermarked store holds ~2 batches' pairs
        in.addData(c.toIndexedSeq.map { case (id, tx) =>
          (id, tx, new java.sql.Timestamp(t0 + i * 60000L)) }: _*)
        q.processAllAvailable()
        Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
      }
      val matches = spark.table(s"sdp_$tag")
        .select($"new_id", $"dup_of").distinct().count()
      q.stop()
      println(s"""{"probe": "stream_dedup", "mult": $m, "route": "$tag", """ +
        s""""batches": ${chunks.length}, "state_rows": ${rows.mkString("[", ",", "]")}, """ +
        s""""distinct_matches": $matches}""")
    }
    run("watermarked", Some("ingest_ts"))
    run("lifetime", None)
  }

  /** Documents-only replica build at multiples where the EXACT pairwise
    * routes would dominate the wall-clock without adding evidence (a
    * dup-dense 100× corpus genuinely contains ~25M near-dup pairs —
    * any correct tool's output is that big). Runs the linear/bounded
    * text path: exact dedup, capped simhash (the skew guard is the
    * design claim at this density — its drops are metered, not hidden),
    * fingerprinting, tf-idf, packing, mixing, and the end-to-end
    * curation recipe, at 500k docs.
    */
  private def docLadder(spark: SparkSession, m: Int, out: String): Unit = {
    import spark.implicits._
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val n = base.count()
    (0 until m).map { k =>
      base.select(
        ($"doc_id" + lit(k * n)).as("doc_id"),
        (if (k == 0) $"text"
         else concat($"text", lit(s" copytag$k marker$k"))).as("text"),
        $"lang", $"source", $"n_chars")
    }.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"""{"built": "$out", "docs": ${n * m}}""")

    Seq("dedup_exact", "dedup_simhash", "tx_fingerprint", "tx_tfidf",
      "tx_pack", "tx_mix", "tx_mix_temperature", "tx_curation_packed",
      "tx_dsir_weights", "tx_dsir_hashed", "tx_dsir_select",
      "tx_bigram_logprob", "tx_bpe_merges", "tx_bpe_token_count",
      "tx_source_cap", "tx_corpus_report", "tx_curation_manifest",
      "tx_quality", "tx_quality_lang", "tx_curation_lang",
      "tx_bm25_impact", "tx_nb_train", "tx_nb_score")
      .foreach { name =>
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(name)(spark, out).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"query": "$name", "mult": $m, "sec": $sec%.2f, "rows": $rows}""")
      }
    val drops = graft.queries.Dedup.simhashDropStats(spark, out).collect()(0)
    println(s"""{"meter": "simhash_hot_bucket_drops", "mult": $m, "docs_affected": ${drops.getLong(0)}, """ +
      s""""docs_invisible": ${drops.getLong(1)}, "band_rows_dropped": ${drops.getLong(2)}, """ +
      s""""docs_total": ${drops.getLong(3)}}""")
  }

  /** Documents-only replica build timing the MEDIA family: every payload
    * is really encoded (PNG / PCM WAV / GVID) and really decoded
    * (ImageIO / AudioSystem / demux+ImageIO), so the probe measures
    * genuine codec throughput per partition stage, plus the decoded
    * volume meters (pixels, samples, frames) that turn seconds into
    * rates. Encode and decode pipeline in the same stage — no shuffle
    * until the frame-dedup group-by, which is the one-hash-shuffle
    * shape exact dedup has.
    */
  private def mediaLadder(spark: SparkSession, m: Int, out: String): Unit = {
    import spark.implicits._
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val n = base.count()
    (0 until m).map { k =>
      base.select(
        ($"doc_id" + lit(k * n)).as("doc_id"),
        (if (k == 0) $"text"
         else concat($"text", lit(s" copytag$k marker$k"))).as("text"),
        $"lang", $"source", $"n_chars")
    }.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"""{"built": "$out", "docs": ${n * m}}""")

    // first query pays the one-time fixture encode (the staged media
    // table — production's stored corpus); the rest measure decode
    Seq("mm_features", "mm_resize", "mm_frame_sample", "mm_audio_stats",
      "mm_frame_dedup", "mm_pack")
      .foreach { name =>
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(name)(spark, out).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"query": "$name", "mult": $m, "sec": $sec%.2f, "rows": $rows}""")
      }
    // decoded-volume meters: what the seconds above actually processed
    val vol = graft.multimodal.Multimodal
      .decodeAll(graft.multimodal.Multimodal.mediaTable(spark, out))
      .toDF()
      .groupBy($"modality")
      .agg(count(lit(1)).as("payloads"), sum($"byte_len").as("decoded_bytes"),
        sum($"n_frames").as("units"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    vol.foreach { case (mod, (p, b, u)) =>
      println(s"""{"meter": "media_volume", "mult": $m, "modality": "$mod", """ +
        s""""payloads": $p, "decoded_bytes": $b, "units": $u}""")
    }
  }

  /** PQ serving-knob sweep on the sf0.1 gate corpus: recall@5 and
    * candidate-scan rows at each (nprobe, shortlist) — the measured
    * frontier behind the (2, 20) gate defaults (SCALING.md).
    */
  /** BM25 truncation-depth frontier at the m× doc replica (built by a
    * prior `ScaleProbe m docs` run, or rebuilt here): price the P knob
    * — per-P serve time of the truncated tier and its overlap@10
    * against the exact ranking (computed once, the expensive side by
    * design). Cold semantics like every ladder (staging disabled). */
  private def bm25Frontier(spark: SparkSession, m: Int): Unit = {
    import spark.implicits._
    val out = s"/tmp/graft_scale${m}d"
    require(new java.io.File(s"$out/documents.parquet").exists(),
      s"run `ScaleProbe $m docs` first to build $out")
    graft.core.Memo.clear()
    val t0 = System.nanoTime()
    val nq = graft.queries.Retrieval.bm25Scored(spark, out)
      .select($"qid").distinct().count()
    val exactSec = (System.nanoTime() - t0) / 1e9
    println(f"""{"frontier": "bm25_exact", "mult": $m, "queries": $nq, "sec": $exactSec%.2f}""")
    for (p <- Seq(250, 1000, 4000, 16000)) {
      val t1 = System.nanoTime()
      val rows = graft.queries.Retrieval
        .bm25ImpactScoredAt(spark, out, p).count()
      val serveSec = (System.nanoTime() - t1) / 1e9
      val rec = graft.queries.Retrieval.bm25RecallAt(spark, out, p)
        .agg((sum($"n_common") / sum($"n_exact")).as("r"))
        .collect()(0).getDouble(0)
      println(f"""{"frontier": "bm25", "mult": $m, "p": $p, "recall_at10": $rec%.3f, "cand_rows": $rows, "serve_sec": $serveSec%.2f}""")
      // the rank-safe tier at the same depth: certificate rate and the
      // exact-rescore work it buys out of the full traversal
      val t2 = System.nanoTime()
      val wm = graft.queries.Retrieval.wandParts(spark, out, p)._2
        .agg(sum($"safe").as("safe"), count(lit(1)).as("n"),
          sum($"n_rescore").as("resc"), sum($"n_seen").as("seen"))
        .collect()(0)
      val wandSec = (System.nanoTime() - t2) / 1e9
      println(f"""{"frontier": "bm25_wand", "mult": $m, "p": $p, "safe": ${wm.getLong(0)}, "queries": ${wm.getLong(1)}, "rescore_rows": ${wm.getLong(2)}, "seen_rows": ${wm.getLong(3)}, "sec": $wandSec%.2f}""")
    }
    // incremental-merge rung: the offline base-aggregate build (df /
    // doc-count / total-length over the stored split — O(corpus), paid
    // once per generation) timed APART from the merge-serve it enables
    // (O(batch) delta aggregation + probed-words artifact read)
    val tb = System.nanoTime()
    val (bdf, bst) = graft.queries.Retrieval.incBaseAggs(spark, out)
    val vocabRows = bdf.count(); bst.count()
    val baseSec = (System.nanoTime() - tb) / 1e9
    val tm = System.nanoTime()
    val incRows = SparkEntry.queries("tx_bm25_incremental")(spark, out).count()
    val mergeSec = (System.nanoTime() - tm) / 1e9
    println(f"""{"frontier": "bm25_incremental", "mult": $m, "base_agg_sec": $baseSec%.2f, "merge_sec": $mergeSec%.2f, "vocab": $vocabRows, "rows": $incRows}""")
  }

  /** Hybrid-fusion ladder: per-query cost of the all-staged serving
    * fusion (impact-tier sparse arm × IVF-PQ dense arm) at the m×
    * docs+embeddings replica, with the fused-recall meter against the
    * exact-arm ground truth where the exact dense arm is still feasible
    * (m ≤ 10 — at 100× the pairwise exact arm is exactly the cost class
    * the serving fusion exists to avoid). Cold builds (staging off). */
  private def hybridProbe(spark: SparkSession, m: Int): Unit = {
    import spark.implicits._
    val out = s"/tmp/graft_scale${m}h"
    if (!new java.io.File(s"$out/embeddings.parquet").exists()) {
      val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val n = base.count()
      (0 until m).map { k =>
        base.select(
          ($"doc_id" + lit(k * n)).as("doc_id"),
          (if (k == 0) $"text"
           else concat($"text", lit(s" copytag$k marker$k"))).as("text"),
          $"lang", $"source", $"n_chars")
      }.reduce(_ unionAll _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      val embBase = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      val en = embBase.count()
      (0 until m).map { k =>
        embBase.select(
          ($"vec_id" + lit(k * en)).as("vec_id"),
          (if (k == 0) $"embedding"
           else transform($"embedding", x => x + lit(k * 0.001f))).as("embedding"),
          $"label")
      }.reduce(_ unionAll _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      println(s"""{"built": "$out", "docs": ${n * m}, "vectors": ${en * m}}""")
    }
    graft.core.Memo.clear()
    // offline index builds timed APART from the serving pass they
    // enable (the ladder convention): the PQ chain (centroid training,
    // codebook, codes) and the lexical impact index are per-generation
    // jobs a production fusion reads as committed artifacts
    val tb = System.nanoTime()
    val (np0, sl0) = graft.queries.Similarity.pqServingDefaults
    graft.queries.Similarity.pqTopkFor(spark, out,
      org.apache.spark.sql.functions.col("vec_id") < 1, np0, sl0, 1).count()
    SparkEntry.queries("tx_bm25_impact")(spark, out).count()
    val buildSec = (System.nanoTime() - tb) / 1e9
    println(f"""{"probe": "hybrid_build", "mult": $m, "sec": $buildSec%.2f}""")
    // FIXED 400-query batch at every multiple (a serving deployment has
    // a per-batch query budget; the %QStep gate set grows with the
    // corpus and would conflate batch size with corpus scale)
    val t0 = System.nanoTime()
    val nServed = graft.queries.Retrieval.hybridServingFusedFor(spark, out,
      $"vec_id" % 50 === 0 && $"vec_id" < 400 * 50).count()
    val sec = (System.nanoTime() - t0) / 1e9
    val nq = nServed / 10 // HybK rows per query
    println(f"""{"probe": "hybrid_serving", "mult": $m, "queries": $nq, "sec": $sec%.2f, "ms_per_query": ${sec * 1000 / math.max(nq, 1)}%.1f}""")
    if (m <= 10) {
      val t1 = System.nanoTime()
      val rec = SparkEntry.queries("ann_hybrid_recall")(spark, out)
        .agg((sum($"n_common") / sum($"n_exact")).as("r"))
        .collect()(0).getDouble(0)
      val recSec = (System.nanoTime() - t1) / 1e9
      println(f"""{"probe": "hybrid_recall", "mult": $m, "recall_at10": $rec%.3f, "sec_incl_exact_arm": $recSec%.2f}""")
    }
  }

  /** Graph-family ladder at an m× docs replica whose VERTEX set grows
    * with the corpus: each copy renames its sources (`srcX_k`), so the
    * mirror graph gains 20 new vertices per copy and every base source
    * becomes an m-clique of near-identical mirrors — the exact
    * scenario mirror detection exists for. Text is tagged per copy
    * (near- but not exact dups) and the df guard scales with the
    * corpus, so graph structure is preserved rather than stop-shingled
    * away. Cold builds (staging off).
    */
  private def buildGraphReplica(spark: SparkSession, m: Int, out: String): Unit = {
    import spark.implicits._
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val n = base.count()
    (0 until m).map { k =>
      base.select(
        ($"doc_id" + lit(k * n)).as("doc_id"),
        (if (k == 0) $"text"
         else concat($"text", lit(s" copytag$k marker$k"))).as("text"),
        $"lang", concat($"source", lit(s"_$k")).as("source"), $"n_chars")
    }.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"""{"built": "$out", "docs": ${n * m}, "sources": ${20 * m}}""")
  }

  private def graphProbe(spark: SparkSession, m: Int): Unit = {
    val out = s"/tmp/graft_scale${m}g"
    if (!new java.io.File(s"$out/documents.parquet").exists())
      buildGraphReplica(spark, m, out)
    graft.core.Memo.clear()
    val names = Seq("gr_source_graph", "gr_mirror_pairs", "gr_components",
      "gr_component_stats", "gr_source_rank", "gr_rank_gate",
      "gr_rank_sample", "gr_mirror_keep", "gr_triangles")
    names.foreach { name =>
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(name)(spark, out).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"query": "$name", "mult": $m, "sec": $sec%.2f, "rows": $rows}""")
    }
  }

  /** Positional family at the m× replica (shares the graph probe's
    * documents-only corpus — sources are immaterial here). The probe
    * set is the %QStep stride, so it GROWS with the corpus (1000
    * queries at 10×, 10000 at 100×): the honest per-query metric is
    * ms/query; the index build is timed apart (cold, staging off). */
  private def positionalProbe(spark: SparkSession, m: Int): Unit = {
    val out = s"/tmp/graft_scale${m}g"
    if (!new java.io.File(s"$out/documents.parquet").exists())
      buildGraphReplica(spark, m, out)
    graft.core.Memo.clear()
    val tb = System.nanoTime()
    val nPostings = graft.queries.Positional.positionalIndex(spark, out).count()
    val buildSec = (System.nanoTime() - tb) / 1e9
    println(f"""{"probe": "positional_build", "mult": $m, "sec": $buildSec%.2f, "postings": $nPostings}""")
    // the capped lists are an OFFLINE artifact: build timed apart so the
    // phrase_capped probe below reads the tier's steady state
    val tc = System.nanoTime()
    val nCapped = graft.queries.Positional.cappedIndex(spark, out).count()
    val capSec = (System.nanoTime() - tc) / 1e9
    println(f"""{"probe": "positional_cap_build", "mult": $m, "sec": $capSec%.2f, "rows": $nCapped}""")
    val tbg = System.nanoTime()
    val nBigrams = graft.queries.Positional.bigramIndex(spark, out).count()
    val bgSec = (System.nanoTime() - tbg) / 1e9
    println(f"""{"probe": "positional_bigram_build", "mult": $m, "sec": $bgSec%.2f, "rows": $nBigrams}""")
    // FIXED query batch at every multiple (the hybrid-probe
    // convention): the %QStep probe set grows with the corpus, and
    // ms/query must not conflate batch size with corpus scale. The
    // denominator is the COUNTED phrase-QUERY set (≥3-token probe docs
    // under the cut), not raw probe documents — a base corpus under
    // 20k docs would let replica copies (doc_id = base + k·n) leak
    // into the doc_id cut, and short docs pose no phrase query at all;
    // max(nq, 1) keeps a degenerate base from printing Infinity.
    val batch = org.apache.spark.sql.functions.col("doc_id") < 400L * 50
    val nq = math.max(
      graft.queries.Positional.probeQueryCount(spark, out, batch), 1L)
    for ((tag, df) <- Seq(
      ("phrase", graft.queries.Positional.phraseOcc(spark, out, batch)),
      ("phrase_bigram", graft.queries.Positional.phraseBigramOcc(spark, out, batch)),
      ("phrase_capped", graft.queries.Positional.phraseOccCapped(spark, out, batch)),
      ("proximity", graft.queries.Positional.proximityFor(spark, out, batch)))) {
      val t0 = System.nanoTime()
      val rows = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"probe": "positional_$tag", "mult": $m, "sec": $sec%.2f, "rows": $rows, "queries": $nq, "ms_per_query": ${sec * 1000 / nq}%.2f}""")
    }
    // the capped tier's honesty at this multiple: how many probe
    // queries stayed exact, and the worst anchor df vs the cap
    val cm = graft.queries.Positional.phraseCapMeterFor(spark, out, batch)
      .agg(org.apache.spark.sql.functions.sum("exact"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.max("anchor_df")).collect()(0)
    println(s"""{"probe": "positional_cap_meter", "mult": $m, "exact": ${cm.getLong(0)}, "queries": ${cm.getLong(1)}, "max_anchor_df": ${cm.getLong(2)}}""")
    // and the cut's MISS MASS at this multiple: micro-recall of the
    // capped match sets vs the exact ones over the same probe batch —
    // the number the per-query exact flag alone cannot give
    val cr = graft.queries.Positional.phraseCapRecallFor(spark, out, batch)
      .agg(org.apache.spark.sql.functions.sum("n_common"),
        org.apache.spark.sql.functions.sum("n_exact"),
        org.apache.spark.sql.functions.sum("n_capped")).collect()(0)
    val rec = cr.getLong(0).toDouble / math.max(1L, cr.getLong(1))
    println(f"""{"probe": "positional_cap_recall", "mult": $m, "recall": $rec%.4f, "n_common": ${cr.getLong(0)}, "n_exact": ${cr.getLong(1)}, "n_capped": ${cr.getLong(2)}}""")
    // STAGED SERVING path — the 100 TB shape: the committed
    // word-bucketed generation (partition + row-group pruning, the
    // verification a broadcast probe), vs the in-memory forms above
    // whose probed-postings scan is corpus-linear. Generation write
    // timed apart: it is the offline index job.
    val root = s"/tmp/graft_posserve_$m"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    val tg = System.nanoTime()
    graft.queries.Positional.writePositionalGeneration(spark, out, root)
    val genSec = (System.nanoTime() - tg) / 1e9
    val g = graft.queries.Positional.loadPositionalGeneration(spark, root)
    println(f"""{"probe": "positional_gen_write", "mult": $m, "sec": $genSec%.2f, "wb_buckets": ${g.wbN.getOrElse(0)}}""")
    val qd = spark.read.parquet(s"$out/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("doc_id") % 50 === 0)
      .filter(batch)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    def serveOnce(): Double = {
      val t0 = System.nanoTime()
      graft.queries.Positional.phraseCappedServeGenBatch(spark, g, qd).count()
      (System.nanoTime() - t0) / 1e9
    }
    serveOnce() // warm: plan + codegen + file index
    val sSec = Seq.fill(3)(serveOnce()).sorted.apply(1)
    println(f"""{"probe": "positional_cap_serve", "mult": $m, "sec": $sSec%.2f, "queries": $nq, "ms_per_query": ${sSec * 1000 / nq}%.2f}""")
    // the EXACT bigram route from the same commit point
    def bgServeOnce(): Double = {
      val t0 = System.nanoTime()
      graft.queries.Positional.phraseBigramServeGenBatch(spark, g, qd).count()
      (System.nanoTime() - t0) / 1e9
    }
    bgServeOnce()
    val bSec = Seq.fill(3)(bgServeOnce()).sorted.apply(1)
    println(f"""{"probe": "positional_bigram_serve", "mult": $m, "sec": $bSec%.2f, "queries": $nq, "ms_per_query": ${bSec * 1000 / nq}%.2f}""")
  }

  /** WIDE-VOCABULARY positional serving ladder: each replica copy's
    * words are suffixed `_k`, so the vocabulary grows m× with the
    * corpus (real text's regime — vocabulary ≫ a batch's probed words)
    * while the fixed 400-query batch keeps probing copy-0's words.
    * This is the corpus the word-bucketed layout exists for: the
    * probed buckets hold a CONSTANT posting mass across the decade, so
    * the staged serve cost must stay flat while any full-scan form
    * grows linearly. (The shared-vocabulary replica above cannot show
    * this — its 49-word vocabulary is fully probed by every batch, so
    * every layout degenerates to a scan there.)
    */
  /** Build (or reuse) the suffixed-vocabulary replica: each copy's
    * words carry a `_k` suffix, so vocabulary grows m× with the corpus
    * while a fixed copy-0 query batch probes a constant word set —
    * real text's Heaps'-law regime, the corpus the word-bucketed
    * layouts exist for. A build-fingerprint sidecar forces a rebuild
    * when the scheme or base corpus changed (a stale /tmp replica from
    * an earlier round would silently skew the ladder). */
  private def ensureWideReplica(spark: SparkSession, m: Int): String = {
    import spark.implicits._
    val out = s"/tmp/graft_scale${m}w"
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val n = base.count()
    val fpPath = java.nio.file.Paths.get(s"$out/_fingerprint")
    val wantFp = s"suffixed-vocab-v1 base=$n mult=$m"
    val haveFp =
      if (java.nio.file.Files.exists(fpPath))
        Some(java.nio.file.Files.readString(fpPath).trim)
      else None
    if (!new java.io.File(s"$out/documents.parquet").exists()
        || !haveFp.contains(wantFp)) {
      (0 until m).map { k =>
        base.select(
          ($"doc_id" + lit(k * n)).as("doc_id"),
          array_join(transform(
            filter(split(lower($"text"), "\\s+"), w => w =!= ""),
            w => concat(w, lit(s"_$k"))), " ").as("text"),
          $"lang", $"source", $"n_chars")
      }.reduce(_ unionAll _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      java.nio.file.Files.createDirectories(fpPath.getParent)
      java.nio.file.Files.writeString(fpPath, wantFp)
      println(s"""{"built": "$out", "docs": ${n * m}, "vocab_mult": $m}""")
    }
    out
  }

  private def positionalWideProbe(spark: SparkSession, m: Int): Unit = {
    import spark.implicits._
    val out = ensureWideReplica(spark, m)
    graft.core.Memo.clear()
    val batch = org.apache.spark.sql.functions.col("doc_id") < 400L * 50
    val nq = math.max(
      graft.queries.Positional.probeQueryCount(spark, out, batch), 1L)
    // the in-memory capped form: corpus-linear per batch (full scan)
    val t0 = System.nanoTime()
    val rows = graft.queries.Positional.phraseOccCapped(spark, out, batch).count()
    val memSec = (System.nanoTime() - t0) / 1e9
    println(f"""{"probe": "positional_wide_capped_mem", "mult": $m, "sec": $memSec%.2f, "rows": $rows, "queries": $nq, "ms_per_query": ${memSec * 1000 / nq}%.2f}""")
    // the committed word-bucketed generation: probed buckets only
    val root = s"/tmp/graft_posserve_w$m"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    val tg = System.nanoTime()
    graft.queries.Positional.writePositionalGeneration(spark, out, root)
    val genSec = (System.nanoTime() - tg) / 1e9
    val g = graft.queries.Positional.loadPositionalGeneration(spark, root)
    println(f"""{"probe": "positional_wide_gen_write", "mult": $m, "sec": $genSec%.2f, "wb_buckets": ${g.wbN.getOrElse(0)}}""")
    val qd = spark.read.parquet(s"$out/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("doc_id") % 50 === 0)
      .filter(batch)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    def serveOnce(): Double = {
      val t0 = System.nanoTime()
      graft.queries.Positional.phraseCappedServeGenBatch(spark, g, qd).count()
      (System.nanoTime() - t0) / 1e9
    }
    serveOnce()
    val sSec = Seq.fill(3)(serveOnce()).sorted.apply(1)
    println(f"""{"probe": "positional_wide_cap_serve", "mult": $m, "sec": $sSec%.2f, "queries": $nq, "ms_per_query": ${sSec * 1000 / nq}%.2f}""")
    // the EXPRESSED default at n-token: the same batch posed as 5-token
    // phrases through phraseServeGenBatchAuto — the generalized bigram
    // chain (fixedRest = None: candidates from the rarest of 4 bigrams,
    // 3 chain probes each) against the generation's bucket-pruned
    // biword slice. Route labels prove which tier answered; the cost
    // must stay in the bigram route's flat band across decades.
    import org.apache.spark.sql.functions.{array_join, slice, split, lower}
    val qd5 = spark.read.parquet(s"$out/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("doc_id") % 50 === 0)
      .filter(batch)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        array_join(slice(split(lower(org.apache.spark.sql.functions.col("text")),
          "\\s+"), 1, 5), " ").as("text"))
    def autoOnce(): (Double, Long) = {
      val t0 = System.nanoTime()
      val res = graft.queries.Positional.phraseServeGenBatchAuto(spark, g, qd5)
      val nBigram = res.filter(org.apache.spark.sql.functions.col("route") === "bigram").count()
      ((System.nanoTime() - t0) / 1e9, nBigram)
    }
    autoOnce()
    val runs = Seq.fill(3)(autoOnce())
    val aSec = runs.map(_._1).sorted.apply(1)
    println(f"""{"probe": "positional_wide_auto5", "mult": $m, "sec": $aSec%.2f, "queries": $nq, "ms_per_query": ${aSec * 1000 / nq}%.2f, "bigram_rows": ${runs.head._2}}""")
  }

  /** Fused-recall-vs-P ladder: the 3-arm serving fusion's answer
    * quality as the QL arm's truncation depth sweeps 250 → 16000 —
    * the tuning curve behind the single r16 fused reading (0.67), the
    * same honesty instrument every other approximate knob carries.
    * Per depth: fused micro-recall vs the exact 3-arm truth AND the QL
    * arm's own micro-recall vs its exact arm, so the table shows how
    * much of the arm's truncation loss the fusion absorbs. Runs on the
    * sf0.1 gate corpus — the truth side's pairwise dense arm is the
    * deliberate metered baseline and bounds the corpus this can price.
    */
  private def hybridQlRecallProbe(spark: SparkSession): Unit = {
    import spark.implicits._
    val dir = "/root/testdata/sf0.1"
    graft.core.Memo.clear()
    val ex = graft.queries.Retrieval.hybridQlExactFusedFrame(spark, dir)
      .select($"qid", $"doc_id").persist()
    val nEx = ex.count().toDouble
    val armEx = graft.queries.Retrieval.qlArmExactRank(spark, dir)
      .select($"qid", $"doc_id").persist()
    val nArmEx = armEx.count().toDouble
    for (p <- Seq(250, 1000, 4000, 16000)) {
      val t0 = System.nanoTime()
      val sv = graft.queries.Retrieval.hybridQlServingFusedAt(spark, dir, p)
        .select($"qid", $"doc_id").persist()
      sv.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val fusedRec = ex.join(sv, Seq("qid", "doc_id"), "left_semi").count() / nEx
      val arm = graft.queries.Retrieval.qlArmRankAt(spark, dir, p)
        .select($"qid", $"doc_id")
      val armRec = armEx.join(arm, Seq("qid", "doc_id"), "left_semi").count() / nArmEx
      println(f"""{"probe": "hybrid_ql_p", "p": $p, "fused_recall": $fusedRec%.4f, "ql_arm_recall": $armRec%.4f, "sec": $sec%.2f}""")
      sv.unpersist()
    }
    ex.unpersist(); armEx.unpersist()
  }

  /** QL frontier: the exact tier's full-postings traversal vs the
    * cf-ordered impact tier at the m× docs replica — the measurement
    * that justifies demoting tx_ql_topk to metered-baseline status
    * (same protocol as [[bm25Frontier]]: cold builds, staging off). */
  private def qlFrontier(spark: SparkSession, m: Int): Unit = {
    import spark.implicits._
    val out = s"/tmp/graft_scale${m}d"
    require(new java.io.File(s"$out/documents.parquet").exists(),
      s"run `ScaleProbe $m docs` first to build $out")
    graft.core.Memo.clear()
    // the EXACT tier (and the recall meter that needs it) only runs at
    // m ≤ 10: at 100× it is 10k queries × a full 500k-doc postings
    // traversal per query — the 5-billion-group plan the impact tier
    // exists to avoid (the same reason the r13 BM25 ladder ran
    // impact-only at 100×)
    if (m <= 10) {
      val t0 = System.nanoTime()
      val nq = graft.queries.Retrieval.qlScored(spark, out)
        .select($"qid").distinct().count()
      val exactSec = (System.nanoTime() - t0) / 1e9
      println(f"""{"frontier": "ql_exact", "mult": $m, "queries": $nq, "sec": $exactSec%.2f}""")
      for (p <- Seq(250, 1000, 4000, 16000)) {
        val t1 = System.nanoTime()
        val rows = graft.queries.Retrieval.qlImpactScoredAt(spark, out, p).count()
        val serveSec = (System.nanoTime() - t1) / 1e9
        val rec = graft.queries.Retrieval.qlRecallAt(spark, out, p)
          .agg((sum($"n_common") / sum($"n_exact")).as("r"))
          .collect()(0).getDouble(0)
        println(f"""{"frontier": "ql", "mult": $m, "p": $p, "recall_at10": $rec%.3f, "cand_rows": $rows, "serve_sec": $serveSec%.2f}""")
        // the prior-aware rank-safe tier at the same depth
        val t2 = System.nanoTime()
        val wm = graft.queries.Retrieval.qlWandParts(spark, out, p)._2
          .agg(sum($"safe").as("safe"), count(lit(1)).as("n"),
            sum($"n_rescore").as("resc"), sum($"n_seen").as("seen"))
          .collect()(0)
        val wandSec = (System.nanoTime() - t2) / 1e9
        println(f"""{"frontier": "ql_wand", "mult": $m, "p": $p, "safe": ${wm.getLong(0)}, "queries": ${wm.getLong(1)}, "rescore_rows": ${wm.getLong(2)}, "seen_rows": ${wm.getLong(3)}, "sec": $wandSec%.2f}""")
      }
    } else {
      val t1 = System.nanoTime()
      val rows = graft.queries.Retrieval.qlImpactScored(spark, out).count()
      val serveSec = (System.nanoTime() - t1) / 1e9
      println(f"""{"frontier": "ql_impact", "mult": $m, "p": 1000, "cand_rows": $rows, "serve_sec": $serveSec%.2f}""")
    }
    // certificate rate at the gate depth: how many gate queries the
    // no-rescore U==0 certificate covers on this corpus
    val sf = graft.SparkEntry.queries("tx_ql_safe")(spark, out)
      .agg(sum($"safe").as("s"), count(lit(1)).as("n")).collect()(0)
    println(s"""{"frontier": "ql_safe", "mult": $m, "safe": ${sf.getLong(0)}, "queries": ${sf.getLong(1)}}""")
  }

  /** Lexical serving ladder: generation write (cold index + bounds
    * build), steady-state per-batch serve latency from the committed
    * generation, and the live-cutover batch (pointer flip + artifact
    * reload) — at 1× and the m× doc replica. The claims under test:
    * per-batch work is probe-sized (≤ terms × P), so batch latency
    * should not scale with the corpus, and a generation flip costs one
    * artifact reload, not a restart. */
  private def lexServeProbe(spark: SparkSession, m: Int): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = "/root/testdata/sf0.1"
    val rep = s"/tmp/graft_scale${m}d"
    require(new java.io.File(s"$rep/documents.parquet").exists(),
      s"run `ScaleProbe $m docs` first to build $rep")
    for ((tag, dir) <- Seq(("1", base), (m.toString, rep))) {
      graft.core.Memo.clear()
      val root = s"/tmp/graft_lexserve_$tag"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val tw0 = System.nanoTime()
      graft.queries.Retrieval.writeLexicalGeneration(spark, dir, root)
      val wSec = (System.nanoTime() - tw0) / 1e9
      println(f"""{"serve": "lex_gen_write", "mult": $tag, "sec": $wSec%.2f}""")
      val qdocs = graft.core.Tables(spark, dir).documents
        .filter($"doc_id" % 50 === 0).limit(200)
        .select($"doc_id", $"text")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      def batch(b: Int) = (0 until 20).map(i =>
        qdocs((b * 20 + i) % qdocs.length)).toIndexedSeq
      val in = MemoryStream[(Long, String)]
      var served = 0L
      var safe = 0L
      val q = graft.streaming.Bm25Stream.serveLatest(
        in.toDS().toDF("doc_id", "text"), root) { out =>
        val rows = out.groupBy().agg(count(lit(1)), sum($"safe")).collect()(0)
        served += rows.getLong(0)
        safe += Option(rows.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
      }.queryName(s"lexserve_$tag").start()
      def runBatch(b: Int): Double = {
        val t0 = System.nanoTime()
        in.addData(batch(b): _*); q.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      }
      runBatch(0); runBatch(1) // warmup: plan + codegen + artifact load
      val steady = (2 to 4).map(runBatch).sorted.apply(1)
      println(f"""{"serve": "lex", "mult": $tag, "batch_sec": $steady%.2f, "served": $served, "safe": $safe}""")
      // live cutover: commit a new generation, next batch pays the
      // pointer resolution + artifact reload inline
      graft.queries.Retrieval.writeLexicalGeneration(spark, dir, root)
      val flipSec = runBatch(5)
      println(f"""{"serve": "lex_flip", "mult": $tag, "batch_sec": $flipSec%.2f}""")
      q.stop()
      // the exact-rescore and two-pass (RM3) serving modes at the same
      // generation: per-batch cost of the exactness / expansion
      // upgrades over the no-rescore certificate tier
      for ((mode, serve) <- Seq[(String,
          (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame => Unit) =>
            org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row])](
          ("lex_rescored", (df, snk) =>
            graft.streaming.Bm25Stream.serveLatestRescored(df, root, dir)(snk)),
          ("lex_rm3", (df, snk) =>
            graft.streaming.Bm25Stream.serveLatestRm3(df, root, dir)(snk)),
          ("lex_ql", (df, snk) =>
            graft.streaming.Bm25Stream.serveLatestQl(df, root)(snk)),
          ("lex_ql_wand", (df, snk) =>
            graft.streaming.Bm25Stream.serveLatestQlWand(df, root, dir)(snk)))) {
        val in2 = MemoryStream[(Long, String)]
        var served2 = 0L
        val q2 = serve(in2.toDS().toDF("doc_id", "text"), out => served2 += out.count())
          .queryName(s"${mode}_$tag").start()
        def runB(b: Int): Double = {
          val t0 = System.nanoTime()
          in2.addData(batch(b): _*); q2.processAllAvailable()
          (System.nanoTime() - t0) / 1e9
        }
        runB(0); runB(1)
        val steady2 = (2 to 4).map(runB).sorted.apply(1)
        println(f"""{"serve": "$mode", "mult": $tag, "batch_sec": $steady2%.2f, "served": $served2}""")
        q2.stop()
      }
    }
  }

  /** WIDE-VOCABULARY lexical serving ladder — the round-17 receipt for
    * the r16 weak mark: on the suffixed-vocab replica (vocabulary and
    * index size grow m×, the fixed copy-0 query batch probes a constant
    * word set) the certificate tier is served from (a) the committed
    * WORD-BUCKETED generation and (b) the SAME artifacts read with the
    * prune disabled (the pre-r17 flat-scan plan). The bucketed serve
    * must stay FLAT across decades while the flat form grows with
    * vocabulary — the lexical twin of the positionalwide measurement
    * that motivated the layout.
    */
  private def lexWideProbe(spark: SparkSession, m: Int): Unit = {
    import spark.implicits._
    val out = ensureWideReplica(spark, m)
    graft.core.Memo.clear()
    val root = s"/tmp/graft_lexserve_w$m"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    val tw = System.nanoTime()
    graft.queries.Retrieval.writeLexicalGeneration(spark, out, root)
    val wSec = (System.nanoTime() - tw) / 1e9
    val g = graft.queries.Retrieval.loadLexicalGeneration(spark, root)
    println(f"""{"probe": "lex_wide_gen_write", "mult": $m, "sec": $wSec%.2f, "wb_buckets": ${g.wbN.getOrElse(0)}}""")
    // fixed 400-query batch from copy 0 (suffix _0 words): the probe
    // set is CONSTANT across m — only the corpus/vocabulary grows
    val qd = spark.read.parquet(s"$out/documents.parquet")
      .filter($"doc_id" % 50 === 0 && $"doc_id" < 400L * 50)
      .select($"doc_id", $"text")
    val nq = math.max(qd.count(), 1L)
    def serveOnce(gen: graft.queries.Retrieval.LexicalGeneration): Double = {
      val t0 = System.nanoTime()
      graft.queries.Retrieval.bm25ServeGenBatch(spark, gen, qd).count()
      (System.nanoTime() - t0) / 1e9
    }
    serveOnce(g)
    val bSec = Seq.fill(3)(serveOnce(g)).sorted.apply(1)
    println(f"""{"probe": "lex_wide_serve_bucketed", "mult": $m, "sec": $bSec%.2f, "queries": $nq, "ms_per_query": ${bSec * 1000 / nq}%.2f}""")
    // the same artifacts with the prune disabled — the flat-scan form
    val gFlat = g.copy(wbN = None)
    serveOnce(gFlat)
    val fSec = Seq.fill(3)(serveOnce(gFlat)).sorted.apply(1)
    println(f"""{"probe": "lex_wide_serve_flat", "mult": $m, "sec": $fSec%.2f, "queries": $nq, "ms_per_query": ${fSec * 1000 / nq}%.2f}""")
    // the 100 TB receipt in rows, not milliseconds: how many index rows
    // ENTER the probe join per batch. The flat form streams the WHOLE
    // impact index (vocab × P — grows with vocabulary every decade);
    // the bucketed form delivers only the probed words' rows (constant
    // across decades — the batch's word set doesn't grow with the
    // corpus). At this ladder's absolute index sizes (≤ 10⁷ rows) the
    // wall-clock is overhead-dominated either way; the row curve is
    // what scales.
    import graft.queries.QueryFns.wsTokens
    val qw = qd.select(explode(slice(wsTokens(lower($"text")), 1,
      graft.queries.Retrieval.QLen)).as("word")).distinct()
    val probe = graft.core.WbLayout.probeOf(qw, "word", g.wbN.get)
    val bRows = graft.core.WbLayout.prune(g.index, "word", probe).count()
    val fRows = g.index.count()
    println(s"""{"probe": "lex_wide_scan_rows", "mult": $m, "bucketed_rows": $bRows, "flat_rows": $fRows, "probed_words": ${probe.terms.size}, "probed_buckets": ${probe.buckets.size}}""")
  }

  /** Admission-gate serving ladder: per-batch cost of
    * [[graft.streaming.GateStream.admittedLatest]] at 1× and the m×
    * graph replica (whose per-copy source renames grow the SOURCE set
    * m× — the state dimension). Claims under test: per-batch admission
    * work is batch-shaped (one source-partitioned window over the
    * batch + a broadcast sources-sized room join), so batch latency
    * must not scale with the corpus; the gate-generation write is the
    * offline rank job's cost, paid once; a budget republish costs one
    * pointer resolution + a sources-sized reload inline.
    */
  private def gateServeProbe(spark: SparkSession, m: Int): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = "/root/testdata/sf0.1"
    val rep = s"/tmp/graft_scale${m}g"
    if (!new java.io.File(s"$rep/documents.parquet").exists())
      buildGraphReplica(spark, m, rep)
    for ((tag, dir) <- Seq(("1", base), (m.toString, rep))) {
      graft.core.Memo.clear()
      val root = s"/tmp/graft_gateserve_$tag"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      val tw = System.nanoTime()
      graft.queries.GraphRank.writeGateGeneration(spark, dir, root)
      val wSec = (System.nanoTime() - tw) / 1e9
      println(f"""{"serve": "gate_gen_write", "mult": $tag, "sec": $wSec%.2f}""")
      // fixed 100k-arrival batches drawn from the corpus head: admission
      // cost must be batch-shaped, never corpus-shaped
      val arr = spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id", $"source").limit(100000)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val in = MemoryStream[(Long, String)]
      var admitted = 0L
      val q = graft.streaming.GateStream.admittedLatest(
        in.toDS().toDF("doc_id", "source"), root, s"$root/ledger") {
        b => admitted += b.count() }
        .queryName(s"gate_probe_$tag").start()
      def runBatch(): Double = {
        val t0 = System.nanoTime()
        in.addData(arr: _*); q.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      }
      runBatch(); runBatch() // warmup: plan + codegen + budget load
      val steady = Seq.fill(3)(runBatch()).sorted.apply(1)
      println(f"""{"serve": "gate_admit", "mult": $tag, "batch_sec": $steady%.2f, "arrivals": ${arr.size}, "admitted": $admitted}""")
      // live budget cutover: republish (offline rank job, timed apart),
      // then the next batch pays only pointer + sources-sized reload
      graft.core.Memo.clear()
      graft.queries.GraphRank.writeGateGeneration(spark, dir, root)
      val flipSec = runBatch()
      println(f"""{"serve": "gate_flip", "mult": $tag, "batch_sec": $flipSec%.2f}""")
      q.stop()
    }
  }

  private def pqSweep(spark: SparkSession): Unit = {
    val dir = "/root/testdata/sf0.1"
    for (nprobe <- Seq(2, 3, 4, 5, 6); shortlist <- Seq(20, 50)) {
      val t0 = System.nanoTime()
      val (recall, candRows) =
        graft.queries.Similarity.pqServingMeter(spark, dir, 25, nprobe, shortlist)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"sweep": "pq", "nprobe": $nprobe, "shortlist": $shortlist, "recall_at5": $recall%.3f, "cand_rows": $candRows, "sec": $sec%.2f}""")
    }
    for (w <- Seq(2, 3, 4, 5)) {
      val t0 = System.nanoTime()
      val (recall, candRows) =
        graft.queries.Similarity.imiServingMeter(spark, dir, 25, w)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"sweep": "imi", "w": $w, "recall_at5": $recall%.3f, "cand_rows": $candRows, "sec": $sec%.2f}""")
    }
  }

  /** Streaming-serving latency ladder: per-micro-batch wall time of the
    * TWO serving forms at 1× and m× corpus — the measurement behind the
    * [[graft.streaming.AnnStream.pqServe]] scale-limit docstring.
    * Protocol per (form, corpus): one warmup batch, then 3 timed
    * batches of 25 queries (fresh probe ids per batch so the dedup
    * state admits them); the reported number is the MEDIAN batch. The
    * stream-static form's static side is planned once and re-read per
    * batch (no dynamic partition pruning in streaming), so its batch
    * latency must grow with the corpus; the pruned foreachBatch form
    * reads only the probed cells' partition dirs and must stay ~flat.
    * The one-off cell-partitioned index write (the index-build job's
    * last step) is timed separately.
    */
  private def serveProbe(spark: SparkSession, m: Int): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val base = "/root/testdata/sf0.1"
    val rep = s"/tmp/graft_scale${m}v"
    if (!new java.io.File(s"$rep/embeddings.parquet").exists()) {
      val embBase = spark.read.parquet(s"$base/embeddings.parquet")
      val en = embBase.count()
      (0 until m).map { k =>
        embBase.select(
          ($"vec_id" + lit(k * en)).as("vec_id"),
          (if (k == 0) $"embedding"
           else transform($"embedding", x => x + lit(k * 0.001f))).as("embedding"),
          $"label")
      }.reduce(_ unionAll _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$rep/embeddings.parquet")
      println(s"""{"built": "$rep", "vectors": ${en * m}}""")
    }
    for ((tag, dir) <- Seq(("1", base), (m.toString, rep))) {
      graft.core.Memo.clear()
      val centroids = graft.queries.Similarity.trainedCentroidArrays(spark, dir)
      val codebook = graft.queries.Similarity.pqCodebookArrays(spark, dir)
      val (nprobe, shortlist) = graft.queries.Similarity.pqServingDefaults
      val idxPath = s"/tmp/graft_serve_idx_$tag"
      val tw0 = System.nanoTime()
      graft.queries.Similarity.writeServingIndex(spark, dir, idxPath)
      val wSec = (System.nanoTime() - tw0) / 1e9
      println(f"""{"serve": "index_write", "mult": $tag, "sec": $wSec%.2f}""")
      // request batches of 5: small enough that the union of probed
      // cells stays well under nlist (the regime where pruning has
      // anything to prune — a batch that probes every cell reads the
      // whole index under either form)
      val qvecs = spark.read.parquet(s"$dir/embeddings.parquet")
        .filter($"vec_id" < 5)
        .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      def batchEvents(b: Int) = qvecs.zipWithIndex.map { case ((_, emb), i) =>
        graft.streaming.AnnStream.QueryEvent(
          src = 0, seq = (b.toLong << 16) + i,
          probe = b * 100000L + i, embedding = emb)
      }.toIndexedSeq
      def timeBatches(run: (IndexedSeq[graft.streaming.AnnStream.QueryEvent] => Unit)): Double = {
        run(batchEvents(0)) // warmup: plan + codegen + state store
        run(batchEvents(1))
        val times = (2 to 4).map { b =>
          val t0 = System.nanoTime()
          run(batchEvents(b))
          (System.nanoTime() - t0) / 1e9
        }
        times.sorted.apply(1) // median of 3
      }

      // pruned foreachBatch form
      locally {
        val in = MemoryStream[graft.streaming.AnnStream.QueryEvent]
        var served = 0L
        val q = graft.streaming.AnnStream.pqServePruned(
          in.toDS(), idxPath, centroids, codebook, nprobe, shortlist) { ds =>
          served += ds.count() }
          .start()
        val sec = timeBatches { evs => in.addData(evs); q.processAllAvailable() }
        q.stop()
        println(f"""{"serve": "pruned", "mult": $tag, "batch_sec": $sec%.2f, "served": $served}""")
      }
      // pruned form with every request buying nprobe=6 (the ceiling
      // ladder's max measured tier) via the per-request QueryEvent
      // override — candidate volume is 1.5× the default tier's, and the
      // partition prune must keep the batch latency in the same flat
      // regime (the claim that per-request recall purchase is safe to
      // expose on a production tier)
      locally {
        val in = MemoryStream[graft.streaming.AnnStream.QueryEvent]
        var served = 0L
        val q = graft.streaming.AnnStream.pqServePruned(
          in.toDS(), idxPath, centroids, codebook, nprobe, shortlist) { ds =>
          served += ds.count() }
          .start()
        val sec = timeBatches { evs =>
          in.addData(evs.map(_.copy(nprobe = 6, shortlist = 80)))
          q.processAllAvailable() }
        q.stop()
        println(f"""{"serve": "pruned_np6", "mult": $tag, "batch_sec": $sec%.2f, "served": $served}""")
      }
      // generation-resolved pruned form: same serving core, but the
      // _latest pointer is resolved (one small file read) per batch —
      // must cost the same as the fixed-path pruned rung, or the live
      // cutover capability isn't free
      locally {
        val genRoot = s"/tmp/graft_serve_gen_$tag"
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(genRoot))
        graft.queries.Similarity.writeServingGeneration(spark, dir, genRoot)
        val in = MemoryStream[graft.streaming.AnnStream.QueryEvent]
        var served = 0L
        val q = graft.streaming.AnnStream.pqServeLatest(
          in.toDS(), genRoot, nprobe, shortlist) { ds =>
          served += ds.count() }
          .start()
        val sec = timeBatches { evs => in.addData(evs); q.processAllAvailable() }
        q.stop()
        println(f"""{"serve": "pruned_gen", "mult": $tag, "batch_sec": $sec%.2f, "served": $served}""")
      }
      // stream-static join form
      locally {
        val index = spark.read.parquet(idxPath)
          .select($"vec_id", $"cell".cast("long").as("cell"), $"norm2",
            $"codes", $"embedding")
          .as[graft.streaming.AnnStream.IndexRow]
        val in = MemoryStream[graft.streaming.AnnStream.QueryEvent]
        val q = graft.streaming.AnnStream.pqServe(
          in.toDS(), index, centroids, codebook, nprobe, shortlist)
          .writeStream.format("memory").queryName(s"serve_ss_$tag")
          .outputMode(OutputMode.Update()).start()
        val sec = timeBatches { evs => in.addData(evs); q.processAllAvailable() }
        q.stop()
        val served = spark.table(s"serve_ss_$tag").count()
        println(f"""{"serve": "stream_static", "mult": $tag, "batch_sec": $sec%.2f, "served": $served}""")
      }
      // CHURN: the live production loop — pqIngest batches APPEND to the
      // cell-partitioned on-disk index between served query batches (the
      // drift-trigger regime: corpus growing under the trained quantizer,
      // retrain not yet fired). Each cycle writes ~n_q ingested rows into
      // their cell partition dirs, then times one pruned serve batch
      // against the GROWN index — foreachBatch re-plans per batch, so the
      // new files are visible immediately (a held-out vector is servable
      // the cycle after its append). Per-cycle serve latency must stay in
      // the pruned form's flat regime: the read cost is ∝ probed cells'
      // row count, and each append grows a cell by O(batch/nlist) rows.
      locally {
        import graft.streaming.AnnStream
        val embArr = qvecs.map(_._2)
        val inW = MemoryStream[AnnStream.VecEvent]
        val qw = AnnStream.pqIngest(inW.toDS(), centroids, codebook)
          .writeStream.format("memory").queryName(s"churn_ingest_$tag")
          .outputMode(OutputMode.Update()).start()
        val inR = MemoryStream[AnnStream.QueryEvent]
        var served = 0L
        val qr = AnnStream.pqServePruned(
          inR.toDS(), idxPath, centroids, codebook, nprobe, shortlist) { ds =>
          served += ds.count() }
          .start()
        // warmup serve batch (plan + codegen + state store)
        inR.addData(batchEvents(50)); qr.processAllAvailable()
        val secs = (0 until 4).map { cycle =>
          // WRITE: this cycle's arrivals = the probe vectors, perturbed,
          // under fresh ids — assigned + coded in-stream, appended to
          // their cell partitions
          val base = 900000000L + cycle * 1000L
          inW.addData(embArr.zipWithIndex.map { case (emb, i) =>
            AnnStream.VecEvent(src = 1, seq = base + i,
              vec_id = base + i,
              embedding = emb.map(x => x + 0.002f * (cycle + 1)))
          }.toIndexedSeq)
          qw.processAllAvailable()
          val newRows = spark.table(s"churn_ingest_$tag")
            .filter($"vec_id" >= base && $"vec_id" < base + 1000L)
            .select($"vec_id", $"cell", $"codes")
            .as[(Long, Long, Array[Int])].collect()
            .map { case (id, cell, codes) =>
              val e = embArr((id - base).toInt).map(x => x + 0.002f * (cycle + 1))
              var n2 = 0.0; var j = 0
              while (j < e.length) { n2 += e(j).toDouble * e(j).toDouble; j += 1 }
              AnnStream.IndexRow(id, cell, n2, codes, e)
            }
          newRows.toSeq.toDS().write.mode("append")
            .partitionBy("cell").parquet(idxPath)
          // READ: one timed pruned serve batch against the grown index
          val t0 = System.nanoTime()
          inR.addData(batchEvents(60 + cycle))
          qr.processAllAvailable()
          (System.nanoTime() - t0) / 1e9
        }
        // MAINTENANCE: the churn cycles above appended a file per
        // touched cell per cycle — compact to one file per cell (the
        // atomic-swap rewrite) and time one more serve batch against
        // the compacted tree: same rows, fewer file opens per probe
        val (fb, fa) = graft.queries.Similarity.compactServingIndex(spark, idxPath)
        val tC = System.nanoTime()
        inR.addData(batchEvents(64))
        qr.processAllAvailable()
        val secC = (System.nanoTime() - tC) / 1e9
        qw.stop(); qr.stop()
        val cyc = secs.map(t => f"$t%.2f").mkString("[", ",", "]")
        println(f"""{"serve": "churn", "mult": $tag, "cycle_sec": $cyc, """ +
          f""""files_before": $fb, "files_after": $fa, "compacted_batch_sec": $secC%.2f, """ +
          f""""served": $served}""")
      }
    }
  }

  /** Exact-ranking POOL CEILING per nprobe on the sf0.1 gate corpus:
    * recall@5 when every candidate in the probed cells is ranked at full
    * precision (shortlist larger than any cell population, so the ADC
    * never drops anyone). This is the number that adjudicates codebook
    * work: no quantizer change can lift recall above its nprobe's
    * ceiling — if a recall target exceeds the ceiling, the lever is
    * nprobe (or the coarse quantizer), not the codebook.
    */
  private def pqCeiling(spark: SparkSession): Unit = {
    val dir = "/root/testdata/sf0.1"
    for (nprobe <- Seq(2, 3, 4, 5, 6)) {
      val t0 = System.nanoTime()
      val (recall, candRows) =
        graft.queries.Similarity.pqServingMeter(spark, dir, 25, nprobe, 1000000)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"sweep": "pq_ceiling", "nprobe": $nprobe, "recall_at5": $recall%.3f, "cand_rows": $candRows, "sec": $sec%.2f}""")
    }
  }
}
