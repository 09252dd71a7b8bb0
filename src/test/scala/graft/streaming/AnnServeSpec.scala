package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.queries.Similarity

/** Batch/stream parity for the ANN SERVING side: query vectors fed
  * through [[AnnStream.pqServe]] against the static staged index —
  * shuffled arrival, several micro-batches, re-deliveries — must emit
  * exactly the batch `ann_pq_topk` rows: same neighbors, same ranks,
  * same rounded cosines (the in-stream scorer replicates the ADC +
  * shortlist + rescore arithmetic fold-for-fold, so the comparison is
  * equality, not tolerance).
  */
class AnnServeSpec extends SparkSpec {

  import spark.implicits._

  /** Feed the dir's batch probe set through the streaming scorer and
    * pin exact equality with the batch `ann_pq_topk` rows.
    */
  private def checkServeParity(dir: String, queryName: String): Unit = {
    implicit val sqlCtx = spark.sqlContext

    val batch = Similarity.queries("ann_pq_topk")(spark, dir).collect()
      .map(r => (r.getAs[Number]("probe").longValue(),
        r.getAs[Number]("rank").intValue(),
        r.getAs[Number]("neighbor").longValue(),
        r.getAs[Double]("cos"))).toSet
    assert(batch.nonEmpty)

    val centroids = Similarity.trainedCentroidArrays(spark, dir)
    val codebook = Similarity.pqCodebookArrays(spark, dir)
    val (nprobe, shortlist) = Similarity.pqServingDefaults
    val index = Similarity.pqServingIndex(spark, dir).as[AnnStream.IndexRow]

    // the batch query's probe set (vec_id < 50), shuffled arrival order
    val qs = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter($"vec_id" < 50)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .sortBy { case (id, _) =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes).map(b => f"$b%02x").mkString
      }
    val events = qs.zipWithIndex.map { case ((id, emb), i) =>
      AnnStream.QueryEvent(src = i % 3, seq = i.toLong, probe = id, embedding = emb)
    }

    val in = MemoryStream[AnnStream.QueryEvent]
    val q = AnnStream.pqServe(in.toDS(), index, centroids, codebook, nprobe, shortlist)
      .writeStream.format("memory").queryName(queryName)
      .outputMode(OutputMode.Update()).start()
    val rounds = events.grouped(math.max(1, events.length / 3)).toSeq
    rounds.zipWithIndex.foreach { case (round, i) =>
      in.addData(round.toIndexedSeq)
      // at-least-once: re-deliver a slice of an earlier round; the serve
      // state's per-source high-water must drop every one of them
      if (i > 0) in.addData(rounds(i - 1).take(5).toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()

    val served = spark.table(queryName).as[AnnStream.ServeResult].collect()
    // re-deliveries emitted nothing: exactly one row per (probe, rank)
    assert(served.map(r => (r.probe, r.rank)).distinct.length === served.length,
      "re-delivered queries were served twice")
    val got = served.map(r => (r.probe, r.rank, r.neighbor, r.cos)).toSet
    val missing = batch -- got
    val extra = got -- batch
    assert(missing.isEmpty && extra.isEmpty,
      s"stream/batch serving diverged — missing ${missing.take(3)}, extra ${extra.take(3)}")
  }

  test("streaming IVF-PQ serving equals batch ann_pq_topk on the gate corpus") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, s"$dir not present")
    checkServeParity(dir, "ann_pq_serve")
  }

  test("serving state survives a checkpoint restart: no double-serve, no loss") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, s"$dir not present")
    val batch = Similarity.queries("ann_pq_topk")(spark, dir).collect()
      .map(r => (r.getAs[Number]("probe").longValue(),
        r.getAs[Number]("rank").intValue(),
        r.getAs[Number]("neighbor").longValue(),
        r.getAs[Double]("cos"))).toSet
    val centroids = Similarity.trainedCentroidArrays(spark, dir)
    val codebook = Similarity.pqCodebookArrays(spark, dir)
    val (nprobe, shortlist) = Similarity.pqServingDefaults
    val index = Similarity.pqServingIndex(spark, dir).as[AnnStream.IndexRow]

    val root = java.nio.file.Files.createTempDirectory("graft_serve_ckpt").toString
    val (in, chk) = (s"$root/in", s"$root/chk")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))

    val qs = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter($"vec_id" < 50)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .sortBy(_._1)
    def eventsOf(slice: Array[(Long, Array[Float])], seq0: Int) =
      slice.zipWithIndex.map { case ((id, emb), i) =>
        AnnStream.QueryEvent(src = i % 3, seq = (seq0 + i).toLong,
          probe = id, embedding = emb) }
    val (qa, qb) = qs.splitAt(25)
    def writeBatch(events: Array[AnnStream.QueryEvent]): Unit =
      events.toSeq.toDF().coalesce(1).write.mode("append").parquet(in)

    def runOnce(): Seq[AnnStream.ServeResult] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[AnnStream.ServeResult]
      val src = spark.readStream
        .schema("src LONG, seq LONG, probe LONG, embedding ARRAY<FLOAT>, nprobe INT, shortlist INT")
        .parquet(in).as[AnnStream.QueryEvent]
      val fn: (org.apache.spark.sql.Dataset[AnnStream.ServeResult], Long) => Unit =
        (df, _) => buf.synchronized { buf ++= df.collect(); () }
      val q = AnnStream.pqServe(src, index, centroids, codebook, nprobe, shortlist)
        .writeStream
        .foreachBatch(fn)
        .option("checkpointLocation", chk)
        .outputMode(OutputMode.Update()).start()
      q.processAllAvailable()
      q.stop()
      buf.toSeq
    }

    writeBatch(eventsOf(qa, 0))
    val r1 = runOnce()
    assert(r1.map(_.probe).toSet === qa.map(_._1).toSet)
    // restart from the checkpoint: re-deliver ALL of round 1 (same
    // (probe, src, seq)) plus the fresh second half — the restored
    // per-probe high-waters must drop every re-delivery and serve
    // exactly the new probes
    writeBatch(eventsOf(qa, 0))
    writeBatch(eventsOf(qb, 1000))
    val r2 = runOnce()
    assert(r2.map(_.probe).toSet === qb.map(_._1).toSet,
      "restart lost serve state: re-deliveries were served again or new probes dropped")
    val got = (r1 ++ r2).map(r => (r.probe, r.rank, r.neighbor, r.cos)).toSet
    assert(got === batch, "united restart output diverged from the batch rows")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("pruned serving: cell-partitioned index, literal partition filters, batch parity") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, s"$dir not present")
    implicit val sqlCtx = spark.sqlContext
    val batch = Similarity.queries("ann_pq_topk")(spark, dir).collect()
      .map(r => (r.getAs[Number]("probe").longValue(),
        r.getAs[Number]("rank").intValue(),
        r.getAs[Number]("neighbor").longValue(),
        r.getAs[Double]("cos"))).toSet
    val centroids = Similarity.trainedCentroidArrays(spark, dir)
    val codebook = Similarity.pqCodebookArrays(spark, dir)
    val (nprobe, shortlist) = Similarity.pqServingDefaults

    val idxPath = java.nio.file.Files.createTempDirectory("graft_serve_idx").toString
    Similarity.writeServingIndex(spark, dir, idxPath)
    // the partitioned layout really prunes: a literal IN on the cell
    // column must surface as PartitionFilters on the parquet scan (and
    // the read must return only those cells' rows)
    val someCells = Seq(0, 1)
    val prunedScan = spark.read.parquet(idxPath)
      .where(org.apache.spark.sql.functions.col("cell").isin(someCells: _*))
    val planStr = prunedScan.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") && planStr.contains("cell"),
      s"cell IN (...) did not become a partition filter:\n$planStr")
    assert(prunedScan.select("cell").distinct().collect()
      .map(_.getAs[Number]("cell").intValue()).toSet.subsetOf(someCells.toSet))

    val qs = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter($"vec_id" < 50)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .sortBy(_._1)
    val events = qs.zipWithIndex.map { case ((id, emb), i) =>
      AnnStream.QueryEvent(src = i % 3, seq = i.toLong, probe = id, embedding = emb)
    }
    val in = MemoryStream[AnnStream.QueryEvent]
    val buf = scala.collection.mutable.ArrayBuffer.empty[AnnStream.ServeResult]
    val q = AnnStream.pqServePruned(in.toDS(), idxPath, centroids, codebook,
      nprobe, shortlist) { ds => buf.synchronized { buf ++= ds.collect(); () } }
      .start()
    val rounds = events.grouped(math.max(1, events.length / 3)).toSeq
    rounds.zipWithIndex.foreach { case (round, i) =>
      in.addData(round.toIndexedSeq)
      if (i > 0) in.addData(rounds(i - 1).take(5).toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    assert(buf.map(r => (r.probe, r.rank)).distinct.length === buf.length,
      "re-delivered queries were served twice")
    val got = buf.map(r => (r.probe, r.rank, r.neighbor, r.cos)).toSet
    assert(got === batch,
      s"pruned serving diverged from batch — missing ${(batch -- got).take(3)}, extra ${(got -- batch).take(3)}")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idxPath))
  }

  test("compaction: accumulated append files collapse to one per cell, serve results unchanged") {
    // the maintenance half of the file-append serving index: ingest
    // batches append a file per touched cell; compaction must rewrite
    // to one file per cell (via an atomic swap a concurrent reader
    // never sees half of) WITHOUT changing a single served row
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, s"$dir not present")
    implicit val sqlCtx = spark.sqlContext
    val centroids = Similarity.trainedCentroidArrays(spark, dir)
    val codebook = Similarity.pqCodebookArrays(spark, dir)
    val (nprobe, shortlist) = Similarity.pqServingDefaults

    // simulate ingest accumulation: the index content arrives as 3
    // separate appends (same rows as one writeServingIndex overwrite,
    // so batch ann_pq_topk is still the expected serve answer)
    val idxPath = java.nio.file.Files.createTempDirectory("graft_compact_idx").toString + "/idx"
    val idx = Similarity.pqServingIndex(spark, dir)
    (0 until 3).foreach { i =>
      idx.filter($"vec_id" % 3 === i)
        .write.mode("append").partitionBy("cell").parquet(idxPath)
    }

    val qs = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter($"vec_id" < 30)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .sortBy(_._1)
    val events = qs.zipWithIndex.map { case ((id, emb), i) =>
      AnnStream.QueryEvent(src = 1, seq = i.toLong, probe = id, embedding = emb)
    }
    def serveOnce(seqBase: Long): Set[(Long, Int, Long, Double)] = {
      val in = MemoryStream[AnnStream.QueryEvent]
      val buf = scala.collection.mutable.ArrayBuffer.empty[AnnStream.ServeResult]
      val q = AnnStream.pqServePruned(in.toDS(), idxPath, centroids, codebook,
        nprobe, shortlist) { ds => buf.synchronized { buf ++= ds.collect(); () } }
        .start()
      in.addData(events.map(e => e.copy(seq = e.seq + seqBase)).toIndexedSeq)
      q.processAllAvailable(); q.stop()
      buf.map(r => (r.probe, r.rank, r.neighbor, r.cos)).toSet
    }
    val pre = serveOnce(0)
    assert(pre.nonEmpty)

    val (before, after) = Similarity.compactServingIndex(spark, idxPath)
    val nCells = spark.read.parquet(idxPath).select("cell").distinct().count()
    assert(after < before, s"compaction did not shrink: $before -> $after")
    assert(after == nCells, s"expected one file per cell ($nCells), got $after")
    // no temp/old residue next to the live tree
    assert(!new java.io.File(idxPath + ".compact.tmp").exists())
    assert(!new java.io.File(idxPath + ".compact.old").exists())

    val post = serveOnce(1000)
    assert(post === pre, "compaction changed served results")

    // crash recovery: simulate dying between the two swap renames (live
    // tree moved aside, compacted tree not yet in place) — the next
    // compaction run must heal the orphaned .old tree back to live and
    // proceed, with served results still identical
    java.nio.file.Files.move(
      java.nio.file.Paths.get(idxPath),
      java.nio.file.Paths.get(idxPath + ".compact.old"))
    val (b2, a2) = Similarity.compactServingIndex(spark, idxPath)
    assert(b2 == a2 && a2 == nCells, s"recovered tree not intact: $b2 -> $a2")
    assert(serveOnce(2000) === pre, "post-recovery serve diverged")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idxPath).getParentFile)
  }

  test("per-request nprobe/shortlist: each knob group equals the batch run at those knobs") {
    // one stream, three knob regimes riding on the SAME serving tier:
    // probes 0-16 keep the tier defaults (nprobe=0 sentinel), 17-33
    // carry nprobe=5, 34-49 carry nprobe=6/shortlist=80 — each group's
    // rows must equal the batch engine run at exactly those knobs
    // (pqTopkAt), for BOTH serving forms
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, s"$dir not present")
    implicit val sqlCtx = spark.sqlContext
    val centroids = Similarity.trainedCentroidArrays(spark, dir)
    val codebook = Similarity.pqCodebookArrays(spark, dir)
    val (dnp, dsl) = Similarity.pqServingDefaults
    val index = Similarity.pqServingIndex(spark, dir).as[AnnStream.IndexRow]

    def knobsOf(id: Long): (Int, Int) =
      if (id < 17) (0, 0) else if (id < 34) (5, 0) else (6, 80)
    def effective(id: Long): (Int, Int) = {
      val (np, sl) = knobsOf(id)
      (if (np > 0) np else dnp, if (sl > 0) sl else dsl)
    }
    val regimes = (0L until 50L).groupBy(effective)
    val batchRows: Map[(Int, Int), Set[(Long, Int, Long, Double)]] =
      regimes.map { case (knobs @ (np, sl), ids) =>
        knobs -> Similarity.pqTopkAt(spark, dir, 50, np, sl).collect()
          .map(r => (r.getAs[Number]("probe").longValue(),
            r.getAs[Number]("rank").intValue(),
            r.getAs[Number]("neighbor").longValue(),
            r.getAs[Double]("cos")))
          .filter(t => ids.contains(t._1)).toSet
      }
    assert(batchRows.values.forall(_.nonEmpty))
    val expected = batchRows.values.reduce(_ ++ _)

    val qs = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter($"vec_id" < 50)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .sortBy(_._1)
    val events = qs.zipWithIndex.map { case ((id, emb), i) =>
      val (np, sl) = knobsOf(id)
      AnnStream.QueryEvent(src = i % 3, seq = i.toLong, probe = id,
        embedding = emb, nprobe = np, shortlist = sl)
    }

    // stream-static form
    val in = MemoryStream[AnnStream.QueryEvent]
    val q = AnnStream.pqServe(in.toDS(), index, centroids, codebook, dnp, dsl)
      .writeStream.format("memory").queryName("serve_knobs")
      .outputMode(OutputMode.Update()).start()
    in.addData(events.toIndexedSeq)
    q.processAllAvailable(); q.stop()
    val gotSS = spark.table("serve_knobs").as[AnnStream.ServeResult].collect()
      .map(r => (r.probe, r.rank, r.neighbor, r.cos)).toSet
    assert(gotSS === expected,
      s"stream-static per-request knobs diverged — missing ${(expected -- gotSS).take(3)}, extra ${(gotSS -- expected).take(3)}")

    // pruned form over the cell-partitioned on-disk index
    val idxPath = java.nio.file.Files.createTempDirectory("graft_knob_idx").toString
    Similarity.writeServingIndex(spark, dir, idxPath)
    val buf = scala.collection.mutable.ArrayBuffer.empty[AnnStream.ServeResult]
    val inP = MemoryStream[AnnStream.QueryEvent]
    val qp = AnnStream.pqServePruned(inP.toDS(), idxPath, centroids, codebook,
      dnp, dsl) { ds => buf.synchronized { buf ++= ds.collect(); () } }
      .start()
    inP.addData(events.toIndexedSeq)
    qp.processAllAvailable(); qp.stop()
    val gotPr = buf.map(r => (r.probe, r.rank, r.neighbor, r.cos)).toSet
    assert(gotPr === expected,
      s"pruned per-request knobs diverged — missing ${(expected -- gotPr).take(3)}, extra ${(gotPr -- expected).take(3)}")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idxPath))
  }

  test("generation cutover: a mid-stream _latest flip re-points serving with no restart") {
    // the retrain→cutover step live: gen-1 trains on the gate corpus,
    // the serving query answers a batch, gen-2 trains on a DIFFERENT
    // corpus (2× shifted replica — different centroids, different
    // index) and flips the pointer mid-stream; the next batch must
    // equal the batch engine ON THE NEW CORPUS, same query restartless
    val dirA = "/root/testdata/sf0.001"
    assume(new java.io.File(dirA).isDirectory, s"$dirA not present")
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_gen").toString
    val dirB = s"$base/corpusB"
    val embA = spark.read.parquet(s"$dirA/embeddings.parquet")
    val nA = embA.count()
    embA.unionAll(embA.select(($"vec_id" + nA).as("vec_id"),
        org.apache.spark.sql.functions.transform($"embedding",
          x => x + 0.25f).as("embedding"), $"label"))
      .write.parquet(s"$dirB/embeddings.parquet")

    val root = s"$base/serving"
    assert(Similarity.writeServingGeneration(spark, dirA, root) == 1L)
    val (dnp, dsl) = Similarity.pqServingDefaults
    def expected(dir: String, ids: Set[Long]): Set[(Long, Int, Long, Double)] =
      Similarity.pqTopkAt(spark, dir, 20, dnp, dsl).collect()
        .map(r => (r.getAs[Number]("probe").longValue(),
          r.getAs[Number]("rank").intValue(),
          r.getAs[Number]("neighbor").longValue(),
          r.getAs[Double]("cos")))
        .filter(t => ids.contains(t._1)).toSet
    val qs = embA.filter($"vec_id" < 20)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .sortBy(_._1)
    def events(ids: Range, seqBase: Long) = qs
      .filter(q => ids.contains(q._1.toInt)).zipWithIndex
      .map { case ((id, emb), i) =>
        AnnStream.QueryEvent(src = 1, seq = seqBase + i, probe = id, embedding = emb) }

    val in = MemoryStream[AnnStream.QueryEvent]
    val buf = scala.collection.mutable.ArrayBuffer.empty[AnnStream.ServeResult]
    val q = AnnStream.pqServeLatest(in.toDS(), root, dnp, dsl) { ds =>
      buf.synchronized { buf ++= ds.collect(); () } }
      .start()
    in.addData(events(0 until 10, 0).toIndexedSeq)
    q.processAllAvailable()
    val got1 = buf.map(r => (r.probe, r.rank, r.neighbor, r.cos)).toSet
    assert(got1 === expected(dirA, (0L until 10L).toSet),
      "pre-cutover batch diverged from the gen-1 corpus's batch engine")

    // mid-stream: train + commit gen-2 on the replica corpus
    assert(Similarity.writeServingGeneration(spark, dirB, root) == 2L)
    buf.clear()
    in.addData(events(10 until 20, 1000).toIndexedSeq)
    q.processAllAvailable()
    val got2 = buf.map(r => (r.probe, r.rank, r.neighbor, r.cos)).toSet
    val exp2 = expected(dirB, (10L until 20L).toSet)
    assert(got2 === exp2,
      s"post-cutover batch diverged from the gen-2 corpus's batch engine — missing ${(exp2 -- got2).take(3)}, extra ${(got2 -- exp2).take(3)}")
    // the flip genuinely changed the answers (the replica corpus has
    // different neighbors for these probes)
    assert(got2 !== expected(dirA, (10L until 20L).toSet))

    q.stop()

    // live compaction: the rewrite lands as gen-3 (layout only). A
    // FRESH serving instance (fresh dedup state, so the same probes
    // are servable again) must start straight on the compacted
    // generation with gen-2's exact content
    assert(Similarity.compactServingGeneration(spark, root) == 3L)
    buf.clear()
    val in2 = MemoryStream[AnnStream.QueryEvent]
    val q2 = AnnStream.pqServeLatest(in2.toDS(), root, dnp, dsl) { ds =>
      buf.synchronized { buf ++= ds.collect(); () } }
      .start()
    in2.addData(events(10 until 20, 2000).toIndexedSeq)
    q2.processAllAvailable(); q2.stop()
    val got3 = buf.map(r => (r.probe, r.rank, r.neighbor, r.cos)).toSet
    assert(got3 === exp2, "compacted generation changed served content")

    // rollback then retrain: gen numbers must never be reused (a tier
    // caching gen-3 would otherwise serve a new index under a stale
    // codebook without reloading)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_latest"), "1")
    assert(Similarity.writeServingGeneration(spark, dirA, root) == 4L,
      "generation number reused after rollback")
    // retention: keep the newest 2; the pointer target is newest here
    val pruned = Similarity.pruneServingGenerations(root, 2)
    assert(pruned == Seq(1L, 2L), s"pruned $pruned")
    assert(new java.io.File(s"$root/gen-3").isDirectory
      && new java.io.File(s"$root/gen-4").isDirectory)

    graft.core.Memo.clear()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("write-read loop: vectors ingested via pqIngest are served by pqServe") {
    // the full production loop between index retrains: hold 10 vectors
    // OUT of the trained corpus, write them through the streaming WRITE
    // side (pqIngest: cell + codes in-stream, against the existing
    // quantizer), append their index rows, and ask the READ side for
    // each held-out embedding under a fresh probe id — the ingested
    // vector must come back as the TOP-1 neighbor at cos 1.0 (identical
    // embedding, and its assigned cell is by construction the query's
    // first probed cell: assignCell and probedCells share the argmin)
    val src = "/root/testdata/sf0.001"
    assume(new java.io.File(src).isDirectory, s"$src not present")
    implicit val sqlCtx = spark.sqlContext
    val all = spark.read.parquet(s"$src/embeddings.parquet")
    val ids = all.select($"vec_id").orderBy($"vec_id".desc).limit(10)
      .as[Long].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("annloop").toString
    all.filter(!$"vec_id".isin(ids.toSeq: _*))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    graft.core.Memo.clear()
    try {
      val centroids = Similarity.trainedCentroidArrays(spark, dir)
      val codebook = Similarity.pqCodebookArrays(spark, dir)
      val (nprobe, shortlist) = Similarity.pqServingDefaults
      val held = all.filter($"vec_id".isin(ids.toSeq: _*))
        .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()

      // WRITE side: the held-out vectors arrive in-stream
      val inW = MemoryStream[AnnStream.VecEvent]
      val qw = AnnStream.pqIngest(inW.toDS(), centroids, codebook)
        .writeStream.format("memory").queryName("loop_ingest")
        .outputMode(OutputMode.Update()).start()
      inW.addData(held.zipWithIndex.map { case ((id, emb), i) =>
        AnnStream.VecEvent(src = 0, seq = i.toLong, vec_id = id, embedding = emb)
      }.toIndexedSeq)
      qw.processAllAvailable(); qw.stop()
      val ingested = spark.table("loop_ingest")
        .select($"vec_id", $"cell", $"codes")
        .as[(Long, Long, Array[Int])].collect()
      assert(ingested.length === held.length)

      // append the ingested rows to the serving index (norm2 via the
      // same FloatDot fold the batch index stores)
      val embOf = held.toMap
      val newRows = ingested.map { case (id, cell, codes) =>
        val e = embOf(id)
        var n2 = 0.0; var i = 0
        while (i < e.length) { n2 += e(i).toDouble * e(i).toDouble; i += 1 }
        AnnStream.IndexRow(id, cell, n2, codes, e)
      }
      val index = Similarity.pqServingIndex(spark, dir).as[AnnStream.IndexRow]
        .union(newRows.toSeq.toDS())

      // READ side: each held-out embedding under a fresh probe id
      val inR = MemoryStream[AnnStream.QueryEvent]
      val qr = AnnStream.pqServe(inR.toDS(), index, centroids, codebook,
        nprobe, shortlist)
        .writeStream.format("memory").queryName("loop_serve")
        .outputMode(OutputMode.Update()).start()
      inR.addData(held.zipWithIndex.map { case ((id, emb), i) =>
        AnnStream.QueryEvent(src = 0, seq = i.toLong,
          probe = id + 1000000L, embedding = emb)
      }.toIndexedSeq)
      qr.processAllAvailable(); qr.stop()
      val top1 = spark.table("loop_serve").as[AnnStream.ServeResult]
        .collect().filter(_.rank == 1).map(r => r.probe -> r).toMap
      held.foreach { case (id, _) =>
        val r = top1.get(id + 1000000L)
        assert(r.isDefined, s"held-out vector $id: no serve result")
        assert(r.get.neighbor === id,
          s"held-out vector $id: top-1 is ${r.get.neighbor}, not the ingested vector")
        assert(r.get.cos === 1.0,
          s"held-out vector $id: top-1 cos ${r.get.cos} != 1.0")
      }
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("streaming serving equals batch past the quantizer floor (b = 1)") {
    // the AnnStreamSpec synthetic corpus shape (3000 vectors, 10
    // labels, b = 1) at the REAL corpus geometry dim 64 (the batch
    // sign seeding reads 4 leading elements per subvector, so h = d/16
    // must be ≥ 4 — the ingest spec's dim-8 corpus never trains PQ).
    // Probed cells come from residual-split centroids that diverge
    // from the labels, so the in-record cell selection and the
    // per-cell base terms are exercised where they differ from the
    // seed geometry
    val n = 3000
    val dim = 64
    val rows = (0 until n).map { i =>
      val label = i % 10
      val emb = Array.tabulate(dim)(d =>
        (label * 10.0 + ((i / 10 + d * 3) % 7) * 0.3).toFloat)
      (i.toLong, emb, label)
    }
    val dir = java.nio.file.Files.createTempDirectory("annserve").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    graft.core.Memo.clear()
    try checkServeParity(dir, "ann_pq_serve_split")
    finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
